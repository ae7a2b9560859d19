"""Spark event-log parser: per job tag, the work Spark did.

The traced run enables ``spark.eventLog.enabled`` (uncompressed JSON
lines).  Each span tags the jobs started while it is open, so summing
jobs by tag gives each span's jobs, tasks, executor CPU, shuffle bytes,
GC and spill, and the jobs' [submit, complete] intervals, from which
the span's driver-only time follows.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    tags: frozenset[str]
    stage_ids: list[int]
    submit_ms: int
    end_ms: int | None = None


@dataclass
class StageWork:
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageWork] = field(default_factory=dict)
    #: stage id -> the job that ran it (the first job listing it; later
    #: jobs that list a shared stage skip it)
    stage_job: dict[int, int] = field(default_factory=dict)

    def _ran(self, job: Job):
        """The stages ``job`` actually ran."""
        for sid in job.stage_ids:
            st = self.stages.get(sid)
            if st is not None and self.stage_job.get(sid) == job.job_id:
                yield st

    def work_by_tag(self, tag: str) -> dict:
        """Totals over the jobs carrying ``tag``, plus their
        [submit, complete] intervals in epoch seconds."""
        out = {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0,
               "shuffle_bytes": 0, "intervals": []}
        for job in self.jobs.values():
            if tag not in job.tags:
                continue
            out["jobs"] += 1
            if job.end_ms is not None:
                out["intervals"].append((job.submit_ms / 1e3, job.end_ms / 1e3))
            for st in self._ran(job):
                out["tasks"] += st.tasks
                out["executor_cpu_s"] += st.cpu_ns / 1e9
                out["shuffle_bytes"] += st.shuffle_write
        return out

    def work_between(self, t0: float, t1: float) -> StageWork:
        """Work of the jobs submitted in [t0, t1] (epoch seconds)."""
        tot = StageWork()
        for job in self.jobs.values():
            if t0 <= job.submit_ms / 1e3 <= t1:
                for st in self._ran(job):
                    tot.tasks += st.tasks
                    tot.cpu_ns += st.cpu_ns
                    tot.gc_ms += st.gc_ms
                    tot.shuffle_write += st.shuffle_write
                    tot.spill += st.spill
        return tot


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tags = ev.get("Properties", {}).get("spark.job.tags", "")
            job = Job(
                job_id=ev["Job ID"],
                tags=frozenset(t for t in tags.split(",") if t),
                stage_ids=list(ev.get("Stage IDs", [])),
                submit_ms=ev["Submission Time"],
            )
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = log.stages.setdefault(ev["Stage ID"], StageWork())
            st.tasks += 1
            st.cpu_ns += m.get("Executor CPU Time", 0) + m.get(
                "Executor Deserialize CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return log


def load_dir(path: str) -> EventLog:
    """Parse the single application log Spark wrote under ``path``."""
    files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {files}")
    with open(files[0]) as f:
        return parse(f)
