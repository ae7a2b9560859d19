"""The per-layer table of a traced run.

Every value is per operation of the workload (a sync round, the
backfill, a pass of the query mix) unless its name says otherwise, so
runs of different length compare.  For each span ``S``:

  S.wall_s          time inside S
  S.self_s          S minus the part its child spans cover
  S.jobs, S.tasks   Spark jobs tagged by S, and their tasks
  S.executor_cpu_s  executor CPU of those tasks
  S.shuffle_bytes   shuffle bytes those tasks wrote
  S.driver_s        S's wall not covered by any of its jobs
"""

from __future__ import annotations

from perfbench.trace import SPANS, clipped, self_times, union_length

SPAN_COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "executor_cpu_s",
                 "shuffle_bytes", "driver_s")

#: the per-layer metrics that are not per-span counters
EXTRA = (
    "kafka_wire.fetch.records", "kafka_wire.fetch.bytes",
    "kafka_wire.produce.records", "kafka_wire.produce.bytes",
    "broker.cpu_s", "registry.gets", "registry.distinct_ids",
    "pool.commits", "pool.files", "pool.bytes_on_disk", "pool.write_amp",
    "etl.rows_out", "etl.cursor_lag", "zedql.rows_out",
    "spark.gc_s", "spark.spill_bytes", "spark.jvm_rss_peak_mb",
    "round.drift_ratio", "tracing_overhead_ratio", "spans.uncovered_s", "ops",
)


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports; BENCHMARK.json's
    ``per_layer`` list holds the same names with their units."""
    return [f"{span}.{c}" for span in SPANS for c in SPAN_COUNTERS] + list(EXTRA)


def span_table(spans: list[dict], evlog, ops: int) -> dict[str, float]:
    """The S.* counters of every span name, per op; zero for a span
    the workload never opened."""
    selfs = self_times(spans)
    table = {f"{s}.{c}": 0.0 for s in SPANS for c in SPAN_COUNTERS}
    for sp in spans:
        name = sp["name"]
        wall = sp["end"] - sp["start"]
        work = evlog.work_by_tag(sp["tag"])
        covered = union_length(clipped(work["intervals"], sp["start"], sp["end"]))
        sp.update(jobs=work["jobs"], tasks=work["tasks"],
                  executor_cpu_s=work["executor_cpu_s"],
                  shuffle_bytes=work["shuffle_bytes"],
                  driver_s=wall - covered, self_s=selfs[sp["id"]])
        table[f"{name}.wall_s"] += wall
        table[f"{name}.self_s"] += selfs[sp["id"]]
        for key in ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "driver_s"):
            table[f"{name}.{key}"] += sp[key]
    return {k: v / ops for k, v in table.items()}


def uncovered(spans: list[dict], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] that no top-level span covers."""
    tops = [(sp["start"], sp["end"]) for sp in spans if sp["parent"] is None]
    return (t1 - t0) - union_length(clipped(tops, t0, t1))
