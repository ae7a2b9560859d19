"""Driver-side plumbing shared by the workloads: the child process
handle, in-process CLI calls, the Spark session and the statistics."""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark runs local[CORES].  Two task slots leave the other cores of a
#: 4-core host to the driver's Python, the JVM's driver threads and the
#: child; on that host local[2] beat local[4] in 6 of 7 same-seed pairs
#: across the three workloads.
CORES = 2


class BenchError(Exception):
    """A failed operation or check the workload reports, not a crash."""


class Ctx:
    """What a workload needs from the run: its seed, a scratch
    directory, the tracer and the setup clock's origin."""

    def __init__(self, seed: int, workdir: str, tracer, t_start: float):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.t_start = t_start

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Log how long a setup phase took (stderr only)."""
        t = time.monotonic()
        yield
        self.log(f"{name}: {time.monotonic() - t:.2f}s")


class Child:
    """The generator + broker (+ registry) process (perfbench.child)."""

    def __init__(self, workdir: str, **start):
        env = dict(os.environ, PYTHONPATH=ROOT)
        self.log = open(os.path.join(workdir, "child.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            cwd=ROOT,
            env=env,
            text=True,
        )
        self.info = self.call("start", **start)

    def call(self, op: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps(dict(kw, op=op)) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(
                f"child exited ({self.proc.poll()}) during {op!r}; see child.log"
            )
        return json.loads(line)

    def cpu_s(self) -> float:
        """utime + stime of the child, from /proc."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call("stop")
        except (OSError, RuntimeError, ValueError):
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait(timeout=30)
            self.log.close()


def cli(*argv: str) -> str:
    """Run one ``zinger_spark.cli`` subcommand in-process on the shared
    session; returns what it printed.  A non-zero exit is an error."""
    from zinger_spark import cli as climod

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = climod.main(list(argv))
    if rc != 0:
        raise BenchError(f"cli {argv[0]} exited {rc}: {buf.getvalue()[-500:]}")
    return buf.getvalue()


def start_spark(workdir: str, event_log: str | None = None):
    """The workload's one Spark session, created before any CLI call
    so every ``get_spark`` inside the program reuses it."""
    from zinger_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it leaves when
    the gateway's stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of ``pid``; this process by default."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def step_geomean(steps: dict[str, list[float]]) -> float:
    """Geometric mean of each step's median time."""
    return geomean([statistics.median(v) for v in steps.values()])


def drift_ratio(walls: list[float]) -> float:
    """Median of the last quarter of ops over the first quarter."""
    k = max(1, len(walls) // 4)
    return statistics.median(walls[-k:]) / statistics.median(walls[:k])


def pool_stats(lake: str, pools: list[str], source_bytes: int) -> dict:
    """Parquet files and bytes on disk of ``pools``, and bytes on disk
    per source payload byte."""
    files = size = 0
    for pool in pools:
        for root, _dirs, names in os.walk(os.path.join(lake, pool)):
            for name in names:
                size += os.path.getsize(os.path.join(root, name))
                files += name.endswith(".parquet")
    return {"pool.files": files, "pool.bytes_on_disk": size,
            "pool.write_amp": size / source_bytes}


def cursor_lag(lake: str, etl_path: str) -> int:
    """Total pinned-rescan width of a transform (``etl --cursor-lag``)."""
    out = cli("etl", etl_path, "--lake", lake, "--cursor-lag")
    return sum(int(line.split("\t")[1]) for line in out.splitlines() if "\t" in line)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
