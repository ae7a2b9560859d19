"""Sync-and-query benchmark for zinger_spark.

    python3 perfbench/run.py --workload cdc_sync|bulk_backfill|lake_analytics
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run drives the ``zinger_spark.cli``
subcommands in-process on one Spark session (local[2]); the Kafka broker,
schema registry and load generator live in one child process.  The
inputs come from ``--seed`` only.  Every operation's output is checked,
and a mismatch counts as a failed operation.

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` is the
separate traced run: spans around the public functions the CLI calls,
Spark job tags per span and Spark's own event log give the per-layer
table, written as JSONL under ``.perfbench/traces/``.

The last line of standard output is one JSON object:
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
See perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import time

_T_START = time.monotonic()  # setup_s origin: before any import below

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_sync", "bulk_backfill", "lake_analytics")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "zinger_spark")):
        _log(f"no zinger_spark package under {ROOT}: run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench import common

    # the program's session helper sizes shuffles from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(common.CORES)
    # driver memory is the program's own default, whatever the caller's
    # environment says, so a change of that default is measured
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    base = os.path.join(ROOT, ".perfbench")
    workdir = common.fresh_dir(
        os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    )
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (Spark's launcher and its driver) keeps
    # its temp files in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        from perfbench import report

        result = report.run_workload(args, workdir, base, _T_START)
    except Exception:  # noqa: BLE001 - top-level boundary: report and fail
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
