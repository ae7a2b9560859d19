"""Run one workload and turn its measurements into the result line."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import common, layers
from perfbench.trace import NullTracer, Tracer


def units(section: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics, the one place metric units are kept."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _workload(name: str):
    if name == "cdc_sync":
        from perfbench.cdc_sync import CdcSync

        return CdcSync
    if name == "bulk_backfill":
        from perfbench.bulk_backfill import BulkBackfill

        return BulkBackfill
    from perfbench.lake_analytics import LakeAnalytics

    return LakeAnalytics


def _untraced_work_s(args) -> float | None:
    """``work_s`` of an untraced run of the same workload and seed, made
    just before the traced run so that both see the same host."""
    proc = subprocess.run(
        [sys.executable, os.path.join(common.ROOT, "perfbench", "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=170,
    )
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    return metrics["work_s"]["value"] if "work_s" in metrics else None


def run_workload(args, workdir: str, base: str, t_start: float) -> dict:
    untraced_work = None
    if args.trace:
        untraced_work = _untraced_work_s(args)
        t_start = time.monotonic()  # the traced run's own setup starts here
    tracer = Tracer() if args.trace else NullTracer()
    ctx = common.Ctx(args.seed, workdir, tracer, t_start)
    event_log = os.path.join(workdir, "eventlog") if args.trace else None
    spark = common.start_spark(workdir, event_log=event_log)
    wl = _workload(args.workload)(ctx)
    extra = {}
    try:
        wl.setup()
        setup_s = time.monotonic() - ctx.t_start
        ctx.log(f"setup {setup_s:.2f}s")
        if args.trace:
            tracer.sc = spark.sparkContext
            tracer.install()
        cpu0 = wl.child.cpu_s() if hasattr(wl, "child") else None
        e0 = time.time()
        wl.run_timed(args.seconds)
        e1 = time.time()
        if args.trace:
            tracer.uninstall()
            if cpu0 is not None:
                extra["broker.cpu_s"] = wl.child.cpu_s() - cpu0
            extra.update(wl.layer_extras())
            extra["spark.jvm_rss_peak_mb"] = common.peak_rss_mb(common.jvm_pid(spark))
        wl.final_check()
        ctx.log(f"timed {e1 - e0:.2f}s ops {wl.ops()} failed {wl.failed}")
        metrics = wl.e2e_metrics() if wl.ops() else {}
        metrics["setup_s"] = setup_s
        metrics["driver_rss_peak_mb"] = common.peak_rss_mb()
    finally:
        wl.close()
        common.stop_spark(spark)
    if args.trace:
        values = _layer_values(args, base, wl, tracer, event_log, (e0, e1),
                               extra, metrics, untraced_work)
        out = {k: {"value": values.get(k, 0.0), "unit": u}
               for k, u in units("per_layer").items()}
    else:
        e2e = units("end_to_end")
        out = {k: {"value": v, "unit": e2e[k]} for k, v in metrics.items()}
    return {
        "correct": wl.failed == 0 and wl.ops() > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": out,
    }


def _layer_values(args, base, wl, tracer, event_log, window, extra, metrics,
                  untraced_work) -> dict[str, float]:
    from perfbench import eventlog

    ops = max(wl.ops(), 1)
    evlog = eventlog.load_dir(event_log)
    spans = tracer.spans
    values = layers.span_table(spans, evlog, ops)
    for name, total in tracer.counters.items():
        values[name] = total / ops
    values["pool.commits"] = sum(1 for sp in spans if sp["name"] == "pool.commit") / ops
    work = evlog.work_between(*window)
    values["spark.gc_s"] = work.gc_ms / 1e3 / ops
    values["spark.spill_bytes"] = work.spill / ops
    values["spans.uncovered_s"] = layers.uncovered(spans, *window) / ops
    values["round.drift_ratio"] = common.drift_ratio(wl.op_walls())
    values["ops"] = wl.ops()
    if "work_s" in metrics and untraced_work:
        values["tracing_overhead_ratio"] = metrics["work_s"] / untraced_work
    for k, v in extra.items():
        values[k] = v / ops if k == "broker.cpu_s" else v
    trace_dir = os.path.join(base, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
    tracer.write_jsonl(stem + ".spans.jsonl")
    with open(stem + ".layers.json", "w") as f:
        json.dump(values, f, indent=1, sort_keys=True)
    return values
