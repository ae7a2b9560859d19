"""bulk_backfill: bounded catch-ups of N Confluent-framed Avro records.

Setup preloads the same N records into the source topic of each of
CATCH_UPS legs (in two registered schema versions, so
``decode_by_schema_id`` decodes once per schema ID) and runs the same
pipeline once over a small warm-up leg.  Each timed op is one catch-up of a fresh
leg: one ``from-kafka --format avro``, one ``etl`` and one ``to-kafka``
with a catch-up ``--batch-size``; the output topic's count and content
digest are then checked.  The metrics are medians over the catch-ups."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import gen
from perfbench.common import (
    BenchError, Child, cli, cursor_lag, pool_stats, step_geomean,
)

N_RECORDS = 10_000
#: timed catch-ups per run, each over its own leg
CATCH_UPS = 3
N_WARMUP = 500
BATCH_SIZE = 10_000
#: the CLI subcommands of one op, timed each
STEPS = ("from_kafka", "etl", "to_kafka")


class Leg:
    """One source topic -> Raw -> Staging -> output topic pipeline."""

    def __init__(self, lake: str, workdir: str, prefix: str):
        self.lake = lake
        self.src, self.out = f"{prefix}accounts", f"{prefix}accounts_out"
        self.raw, self.staging = f"{prefix}Raw", f"{prefix}Staging"
        self.etl_path = os.path.join(workdir, f"{prefix}backfill.yaml")
        with open(self.etl_path, "w") as f:
            f.write(gen.BACKFILL_TRANSFORM_YAML.format(
                src=self.src, out=self.out, raw=self.raw, staging=self.staging))
        cli("create-pool", self.raw, "--lake", lake)
        cli("create-pool", self.staging, "--lake", lake)


class BulkBackfill:
    def __init__(self, ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.workdir, "lake")
        self.steps: dict[str, list[float]] = {s: [] for s in STEPS}
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.latencies: list[float] = []
        self.source_bytes = 0

    def setup(self) -> None:
        os.makedirs(self.lake)
        self.legs = [Leg(self.lake, self.ctx.workdir, f"l{i}_") for i in range(CATCH_UPS)]
        warm = Leg(self.lake, self.ctx.workdir, "warm_")
        self.child = Child(
            self.ctx.workdir, kind="backfill", seed=self.ctx.seed,
            topics=[t for leg in (*self.legs, warm) for t in (leg.src, leg.out)],
        )
        self.brokers = self.child.info["bootstrap"]
        self.registry = self.child.info["registry"]
        with self.ctx.phase("preload"):
            self.want = self.child.call("preload", n=N_RECORDS,
                                        topics=[leg.src for leg in self.legs])
            want_warm = self.child.call("preload", n=N_WARMUP, topics=[warm.src])
        self.source_bytes = self.want["bytes"]
        with self.ctx.phase("warm-up catch-up"):
            self.checked_catch_up(warm, want_warm, record=False)
        self.child.call("registry")  # count the timed phase's lookups only

    def close(self) -> None:
        if hasattr(self, "child"):
            self.child.close()

    def check(self, leg: Leg, want: dict) -> None:
        """The output topic holds exactly the expected records."""
        got = self.child.call("topic", topic=leg.out)
        if got["count"] != want["count"]:
            raise BenchError(f"{leg.out} holds {got['count']} records, "
                             f"expected {want['count']}")
        if got["digest"] != want["digest"]:
            raise BenchError(f"{leg.out} content differs from the expected records")

    def catch_up(self, leg: Leg, want: dict, record: bool = True) -> None:
        steps = {}

        def timed(step, fn, *args):
            t = time.perf_counter()
            out = fn(*args)
            steps[step] = time.perf_counter() - t
            return out

        t0 = time.perf_counter()
        timed("from_kafka", cli, "from-kafka", "--brokers", self.brokers,
              "--topics", leg.src, "--pool", leg.raw, "--lake", self.lake,
              "--format", "avro", "--registry", self.registry,
              "--transport", "wire", "--exitafter")
        timed("etl", cli, "etl", leg.etl_path, "--lake", self.lake)
        timed("to_kafka", cli, "to-kafka", "--brokers", self.brokers,
              "--topic", leg.out, "--pool", leg.staging, "--lake", self.lake,
              "--transport", "wire", "--resume", "--batch-size", str(BATCH_SIZE))
        wall = time.perf_counter() - t0
        self.ctx.tracer.call("verify.consume", timed, "check", self.check, leg, want)
        if record:
            self.walls.append(wall)
            self.latencies.append(time.perf_counter() - t0)
            for s in STEPS:
                self.steps[s].append(steps[s])

    def checked_catch_up(self, leg: Leg, want: dict, record: bool = True) -> None:
        """One catch-up; a failed check or step counts, it does not crash."""
        self.attempted += 1
        try:
            self.catch_up(leg, want, record)
        except Exception as e:  # noqa: BLE001 - a failed backfill is counted
            self.failed += 1
            self.ctx.log(f"backfill of {leg.src} failed: {e!r}")

    def run_timed(self, _seconds: float) -> None:
        """One catch-up of N records per leg, whatever the run length."""
        for leg in self.legs:
            self.checked_catch_up(leg, self.want)

    def final_check(self) -> None:
        pass

    def ops(self) -> int:
        return len(self.walls)

    def op_walls(self) -> list[float]:
        return self.walls

    def layer_extras(self) -> dict:
        """Per catch-up; every leg holds the same records, so the first
        leg's pools stand for each."""
        reg = self.child.call("registry")
        leg = self.legs[0]
        return dict(pool_stats(self.lake, [leg.raw, leg.staging], self.source_bytes),
                    **{"etl.cursor_lag": cursor_lag(self.lake, leg.etl_path),
                       "registry.gets": reg["gets"] / max(self.ops(), 1),
                       "registry.distinct_ids": reg["distinct_ids"]})

    def e2e_metrics(self) -> dict:
        wall = statistics.median(self.walls)
        return {
            "latency_p50_s": statistics.median(self.latencies),
            "records_per_s": N_RECORDS / wall,
            "query_geomean_s": step_geomean(self.steps),
            "work_s": wall,
        }
