"""cdc_sync: a closed loop of small sync rounds with one client.

Each round the child produces a few hundred Connect-JSON change events
to ``customers`` and ``orders``; the driver then runs ``from-kafka``
(wire, one atomic commit), ``etl`` (denorm + stateless) and
``to-kafka --resume`` (wire), and consumes the round's output records
from the output topic.  The next round starts only after that, so no
backlog can build.  Round latency runs from the round's generator
stamp to the moment the consumer returns its last expected record."""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import gen
from perfbench.common import (
    BenchError, Child, cli, cursor_lag, pool_stats, step_geomean,
)

OUT_TOPIC = "orders_enriched"
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3
#: the CLI subcommands of one op, timed each
STEPS = ("from_kafka", "etl", "to_kafka")


class CdcSync:
    def __init__(self, ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.workdir, "lake")
        self.steps: dict[str, list[float]] = {s: [] for s in STEPS}
        self.latencies: list[float] = []
        self.walls: list[float] = []
        self.events = 0
        self.source_bytes = 0
        self.out_next = 0
        self.attempted = self.failed = 0

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        from zinger_spark.kafka_wire import KafkaWireClient

        os.makedirs(self.lake)
        cli("create-pool", "Raw", "--lake", self.lake)
        cli("create-pool", "Staging", "--lake", self.lake)
        self.schema_path = os.path.join(self.ctx.workdir, "value-schema.json")
        with open(self.schema_path, "w") as f:
            json.dump(gen.connect_value_schema(), f)
        self.etl_path = os.path.join(self.ctx.workdir, "cdc.yaml")
        with open(self.etl_path, "w") as f:
            f.write(gen.CDC_TRANSFORM_YAML.format(out=OUT_TOPIC))
        self.child = Child(
            self.ctx.workdir, kind="cdc", seed=self.ctx.seed,
            topics=[*gen.CdcGenerator.TOPICS, OUT_TOPIC],
        )
        self.brokers = self.child.info["bootstrap"]
        self.consumer = KafkaWireClient(self.brokers)
        for i in range(WARMUP_ROUNDS):
            with self.ctx.phase(f"warm-up round {i}"):
                self.checked_round(record=False)

    def close(self) -> None:
        for obj in ("consumer", "child"):
            if hasattr(self, obj):
                getattr(self, obj).close()

    # -- one round -----------------------------------------------------------

    def _timed(self, step: str, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.steps_round[step] = time.perf_counter() - t
        return out

    def consume(self, first: int, count: int) -> list[str]:
        """Fetch output offsets [first, first + count) and return their
        canonical payloads; a gap or a short topic is a failure."""
        lines, offset, end = [], first, first + count
        deadline = time.monotonic() + 30
        while offset < end:
            _hw, msgs = self.consumer.fetch(OUT_TOPIC, 0, offset)
            for m in msgs:
                if m.offset != offset:
                    raise BenchError(f"output offset {m.offset}, expected {offset}")
                if offset < end:
                    lines.append(gen.canon(json.loads(m.value)["payload"]))
                offset += 1
            if not msgs and time.monotonic() > deadline:
                raise BenchError(f"output topic stops at {offset}, expected {end}")
        return lines

    def round(self, record: bool = True) -> None:
        self.steps_round = {}
        t0 = time.perf_counter()
        info = self.child.call("round")
        self.source_bytes += info["bytes"]
        self._timed(
            "from_kafka", cli, "from-kafka", "--brokers", self.brokers,
            "--topics", ",".join(gen.CdcGenerator.TOPICS), "--pool", "Raw",
            "--lake", self.lake, "--value-schema", self.schema_path,
            "--transport", "wire", "--exitafter",
        )
        self._timed("etl", cli, "etl", self.etl_path, "--lake", self.lake)
        self._timed(
            "to_kafka", cli, "to-kafka", "--brokers", self.brokers,
            "--topic", OUT_TOPIC, "--pool", "Staging", "--lake", self.lake,
            "--transport", "wire", "--resume",
        )
        if info["first"] != self.out_next:
            raise BenchError(f"round output starts at {info['first']}, "
                             f"expected {self.out_next}")
        lines = self.ctx.tracer.call(
            "verify.consume", self._timed, "consume", self.consume,
            self.out_next, info["count"],
        )
        done = time.monotonic()
        self.out_next += info["count"]
        if gen.digest(lines) != info["digest"]:
            raise BenchError("round output differs from the expected records")
        if record:
            self.events += info["events"]
            self.latencies.append(done - info["stamp"])
            self.walls.append(time.perf_counter() - t0)
            for s in STEPS:
                self.steps[s].append(self.steps_round[s])

    # -- timed phase -----------------------------------------------------------

    def checked_round(self, record: bool = True) -> None:
        """One round; a failed check or step counts, it does not crash."""
        self.attempted += 1
        try:
            self.round(record)
        except Exception as e:  # noqa: BLE001 - a failed round is counted
            self.failed += 1
            self.ctx.log(f"round {self.attempted} failed: {e!r}")

    def run_timed(self, seconds: float) -> None:
        """Rounds until ``seconds`` have passed and at least MIN_ROUNDS
        ran."""
        t_end = time.monotonic() + seconds
        rounds = 0
        while time.monotonic() < t_end or rounds < MIN_ROUNDS:
            rounds += 1
            self.checked_round()

    def final_check(self) -> None:
        """Exactly-once over the whole run: the output topic holds
        exactly the expected records at dense offsets 0..M-1."""
        self.attempted += 1
        try:
            want = self.child.call("expected_all")
            lo, hi = self.consumer.watermarks(OUT_TOPIC)
            if (lo, hi) != (0, want["count"]):
                raise BenchError(f"output topic spans [{lo}, {hi}), "
                                 f"expected [0, {want['count']})")
            if gen.digest(self.consume(0, hi)) != want["digest"]:
                raise BenchError("output topic content differs from expected")
        except Exception as e:  # noqa: BLE001 - counted as a failed check
            self.failed += 1
            self.ctx.log(f"final check failed: {e!r}")

    # -- results -------------------------------------------------------------

    def ops(self) -> int:
        return len(self.walls)

    def op_walls(self) -> list[float]:
        return self.walls

    def layer_extras(self) -> dict:
        return dict(pool_stats(self.lake, ["Raw", "Staging"], self.source_bytes),
                    **{"etl.cursor_lag": cursor_lag(self.lake, self.etl_path)})

    def e2e_metrics(self) -> dict:
        return {
            "latency_p50_s": statistics.median(self.latencies),
            "records_per_s": self.events / sum(self.walls),
            "query_geomean_s": step_geomean(self.steps),
            "work_s": statistics.median(self.walls),
        }
