"""Spans around the public functions the CLI calls.

A span is a benchmark-side wrapper, patched in as a module or class
attribute for the traced run only.  Each open span adds its own Spark
job tag (``SparkContext.addJobTag``), so a job started inside nested
spans carries every enclosing span's tag and the event-log parser can
attribute it to each of them.  Spans stay in memory and are written as
JSONL when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time

#: span name -> (module, attribute path) of the function it wraps
SPAN_TARGETS = {
    "cli.from_kafka": ("zinger_spark.cli", "cmd_from_kafka"),
    "cli.etl": ("zinger_spark.cli", "cmd_etl"),
    "cli.to_kafka": ("zinger_spark.cli", "cmd_to_kafka"),
    "cli.query": ("zinger_spark.cli", "cmd_query"),
    "kafka_wire.fetch": ("zinger_spark.kafka_wire", "wire_read_topic"),
    "kafka_wire.produce": ("zinger_spark.kafka_wire", "wire_produce_df"),
    "from_kafka.guard": ("zinger_spark.streaming.from_kafka", "monotonic_guard"),
    "codecs.avro_decode": ("zinger_spark.codecs.avro", "decode_by_schema_id"),
    "pool.commit": ("zinger_spark.sources.pool", "Pool.load_batch"),
    "etl.run": ("zinger_spark.etl.planner", "EtlPipeline.run"),
    "to_kafka.sync": ("zinger_spark.streaming.to_kafka", "sync_batches"),
    "zedql.compile": ("zinger_spark.zedql", "compile_query"),
}
#: span name -> (counter, function of the wrapped call's result)
RESULT_COUNTERS = {
    # EtlPipeline.run returns 2 x data rows (the "ETL'd n" count)
    "etl.run": ("etl.rows_out", lambda n: n / 2),
}
#: spans the benchmark opens around its own code
OWN_SPANS = ("verify.consume",)
SPANS = (*SPAN_TARGETS, *OWN_SPANS)


class NullTracer:
    """Untraced runs: spans cost one function call."""

    def call(self, _name: str, fn, *args, **kw):
        return fn(*args, **kw)

    def count(self, _name: str, _n: float = 1) -> None:
        pass


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[tuple[int, str]] = []  # open (span id, name)
        self.counters: dict[str, float] = {}
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def call(self, name: str, fn, *args, **kw):
        sid = self._next
        self._next += 1
        tag = f"pbspan{sid}"
        parent = self.stack[-1][0] if self.stack else None
        if self.sc is not None:
            self.sc.addJobTag(tag)
        self.stack.append((sid, name))
        start_epoch = time.time()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            dur = time.perf_counter() - t0
            self.stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            self.spans.append({
                "id": sid, "name": name, "parent": parent, "tag": tag,
                "start": start_epoch, "end": start_epoch + dur,
            })

    def in_span(self, name: str) -> bool:
        return any(n == name for _sid, n in self.stack)

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    # -- patching ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for name, (modname, path) in SPAN_TARGETS.items():
            owner = importlib.import_module(modname)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            orig = getattr(owner, attr)
            self._patch(owner, attr, _wrapped(self, name, orig))
        self._install_wire_counters()

    def _install_wire_counters(self) -> None:
        """Record and byte counts of the wire client, attributed to the
        fetch/produce span that is open when the client is called."""
        from zinger_spark.kafka_wire import KafkaWireClient

        tracer = self
        fetch_all = KafkaWireClient.fetch_all
        produce = KafkaWireClient.produce

        def counted_fetch_all(client, *a, **kw):
            msgs = fetch_all(client, *a, **kw)
            if tracer.in_span("kafka_wire.fetch"):
                tracer.count("kafka_wire.fetch.records", len(msgs))
                tracer.count("kafka_wire.fetch.bytes",
                             sum(len(m.value or b"") for m in msgs))
            return msgs

        def counted_produce(client, topic, partition, messages, *a, **kw):
            if tracer.in_span("kafka_wire.produce"):
                tracer.count("kafka_wire.produce.records", len(messages))
                tracer.count("kafka_wire.produce.bytes",
                             sum(len(m[1] or b"") for m in messages))
            return produce(client, topic, partition, messages, *a, **kw)

        self._patch(KafkaWireClient, "fetch_all", counted_fetch_all)
        self._patch(KafkaWireClient, "produce", counted_produce)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(sp) + "\n")


def _wrapped(tracer: Tracer, name: str, orig):
    counter = RESULT_COUNTERS.get(name)

    @functools.wraps(orig)
    def wrapper(*args, **kw):
        out = tracer.call(name, orig, *args, **kw)
        if counter is not None:
            tracer.count(counter[0], counter[1](out))
        return out

    return wrapper


# ---------------------------------------------------------------------------
# span arithmetic


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of it that its direct
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        kids = clipped(children.get(sp["id"], []), sp["start"], sp["end"])
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length(kids)
    return out
