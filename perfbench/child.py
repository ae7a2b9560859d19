"""The benchmark's external world, run as one child process.

It holds the load generator, the program's ``StubBroker`` (the Kafka
stand-in) and, for Avro, its ``RegistryStub``.  Keeping them out of the
driver keeps broker decode off the driver's interpreter lock and the
generated payloads out of the driver's memory.  The driver talks to it
over stdin/stdout, one JSON object per line:

    {"op": "start", "kind": "cdc"|"backfill", "seed": N, ...}
        -> {"bootstrap": "...", "registry": "..."|null}
    {"op": "round"}                      (cdc) produce one round
        -> {"events", "bytes", "stamp", "count", "digest", "first"}
    {"op": "preload", "n": N, "topics": [T, ...]}
                                         (backfill) produce the same N
                                         records to each topic
        -> {"count", "bytes", "digest"}   (per topic)
    {"op": "expected_all"}               (cdc) whole-topic expectation
        -> {"count", "digest"}
    {"op": "topic", "topic": T}          content of an output topic
        -> {"count", "digest"}
    {"op": "registry"}                   schema lookups since the last call
        -> {"gets", "distinct_ids"}
    {"op": "stop"}                       -> {} and exit

The generator produces over ONE wire connection.  Each CDC event
carries its generator stamp (CLOCK_MONOTONIC, ns) in a record header.

Run: python -m perfbench.child   (the driver starts it)
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

from perfbench import gen

PRODUCE_BATCH = 1000


class World:
    def __init__(self, req: dict):
        from zinger_spark.kafka_stub import StubBroker
        from zinger_spark.kafka_wire import KafkaWireClient

        self.kind = req["kind"]
        self.seed = int(req["seed"])
        self.broker = StubBroker()
        self.registry = None
        if self.kind == "backfill":
            from zinger_spark.registry_stub import RegistryStub

            self.registry = RegistryStub()
        self.client = KafkaWireClient(self.broker.bootstrap)
        for topic in req.get("topics", []):
            self.client.create_topic(topic)
        if self.kind == "cdc":
            self.gen = gen.CdcGenerator(self.seed)
            self.model = gen.EtlModel()
            self.all_lines: list[str] = []

    def close(self) -> None:
        self.client.close()
        self.broker.close()
        if self.registry is not None:
            self.registry.close()

    def _produce(self, topic: str, msgs: list[tuple]) -> None:
        for i in range(0, len(msgs), PRODUCE_BATCH):
            self.client.produce(topic, 0, msgs[i : i + PRODUCE_BATCH])

    def round(self) -> dict:
        batch = self.gen.next_round()
        encoded = {t: self.gen.encode(evs) for t, evs in batch.items()}
        n = sum(len(v) for v in encoded.values())
        nbytes = sum(len(v) for vs in encoded.values() for v in vs if v)
        stamp = time.monotonic_ns()
        header = (("pb_stamp_ns", str(stamp).encode()),)
        for topic in gen.CdcGenerator.TOPICS:
            self._produce(topic, [(None, v, header) for v in encoded[topic]])
        self.model.ingest(batch)
        rows = self.model.run()
        lines = [line for _off, line in rows]
        self.all_lines.extend(lines)
        return {
            "events": n,
            "bytes": nbytes,
            "stamp": stamp / 1e9,
            "count": len(rows),
            "first": rows[0][0] if rows else self.model.out_offset,
            "digest": gen.digest(lines),
        }

    def preload(self, n: int, topics: list[str]) -> dict:
        ids = {}
        for version in (1, 2):
            body = json.dumps(
                {"schema": json.dumps(gen.avro_envelope_schema(version))}
            ).encode()
            req = urllib.request.Request(
                f"{self.registry.url}/subjects/{gen.AVRO_NAMESPACE}.Envelope/versions",
                data=body,
                headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            )
            with urllib.request.urlopen(req) as resp:  # noqa: S310 - local stub
                ids[version] = int(json.loads(resp.read())["id"])
        events = gen.backfill_events(self.seed, n)
        msgs, nbytes = [], 0
        for version, ev in events:
            value = (
                None if ev is None
                else gen.confluent_frame(ids[version], gen.avro_body(ev, version))
            )
            nbytes += len(value) if value else 0
            msgs.append((None, value))
        for topic in topics:
            self._produce(topic, msgs)
        return {
            "count": n,
            "bytes": nbytes,
            "digest": gen.digest(gen.backfill_expected(events)),
        }

    def topic(self, topic: str) -> dict:
        """Count and digest of an output topic, read from the broker's
        own log (list index == offset, so offsets are dense)."""
        lines = [
            gen.canon(json.loads(value)["payload"])
            for _key, value, *_rest in self.broker.log(topic)
        ]
        return {"count": len(lines), "digest": gen.digest(lines)}

    def registry_stats(self) -> dict:
        """Schema lookups since the previous call."""
        paths = [p for m, p in self.registry.requests
                 if m == "GET" and p.startswith("/schemas/ids/")]
        self.registry.requests.clear()
        return {"gets": len(paths), "distinct_ids": len(set(paths))}


def serve(inp, out) -> None:
    world = None
    try:
        for line in inp:
            req = json.loads(line)
            op = req["op"]
            if op == "start":
                world = World(req)
                resp = {
                    "bootstrap": world.broker.bootstrap,
                    "registry": world.registry.url if world.registry else None,
                }
            elif op == "round":
                resp = world.round()
            elif op == "preload":
                resp = world.preload(int(req["n"]), req["topics"])
            elif op == "expected_all":
                resp = {"count": len(world.all_lines),
                        "digest": gen.digest(world.all_lines)}
            elif op == "topic":
                resp = world.topic(req["topic"])
            elif op == "registry":
                resp = world.registry_stats()
            elif op == "stop":
                out.write("{}\n")
                out.flush()
                return
            else:
                raise ValueError(f"unknown op {op!r}")
            out.write(json.dumps(resp) + "\n")
            out.flush()
    finally:
        if world is not None:
            world.close()


if __name__ == "__main__":
    # the protocol owns stdout; anything else the program prints goes
    # to stderr
    proto = sys.stdout
    sys.stdout = sys.stderr
    serve(sys.stdin, proto)
