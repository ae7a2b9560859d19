"""Seeded input generator and expected-output model.

Everything the program under test receives is produced here from the
benchmark seed alone: Debezium-style change events (``before`` /
``after`` / ``op`` / ``ts_ms``) encoded as Connect-JSON for the CDC
rounds and as Confluent-framed Avro (two registered schema versions)
for the backfill, plus the envelope rows the lake workload loads.
The same seed always yields the same bytes; ``ts_ms`` is a logical
event time derived from the seed, and the wall-clock generator stamp
travels in a Kafka record header instead, so it never perturbs the
payload.

The module also carries the expected-output model the checks use: a
plain-Python replay of the ETL rules the benchmark configures (the
first-match switch, the denorm join inside the pending window, the
per-topic offset assignment), and the canonical payload digests that
the output topics must match.  It imports nothing from the program.
"""

from __future__ import annotations

import hashlib
import json
import random
import struct

# ---------------------------------------------------------------------------
# shared row shape: one Debezium row struct for every topic, so a single
# Connect value schema decodes both CDC source topics in one ingest

ROW_FIELDS = (
    ("id", "int64"),
    ("name", "string"),
    ("tier", "string"),
    ("customer_id", "int64"),
    ("amount", "int64"),
)
TIERS = ("bronze", "silver", "gold", "platinum")


def connect_value_schema() -> dict:
    """Connect schema of the Debezium envelope (``--value-schema``)."""
    row = {
        "type": "struct",
        "optional": True,
        "fields": [
            {"type": t, "optional": True, "field": name} for name, t in ROW_FIELDS
        ],
    }
    return {
        "type": "struct",
        "optional": True,
        "name": "cdc.Envelope",
        "fields": [
            dict(row, field="before"),
            dict(row, field="after"),
            {"type": "string", "optional": True, "field": "op"},
            {"type": "int64", "optional": True, "field": "ts_ms"},
        ],
    }


def _row(**kw) -> dict:
    return {name: kw.get(name) for name, _t in ROW_FIELDS}


def connect_json(value: dict | None, schema_text: str) -> bytes | None:
    if value is None:
        return None
    return (
        '{"schema":' + schema_text + ',"payload":'
        + json.dumps(value, separators=(",", ":")) + "}"
    ).encode()


def canon(payload) -> str:
    """Canonical text of an output payload: null fields dropped (the
    engine's JSON writer omits them), keys sorted."""
    if isinstance(payload, dict):
        payload = {k: v for k, v in payload.items() if v is not None}
    return json.dumps(payload, sort_keys=True, separators=(",", ":"))


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def zipf_weights(n: int, s: float) -> list[float]:
    """Cumulative Zipf weights over ranks 1..n (rank 1 hottest)."""
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return out


def _interleave(rng: random.Random, lists: list[list]) -> list:
    """Random merge that keeps each list's own order (per-key causal
    order of updates, each tombstone right after its delete)."""
    lists = [lst for lst in lists if lst]
    pos = [0] * len(lists)
    out = []
    left = sum(len(lst) for lst in lists)
    while left:
        k = rng.randrange(left)
        for i, lst in enumerate(lists):
            rem = len(lst) - pos[i]
            if k < rem:
                break
            k -= rem
        # a delete and its tombstone move together
        item = lists[i][pos[i]]
        out.append(item)
        pos[i] += 1
        left -= 1
        if item is not None and item.get("op") == "d":
            out.append(lists[i][pos[i]])
            pos[i] += 1
            left -= 1
    return out


# ---------------------------------------------------------------------------
# CDC rounds (cdc_sync and the lake's Raw pool)


class CdcGenerator:
    """Sequential CDC event source over two topics.

    Each round creates NEW_CUSTOMERS customers and ORDERS orders: one
    per customer, the rest spread over them by a Zipf law.  For EARLY
    customers, one order lands a round BEFORE the customer's create
    event, so it waits unjoined in the ETL window (pinning its cursor)
    until the customer arrives.  Updates hit existing customers with
    Zipf-skewed keys (low ids hottest); deletes are uniform and each is
    followed by a tombstone (null value) for the same key.  Every round
    after the first has the same number of events, so the seed moves
    keys and values, not the amount of work."""

    TOPICS = ("customers", "orders")
    NEW_CUSTOMERS = 40
    ORDERS = 80
    EARLY = 10
    UPDATES = 110
    DELETES = 8
    ZIPF_S = 1.1  # update-key skew

    def __init__(self, seed: int):
        self.seed = seed
        self.round_no = 0
        self.rng = random.Random(f"{seed}:state")
        self.live: list[int] = []  # customer ids, creation order
        self.state: dict[int, dict] = {}
        self.version: dict[int, int] = {}
        self.schema_text = json.dumps(connect_value_schema(), separators=(",", ":"))
        self._plans: dict[int, dict] = {}

    def _plan(self, r: int) -> dict:
        """Creates of round ``r`` and where their orders go; a pure
        function of (seed, r) so round r-1 can place early orders."""
        if r in self._plans:
            return self._plans[r]
        rng = random.Random(f"{self.seed}:plan:{r}")
        n = self.NEW_CUSTOMERS
        counts = [1] * n
        ranks = list(range(n))
        rng.shuffle(ranks)  # which customers the Zipf law favours
        for k in rng.choices(ranks, cum_weights=zipf_weights(n, 1.2),
                             k=self.ORDERS - n):
            counts[k] += 1
        early = set(rng.sample(range(n), self.EARLY)) if r > 0 else set()
        customers = []
        for i in range(n):
            cid = r * n + i
            orders = [
                _row(id=cid * 128 + j, customer_id=cid,
                     amount=rng.randrange(100, 100_000))
                for j in range(counts[i])
            ]
            customers.append({
                "row": _row(id=cid, name=f"cust-{cid}", tier=rng.choice(TIERS)),
                "orders": orders,
                "early": 1 if i in early else 0,  # orders sent a round ahead
            })
        self._plans[r] = {"customers": customers}
        self._plans.pop(r - 2, None)
        return self._plans[r]

    def next_round(self) -> dict:
        """-> {topic: [value dict | None, ...]} for the next round, in
        produce order.  Tombstones are ``None``."""
        r = self.round_no
        self.round_no += 1
        rng = random.Random(f"{self.seed}:round:{r}")
        ts = 1_700_000_000_000 + r * 1000
        plan, nxt = self._plan(r), self._plan(r + 1)

        def env(before, after, op):
            return {"before": before, "after": after, "op": op, "ts_ms": ts}

        orders = []
        for c in plan["customers"]:
            orders.extend(c["orders"][c["early"]:])
        for c in nxt["customers"]:
            orders.extend(c["orders"][:c["early"]])
        rng.shuffle(orders)
        order_events = [env(None, o, "c") for o in orders]

        # deletes first (uniform over live customers created earlier),
        # then Zipf-skewed updates over the survivors
        victims = set(self.rng.sample(self.live, min(self.DELETES, len(self.live))))
        survivors = [c for c in self.live if c not in victims]
        updates = []
        if survivors:
            cum = zipf_weights(len(survivors), self.ZIPF_S)
            for cid in self.rng.choices(survivors, cum_weights=cum, k=self.UPDATES):
                before = self.state[cid]
                self.version[cid] += 1
                after = dict(before, name=f"cust-{cid}-v{self.version[cid]}",
                             tier=self.rng.choice(TIERS))
                self.state[cid] = after
                updates.append(env(before, after, "u"))
        # each delete is followed directly by its tombstone
        deletes = []
        for cid in sorted(victims):
            deletes += [env(self.state.pop(cid), None, "d"), None]
        creates = [env(None, c["row"], "c") for c in plan["customers"]]
        out_cust = _interleave(rng, [updates, deletes, creates])
        for cid in sorted(victims):
            del self.version[cid]
        self.live = [c for c in self.live if c not in victims]
        for c in plan["customers"]:
            cid = c["row"]["id"]
            self.live.append(cid)
            self.state[cid] = c["row"]
            self.version[cid] = 0
        return {"customers": out_cust, "orders": order_events}

    def encode(self, events: list) -> list[bytes | None]:
        return [connect_json(ev, self.schema_text) for ev in events]


#: the transform the CDC workloads run (the etl-demo shape: one denorm
#: rule, one stateless rule).  The stateless where-clause is Spark SQL
#: because it must also match tombstones (null values).
CDC_TRANSFORM_YAML = """\
inputs:
  - topic: customers
    pool: Raw
  - topic: orders
    pool: Raw
output:
  topic: {out}
  pool: Staging
transforms:
  - type: denorm
    where: value.op=="c"
    left: orders
    right: customers
    join-on: left.value.after.customer_id=right.value.after.id
    out: {out}
    zed: |
      | out:={{
          key: {{id: left.value.after.id}},
          value: {{
            order_id: left.value.after.id,
            customer_id: left.value.after.customer_id,
            amount: left.value.after.amount,
            name: right.value.after.name,
            tier: right.value.after.tier
          }}
        }}
  - type: stateless
    where: value IS NULL OR value.op IN ('u', 'd')
    in: customers
    out: {out}
    zed: |
      | out:={{key: {{id: in.value.after.id}}, value: in.value.after}}
"""


class EtlModel:
    """Plain-Python replay of the CDC transform above.

    Records not yet marked done form the pending window.  Per run, the
    first rule takes every pending record whose op is "c" and joins
    orders to customers on customer id inside that window; joined
    records on both sides become done, unjoined ones stay pending.  The
    second rule takes customer records that are tombstones, updates or
    deletes.  Like the engine, a denorm join writes one done marker per
    side of every joined pair, so a customer joined to k orders gets k.
    Output rows are ordered by (input offset, input topic) and numbered
    on from the output topic's head."""

    def __init__(self):
        self.next_offset = {t: 0 for t in CdcGenerator.TOPICS}
        self.pending: list[tuple[str, int, dict | None]] = []
        self.markers: list[tuple[str, int]] = []  # done-marker rows written
        self.out_offset = 0

    def ingest(self, batch: dict) -> None:
        for topic in CdcGenerator.TOPICS:
            for ev in batch.get(topic, []):
                self.pending.append((topic, self.next_offset[topic], ev))
                self.next_offset[topic] += 1

    def run(self) -> list[tuple[int, str]]:
        """One ETL run -> [(output offset, canonical payload)]."""
        creates = [p for p in self.pending if p[2] is not None and p[2]["op"] == "c"]
        by_customer: dict[int, list] = {}
        for p in creates:
            if p[0] == "customers":
                by_customer.setdefault(p[2]["after"]["id"], []).append(p)
        out, done = [], set()
        marked = []  # done-marker rows: one per side of each joined pair
        for p in creates:
            if p[0] != "orders":
                continue
            order = p[2]["after"]
            for c in by_customer.get(order["customer_id"], []):
                cust = c[2]["after"]
                out.append(((p[1], p[0]), canon({
                    "order_id": order["id"],
                    "customer_id": order["customer_id"],
                    "amount": order["amount"],
                    "name": cust["name"],
                    "tier": cust["tier"],
                })))
                marked += [(p[0], p[1]), (c[0], c[1])]
        for p in self.pending:
            ev = p[2]
            if p[0] == "customers" and (ev is None or ev["op"] in ("u", "d")):
                out.append(((p[1], p[0]), canon(None if ev is None else ev["after"])))
                marked.append((p[0], p[1]))
        done.update(marked)
        self.markers.extend(marked)
        self.pending = [p for p in self.pending if (p[0], p[1]) not in done]
        out.sort(key=lambda o: o[0])
        rows = []
        for _key, line in out:
            rows.append((self.out_offset, line))
            self.out_offset += 1
        return rows


# ---------------------------------------------------------------------------
# Avro backfill (bulk_backfill)

AVRO_NAMESPACE = "perfbench.backfill"


def _avro_row(version: int, role: str) -> dict:
    fields = [
        {"name": "id", "type": ["null", "long"], "default": None},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "balance", "type": ["null", "long"], "default": None},
    ]
    if version == 2:
        fields.append({"name": "email", "type": ["null", "string"], "default": None})
    # before/after are distinct named records (no by-name references,
    # which the program's schema reader does not resolve)
    return {"type": "record", "name": f"Account{role}_v{version}",
            "namespace": AVRO_NAMESPACE, "fields": fields}


def avro_envelope_schema(version: int) -> dict:
    return {
        "type": "record",
        "name": f"Envelope_v{version}",
        "namespace": AVRO_NAMESPACE,
        "fields": [
            {"name": "before", "type": ["null", _avro_row(version, "Before")],
             "default": None},
            {"name": "after", "type": ["null", _avro_row(version, "After")],
             "default": None},
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "ts_ms", "type": ["null", "long"], "default": None},
        ],
    }


def _zz(n: int, out: bytearray) -> None:
    u = (n << 1) ^ (n >> 63)
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)


def _opt(value, out: bytearray, write) -> None:
    if value is None:
        out.append(0)  # union branch 0 = null
    else:
        out.append(2)  # zigzag(1): branch 1
        write(value, out)


def _long(v: int, out: bytearray) -> None:
    _zz(v, out)


def _string(v: str, out: bytearray) -> None:
    b = v.encode()
    _zz(len(b), out)
    out += b


def avro_body(ev: dict, version: int) -> bytes:
    """Avro binary body of one envelope (independent of the program's
    codec, per the Avro 1.11 spec)."""
    out = bytearray()

    def row(r: dict, o: bytearray) -> None:
        _opt(r["id"], o, _long)
        _opt(r["name"], o, _string)
        _opt(r["balance"], o, _long)
        if version == 2:
            _opt(r.get("email"), o, _string)

    _opt(ev["before"], out, row)
    _opt(ev["after"], out, row)
    _opt(ev["op"], out, _string)
    _opt(ev["ts_ms"], out, _long)
    return bytes(out)


def confluent_frame(schema_id: int, body: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + body


def backfill_events(seed: int, n: int) -> list[tuple[int, dict | None]]:
    """n backfill events -> [(schema version, envelope | None)].

    Snapshot reads ("r") and creates, then updates whose keys follow a
    Zipf law over the oldest live accounts, deletes each followed by a
    tombstone.  The first 40% use schema v1; after that the producer
    upgraded to v2 (adds ``email``)."""
    rng = random.Random(f"{seed}:backfill")
    cum = zipf_weights(4096, 1.05)
    ranks = range(4096)
    out: list[tuple[int, dict | None]] = []
    state: dict[int, dict] = {}
    live: list[int] = []
    next_id = 0
    switch = int(n * 0.4)
    while len(out) < n:
        i = len(out)
        version = 1 if i < switch else 2
        ts = 1_700_000_000_000 + i
        roll = rng.random()
        if not live or roll < 0.35:
            op = "r" if i < n // 5 else "c"
            row = {"id": next_id, "name": f"acct-{next_id}",
                   "balance": rng.randrange(0, 10**9)}
            if version == 2:
                row["email"] = f"a{next_id}@example.com"
            state[next_id] = row
            live.append(next_id)
            next_id += 1
            out.append((version, {"before": None, "after": row, "op": op, "ts_ms": ts}))
        elif roll < 0.94 or len(out) > n - 2:
            rank = rng.choices(ranks, cum_weights=cum)[0]
            aid = live[rank % len(live)]
            before = state[aid]
            after = dict(before, balance=rng.randrange(0, 10**9))
            if version == 2:
                after.setdefault("email", f"a{aid}@example.com")
            state[aid] = after
            out.append((version, {"before": before, "after": after, "op": "u", "ts_ms": ts}))
        else:
            aid = live.pop(rng.randrange(len(live)))
            out.append((version, {"before": state.pop(aid), "after": None,
                                  "op": "d", "ts_ms": ts}))
            out.append((version, None))
    return out[:n]


BACKFILL_TRANSFORM_YAML = """\
inputs:
  - topic: {src}
    pool: {raw}
output:
  topic: {out}
  pool: {staging}
transforms:
  - type: stateless
    where: value IS NULL OR value.op = 'd'
    in: {src}
    out: {out}
    zed: |
      | out:={{key: {{id: in.value.before.id}}, value: in.value.after}}
  - type: stateless
    where: value.op=="r" or value.op=="c" or value.op=="u"
    in: {src}
    out: {out}
    zed: |
      | out:={{key: {{id: in.value.after.id}}, value: in.value.after}}
"""


def backfill_expected(events) -> list[str]:
    """Canonical output payloads, in output-offset order: every input
    record maps to one output (its ``after`` row, or null)."""
    return [canon(None if ev is None else ev["after"]) for _v, ev in events]
