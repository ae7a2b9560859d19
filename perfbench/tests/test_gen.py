"""Generator determinism and the expected-output model."""

from perfbench import gen


def cdc_bytes(seed, rounds=4):
    g = gen.CdcGenerator(seed)
    out = []
    for _ in range(rounds):
        batch = g.next_round()
        out.append({t: g.encode(evs) for t, evs in batch.items()})
    return out


def test_cdc_same_seed_same_bytes():
    assert cdc_bytes(7) == cdc_bytes(7)
    assert cdc_bytes(7) != cdc_bytes(8)


def test_backfill_same_seed_same_bytes():
    def framed(seed):
        return [
            None if ev is None else gen.confluent_frame(v, gen.avro_body(ev, v))
            for v, ev in gen.backfill_events(seed, 3000)
        ]

    assert framed(3) == framed(3)
    assert framed(3) != framed(4)


def test_cdc_rounds_have_the_documented_properties():
    g = gen.CdcGenerator(1)
    rounds = [g.next_round() for _ in range(5)]
    ops = [ev["op"] if ev else None for r in rounds for ev in r["customers"]]
    assert {"c", "u", "d", None} <= set(ops)
    # every tombstone follows its delete
    for r in rounds:
        cust = r["customers"]
        for i, ev in enumerate(cust):
            if ev is None:
                assert cust[i - 1]["op"] == "d"
    # some orders arrive a round before their customer
    created = set()
    early = 0
    for r in rounds:
        for ev in r["orders"]:
            early += ev["after"]["customer_id"] not in created
        created |= {ev["after"]["id"] for ev in r["customers"] if ev and ev["op"] == "c"}
    assert early > 0


def test_cdc_rounds_have_a_fixed_size():
    for seed in (1, 2, 3):
        g = gen.CdcGenerator(seed)
        sizes = [
            (len(r["customers"]), len(r["orders"]))
            for r in (g.next_round() for _ in range(5))
        ]
        assert {s[1] for s in sizes[1:]} == {gen.CdcGenerator.ORDERS}
        assert sum(sizes[1]) == 40 + 80 + 110 + 2 * 8
        assert len(set(sizes[1:])) == 1


def test_etl_model_pins_early_orders_until_their_customer():
    g = gen.CdcGenerator(1)
    m = gen.EtlModel()
    m.ingest(g.next_round())
    first = m.run()
    pinned = [p for p in m.pending if p[0] == "orders"]
    assert pinned, "round 0 carries orders of round-1 customers"
    m.ingest(g.next_round())
    second = m.run()
    # the pinned orders joined once their customers arrived
    assert not {(p[0], p[1]) for p in pinned} & {(p[0], p[1]) for p in m.pending}
    offsets = [o for o, _line in first + second]
    assert offsets == list(range(len(offsets)))


def test_backfill_expected_has_one_output_per_input():
    events = gen.backfill_events(5, 2000)
    want = gen.backfill_expected(events)
    assert len(want) == 2000
    assert want.count("null") == sum(1 for _v, ev in events if ev is None or ev["op"] == "d")
    assert {v for v, _ev in events} == {1, 2}


def test_avro_body_matches_the_spec_decoder():
    from zinger_spark.codecs import avro_py

    for version, ev in gen.backfill_events(9, 500):
        if ev is None:
            continue
        got = avro_py.decode_value(gen.avro_envelope_schema(version),
                                   gen.avro_body(ev, version))
        for side in ("before", "after"):
            if ev[side] is not None and version == 2:
                assert got[side].pop("email") == ev[side].get("email")
                assert got[side] == {k: v for k, v in ev[side].items() if k != "email"}
            else:
                assert got[side] == ev[side]
        assert (got["op"], got["ts_ms"]) == (ev["op"], ev["ts_ms"])
