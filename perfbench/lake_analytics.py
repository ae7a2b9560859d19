"""lake_analytics: read-only Zed queries over a lake, no Kafka at all.

Setup builds the lake through the program's own write path: each Raw
commit is a ``load`` of one parquet file holding a CDC round
(``customers``, ``orders``) plus a slice of a high-volume ``clicks``
topic, and one ``etl`` run part-way through gives Staging data rows and
done markers.  The timed phase runs a fixed query mix through
``query -z`` round-robin; each result is hashed against DuckDB over
the generated rows.

The commit files and the DuckDB hashes are made by a short-lived
subprocess, so the generated rows, pyarrow and DuckDB never enter the
driver and its peak RSS is the program's own:

    python -m perfbench.lake_analytics SEED OUTDIR   (prints one JSON object)
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time

from perfbench import gen
from perfbench.common import (
    ROOT, BenchError, cli, cursor_lag, geomean, pool_stats,
)

COMMITS = 6
ETL_AFTER = 4  # Staging is ETL'd once, after this many Raw commits
CLICKS_PER_COMMIT = 4_000
PAGES = 60
ASOF_COMMIT = COMMITS // 2  # time travel to the state after this many
TAIL_ROWS = 500
TAIL_FROM = COMMITS * CLICKS_PER_COMMIT - TAIL_ROWS - 37
#: passes keep getting faster for the first ~10 (JIT); the warm-up
#: passes take most of that out of the timed phase
WARMUP_PASSES = 2
MIN_PASSES = 3


def _zed_queries(asof: str) -> list[tuple[str, list[str]]]:
    """(name, query argv tail) of the query mix; ``asof`` is the id of
    Raw's commit number ASOF_COMMIT - 1."""
    return [
        ("filter_agg",
         ["-z", 'from Raw | kafka.topic=="clicks" value.after.amount>=5000 '
                '| n:=count(), total:=sum(value.after.amount) by page:=value.after.name']),
        ("count_by_topic", ["-z", "from Raw | n:=count() by kafka.topic"]),
        ("tail_read",
         ["-z", f'from Raw | kafka.topic=="clicks" kafka.offset>={TAIL_FROM} '
                f"| sort kafka.offset | head {TAIL_ROWS}"]),
        ("done_count", ["-z", "from Staging | is(<done>) | n:=count() by kafka.topic"]),
        ("as_of",
         ["--at", asof, "-z", "from Raw | n:=count(), last:=max(kafka.offset) by kafka.topic"]),
        ("join",
         ["-z", 'from ( pool Raw => kafka.topic=="orders" '
                'pool Raw => kafka.topic=="customers" value.op=="c" ) '
                "| join on value.after.customer_id=value.after.id tier:=value.after.tier "
                "| n:=count(), total:=sum(value.after.amount) by tier"]),
    ]


#: name -> DuckDB SQL giving each query's expected result
SQL = {
    "filter_agg":
        "SELECT value.after.name AS page, count(*) AS n, sum(value.after.amount) AS total "
        "FROM raw WHERE kafka.topic = 'clicks' AND value.after.amount >= 5000 GROUP BY 1",
    "count_by_topic": "SELECT kafka.topic AS topic, count(*) AS n FROM raw GROUP BY 1",
    "tail_read":
        f"SELECT kafka, key, value, _type FROM raw WHERE kafka.topic = 'clicks' "
        f"AND kafka.offset >= {TAIL_FROM} ORDER BY kafka.offset LIMIT {TAIL_ROWS}",
    "done_count": "SELECT topic, count(*) AS n FROM done GROUP BY 1",
    "as_of":
        "SELECT kafka.topic AS topic, count(*) AS n, max(kafka.offset) AS last "
        f"FROM raw WHERE commit_no < {ASOF_COMMIT} GROUP BY 1",
    "join":
        "SELECT c.value.after.tier AS tier, count(*) AS n, sum(o.value.after.amount) AS total "
        "FROM raw o JOIN raw c ON o.value.after.customer_id = c.value.after.id "
        "WHERE o.kafka.topic = 'orders' AND c.kafka.topic = 'customers' "
        "AND c.value.op = 'c' GROUP BY 1",
}


def result_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of result rows."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _arrow_schema():
    import pyarrow as pa

    row = pa.struct([(n, pa.int64() if t == "int64" else pa.string())
                     for n, t in gen.ROW_FIELDS])
    return pa.schema([
        ("kafka", pa.struct([("topic", pa.string()), ("partition", pa.int64()),
                             ("offset", pa.int64())])),
        ("key", pa.struct([("id", pa.int64())])),
        ("value", pa.struct([("before", row), ("after", row), ("op", pa.string()),
                             ("ts_ms", pa.int64())])),
        ("_type", pa.string()),
    ])


def _commit_rows(cdc, model, rng, commit_no: int) -> list[dict]:
    """Raw rows of one commit: a CDC round plus a slice of ``clicks``."""
    batch = cdc.next_round()
    offsets = dict(model.next_offset)
    model.ingest(batch)
    rows = []
    for topic in gen.CdcGenerator.TOPICS:
        for ev in batch[topic]:
            key = None
            if ev is not None:
                src = ev["after"] or ev["before"]
                key = {"id": src["id"]}
            rows.append({"kafka": {"topic": topic, "partition": 0,
                                   "offset": offsets[topic]},
                         "key": key, "value": ev, "_type": "data"})
            offsets[topic] += 1
    cum = gen.zipf_weights(PAGES, 1.2)
    base = commit_no * CLICKS_PER_COMMIT
    for i in range(CLICKS_PER_COMMIT):
        page = rng.choices(range(PAGES), cum_weights=cum)[0]
        after = {"id": base + i, "name": f"/page/{page}", "tier": None,
                 "customer_id": rng.randrange(10_000),
                 "amount": rng.randrange(50, 20_000)}
        rows.append({"kafka": {"topic": "clicks", "partition": 0, "offset": base + i},
                     "key": {"id": base + i},
                     "value": {"before": None, "after": after, "op": "c",
                               "ts_ms": 1_700_000_000_000 + base + i},
                     "_type": "data"})
    return rows


def build(seed: int, outdir: str) -> dict:
    """Write the COMMITS parquet files Raw loads, in order, and hash
    each query's expected result with DuckDB.  Staging's done markers
    come from the ETL model run after ETL_AFTER commits, as the driver
    runs ``etl`` then."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdc = gen.CdcGenerator(seed)
    model = gen.EtlModel()
    rng = random.Random(f"{seed}:clicks")
    schema = _arrow_schema()
    tables, files, source_bytes = [], [], 0
    for c in range(COMMITS):
        rows = _commit_rows(cdc, model, rng, c)
        source_bytes += sum(
            len(json.dumps(r["value"], separators=(",", ":"))) for r in rows
        )
        table = pa.Table.from_pylist(rows, schema=schema)
        path = os.path.join(outdir, f"commit-{c}.parquet")
        pq.write_table(table, path)
        files.append(path)
        tables.append(table.append_column("commit_no", pa.array([c] * len(rows))))
        if c + 1 == ETL_AFTER:
            model.run()
    raw = pa.concat_tables(tables)
    done = [{"topic": t, "offset": o} for t, o in model.markers]
    db = duckdb.connect()
    db.register("raw", raw)
    db.register("done", pa.Table.from_pylist(
        done, schema=pa.schema([("topic", pa.string()), ("offset", pa.int64())])))
    hashes = {}
    for name, sql in SQL.items():
        cur = db.execute(sql)
        cols = [d[0] for d in cur.description]
        hashes[name] = result_hash([dict(zip(cols, r)) for r in cur.fetchall()])
    db.close()
    return {"files": files, "hashes": hashes, "raw_rows": raw.num_rows,
            "source_bytes": source_bytes}


class LakeAnalytics:
    def __init__(self, ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.workdir, "lake")
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {}
        self.pass_walls: list[float] = []
        self.raw_rows = 0
        self.source_bytes = 0

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        os.makedirs(self.lake)
        with self.ctx.phase("generate"):
            proc = subprocess.run(
                [sys.executable, "-m", "perfbench.lake_analytics",
                 str(self.ctx.seed), self.ctx.workdir],
                stdout=subprocess.PIPE, text=True, check=True, cwd=ROOT,
                env=dict(os.environ, PYTHONPATH=ROOT), timeout=120,
            )
        data = json.loads(proc.stdout)
        self.raw_rows, self.source_bytes = data["raw_rows"], data["source_bytes"]
        cli("create-pool", "Raw", "--lake", self.lake)
        cli("create-pool", "Staging", "--lake", self.lake)
        self.etl_path = os.path.join(self.ctx.workdir, "cdc.yaml")
        with open(self.etl_path, "w") as f:
            f.write(gen.CDC_TRANSFORM_YAML.format(out="orders_enriched"))
        commit_ids = []
        for c, path in enumerate(data["files"]):
            with self.ctx.phase(f"load {c}"):
                out = cli("load", path, "--pool", "Raw", "--lake", self.lake)
            commit_ids.append(out.split()[1])  # "commit <id> <n> records"
            if c + 1 == ETL_AFTER:
                with self.ctx.phase(f"etl after {c}"):
                    cli("etl", self.etl_path, "--lake", self.lake)
        self.queries = []
        for name, argv in _zed_queries(commit_ids[ASOF_COMMIT - 1]):
            self.queries.append((name, argv, data["hashes"][name]))
            self.lat[name] = []
        for i in range(WARMUP_PASSES):
            with self.ctx.phase(f"warm-up pass {i}"):
                self.run_pass(record=False)  # every query once, checked

    def close(self) -> None:
        pass

    # -- timed phase -----------------------------------------------------------

    def query(self, name: str, argv: list[str], want: str) -> float:
        t = time.perf_counter()
        out = cli("query", "--lake", self.lake, *argv)
        wall = time.perf_counter() - t
        rows = [json.loads(line) for line in out.splitlines() if line]
        self.ctx.tracer.count("zedql.rows_out", len(rows))
        if result_hash(rows) != want:
            raise BenchError(f"query {name}: result differs from DuckDB")
        return wall

    def run_pass(self, record: bool = True) -> None:
        t0 = time.perf_counter()
        ok = True
        for name, argv, want in self.queries:
            self.attempted += 1
            try:
                wall = self.query(name, argv, want)
                if record:
                    self.lat[name].append(wall)
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                ok = False
                self.failed += 1
                self.ctx.log(f"query {name} failed: {e!r}")
        if record and ok:
            self.pass_walls.append(time.perf_counter() - t0)

    def run_timed(self, seconds: float) -> None:
        t_end = time.monotonic() + seconds
        passes = 0
        while time.monotonic() < t_end or passes < MIN_PASSES:
            passes += 1
            self.run_pass()

    def final_check(self) -> None:
        pass

    # -- results -------------------------------------------------------------

    def ops(self) -> int:
        return len(self.pass_walls)

    def op_walls(self) -> list[float]:
        return self.pass_walls

    def layer_extras(self) -> dict:
        return dict(pool_stats(self.lake, ["Raw", "Staging"], self.source_bytes),
                    **{"etl.cursor_lag": cursor_lag(self.lake, self.etl_path)})

    def e2e_metrics(self) -> dict:
        walls = self.pass_walls
        return {
            "latency_p50_s": statistics.median(walls),
            "records_per_s": self.raw_rows * len(walls) / sum(walls),
            "query_geomean_s": geomean([statistics.median(v) for v in self.lat.values()]),
            "work_s": statistics.median(walls),
        }


if __name__ == "__main__":
    print(json.dumps(build(int(sys.argv[1]), sys.argv[2])))
