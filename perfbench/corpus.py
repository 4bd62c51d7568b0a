"""The corpus-operator workload: seeded fixture tables in the layout of the
repository's sf fixtures, swept through a fixed set of ``bench.py``
headline operators (the serving-tier rows belong to ``ann_serve``).

One untimed warm-up sweep compares every entry that has an
``oracle_sql()`` twin with DuckDB, by the rule of
``tools/check_correctness.py``; an entry without a twin must give the same
row count and order-insensitive hash in the warm-up sweep and in a final
run after the timed loop.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import REPO, LoopResult, class_summary
from perfbench.stats import median

SF = 0.01
# One entry per operator module, plus one without an oracle twin.
ENTRIES = (
    "q1_pricing_summary",        # operators.relational
    "asof_click_view",           # operators.temporal
    "dedup_minhash_lsh",         # operators.dedup
    "text_quality",              # operators.textops
    "vec_lsh_knn_indexed",       # operators.vectorops
    "customer_fuzzy_matches",    # operators.similarity_join
    "multimodal_features",       # operators.multimodal
    "events_funnel",             # operators.relational, no oracle twin
)

WORDS = ("the a row key data join scan filter sort merge hash group agg window "
         "order line part table column value query batch stream spark vector "
         "customer small big fast slow").split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
ADJ = "blue hot small old cold red new large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.date(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(rng) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``SF``, drawn from ``rng``: same
    schemas, domains and key relationships as the repository's sf
    fixtures."""
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb, n_users = 500, 500, int(15_000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        # nanosecond storage, like the fixture's events table
        "ts": pa.array((start + offs.astype("timedelta64[us]")).astype("datetime64[ns]"),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        words = rng.choice(WORDS, int(rng.integers(8, 95)))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _load_checker():
    """``tools/check_correctness.py``: its table list and comparison rule."""
    path = os.path.join(REPO, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_digest(checker, rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows' values."""
    keys = sorted(repr(checker.row_key(r)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


class CorpusBatch:
    name = "corpus_batch"
    cycle = len(ENTRIES)
    cycle_s = 4.5  # nominal sweep, 4 cores

    def __init__(self, ctx):
        self.ctx = ctx
        self.problems: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.digests: dict[str, tuple[int, str]] = {}

    def setup(self) -> None:
        import __spark_entry__ as entry
        import bench

        t0 = time.perf_counter()
        self.dir = os.path.join(self.ctx.rundir, "data", "sf")
        os.makedirs(self.dir, exist_ok=True)
        tables = make_tables(np.random.default_rng([self.ctx.seed, 3]))
        for name, table in tables.items():
            pq.write_table(table, os.path.join(self.dir, f"{name}.parquet"))
        self.rows = sum(t.num_rows for t in tables.values())
        self.setup_parts["datagen_s"] = time.perf_counter() - t0
        qs = dict(entry.queries())
        qs.update(bench.EXTRA_BENCH)
        self.fns = {n: qs[n] for n in ENTRIES}
        self.checker = _load_checker()

    def warm_up(self) -> None:
        import __spark_entry__ as entry
        import duckdb

        oracles = entry.oracle_sql()
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in self.checker.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet')")
            for name, fn in self.fns.items():
                df = fn(self.ctx.spark, self.dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                sql = oracles.get(name)
                if sql is None:
                    self.digests[name] = rows_digest(self.checker, rows)
                    continue
                res = con.execute(sql)
                issues = self.checker.compare(
                    name, rows, cols, res.fetchall(), [d[0] for d in res.description]
                )
                self.problems.extend(f"oracle {name}: {i}" for i in issues)
        finally:
            con.close()
        self.setup_parts["warmup_sweep_s"] = time.perf_counter() - t0

    def next_op(self, i: int):
        name = ENTRIES[i % len(ENTRIES)]
        fn = self.fns[name]

        def sweep_entry():
            fn(self.ctx.spark, self.dir).write.mode("overwrite").format("noop").save()

        return name, sweep_entry

    def check(self) -> list[str]:
        """Run each entry without an oracle twin once more, after the
        timed loop, and compare it with the warm-up sweep."""
        problems = list(self.problems)
        for name, want in self.digests.items():
            rows = [tuple(r) for r in self.fns[name](self.ctx.spark, self.dir).collect()]
            got = rows_digest(self.checker, rows)
            if got != want:
                problems.append(f"{name}: final run gave {got[0]} rows / {got[1][:12]}, "
                                f"warm-up gave {want[0]} / {want[1][:12]}")
        return problems

    def detail(self, loop: LoopResult) -> dict:
        # one sweep's time: the sum over entries of each entry's median
        sweep = sum(median(loop.latencies({n})) for n in ENTRIES if loop.latencies({n}))
        return {
            "batch_rows_per_s": self.rows / sweep,
            "sweep_s": sweep,
            "fixture_rows": self.rows,
            "entries": len(ENTRIES),
            "classes": class_summary(loop),
            **{k: round(v, 4) for k, v in self.setup_parts.items()},
        }
