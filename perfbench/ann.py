"""The serving workload over a seeded vector collection.

``ann_serve``: read-only top-k serving from the IVF, PQ and HNSW tiers,
with and without a metadata filter, plus ``query_many`` batches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import LoopResult, class_summary
from perfbench.stats import median, tail

DIM = 64
CENTERS = 48
SPREAD = 1.0
K = 10
DENSITY = 64
PROBES = 8
BATCH = 8
QUERY_POOL = 64
FILTER = "num < 40"
HNSW_M = 16
HNSW_EF = 40
# Recall floors: a run whose mean recall@10 falls below one fails.
RECALL_FLOOR = {"knn": 0.9, "knn_filtered": 0.9, "knn_pq": 0.8, "knn_hnsw": 0.8,
                "knn_hnsw_filtered": 0.8, "batch": 0.9}
DIST_RTOL = 1e-5


def make_vectors(rng, n: int, centers: np.ndarray) -> np.ndarray:
    labels = rng.integers(0, len(centers), n)
    return (centers[labels] + rng.normal(0.0, SPREAD, (n, DIM))).astype(np.float32)


def make_metadata(rng) -> dict:
    return {"cat": f"c{int(rng.integers(0, 5))}",
            "num": float(rng.integers(0, 100)),
            "flag": bool(rng.integers(0, 2))}


def matches_filter(meta: dict) -> bool:
    return meta.get("num", float("inf")) < 40.0


def write_records(path: str, ids, vecs, metas) -> None:
    """Records in the package's record schema, as one parquet file."""
    table = pa.table({
        "id": pa.array(ids, pa.string()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "m_text": pa.array([[("cat", m["cat"])] for m in metas],
                           pa.map_(pa.string(), pa.string())),
        "m_num": pa.array([[("num", m["num"])] for m in metas],
                          pa.map_(pa.string(), pa.float64())),
        "m_bool": pa.array([[("flag", m["flag"])] for m in metas],
                           pa.map_(pa.string(), pa.bool_())),
    })
    pq.write_table(table, path)


def sq_dists(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = mat.astype(np.float64) - np.asarray(q, np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def check_hits(label, q, hits, vec_of, meta_of, truth_ids, filtered, problems):
    """Ascending distances that match numpy, filter respected; returns
    recall@K against ``truth_ids``."""
    dists = [h["distance"] for h in hits]
    if any(b < a for a, b in zip(dists, dists[1:])):
        problems.append(f"{label}: distances not ascending")
    for h in hits:
        v = vec_of(h["id"])
        if v is None:
            problems.append(f"{label}: unknown id {h['id']}")
            continue
        want = float(sq_dists(v[None, :], q)[0])
        if abs(h["distance"] - want) > DIST_RTOL * max(1.0, want):
            problems.append(f"{label}: distance {h['distance']} != numpy {want}")
        if filtered and not matches_filter(meta_of(h["id"])):
            problems.append(f"{label}: hit {h['id']} fails the filter")
    if len(hits) != min(K, len(truth_ids)):
        problems.append(f"{label}: {len(hits)} hits, want {min(K, len(truth_ids))}")
    return len({h["id"] for h in hits} & set(truth_ids)) / max(1, min(K, len(truth_ids)))


class Collection:
    """A seeded collection on disk and the Database serving it."""

    def __init__(self, ctx, n: int):
        from oasysdb_spark.core.database import Database

        self.ctx = ctx
        rng = np.random.default_rng([ctx.seed, n])
        self.centers = rng.normal(0.0, 1.0, (CENTERS, DIM))
        self.rng = rng
        self.ids = [f"s{i:07d}" for i in range(n)]
        self.vecs = make_vectors(rng, n, self.centers)
        self.metas = [make_metadata(rng) for _ in range(n)]
        self.src = os.path.join(ctx.rundir, "data", "records.parquet")
        write_records(self.src, self.ids, self.vecs, self.metas)
        self.dir = os.path.join(ctx.rundir, "data", "db")
        self.db = Database.configure(ctx.spark, self.dir, dimension=DIM, density=DENSITY)

    def ingest(self) -> float:
        df = self.ctx.spark.read.parquet(self.src)
        t0 = time.perf_counter()
        self.db.insert_batch(df)
        return time.perf_counter() - t0

    def queries(self, count: int) -> np.ndarray:
        return make_vectors(self.rng, count, self.centers)


class AnnServe:
    name = "ann_serve"
    N = 2000
    SCHEDULE = ("knn", "knn_filtered", "knn", "knn_pq", "knn", "knn_hnsw", "knn", "batch")
    FILTERED = ("knn_filtered", "knn_hnsw_filtered")
    # traced set-up only: one filtered HNSW query shows the filter
    # expansion ladder; it costs about as much as a whole cycle
    TRACE_EXTRA = ("knn_hnsw_filtered",)
    cycle = len(SCHEDULE)
    cycle_s = 4.0  # nominal, 4 cores

    def __init__(self, ctx):
        self.ctx = ctx
        self.results: list[tuple[str, np.ndarray, list]] = []
        self.setup_parts: dict[str, float] = {}

    def setup(self) -> None:
        from oasysdb_spark.index.hnsw import build_hnsw
        from oasysdb_spark.index.ivf import build_index
        from oasysdb_spark.index.pq import build_pq

        c = self.coll = Collection(self.ctx, self.N)
        self.setup_parts["ingest_s"] = c.ingest()
        t0 = time.perf_counter()
        self.clusters = build_index(c.db)
        t1 = time.perf_counter()
        build_pq(c.db)
        t2 = time.perf_counter()
        build_hnsw(c.db, m=HNSW_M, ef_construction=HNSW_EF, shards=self.ctx.cores)
        t3 = time.perf_counter()
        self.setup_parts.update(ivf_build_s=t1 - t0, pq_build_s=t2 - t1,
                                hnsw_build_s=t3 - t2)
        self.qvecs = c.queries(QUERY_POOL)
        self.by_id = dict(zip(c.ids, range(len(c.ids))))

    def warm_up(self) -> None:
        """One whole cycle, untimed and checked, so the timed loop starts
        with the JVM, the Python workers and the HNSW resident shards warm."""
        for j, cls in enumerate(self.SCHEDULE):
            self._call(cls, QUERY_POOL - 1 - j)()
        tracer = self.ctx.tracer
        for j, cls in enumerate(self.TRACE_EXTRA if tracer is not None else ()):
            with tracer.span(f"bench.{cls}", "bench"):
                self._call(cls, j)()

    def _call(self, cls: str, i: int):
        db = self.coll.db
        q = self.qvecs[i % QUERY_POOL]

        def run():
            if cls == "batch":
                qs = [self.qvecs[(i + j) % QUERY_POOL] for j in range(BATCH)]
                out = db.query_many([v.tolist() for v in qs], K, probes=PROBES)
                for j, v in enumerate(qs):
                    self.results.append((cls, v, out.get(j, [])))
                return
            kw = {"probes": PROBES}
            if cls == "knn_filtered":
                kw["filter"] = FILTER
            elif cls == "knn_pq":
                kw["approx"] = "pq"
            elif cls == "knn_hnsw":
                kw = {"approx": "hnsw"}
            elif cls == "knn_hnsw_filtered":
                kw = {"approx": "hnsw", "filter": FILTER}
            hits = db.query(q.tolist(), K, **kw)
            self.results.append((cls, q, hits))

        return run

    def next_op(self, i: int):
        cls = self.SCHEDULE[i % len(self.SCHEDULE)]
        return cls, self._call(cls, i)

    def check(self) -> list[str]:
        c = self.coll
        problems: list[str] = []
        mask = np.array([matches_filter(m) for m in c.metas])
        self.recall: dict[str, list[float]] = {}
        for n, (cls, q, hits) in enumerate(self.results):
            d = sq_dists(c.vecs, q)
            if cls in self.FILTERED:
                d = np.where(mask, d, np.inf)
            truth = [c.ids[j] for j in np.argsort(d, kind="stable")[:K] if np.isfinite(d[j])]
            r = check_hits(
                f"{cls}#{n}", q, hits,
                lambda rid: c.vecs[self.by_id[rid]] if rid in self.by_id else None,
                lambda rid: c.metas[self.by_id[rid]],
                truth, cls in self.FILTERED, problems,
            )
            self.recall.setdefault(cls, []).append(r)
        for cls in sorted(set(self.SCHEDULE) - set(self.recall)):
            problems.append(f"{cls}: no result was checked")
        for cls, rs in self.recall.items():
            if np.mean(rs) < RECALL_FLOOR[cls]:
                problems.append(f"{cls}: recall@{K} {np.mean(rs):.3f} < {RECALL_FLOOR[cls]}")
        return problems

    def detail(self, loop: LoopResult) -> dict:
        def p50(cls):
            return median(loop.latencies({cls})) * 1000.0

        knn_tail, pct, n = tail(loop.latencies({"knn"}), loop.failures({"knn"}))
        batch_s = sum(loop.latencies({"batch"}))
        singles = [r for cls, rs in self.recall.items() if cls != "batch" for r in rs]
        build = sum(self.setup_parts[k] for k in ("ivf_build_s", "pq_build_s", "hnsw_build_s"))
        return {
            "knn_p50_ms": p50("knn"),
            "knn_tail_ms": knn_tail * 1000.0,
            "knn_tail_pct": pct * 100.0,
            "knn_samples": n,
            "knn_filtered_p50_ms": p50("knn_filtered"),
            "knn_pq_p50_ms": p50("knn_pq"),
            "knn_hnsw_p50_ms": p50("knn_hnsw"),
            "knn_batch_qps": BATCH * len(loop.latencies({"batch"})) / batch_s if batch_s else 0.0,
            "recall_at_10": float(np.mean(singles)) if singles else 0.0,
            "recall_by_class": {k: float(np.mean(v)) for k, v in self.recall.items()},
            "ingest_rows_per_s": self.N / self.setup_parts["ingest_s"],
            "index_build_s": build,
            "clusters": self.clusters,
            "classes": class_summary(loop),
            **{k: round(v, 4) for k, v in self.setup_parts.items()},
        }
