"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop writer (full computation,
no driver-side result materialization cost skewing the numbers).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas-UDF type hints resolve in module globals

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: scan-heavy agg, join-heavy agg, window, sessionization,
# vector search (single + batched + IVF), dedup (LSH + simhash), text.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "top_orders_per_customer",
    "sessionize_events",
    "asof_click_view",
    "events_sliding_windows",
    "vec_knn_euclidean",
    "vec_knn_batched",
    "vec_ivf_knn",
    "vec_lsh_knn",
    "vec_lsh_knn_indexed",
    "interval_overlap_join",
    "dedup_minhash_lsh",
    "dedup_decontaminate",
    "dedup_simhash",
    # r7: the scale-safe wide (2x60-bit) simhash near-pair tier — now
    # the simhash_near_pairs default — wall-clock-tracked so a banding
    # regression shows up as a bench knee, not just a probe number
    "dedup_simhash_wide_pairs",
    "text_quality",
    "text_clean_pipeline",
    "text_bm25_search",
    "text_repetition_stats",
    "text_span_dedup",
    "events_funnel",
    "percentile_stats",
    "multimodal_features",
    # approx-ANN serving tier (r6): the reference's core competency,
    # wall-clock-tracked in steady state — codes/codebooks build once
    # untimed (ingest amortizes), the timed path is query-only
    "vec_pq_knn",
    "vec_ivfpq_knn",
    "vec_sq_knn",
    "vec_opq_knn",
    # graph tier (r7): sharded HNSW — the reference family's pre-v0.7
    # index lineage; build untimed like the other index tiers
    "vec_hnsw_knn",
    # r8: the worker-RESIDENT Database graph serving path (build + ingest
    # untimed; timed = an 8-query query_many batch through the per-worker
    # decoded-shard cache) — tracked so a residency regression (per-batch
    # rescan creeping back) shows up in the per-round bench
    "vec_hnsw_db_knn",
    # audit tier (r7 session 3): the data-quality queries a pipeline
    # runs per ingest batch — tracked so an audit regression (a new
    # shuffle, a lost pushdown) shows up in the per-round bench
    "tfidf_top_terms",
    "event_rate_anomalies",
    "embedding_decontaminate_stats",
    # r9 promotions with standalone scale claims, wall-clock-tracked:
    # fuzzy ER (deletion banding — a banding regression shows as a
    # knee), hybrid retrieval (two audited legs + fusion), and the JL
    # cut (the GEMM-twin routing keeps this scan-speed at any dims)
    "customer_fuzzy_matches",
    "hybrid_search_rrf",
    "random_projection",
    # r10 promotions, wall-clock-tracked: the pre-join skew audit (one
    # map-side-combined shuffle — flat 1.0/0.8/0.85 s across three
    # probe decades), the RFM quartile grid (one shuffle + a one-row
    # threshold broadcast), and the per-label norm audit (one bigint
    # per row shuffled)
    "join_key_skew_stats",
    "user_rfm_segments",
    "embedding_norm_stats",
    # r10: the COMPOSED product-shaped pipeline (filter → repetition →
    # boilerplate → exact dedup → near-dup components → pack) — tracked
    # end-to-end so a COMPOSITION regression (a stage order change, a
    # lost cache, an extra shuffle between stages) surfaces per round,
    # not just per-stage (judge r9 task 5)
    "prepare_training_corpus",
    # r14 promotions with plan-shape claims, wall-clock-tracked: the
    # PMI collocation audit (corpus-scale bigram + unigram tables, rank
    # via bounded TakeOrderedAndProject — a regression back to the
    # unpartitioned full-table window shows as a knee here) and the
    # pairwise vocab overlap (row-local per-term pair generation — a
    # regression back to the S²-row term self-join likewise)
    "term_pmi_collocations",
    "source_vocab_overlap_matrix",
    # r15 promotions, wall-clock-tracked (not in any frozen-baseline
    # set): token-weighted dedup inflation (digest-keyed window — a
    # text column leaking into the exchange shows as a knee) and the
    # per-user Markov transition matrix (one user-keyed exchange; the
    # totals window must stay on the tiny matrix, never event-scale)
    "dedup_token_inflation",
    "events_markov_transitions",
]

# Bench-local callables for operators outside the driver-oracle window
# (the PQ/IVFADC/SQ8 tier is recall-gated in pytest, not SQL-expressible
# end to end): same (spark, sf_dir) shape as queries() entries, with the
# build artifacts cached per sf_dir so pass 1/2 time the SERVING path.
_ANN_STATE: dict = {}


def _bench_vec_pq_knn(spark, sf_dir):
    from oasysdb_spark.index import pq
    from oasysdb_spark.operators.vectorops import load_embeddings

    key = ("pq", sf_dir)
    if key not in _ANN_STATE:
        embs = load_embeddings(spark, sf_dir)
        books = pq.fit_codebooks(embs.select("embedding"), m=8, nbits=4, seed=42)
        codes = pq.encode(embs, books).cache()
        codes.count()
        _ANN_STATE[key] = (codes, books)
    codes, books = _ANN_STATE[key]
    return pq.pq_knn(spark, sf_dir, codes_df=codes, codebooks=books)


def _bench_vec_ivfpq_knn(spark, sf_dir):
    from oasysdb_spark.index import pq

    key = ("ivfpq", sf_dir)
    if key not in _ANN_STATE:
        _ANN_STATE[key] = pq.build_ivfpq(spark, sf_dir)
    codes, cents, books = _ANN_STATE[key]
    return pq.ivfpq_knn(
        spark, sf_dir, codes_df=codes, centroids=cents, codebooks=books
    )


def _bench_vec_sq_knn(spark, sf_dir):
    from oasysdb_spark.index import sq
    from oasysdb_spark.operators.vectorops import load_embeddings

    key = ("sq", sf_dir)
    if key not in _ANN_STATE:
        embs = load_embeddings(spark, sf_dir)
        model = sq.fit_sq(embs)
        codes = sq.encode_sq(embs, model).cache()
        codes.count()
        _ANN_STATE[key] = (codes, model)
    codes, model = _ANN_STATE[key]
    return sq.sq_knn(spark, sf_dir, codes_df=codes, model=model)


def _bench_vec_opq_knn(spark, sf_dir):
    from oasysdb_spark.index import pq
    from oasysdb_spark.operators.vectorops import load_embeddings

    key = ("opq", sf_dir)
    if key not in _ANN_STATE:
        embs = load_embeddings(spark, sf_dir)
        opq = pq.fit_opq(embs.select("embedding"), m=8, nbits=4, seed=42)
        codes = pq.encode(embs, opq[1], rotation=opq[0]).cache()
        codes.count()
        _ANN_STATE[key] = (codes, opq)
    codes, opq = _ANN_STATE[key]
    return pq.opq_knn(spark, sf_dir, codes_df=codes, opq=opq)


def _bench_vec_hnsw_knn(spark, sf_dir):
    from oasysdb_spark.index import hnsw

    key = ("hnsw", sf_dir)
    if key not in _ANN_STATE:
        g = hnsw.build_hnsw_shards(spark, sf_dir).cache()
        g.count()
        _ANN_STATE[key] = g
    return hnsw.hnsw_knn(spark, sf_dir, graph_df=_ANN_STATE[key])


def _bench_vec_hnsw_db_knn(spark, sf_dir):
    """Resident Database graph serving (r8): the embeddings fixture is
    ingested into a string-id Database and build_hnsw persists the
    graph ONCE untimed (ingest amortizes, like every index tier); the
    timed path is query_many_df over a fixed 8-query batch served from
    the worker-resident shard cache — the steady-state number the r8
    residency rework exists for (cold scan+rebuild would re-read the
    whole graph table per pass)."""
    import tempfile

    key = ("hnsw_db", sf_dir)
    if key not in _ANN_STATE:
        from pyspark.sql import functions as F

        from oasysdb_spark.core.database import Database
        from oasysdb_spark.index.hnsw import build_hnsw
        from oasysdb_spark.operators.vectorops import load_embeddings

        d = tempfile.mkdtemp(prefix="bench_hnsw_db_")
        embs = load_embeddings(spark, sf_dir)
        first = embs.select("embedding").first()
        dim = len(first["embedding"])
        db = Database.configure(spark, d, dimension=dim, metric="euclidean")
        db.insert_batch(
            embs.select(
                F.format_string("v%08d", F.col("vec_id").cast("int")).alias(
                    "id"
                ),
                F.col("embedding").cast("array<float>").alias("embedding"),
                F.lit(None)
                .cast("map<string,string>")
                .alias("m_text"),
                F.lit(None).cast("map<string,double>").alias("m_num"),
                F.lit(None).cast("map<string,boolean>").alias("m_bool"),
            )
        )
        build_hnsw(db, m=16, ef_construction=100, shards=8)
        qvecs = [
            [float(x) for x in r["embedding"]]
            for r in embs.orderBy("vec_id").limit(8).collect()
        ]
        _ANN_STATE[key] = (db, qvecs)
    db, qvecs = _ANN_STATE[key]
    return db.query_many_df(qvecs, k=10, approx="hnsw")


def _bench_tfidf_top_terms(spark, sf_dir):
    from oasysdb_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(spark, sf_dir)


def _bench_event_rate_anomalies(spark, sf_dir):
    from oasysdb_spark.operators.temporal import event_rate_anomalies

    return event_rate_anomalies(spark, sf_dir)


def _bench_prepare_training_corpus(spark, sf_dir):
    """The full composed pipeline. The call runs its per-stage actions
    eagerly inside the timed section (counts between stages are part of
    the composition's real cost) and returns the one-row summary."""
    from oasysdb_spark.operators.textops import prepare_training_corpus

    return prepare_training_corpus(spark, sf_dir)


def _bench_events_funnel(spark, sf_dir):
    # retired from the driver oracle contract at r13 (paired retirement
    # for the embedding_decontaminate_stats / term_burstiness
    # promotions; exact special case of event_funnel's k-step greedy
    # funnel — equivalence pinned in tests/test_operators.py) but kept
    # benched: its wall-clock row predates the retirement, so dropping
    # it would break like-for-like comparisons.
    from oasysdb_spark.operators import relational as rel

    return rel.events_funnel(spark, sf_dir)


def _bench_dedup_simhash(spark, sf_dir):
    # retired from the driver oracle contract at r12 (paired retirement
    # for the ngram_novelty_curve / embedding_outlier_stats promotions;
    # superset-covered by dedup_simhash_wide_pairs) but kept benched:
    # it is part of the FROZEN baseline shared-20 set, so dropping the
    # wall-clock row would break like-for-like comparisons.
    from oasysdb_spark.operators import dedup

    return dedup.simhash_buckets(spark, sf_dir)


EXTRA_BENCH = {
    "events_funnel": _bench_events_funnel,
    "dedup_simhash": _bench_dedup_simhash,
    "prepare_training_corpus": _bench_prepare_training_corpus,
    "tfidf_top_terms": _bench_tfidf_top_terms,
    "event_rate_anomalies": _bench_event_rate_anomalies,
    # (embedding_decontaminate_stats left EXTRA_BENCH at r13: promoted
    # into the driver contract, so queries() now supplies the same
    # callable and its wall-clock row continues unbroken)
    "vec_pq_knn": _bench_vec_pq_knn,
    "vec_ivfpq_knn": _bench_vec_ivfpq_knn,
    "vec_sq_knn": _bench_vec_sq_knn,
    "vec_opq_knn": _bench_vec_opq_knn,
    "vec_hnsw_knn": _bench_vec_hnsw_knn,
    "vec_hnsw_db_knn": _bench_vec_hnsw_db_knn,
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entry
    from oasysdb_spark.session import get_spark

    spark = get_spark(app_name="oasysdb_bench")
    qs = dict(entry.queries())
    qs.update(EXTRA_BENCH)

    # warm the JVM/session on the smallest SF so startup cost lands outside
    # the per-query timings; also spawn the Python/Arrow workers once (a
    # trivial pandas UDF) so the first UDF-bearing query isn't charged the
    # ~5 s one-time worker fork+import — long-running clusters run warm.
    try:
        qs["q6_forecast_revenue"](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
    except Exception:  # noqa: BLE001 — warm-up only; the timed loop reports
        pass
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    ncpu = spark.sparkContext.defaultParallelism
    spark.range(ncpu * 2).repartition(ncpu).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    # Build the IVF index once, untimed: the reference serves queries from a
    # maintained index (build amortizes over every query), so the timed
    # vec_ivf_knn below measures the steady-state serving path. ivf_knn's
    # per-sf default work_dir makes this run reuse the built tables.
    # The first call of each tier is build+query; record it as that
    # tier's BUILD row (r12 verdict task 2: the per-query rows below
    # are steady-state serving only — this keys the ingest/build cost
    # separately instead of leaving it invisible in the warm-up)
    build_secs: dict[str, float] = {}
    for _builder in (
        "vec_ivf_knn",
        "vec_lsh_knn_indexed",
        # PQ/IVFADC/SQ8: the first call fits+encodes into _ANN_STATE
        # (the ingest step); the timed passes below hit the cached codes
        "vec_pq_knn",
        "vec_ivfpq_knn",
        "vec_sq_knn",
        "vec_hnsw_knn",
        "vec_hnsw_db_knn",
    ):
        # Same steady-state rationale for the LSH bucket layout: build
        # untimed, the timed query below measures partition-pruned serving.
        try:
            t0 = time.time()
            qs[_builder](spark, sf_dir).write.mode("overwrite").format("noop").save()
            build_secs[_builder] = round(time.time() - t0, 3)
        except Exception:  # noqa: BLE001
            pass

    # Two passes, report the per-query MIN: the host is a shared VM with
    # 2x run-to-run noise on individual queries, and the steady-state
    # (warm-cache) number is the one that reflects the plan, not the
    # neighbor's IO. Pass 1 also serves as the per-query warm-up.
    # A failing query records an error instead of killing the whole run —
    # the JSON line must always print (a lost round taught that lesson).
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _pass in range(2):
        for name in BENCH_QUERIES:
            fn = qs[name]
            try:
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001 — report, keep benching
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                continue
            if name not in times or dt < times[name]:
                times[name] = dt

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # first-call build/ingest wall per index tier (includes one
        # query); the "queries" rows are steady-state serving only.
        # Kept OUT of "value" — the frozen baseline total predates it.
        "build_secs": build_secs,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
