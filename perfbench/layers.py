"""The traced run: per-layer metrics from spans and the Spark event log.

Each per-layer metric is listed in ``PER_LAYER`` with the end-to-end
metric it should move and the workload where it should move; on the other
workloads the prediction is no change. A metric of a layer a workload
never calls reads 0 there.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import numpy as np

from perfbench.ann import K, matches_filter
from perfbench.harness import LoopResult, closed_loop, cycles_for, loop_metrics
from perfbench.stats import union_length
from perfbench.trace import SpanTree, TaskTotals, Tracer, instrument, read_event_log

OPERATOR_LAYERS = ("relational", "temporal", "dedup", "textops", "vectorops",
                   "similarity_join", "multimodal")
DB_OPS = ("query", "query_many")
TRACED_LAYERS = ("session", "core.database", "core.tables", "index.ivf", "index.pq",
                 "index.hnsw", "filters", "sources.tables",
                 *(f"operators.{o}" for o in OPERATOR_LAYERS), "bench")

# (name, unit, better, e2e metric it should move, workload)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    *[(f"core.database.{op}.{part}", unit, "lower",
       "class_p50_geomean_ms (knn_*)", "ann_serve")
      for op in DB_OPS
      for part, unit in (("construct_ms", "ms"), ("execute_ms", "ms"), ("jobs", "count"))],
    ("core.tables.read.calls_per_op", "count", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("core.tables.read.ms", "ms", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("core.tables.files_live", "count", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("core.tables.bytes_per_user_byte", "ratio", "lower", "setup_s (ingest_rows_per_s)", "ann_serve"),
    ("core.tables.versions_retained", "count", "lower", "setup_s (index_build_s)", "ann_serve"),
    ("index.ivf.build_s", "s", "lower", "setup_s (index_build_s)", "ann_serve"),
    ("index.ivf.fit_s", "s", "lower", "setup_s (index_build_s)", "ann_serve"),
    ("index.ivf.assign_ms", "ms", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("index.ivf.rows_examined_per_result", "ratio", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("index.ivf.partitions_read_per_query", "count", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("index.pq.build_s", "s", "lower", "setup_s (index_build_s)", "ann_serve"),
    ("index.pq.construct_ms", "ms", "lower", "class_p50_geomean_ms (knn_pq_p50_ms)", "ann_serve"),
    ("index.pq.rows_examined_per_result", "ratio", "lower", "class_p50_geomean_ms (knn_pq_p50_ms)", "ann_serve"),
    ("index.pq.recall_at_10", "ratio", "higher", "class_p50_geomean_ms (knn_pq_p50_ms)", "ann_serve"),
    ("index.hnsw.build_s", "s", "lower", "setup_s (index_build_s)", "ann_serve"),
    ("index.hnsw.construct_ms", "ms", "lower", "class_p50_geomean_ms (knn_hnsw_p50_ms)", "ann_serve"),
    ("index.hnsw.execute_ms", "ms", "lower", "class_p50_geomean_ms (knn_hnsw_p50_ms)", "ann_serve"),
    ("index.hnsw.recall_at_10", "ratio", "higher", "class_p50_geomean_ms (knn_hnsw_p50_ms)", "ann_serve"),
    ("index.hnsw.filtered_jobs", "count", "lower", "class_p50_geomean_ms (knn_hnsw_filtered_p50_ms)", "ann_serve"),
    ("filters.compile_ms", "ms", "lower", "class_p50_geomean_ms (knn_filtered_p50_ms)", "ann_serve"),
    ("filters.selectivity", "ratio", "higher", "class_p50_geomean_ms (knn_filtered_p50_ms)", "ann_serve"),
    ("sources.tables.memo_entries", "count", "lower", "cpu_ms_per_call (batch_rows_per_s)", "corpus_batch"),
    *[(f"operators.{o}.{part}", unit, "lower", "cpu_ms_per_call (batch_rows_per_s)", "corpus_batch")
      for o in OPERATOR_LAYERS
      for part, unit in (("construct_s", "s"), ("exec_s", "s"), ("executor_cpu_s", "s"),
                         ("shuffle_mb", "MB"), ("jobs", "count"))],
    ("spark.executor_cpu_s", "s", "lower", "cpu_ms_per_call", "all"),
    ("spark.executor_run_s", "s", "lower", "cpu_ms_per_call", "all"),
    ("spark.gc_s", "s", "lower", "cpu_ms_per_call", "all"),
    ("spark.shuffle_mb", "MB", "lower", "cpu_ms_per_call", "all"),
    ("spark.spill_mb", "MB", "lower", "cpu_ms_per_call", "all"),
    ("spark.input_mb", "MB", "lower", "cpu_ms_per_call", "all"),
    ("spark.jobs", "count", "lower", "class_p50_geomean_ms", "all"),
    ("spark.tasks", "count", "lower", "class_p50_geomean_ms", "all"),
    ("spark.cpu_util", "ratio", "higher", "cpu_ms_per_call (batch_rows_per_s)", "corpus_batch"),
    ("spark.driver_gap_frac", "ratio", "lower", "class_p50_geomean_ms (knn_p50_ms)", "ann_serve"),
    ("process.peak_rss_mb", "MB", "lower", "setup_s", "all"),
    ("process.tmp_dirs_delta", "count", "lower", "class_p50_geomean_ms (flat expected)", "all"),
    *[(f"{layer}.self_ms", "ms", "lower", "class_p50_geomean_ms", "all") for layer in TRACED_LAYERS],
    ("trace.unaccounted_ms", "ms", "lower", "class_p50_geomean_ms", "all"),
    ("trace.overhead_frac", "ratio", "lower", "class_p50_geomean_ms", "all"),
]
UNITS = {name: unit for name, unit, *_ in PER_LAYER}

IVF_CLASSES = ("knn", "knn_filtered", "batch")


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``; hardlinked files count once."""
    seen, files, size = set(), 0, 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                files += 1
                size += st.st_size
    return files, size


class TracedRun:
    """Instruments the package for one run. Set-up and warm-up are traced.
    The measured time is split: the first half runs with the package's
    original functions, the second half instrumented and traced; the
    difference is the tracing overhead, plus any drift between the two
    halves."""

    def __init__(self, ctx, session_s: float):
        self.ctx = ctx
        self.session_s = session_s
        self.tracer = Tracer(ctx.spark.sparkContext)
        ctx.tracer = self.tracer
        self.restore = instrument(self.tracer)

    def measure(self, wl, seconds: float) -> LoopResult:
        cycles = cycles_for(seconds / 2, wl.cycle_s)
        self.restore()
        self.base = closed_loop(wl.next_op, wl.cycle, cycles)
        self.restore = instrument(self.tracer)
        self.loop = closed_loop(wl.next_op, wl.cycle, cycles, tracer=self.tracer,
                                first_op=self.base.attempted + 1)
        self.tracer.enabled = False
        both = LoopResult(calls=self.base.calls + self.loop.calls,
                          wall_s=self.base.wall_s + self.loop.wall_s,
                          start=self.base.start, end=self.loop.end)
        both.errors = {**self.loop.errors, **self.base.errors}
        return both

    def finish(self, wl, loop: LoopResult, before: dict, after: dict):
        """Figures that need the live session or the workload's state;
        ``before`` and ``after`` are resource counts around the loop."""
        self.restore()
        m = {"process.tmp_dirs_delta": after["tmp_dirs"] - before["tmp_dirs"],
             "sources.tables.memo_entries": after["memo_entries"]}
        base, traced = loop_metrics(self.base), loop_metrics(self.loop)
        m["trace.overhead_frac"] = (traced["class_p50_geomean_ms"]
                                    / base["class_p50_geomean_ms"] - 1.0)
        coll = getattr(wl, "coll", None)
        if coll is not None:
            db = coll.db
            files, size = tree_bytes(db.records.root)
            live = db.count()
            m["core.tables.files_live"] = tree_bytes(db.records.current_path())[0]
            m["core.tables.bytes_per_user_byte"] = size / max(1, live * 4 * len(coll.vecs[0]))
            m["core.tables.versions_retained"] = len(db.versions())
            m["filters.selectivity"] = float(np.mean([matches_filter(x) for x in coll.metas]))
        recall = getattr(wl, "recall", {})
        for tier, cls in (("pq", "knn_pq"), ("hnsw", "knn_hnsw")):
            if recall.get(cls):
                m[f"index.{tier}.recall_at_10"] = float(np.mean(recall[cls]))
        self.partial = m
        return m, UNITS

    def after_stop(self, peak_rss_mb: float) -> dict:
        """Read the finished event log and derive the span metrics."""
        logdir = os.path.join(self.ctx.rundir, "eventlog")
        (name,) = os.listdir(logdir)
        log = read_event_log(os.path.join(logdir, name))
        m = {name: 0.0 for name in UNITS}
        m.update(self.partial)
        m["session.start_s"] = self.session_s
        m["process.peak_rss_mb"] = peak_rss_mb
        m.update(span_metrics(self.tracer.spans, log, self.loop, self.ctx.cores))
        write_span_table(self.tracer.spans, log, sys.stderr)
        return m


def write_span_table(spans, log, out) -> None:
    """Per span name: calls, total and self seconds, jobs; largest self
    time first."""
    tree = SpanTree(spans, log)
    rows = defaultdict(lambda: [0, 0.0, 0.0, 0])
    for s in spans:
        r = rows[s.name]
        r[0] += 1
        r[1] += s.seconds
        r[2] += tree.self_s[s.sid]
        r[3] += tree.own[s.sid].jobs if s.sid in tree.own else 0
    print("perfbench spans: name calls total_s self_s jobs", file=out)
    for name, (n, tot, own, jobs) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"  {name} {n} {tot:.4f} {own:.4f} {jobs}", file=out)


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def span_metrics(spans, log, loop: LoopResult, cores: int) -> dict:
    tree = SpanTree(spans, log)
    by_sid = {s.sid: s for s in spans}
    setup = [s for s in spans if s.op == 0]
    traced = [s for s in spans if s.op > 0]
    bench = [s for s in traced if s.layer == "bench"]
    n_ops = max(1, len(bench))
    m: dict[str, float] = {}

    def named(pool, suffix):
        return [s for s in pool if s.name.endswith(suffix)]

    # core.database: calls the client made (direct children of a bench span)
    for op in DB_OPS:
        calls = [s for s in named(traced, f"Database.{op}")
                 if s.parent is not None and by_sid[s.parent].layer == "bench"]
        if not calls:
            continue
        construct = [sum(c.seconds for c in tree.kids.get(s.sid, ())
                         if c.name.endswith(f"Database.{op}_df")) for s in calls]
        m[f"core.database.{op}.construct_ms"] = _mean(construct) * 1000
        m[f"core.database.{op}.execute_ms"] = _mean(
            s.seconds - c for s, c in zip(calls, construct)) * 1000
        m[f"core.database.{op}.jobs"] = _mean(tree.totals(s.sid).jobs for s in calls)

    reads = named(traced, "VersionedTable.read")
    m["core.tables.read.calls_per_op"] = len(reads) / n_ops
    m["core.tables.read.ms"] = sum(s.seconds for s in reads) * 1000 / n_ops

    m["index.ivf.build_s"] = sum(s.seconds for s in named(setup, "index.ivf.build_index"))
    m["index.ivf.fit_s"] = sum(s.seconds for s in named(setup, "index.ivf.fit_centroids"))
    assign = named(traced, "index.ivf.assign_clusters") + named(traced, "index.ivf.topk_cluster_assigner")
    m["index.ivf.assign_ms"] = sum(s.seconds for s in assign) * 1000 / n_ops
    m["index.pq.build_s"] = sum(s.seconds for s in named(setup, "index.pq.build_pq"))
    m["index.hnsw.build_s"] = sum(s.seconds for s in named(setup, "index.hnsw.build_hnsw"))

    def queries_of(classes, pool=bench):
        """Top-level query calls under bench spans of ``classes``, with
        the number of query vectors each carried."""
        out = []
        for b in pool:
            if b.name.removeprefix("bench.") in classes:
                for c in tree.kids.get(b.sid, ()):
                    if c.name.endswith("Database.query"):
                        out.append((c, 1))
                    elif c.name.endswith("Database.query_many"):
                        out.append((c, 8))
        return out

    for tier, classes in (("ivf", IVF_CLASSES), ("pq", ("knn_pq",))):
        qs = queries_of(classes)
        if qs:
            results = K * sum(n for _, n in qs)
            m[f"index.{tier}.rows_examined_per_result"] = sum(
                tree.totals(s.sid).input_records for s, _ in qs) / results
            if tier == "ivf":
                m["index.ivf.partitions_read_per_query"] = sum(
                    tree.sql(s.sid, "number of partitions read") for s, _ in qs
                ) / sum(n for _, n in qs)
    for tier, cls in (("pq", "knn_pq"), ("hnsw", "knn_hnsw")):
        qs = [s for s, _ in queries_of((cls,))]
        if qs:
            dfs = [sum(c.seconds for c in tree.kids.get(s.sid, ()) if c.name.endswith("query_df"))
                   for s in qs]
            m[f"index.{tier}.construct_ms"] = _mean(dfs) * 1000
            if tier == "hnsw":
                m["index.hnsw.execute_ms"] = _mean(s.seconds - d for s, d in zip(qs, dfs)) * 1000
    # the traced set-up's filtered HNSW query
    hf = [s for s, _ in queries_of(("knn_hnsw_filtered",),
                                   [s for s in setup if s.layer == "bench"])]
    if hf:
        m["index.hnsw.filtered_jobs"] = _mean(tree.totals(s.sid).jobs for s in hf)
    filt = [s for s in traced if s.layer == "filters"]
    n_filtered = sum(1 for b in bench if "filtered" in b.name)
    if n_filtered:
        m["filters.compile_ms"] = sum(
            s.seconds for s in filt if s.parent is None or by_sid[s.parent].layer != "filters"
        ) * 1000 / n_filtered

    # operators: each corpus call's layer is the first operator span under it
    per_layer: dict[str, list] = {}
    for b in bench:
        ops = [by_sid[d] for d in tree.subtree(b.sid) if by_sid[d].layer.startswith("operators.")]
        if not ops:
            continue
        first = min(ops, key=lambda s: s.start)
        outer = [s for s in ops if s.layer == first.layer
                 and by_sid[s.parent].layer != first.layer]
        construct = sum(s.seconds for s in outer)
        per_layer.setdefault(first.layer, []).append((b, construct))
    for layer, calls in per_layer.items():
        tot = [tree.totals(b.sid) for b, _ in calls]
        m[f"{layer}.construct_s"] = _mean(c for _, c in calls)
        m[f"{layer}.exec_s"] = _mean(b.seconds - c for b, c in calls)
        m[f"{layer}.executor_cpu_s"] = _mean(t.cpu_ns / 1e9 for t in tot)
        m[f"{layer}.shuffle_mb"] = _mean(t.shuffle_bytes / 2**20 for t in tot)
        m[f"{layer}.jobs"] = _mean(t.jobs for t in tot)

    # whole-session Spark figures over the traced loop
    jobs = log.in_window(loop.start, loop.end)
    t = TaskTotals()
    for j in jobs:
        t.add(j.totals)
    wall = loop.end - loop.start
    m.update({
        "spark.executor_cpu_s": t.cpu_ns / 1e9,
        "spark.executor_run_s": t.run_ms / 1000,
        "spark.gc_s": t.gc_ms / 1000,
        "spark.shuffle_mb": t.shuffle_bytes / 2**20,
        "spark.spill_mb": t.spill_bytes / 2**20,
        "spark.input_mb": t.input_bytes / 2**20,
        "spark.jobs": len(jobs),
        "spark.tasks": t.tasks,
        "spark.cpu_util": t.cpu_ns / 1e9 / (wall * cores),
        "spark.driver_gap_frac": 1.0 - union_length(
            [(j.submit, j.end) for j in jobs], loop.start, loop.end) / wall,
    })

    # self time per layer and the loop time no span covers, per call
    for layer in TRACED_LAYERS:
        m[f"{layer}.self_ms"] = sum(
            tree.self_s[s.sid] for s in traced if s.layer == layer) * 1000 / n_ops
    m["trace.unaccounted_ms"] = (wall - union_length(
        [(s.start, s.end) for s in traced if s.parent is None], loop.start, loop.end)
    ) * 1000 / n_ops
    return m
