"""Vector distance functions as native Spark SQL expressions.

Semantics mirror the reference's metric module
(/root/reference/src/types/metric.rs:26-32):

- ``euclidean`` is **squared** Euclidean distance — comparison-only, so the
  sqrt is skipped on purpose (/root/reference/src/types/metric.rs:10-12).
  A consequence preserved here: query ``radius`` is in *squared* units.
- ``cosine`` is cosine *distance* = 1 − cosine similarity (lower = closer,
  /root/reference/src/types/metric.rs:13-16).
- The reference computes in f64 and truncates results to f32
  (/root/reference/src/cores/index.rs:189-193); we compute in double and
  expose a ``to_f32`` helper for tests that pin that behavior.

All of these are pure Column expressions (``zip_with`` + ``aggregate``) —
they run inside whole-stage codegen with no Python in the loop, so they
scale with executor parallelism and never serialize rows to Python. For
very wide embeddings where codegen'd per-element loops lose to BLAS, the
``pandas_*`` variants below use Arrow-batched NumPy.

Unknown metric names raise InvalidArgumentError instead of panicking
(divergence from /root/reference/src/types/metric.rs:43-52, SURVEY.md §2.6.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from oasysdb_spark.errors import InvalidArgumentError

METRICS = ("euclidean", "cosine")


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def sqeuclidean(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance between two array<numeric> columns.

    Matches f32::sqeuclidean semantics (/root/reference/src/types/metric.rs:29-31)
    but accumulates in double. Golden value: a=[1,2,3], b=[4,5,6] → 27.0
    (/root/reference/src/types/metric.rs:64-74).
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Inner product of two array<numeric> columns, accumulated in double."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column."""
    a = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    return F.sqrt(sq)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Cosine distance = 1 − dot(a,b)/(‖a‖·‖b‖).

    Zero-norm inputs yield NULL (guarded division) rather than NaN.
    DELIBERATE DIVERGENCE (SURVEY.md §2.6 family): the reference skips
    only ``None`` distances, not NaN — a NaN from a zero-norm record
    fails ``distance > radius`` (NaN comparisons are false) and therefore
    ENTERS its result heap (/root/reference/src/cores/index.rs:190-199),
    so zero-norm records can appear in reference results with NaN
    distance. Here the NULL distance is excluded by ``isNotNull`` /
    radius predicates and sorts last under ``asc_nulls_last`` — the
    well-defined behavior a SQL engine should have; we consider the
    reference's NaN admission a quirk not worth reproducing.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, F.lit(1.0) - dot_product(a, b) / denom)


def _sql_double_array(vals) -> "str | None":
    """SQL literal ``array(...)`` of doubles, or None when any value is
    non-finite (the SQL parser has no NaN/Inf literals — callers fall
    back to the Column builders). ``repr`` emits the shortest decimal
    that round-trips, and Spark's parser reads it back into the
    identical IEEE double, so the folded expression is bit-equal to the
    ``F.array(*[F.lit(float(x)) ...])`` form."""
    import math

    out = []
    for v in vals:
        f = float(v)
        if not math.isfinite(f):
            return None
        out.append(repr(f) + "D")
    return "array(" + ",".join(out) + ")"


def _sql_col_double(col: str) -> str:
    # backtick-quoted identifier (r16, r15 ADVICE): every call site
    # passes the default "embedding", but an unquoted interpolation
    # would mis-parse a column name with spaces/specials
    quoted = "`" + col.replace("`", "``") + "`"
    return f"transform({quoted}, x_cd -> CAST(x_cd AS DOUBLE))"


def distance_expr_const(metric: str, vals, col: str) -> "Column | None":
    """Constant-query fast path for the two built-in metrics: the whole
    distance expression is ONE ``F.expr`` over a SQL string instead of
    ~130 py4j Column constructions per 128-dim query (r15 gap
    profiling: expression construction, not execution, dominated the
    sub-second serving entries' wall). The generated SQL mirrors
    :func:`sqeuclidean` / :func:`cosine_distance` term for term (same
    fold shapes, same cast-to-double, same zero-denominator guard), so
    the analyzed plan — and therefore every result bit — is unchanged.
    Returns None for registered/unknown metrics or non-finite values;
    callers fall back to the Column builders."""
    arr = _sql_double_array(vals)
    if arr is None:
        return None
    c = _sql_col_double(col)
    m = metric.strip().lower()
    if m == "euclidean":
        return F.expr(
            f"aggregate(zip_with({arr}, {c}, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x)"
        )
    if m == "cosine":
        norm_a = f"SQRT(aggregate({arr}, 0.0D, (acc, x) -> acc + x * x))"
        norm_b = f"SQRT(aggregate({c}, 0.0D, (acc, x) -> acc + x * x))"
        dot = (
            f"aggregate(zip_with({arr}, {c}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        denom = f"({norm_a} * {norm_b})"
        return F.expr(
            f"CASE WHEN {denom} != 0.0D THEN 1.0D - {dot} / {denom} END"
        )
    return None


def const_distance(metric: str, vals, col: str = "embedding") -> Column:
    """Distance column for a CONSTANT (driver-side) query vector: the
    one-``F.expr`` SQL fast path when the metric is built-in and every
    value is finite, else the Column builders via an array literal —
    identical analyzed expression either way."""
    d = distance_expr_const(metric, vals, col)
    if d is not None:
        return d
    return distance_expr(metric, const_array(vals), F.col(col))


def const_array(vals) -> Column:
    """``array<double>`` literal of driver-side values as ONE ``F.expr``
    (a 128-entry PQ lookup table is otherwise 128 py4j ``lit`` calls),
    falling back to the Column builders when a value is non-finite —
    identical analyzed expression either way."""
    arr = _sql_double_array(vals)
    if arr is not None:
        return F.expr(arr)
    return F.array(*[F.lit(float(x)) for x in vals])


# User-extensible metric registry — the UDF surface the reference lacks
# (its metrics are a closed enum, /root/reference/src/types/metric.rs:19-22;
# SURVEY.md §2.5 'UDF/UDAF/UDTF'). A metric is any (a, b) -> Column builder;
# pandas-UDF-backed builders are first-class for non-expressible math.
_METRIC_REGISTRY: dict = {}


def register_metric(name: str, builder) -> None:
    """Register a custom distance metric: ``builder(a: Column, b: Column)
    -> Column`` (lower = closer). Overrides are allowed except for the two
    built-in names."""
    key = name.strip().lower()
    if key in METRICS:
        raise InvalidArgumentError(f"cannot override built-in metric {key!r}")
    _METRIC_REGISTRY[key] = builder


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    """Dispatch on metric name (case-insensitive), like Metric::from(&str)
    (/root/reference/src/types/metric.rs:34-58) but raising a clean error,
    and consulting the user metric registry first."""
    m = metric.strip().lower()
    if m == "euclidean":
        return sqeuclidean(a, b)
    if m == "cosine":
        return cosine_distance(a, b)
    if m in _METRIC_REGISTRY:
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return _METRIC_REGISTRY[m](a, b)
    raise InvalidArgumentError(
        f"unknown metric {metric!r}; supported: "
        f"{', '.join(list(METRICS) + sorted(_METRIC_REGISTRY))}"
    )


def to_f32(c: Column | str) -> Column:
    """Truncate a double distance to float32, mirroring the reference's
    f64→f32 result cast (/root/reference/src/cores/index.rs:191)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("float")


# ---------------------------------------------------------------------------
# Arrow/NumPy fallback path for very wide embeddings (the "SIMD analog").
# Kept separate so the hot path stays JVM-side by default; benchmarks decide.
# ---------------------------------------------------------------------------


def make_pandas_sqeuclidean(query_vec: list[float]):
    """Return a pandas_udf computing squared Euclidean distance to a fixed
    query vector using NumPy (Arrow-batched). Useful for the single-query
    top-k path at high dimension where per-element codegen loops lose to BLAS.
    """
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)

    @pandas_udf("double")
    def _dist(batch: pd.Series) -> pd.Series:
        mat = np.asarray(batch.tolist(), dtype=np.float64)
        d = mat - q
        return pd.Series(np.einsum("ij,ij->i", d, d))

    return _dist


def make_pandas_cosine(query_vec: list[float]):
    """pandas_udf computing cosine distance to a fixed query vector."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def _dist(batch: pd.Series) -> pd.Series:
        mat = np.asarray(batch.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1) * qn
        with_sim = np.where(norms != 0, 1.0 - (mat @ q) / np.where(norms == 0, 1, norms), np.nan)
        return pd.Series(with_sim)

    return _dist
