"""Versioned parquet tables with atomic pointer swap.

A table is a directory of immutable version subdirectories plus a
``_LATEST`` pointer file; writers produce ``v{n+1}`` and atomically swap
the pointer (os.replace). Readers resolve the pointer once and then only
ever see that immutable version — the distributed analog of the
reference's whole-state snapshot + rename persistence
(/root/reference/src/cores/database.rs:147-187) and of its coarse RwLock
isolation (/root/reference/src/cores/database.rs:74-75): readers never
observe a half-written table, with zero locks.

On a real cluster this role is played by a transactional table format
(Delta/Iceberg); the pointer-file scheme keeps the same semantics with
plain Parquet and no extra dependencies.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from oasysdb_spark.core.config import atomic_write_text
from oasysdb_spark.sources.tables import read_parquet_cached

_LATEST = "_LATEST"


class VersionedTable:
    def __init__(self, root: str):
        self.root = root

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.root, _LATEST))

    def current_version(self) -> str | None:
        try:
            with open(os.path.join(self.root, _LATEST), encoding="utf-8") as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def current_path(self) -> str:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return os.path.join(self.root, v)

    def read(self, spark: SparkSession) -> DataFrame:
        """The current version as a DataFrame. ``spark.read.parquet``
        infers the schema from the parquet footers, which is a Spark
        job (~100 ms) per read, so the resolved frame goes through the
        signature-guarded read memo under this table's root: a repeat
        read of an unchanged version reuses it, while a pointer move,
        an append or another handle's write changes the file signature
        and re-reads once, replacing the table's single entry."""
        return read_parquet_cached(spark, self.current_path(), slot=self.root)

    def versions(self) -> list[str]:
        """All retained version names, oldest first (bounded by the
        ``keep_versions`` GC of the write paths)."""
        try:
            return sorted(
                d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
            )
        except FileNotFoundError:
            return []

    def read_version(self, spark: SparkSession, version: str) -> DataFrame:
        """Time travel: read a specific retained version. Versions are
        immutable directories, so this is the same snapshot-isolation
        guarantee readers of the current pointer get, pointed at history
        (what Delta/Iceberg call ``VERSION AS OF``). Always a fresh
        read, so diffing a version against the current one never
        self-joins one frame object."""
        path = os.path.join(self.root, version)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {version!r} not retained in {self.root} "
                f"(have: {self.versions()})"
            )
        return spark.read.parquet(path)

    def compact(
        self,
        spark: SparkSession,
        partition_by: list[str] | None = None,
        target_partitions: int | None = None,
        keep_versions: int = 2,
    ) -> str:
        """Rewrite the current version with healthy file sizes — the
        maintenance job for micro-batch append small-file buildup (every
        streaming epoch appends >=1 file; thousands of tiny files destroy
        scan throughput long before data size matters at 100 TB).

        Partitioned layouts repartition on the partition columns so each
        partition directory lands as few large files; unpartitioned
        tables coalesce to ``target_partitions`` (default: the session's
        shuffle parallelism). Readers are untouched: the compacted copy
        is a NEW version behind the atomic pointer swap."""
        df = self.read(spark)
        if partition_by:
            df = df.repartition(*[df[c] for c in partition_by])
        else:
            n = target_partitions or spark.sparkContext.defaultParallelism
            df = df.coalesce(n)
        return self.write(df, partition_by=partition_by, keep_versions=keep_versions)

    def _next_version(self) -> str:
        cur = self.current_version()
        n = int(cur[1:]) + 1 if cur else 1
        return f"v{n:06d}"

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        keep_versions: int = 2,
    ) -> str:
        """Write df as the next version and swap the pointer atomically."""
        os.makedirs(self.root, exist_ok=True)
        version = self._next_version()
        path = os.path.join(self.root, version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        atomic_write_text(os.path.join(self.root, _LATEST), version)
        self._gc(keep_versions)
        return version

    def rewrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        affected_values: list,
        keep_versions: int = 2,
    ) -> str:
        """Copy-on-write at partition granularity: produce the next version
        with only the ``affected_values`` partitions rewritten from ``df``
        (which must hold exactly those partitions' new contents — possibly
        none, for partitions that become empty) and every other partition
        HARDLINKED from the current version. Untouched data costs zero IO
        and zero extra disk; the pointer swap stays atomic, so readers of
        the old version are unaffected.

        This is what a transactional table format (Delta/Iceberg) does at
        file granularity; partition granularity is the natural unit for the
        cluster-partitioned records layout, where a single-id delete should
        not rewrite a 100 TB table.
        """
        cur = self.current_path()
        version = self._next_version()
        path = os.path.join(self.root, version)
        os.makedirs(path, exist_ok=True)
        affected_dirs = {f"{partition_col}={v}" for v in affected_values}
        for entry in os.listdir(cur):
            if not entry.startswith(f"{partition_col}="):
                continue
            if entry in affected_dirs:
                continue
            src, dst = os.path.join(cur, entry), os.path.join(path, entry)
            os.makedirs(dst, exist_ok=True)
            for fname in os.listdir(src):
                try:
                    os.link(os.path.join(src, fname), os.path.join(dst, fname))
                except OSError:  # pragma: no cover - non-hardlink filesystem
                    shutil.copy2(os.path.join(src, fname), os.path.join(dst, fname))
        if not df.isEmpty():
            df.write.mode("append").partitionBy(partition_col).parquet(path)
        atomic_write_text(os.path.join(self.root, _LATEST), version)
        self._gc(keep_versions)
        return version

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Append files into the current version (no pointer change).

        Parquet file writes are atomic per-file; a reader that resolved the
        version before the append simply sees the old file set. Used for
        micro-batch inserts; full rewrites (delete/update/index build) go
        through :meth:`write`.

        Appends are schema-checked against the current version: a
        mismatched frame would otherwise SILENTLY write incompatible
        parquet files into the live directory and poison every future
        read — the failure mode transactional formats reject at commit
        time, rejected here before any file lands.
        """
        current = self.read(df.sparkSession)
        want = {f.name: f.dataType.simpleString() for f in current.schema.fields}
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if want != got:
            raise ValueError(
                f"append schema mismatch for {self.root}: table has {want}, "
                f"frame has {got}"
            )
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.current_path())

    def _gc(self, keep: int) -> None:
        try:
            versions = sorted(
                d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
            )
        except FileNotFoundError:
            return
        current = self.current_version()
        for v in versions[:-keep] if len(versions) > keep else []:
            if v != current:
                shutil.rmtree(os.path.join(self.root, v), ignore_errors=True)
