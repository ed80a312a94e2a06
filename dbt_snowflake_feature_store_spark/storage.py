"""Table-format abstraction for managed materializations.

The reference materializes managed feature views as Snowflake Dynamic
Tables with transactional incremental maintenance
(/root/reference/macros/materializations/feature_view.sql:115-129). The
Spark-native analog is a transactional table format (Delta/Iceberg) with
``MERGE INTO`` + change-data-feed. This container ships neither, so the
engine is written against a small ``TableFormat`` interface:

- ``ParquetSnapshotFormat`` (default, always available): plain parquet
  directories, with keyed MERGE emulated by copy-on-write — anti-join +
  union into a NEW snapshot directory, then a crash-safe directory swap
  (commit-marker protocol below). This is the same copy-on-write shape
  Delta performs underneath; what parquet cannot give is file-level
  pruning of untouched data, so ``merge`` rewrites the table and
  ``incremental_upsert`` degrades to the boundary-deduplicated
  high-watermark append (documented fallback).
- ``DeltaFormat`` (auto-detected): real ``MERGE INTO`` via delta-spark
  when the runtime has it; incremental refresh then upserts instead of
  appending, and the swap protocol is unnecessary (Delta's log is the
  pointer).

Crash-safe swap protocol (ParquetSnapshotFormat.replace):

1. write the new snapshot fully to ``<path>__snapshot_<id>``
2. create the ``_FS_COMMIT`` marker inside it (write is complete)
3. ``rename(path, <path>__old_<id>)``
4. ``rename(<path>__snapshot_<id>, path)``
5. remove the old directory

``recover(path)`` repairs every crash point: an unmarked snapshot dir is
an aborted write (dropped); a marked snapshot with the target missing is
rolled FORWARD (rename into place); an orphaned old dir with the target
present is dropped; an old dir with no marked snapshot and no target is
rolled BACK. Readers call it implicitly via ``read``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import read_cached

_COMMIT_MARKER = "_FS_COMMIT"


def _siblings(path: str, tag: str) -> list[str]:
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    if not os.path.isdir(parent):
        return []
    pref = f"{base}__{tag}_"
    return sorted(
        os.path.join(parent, d) for d in os.listdir(parent) if d.startswith(pref)
    )


class TableFormat:
    """Interface for managed-table storage. All paths are directories."""

    name = "base"
    transactional = False

    def recover(self, path: str) -> None:
        """Repair interrupted maintenance, if the format needs it
        (no-op for transactional formats)."""

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        raise NotImplementedError

    def write_full(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        raise NotImplementedError

    def append(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        raise NotImplementedError

    def merge(
        self, spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
    ) -> int:
        """Keyed upsert (last-writer-wins per key). Returns new row count."""
        raise NotImplementedError

    def overwrite_partitions(
        self, spark: SparkSession, df: DataFrame, path: str, partition_col: str
    ) -> None:
        """Dynamic partition overwrite: replace exactly the
        ``partition_col`` partitions present in ``df``, leave every other
        partition untouched — the idempotent per-chunk commit primitive
        backfills need. Each format implements its own transactional (or
        best-effort) variant; callers must never write raw files under a
        managed path themselves (a raw parquet write into a Delta
        directory lands outside the transaction log and corrupts the
        table)."""
        raise NotImplementedError

    def replace(self, spark: SparkSession, path: str, df: DataFrame,
                partition_by: list[str] | None = None,
                options: dict[str, str] | None = None) -> None:
        """Atomically replace the table's contents with ``df``
        (compaction, migration): full write then commit. ``options``
        pass through to the writer (e.g. maxRecordsPerFile)."""
        raise NotImplementedError

    def write_bucketed(
        self,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        table: str,
        buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Materialize bucketed-by-key (Snowflake CLUSTER BY analog).

        Parquet bucketing needs a catalog entry (``saveAsTable``) to
        carry the bucket metadata; the table is external (data at
        ``path``). The catalog entry is session-scoped with the
        in-memory catalog — a later session reading the bare path still
        gets the data, just without the shuffle-elimination metadata
        (a metastore-backed cluster keeps it). The rebuild is offline
        (drop + rewrite), not a snapshot swap: bucket metadata lives in
        the catalog, which cannot be swapped atomically with the
        directory — transactional formats own the online path."""
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if os.path.isdir(path):
            shutil.rmtree(path)
        w = df.write.mode("overwrite").option("path", path)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w = w.bucketBy(buckets, *bucket_cols)
        w = w.sortBy(*(sort_cols or bucket_cols))
        w.saveAsTable(table)


class ParquetSnapshotFormat(TableFormat):
    """``history=N`` keeps the N most recent replaced snapshots under
    ``<path>__history/<seq>_<token>`` for time-travel reads
    (:meth:`snapshots` / :meth:`read_version`) — the Delta/Iceberg
    version-travel affordance at the pointer-swap layer, so a training
    run can be reproduced against the exact table state it saw. History
    retention is bounded (pruned on every replace); the history move
    happens strictly AFTER the atomic swap, so crash recovery is
    unchanged (an interrupted move loses at most one history entry,
    never the live table)."""

    name = "parquet"
    transactional = False

    def __init__(self, history: int = 0) -> None:
        self.history = history

    # -- time travel ---------------------------------------------------
    def _history_dir(self, path: str) -> str:
        return f"{path}__history"

    def snapshots(self, path: str) -> list[int]:
        """Ascending sequence numbers of retained historical versions
        (the live table is always newer than every listed version)."""
        hdir = self._history_dir(path)
        if not os.path.isdir(hdir):
            return []
        out = []
        for d in os.listdir(hdir):
            seq = d.split("_", 1)[0]
            if seq.isdigit():
                out.append(int(seq))
        return sorted(out)

    def read_version(
        self, spark: SparkSession, path: str, version: int
    ) -> DataFrame:
        hdir = self._history_dir(path)
        for d in sorted(os.listdir(hdir) if os.path.isdir(hdir) else []):
            if d.split("_", 1)[0] == f"{version:08d}":
                return read_cached(spark, os.path.join(hdir, d))
        raise FileNotFoundError(
            f"no retained snapshot version {version} under {path}"
        )

    def _retain(self, path: str, old_dir: str) -> None:
        """Move a replaced snapshot into history and prune to bound."""
        hdir = self._history_dir(path)
        os.makedirs(hdir, exist_ok=True)
        seqs = self.snapshots(path)
        seq = (seqs[-1] + 1) if seqs else 1
        token = os.path.basename(old_dir).rsplit("_", 1)[-1]
        os.rename(old_dir, os.path.join(hdir, f"{seq:08d}_{token}"))
        entries = sorted(os.listdir(hdir))
        for d in entries[: max(0, len(entries) - self.history)]:
            shutil.rmtree(os.path.join(hdir, d), ignore_errors=True)

    # -- recovery ------------------------------------------------------
    def recover(self, path: str) -> None:
        """Repair an interrupted ``replace`` swap — see module docstring.
        Idempotent; cheap when there is nothing to do (one listdir)."""
        snaps = _siblings(path, "snapshot")
        olds = _siblings(path, "old")
        if not snaps and not olds:
            return
        committed = [
            s for s in snaps if os.path.exists(os.path.join(s, _COMMIT_MARKER))
        ]
        if not os.path.isdir(path):
            if committed:
                # crash between the two renames: roll FORWARD — the
                # marked snapshot is complete by construction
                os.rename(committed[-1], path)
                committed = committed[:-1]
            elif olds:
                # aborted before the new snapshot was complete: roll back
                os.rename(olds[-1], path)
                olds = olds[:-1]
        for d in snaps:
            if d in committed or not os.path.isdir(d):
                continue
            shutil.rmtree(d, ignore_errors=True)
        for d in committed:
            shutil.rmtree(d, ignore_errors=True)
        for d in olds:
            shutil.rmtree(d, ignore_errors=True)

    # -- interface -----------------------------------------------------
    def read(self, spark: SparkSession, path: str) -> DataFrame:
        self.recover(path)
        return read_cached(spark, path)

    def write_full(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def append(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def replace(self, spark: SparkSession, path: str, df: DataFrame,
                partition_by: list[str] | None = None,
                options: dict[str, str] | None = None) -> None:
        self.recover(path)
        token = uuid.uuid4().hex[:8]
        tmp = f"{path}__snapshot_{token}"
        writer = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        # marker AFTER the data: its presence certifies a complete write
        with open(os.path.join(tmp, _COMMIT_MARKER), "w") as f:
            f.write(token)
        old = f"{path}__old_{token}"
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            if self.history > 0:
                self._retain(path, old)
            else:
                shutil.rmtree(old, ignore_errors=True)

    def overwrite_partitions(
        self, spark: SparkSession, df: DataFrame, path: str, partition_col: str
    ) -> None:
        """Spark's dynamic partitionOverwriteMode on a plain parquet
        directory: per-partition replacement is atomic at the directory
        level (Spark stages files then moves them in), re-running the
        same chunk rewrites exactly its own partitions. The session conf
        is restored afterwards — it is session-global."""
        self.recover(path)
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                df.write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def merge(
        self, spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
    ) -> int:
        self.recover(path)
        if os.path.isdir(path):
            target = read_cached(spark, path)
            kept = target.join(
                updates.select(*keys).distinct(), on=keys, how="left_anti"
            )
            merged = kept.unionByName(updates.select(target.columns))
        else:
            merged = updates
        self.replace(spark, path, merged)
        return read_cached(spark, path).count()


class DeltaFormat(TableFormat):
    """Transactional path when delta-spark is on the classpath: real
    MERGE INTO, atomicity from the Delta log (no directory swaps)."""

    name = "delta"
    transactional = True

    def __init__(self) -> None:
        import delta  # noqa: F401  (ImportError → caller falls back)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.format("delta").load(path)

    def write_full(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.format("delta").mode("overwrite").option(
            "overwriteSchema", "true"
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    def append(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.format("delta").mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    def replace(self, spark: SparkSession, path: str, df: DataFrame,
                partition_by: list[str] | None = None,
                options: dict[str, str] | None = None) -> None:
        # Delta's log makes the overwrite atomic on its own; writer
        # options (maxRecordsPerFile) pass straight through.
        writer = df.write.format("delta").mode("overwrite").option(
            "overwriteSchema", "true"
        )
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    def write_bucketed(
        self,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        table: str,
        buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Delta has no Hive bucketing; its clustering analog is liquid
        clustering / Z-ORDER. Co-locate by repartitioning + sorting on
        the keys (file-level clustering keeps data-skipping effective;
        the shuffle-elimination metadata is a parquet-catalog feature)."""
        self.write_full(
            df.repartition(buckets, *bucket_cols).sortWithinPartitions(
                *(sort_cols or bucket_cols)
            ),
            path,
            partition_by,
        )

    def overwrite_partitions(
        self, spark: SparkSession, df: DataFrame, path: str, partition_col: str
    ) -> None:
        """Delta's transactional dynamic partition overwrite (the write
        goes through the Delta log, so a mid-chunk crash leaves the
        previous table version live — readers never see a partial
        partition)."""
        (
            df.write.format("delta")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .save(path)
        )

    def merge(
        self, spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
    ) -> int:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, path):
            self.write_full(updates, path)
        else:
            t = DeltaTable.forPath(spark, path)
            cond = " AND ".join(f"t.{k} <=> u.{k}" for k in keys)
            (
                t.alias("t")
                .merge(updates.alias("u"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        return self.read(spark, path).count()


def get_format(name: str = "parquet", history: int = 0) -> TableFormat:
    """Resolve a format by name. ``delta`` falls back to parquet with no
    error when delta-spark is absent (this container) — callers can check
    ``.name`` to see what they got. ``history`` (parquet only) retains
    that many replaced snapshots for time-travel reads; Delta has its
    own log-based versioning."""
    if name == "delta":
        try:
            return DeltaFormat()
        except ImportError:
            return ParquetSnapshotFormat(history=history)
    if name == "parquet":
        return ParquetSnapshotFormat(history=history)
    raise ValueError(f"Unknown table format: {name!r}")
