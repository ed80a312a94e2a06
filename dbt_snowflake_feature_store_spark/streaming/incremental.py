"""Structured-Streaming incremental refresh — the Dynamic Table
INCREMENTAL/AUTO engine (SURVEY.md §2.D; /root/reference/macros/
materializations/feature_view.sql:101-129, README.md:232-234).

Mechanism: every source the FV's SQL references must be a REGISTERED
source (``fs.register_source`` — our equivalent of dbt's
``{{ source(...) }}`` binding, /root/reference/integration_tests/models/
sources.yml:4-9). For an incremental refresh we re-plan the same SQL text
against *streaming* temp views (``spark.readStream``) instead of batch
views; Spark's incrementalization then does the real work:

- ``trigger(availableNow=True)`` processes exactly the files that arrived
  since the last checkpoint, then stops — a scheduled micro-batch, which
  is precisely Snowflake's target-lag refresh model (the scheduler that
  honors ``refresh_freq`` lives outside the engine, like Snowflake's
  refresh service outside the dbt package).
- the parquet-file checkpoint gives exactly-once file processing across
  refreshes (no high-watermark bookkeeping of our own).
- watermark + tumbling ``window()`` aggregations emit a window once the
  watermark passes it (append mode): late data within the watermark delay
  is incorporated, later data is dropped — documented lateness semantics.

AUTO semantics: if Catalyst rejects the streaming plan (non-windowed
aggregate in append mode, sort, multiple aggs, ...) we fall back to FULL
recompute — exactly Snowflake's AUTO downgrade (README.md:234).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Any

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..objects import FeatureView
    from ..store import FeatureStore


class StreamingNotSupported(Exception):
    """The FV plan cannot be maintained incrementally (AUTO → FULL)."""


def _source_views(fs: "FeatureStore", streaming: bool) -> list[str]:
    """Create temp views for every registered source: batch reads or
    streaming reads of the same paths. Returns the view names created."""
    names = []
    for doc in fs.registry.list("sources"):
        name, path, fmt = doc["name"], doc["path"], doc.get("format", "parquet")
        opts = doc.get("options") or {}
        try:
            if streaming:
                # streaming sources need an explicit schema: the
                # registered one, else the batch footprint's, through
                # the shared read cache (no inference job once known)
                from ..sources.tables import read_cached

                schema = doc.get("schema") or read_cached(
                    fs.spark, path, fmt, opts
                ).schema
                df = (
                    fs.spark.readStream.format(fmt)
                    .schema(schema)
                    .options(**opts)
                    .load(path)
                )
                # the SAME timestamp-layout normalization the batch
                # read path applies (_load_source) — a maintained FV
                # must see identical types streaming and batch
                # (ADVICE-r13 invariant; pure projection, stream-safe)
                from ..sources import normalize_frame

                df = normalize_frame(
                    df,
                    path=path if fmt == "parquet" else None,
                    table=name,
                )
                if doc.get("watermark_col") and doc.get("watermark_delay"):
                    df = df.withWatermark(
                        doc["watermark_col"], doc["watermark_delay"]
                    )
            else:
                df = fs._load_source(doc)
        except Exception:
            # a broken source must not block FVs that don't reference it;
            # an FV that does fails at spark.sql with unresolved view →
            # StreamingNotSupported → FULL downgrade
            continue
        df.createOrReplaceTempView(name)
        names.append(name)
    return names


def incremental_refresh(fs: "FeatureStore", fv: "FeatureView") -> str:
    """Run one availableNow micro-batch maintaining the FV's parquet
    materialization. Raises StreamingNotSupported if the plan can't
    stream (caller falls back to FULL)."""
    if not list(fs.registry.list("sources")):
        raise StreamingNotSupported("no registered sources to stream from")
    if fv.sql is None:
        raise StreamingNotSupported("DataFrame-registered FV cannot be re-planned")

    try:
        # source binding itself can fail (missing/empty source path) —
        # that must downgrade AUTO to FULL, not crash the refresh
        _source_views(fs, streaming=True)
        df = fs.spark.sql(fv.sql)
    except Exception as e:  # analysis error against streaming views
        _source_views(fs, streaming=False)
        raise StreamingNotSupported(str(e)) from e
    if not df.isStreaming:
        _source_views(fs, streaming=False)
        raise StreamingNotSupported("plan has no streaming source")

    path = fs._fv_data_path(fv.name, fv.version)
    ckpt = os.path.join(path + "_ckpt")

    # A merge-maintained FV (keyed streaming aggregation, see
    # _incremental_merge) is recognized by its own checkpoint: resume it
    # directly — the append path below would wipe the merged table (no
    # _spark_metadata log) and the un-re-emitted groups would vanish.
    ckpt_merge = path + "_ckpt_merge"
    if os.path.isdir(ckpt_merge):
        keys = _entity_merge_keys(fs, fv, df)
        if keys:
            # same un-augmented frame as activation (no _fs_dt — the
            # merged table's schema must match across refreshes), and the
            # same failure contract: any merge error downgrades to FULL
            # instead of crashing refresh().
            try:
                return _incremental_merge(fs, df, path, ckpt_merge, keys)
            except Exception as e:
                raise StreamingNotSupported(str(e)) from e
            finally:
                _source_views(fs, streaming=False)

    # Streaming writes only into directories it owns end-to-end: the data
    # dir's _spark_metadata file log and the checkpoint must exist as a
    # PAIR. If a batch FULL refresh overwrote the dir (killing the log)
    # or the checkpoint is missing, resuming would either silently drop
    # the batch-written rows (reads trust the new log) or re-append
    # already-materialized source files. Wipe both and let availableNow
    # rebuild the whole materialization from scratch — a stream-executed
    # full recompute, never a silent mix.
    import shutil

    has_log = os.path.isdir(os.path.join(path, "_spark_metadata"))
    has_ckpt = os.path.isdir(ckpt)
    rebuilt = False
    if os.path.isdir(path) and not (has_log and has_ckpt):
        shutil.rmtree(path)
        if has_ckpt:
            shutil.rmtree(ckpt)
        rebuilt = True
    elif has_ckpt and not os.path.isdir(path):
        shutil.rmtree(ckpt)
        rebuilt = True
    # Whenever the append path rebuilds the materialization, a stale
    # merge checkpoint must die with it: if the merge-resume gate above
    # fell through (e.g. entity keys no longer resolve) and the table is
    # append-rebuilt, a later refresh whose keys resolve again would
    # resume the obsolete merge checkpoint's running totals against the
    # rebuilt table and double-count groups (mirrors refresh.py's FULL
    # recompute cleanup, which removes both checkpoints).
    if rebuilt and os.path.isdir(ckpt_merge):
        shutil.rmtree(ckpt_merge)

    ts_col = None
    if fv.timestamp_col:
        m = {c.upper(): c for c in df.columns}
        ts_col = m.get(fv.timestamp_col)
    # the merge fallback must see the UN-augmented plan: merge-maintained
    # tables never carry _fs_dt (resume path merges without it, and the
    # schemas must agree across refreshes)
    df_plan = df
    if ts_col is not None:
        df = df.withColumn("_fs_dt", F.to_date(F.col(ts_col)))

    writer = (
        df.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
    )
    if ts_col is not None:
        writer = writer.partitionBy("_fs_dt")

    try:
        q = writer.start()
        q.awaitTermination()
    except Exception as e:
        # A NON-WINDOWED keyed aggregation can't stream in append mode —
        # but it CAN be maintained incrementally: update-mode streaming
        # agg + foreachBatch MERGE of the changed groups into the table
        # (the Dynamic-Table keyed-aggregate maintenance the reference's
        # INCREMENTAL mode implies, feature_view.sql:125; SURVEY §2.D).
        # Only when Spark's own checker rejected append FOR THAT REASON
        # and the FV's entity keys appear in the plan output; anything
        # else keeps the AUTO → FULL downgrade.
        msg = str(e)
        keys = _entity_merge_keys(fs, fv, df_plan)
        if keys and "streaming aggregations" in msg and "watermark" in msg:
            try:
                return _incremental_merge(fs, df_plan, path, ckpt_merge, keys)
            except Exception as e2:  # merge path failed → FULL downgrade
                raise StreamingNotSupported(str(e2)) from e2
        raise StreamingNotSupported(msg) from e
    finally:
        # restore batch views so subsequent batch reads/plans see tables
        _source_views(fs, streaming=False)
    return "INCREMENTAL"


def _entity_merge_keys(fs: "FeatureStore", fv: "FeatureView", df) -> list[str]:
    """The FV's entity join keys as spelled in the (streaming) plan
    output — empty when any key is missing (then merge maintenance is
    impossible and the caller downgrades to FULL)."""
    from ..refresh import _merge_keys

    keys = _merge_keys(fs, fv, df)
    want = 0
    for e in fv.entity_docs or []:
        want += len(e["joinKeys"])
    if not fv.entity_docs:
        want = sum(
            len(fs.get_entity(n).join_keys) for n in fv.entity_names()
        )
    return keys if keys and len(keys) == want else []


def _incremental_merge(
    fs: "FeatureStore", df, path: str, ckpt_merge: str, keys: list[str]
) -> str:
    """availableNow UPDATE-mode streaming aggregation + foreachBatch
    MERGE: each micro-batch emits the groups whose totals changed, and
    the storage layer upserts exactly those keys (copy-on-write snapshot
    swap on parquet, transactional MERGE on Delta). The aggregation
    state lives in the stream checkpoint, so successive refreshes carry
    running totals forward — true incremental maintenance for keyed
    lifetime aggregates (state is per-key and permanent BY DESIGN: that
    is the Dynamic-Table semantic; windowed/watermarked aggs take the
    append path instead). foreachBatch is at-least-once on retry; the
    merge is idempotent (groups carry absolute totals, not deltas), so
    replays converge.

    First activation (no merge checkpoint yet) drops any existing
    materialization and rebuilds from the full source replay — a
    stream-executed full recompute, never a mixed-provenance table
    (same contract as the append path's wipe rule)."""
    import shutil as _shutil

    if not os.path.isdir(ckpt_merge) and os.path.isdir(path):
        _shutil.rmtree(path)
    spark, storage = fs.spark, fs.storage

    def _apply(batch, _epoch_id) -> None:
        if batch.isEmpty():
            return
        storage.merge(spark, path, batch, keys)

    q = (
        df.writeStream.trigger(availableNow=True)
        .outputMode("update")
        .foreachBatch(_apply)
        .option("checkpointLocation", ckpt_merge)
        .start()
    )
    q.awaitTermination()
    return "INCREMENTAL"


def describe_lateness(doc: dict[str, Any]) -> str:
    """Human-readable lateness contract for a source registration."""
    wm = doc.get("watermark_delay")
    if not wm:
        return "no watermark: append-only source, all rows processed"
    return (
        f"late rows within {wm} of the max seen event time are incorporated; "
        "rows later than that are dropped (documented watermark semantics)"
    )
