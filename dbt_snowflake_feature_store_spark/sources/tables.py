"""Source-table access for the driver testdata (TESTDATA.md).

The reference reads sources via dbt ``{{ source(...) }}`` bindings
(/root/reference/integration_tests/models/sources.yml:4-9); our equivalent
is plain Parquet scans registered as temp views, so FV SQL bodies resolve
the same names. Parquet scans get predicate pushdown, column pruning and
(where partitioned) partition pruning from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Event-time columns per table that must come out as session-TZ (UTC)
# TIMESTAMP regardless of the physical parquet layout. The driver's
# testdata has shipped two layouts across rounds:
#   * TIMESTAMP(NANOS): Spark has no ns type — read as int64 nanos
#     (spark.sql.legacy.parquet.nanosAsLong) and truncate ns→µs, the
#     same truncation DuckDB applies.
#   * timestamp[us] (current): Spark infers TIMESTAMP_NTZ, which is
#     poison downstream — TIMESTAMP_NTZ → BIGINT casts throw
#     AnalysisException. Cast to TIMESTAMP under the UTC session TZ
#     (identical wall-clock values, so the DuckDB oracle agrees).
# Normalizing HERE, not per-operator, is the 100 TB posture: source
# type drift must not take down every downstream query.
# The bigint-nanos repair is driven by the parquet FOOTER: a column
# that reads as bigint only because nanosAsLong is set still declares a
# timestamp logical type in the file schema, so _footer_ts_cols
# identifies it for ANY table — no silent bigint timestamps outside a
# static allowlist. The allowlist remains as a fallback for the case
# where footer probing fails (e.g. an exotic filesystem). The NTZ
# repair is safe for EVERY timestamp column of EVERY table, so it runs
# unconditionally — if the driver rotates another table's timestamps to
# timestamp[us] (as events.ts did in round 3), nothing downstream
# notices.
_EVENT_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _is_data_name(name: str) -> bool:
    """Spark's file-index rule for the entries it reads: names starting
    with ``.`` or ``_`` are hidden (``_SUCCESS``, ``_spark_metadata``,
    ``.crc`` files) unless a ``_`` name is a ``col=value`` partition
    directory (``_fs_dt=2024-01-01``)."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _path_signature(path: str):
    """(relative name, mtime_ns, size) of every file under ``path``,
    recursively and in a deterministic order; a single-file path yields
    its own entry. None when the path is missing or not a local path
    (object-store URIs): such reads are never cached."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
        if not os.path.isdir(path):
            return None
        entries = []
        for root, dirs, files in os.walk(path):
            dirs.sort()  # deterministic walk order
            rel = os.path.relpath(root, path)
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                entries.append(
                    (os.path.join(rel, fn), st.st_mtime_ns, st.st_size)
                )
        return tuple(entries)
    except OSError:
        return None


def _footer_ts_cols(path: str, sig=None) -> set[str] | None:
    """Column names the parquet footer declares as timestamps (any
    unit). Probes the first data file of the signature walk, so a
    partitioned layout (``dt=.../part-*.parquet``) or a streaming sink
    is probed like a flat directory. Returns None when the footer cannot
    be probed — callers fall back to the static allowlist.
    Metadata-only: one footer read, no row data."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            probe = path
        else:
            sig = _path_signature(path) if sig is None else sig
            probe = next(
                os.path.join(path, rel)
                for rel, _, _ in sig or ()
                if all(_is_data_name(p) for p in rel.split(os.sep) if p != ".")
            )
        schema = pq.ParquetFile(probe).schema_arrow
        return {f.name for f in schema if pa.types.is_timestamp(f.type)}
    except Exception:
        return None


def _normalize(
    df: DataFrame, footer_ts: set[str] | None, ns_allowlist: tuple[str, ...], table: str
) -> DataFrame:
    ns_cols = footer_ts if footer_ts is not None else set(ns_allowlist)
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":  # timestamp[us] layout, any table
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif dt == "bigint" and c in ns_cols:  # TIMESTAMP(NANOS) layout
            if c not in ns_allowlist:
                import logging

                logging.getLogger(__name__).info(
                    "normalize_frame(%s): footer-detected nanos timestamp "
                    "column '%s' (not in the static allowlist) — repairing",
                    table,
                    c,
                )
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def normalize_frame(
    df: DataFrame,
    path: str | None = None,
    ns_allowlist: tuple[str, ...] = (),
    table: str = "?",
) -> DataFrame:
    """Apply read_table's timestamp-layout normalization to an
    already-loaded frame: TIMESTAMP_NTZ → session-TZ TIMESTAMP (every
    column, every table), and bigint columns the parquet footer declares
    as timestamps (the nanosAsLong layout) → µs-truncated TIMESTAMP.
    ``path`` enables the footer probe; without it only ``ns_allowlist``
    repairs bigint-nanos columns. Shared by read_table and the
    FeatureStore registered-source read path (ADVICE-r13: freshness and
    model reads must see the same normalized types as every operator)."""
    footer_ts = _footer_ts_cols(path) if path is not None else None
    return _normalize(df, footer_ts, ns_allowlist, table)


# The shared read cache: one schema-inference result per (session,
# format, options, inference confs, file signature). Inferring a file
# source's schema costs a Spark job (~70 ms of driver time per read on
# a 4-core local[4] session); Snowflake takes a table's schema from its
# catalog, and this is the session-scoped equivalent of that catalog for
# paths this session has already resolved. It is a METADATA cache, never a result cache:
# every action still scans the files.
#
# Key fields:
#   * applicationId and id(spark) — a sibling session of the same
#     application never sees another session's entry; the entry holds a
#     strong session ref, so the id cannot be reused while it lives;
#   * format and the sorted reader options;
#   * the values of every conf that changes what inference returns
#     (_INFERENCE_CONFS) — toggling one reads as a miss, so types follow
#     the conf exactly as they would without a cache;
#   * the recursive file signature (_path_signature: name, mtime_ns and
#     size of every file, nested partition directories included) — any
#     rewrite, append or landed batch under the path is a new key.
# Value: the inferred schema and the parquet footer's timestamp-column
# probe (_footer_ts_cols), plus read_table's analyzed frame once built.
#
# Never cached: Delta reads, paths that are missing or not local (no
# signature — they take the uncached read and raise exactly as before),
# and readers with a caller-pinned schema (nothing to infer).
#
# What a hit returns: read_cached builds a FRESH frame from the cached
# schema (reader.schema(...).load(path)), so two store reads of one
# table never share plan or attribute ids. read_table alone returns its
# cached analyzed frame for the query keys, so two read_table calls for
# the same (session, path) ARE one plan: an operator joining two reads
# of one table is a self-join, handled by the CLAUDE.md duplicate-name
# discipline (select via frame["col"] into fresh names before any
# expr()); test_scale_plans pins that `join(..., on="key")` stays
# resolvable.
#
# Eviction, on every insert: entries of other applications, and the
# superseded entries of the same (session, path, format, options).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


class _Entry:
    __slots__ = ("spark", "schema", "footer_ts", "frame")

    def __init__(self, spark, schema, footer_ts) -> None:
        self.spark = spark
        self.schema = schema
        self.footer_ts = footer_ts
        self.frame = None


_READ_CACHE: dict[tuple, _Entry] = {}


def _resolve(
    spark: SparkSession, path: str, fmt: str, options: dict
) -> tuple[_Entry, DataFrame | None]:
    """The cache entry for one read, inferring on a miss. Returns the
    frame the inference analyzed on a miss (fresh: use it), None on a
    hit."""
    sig = None if fmt == "delta" else _path_signature(path)
    key = None
    if sig is not None:
        key = (
            spark.sparkContext.applicationId,
            id(spark),
            path,
            fmt,
            tuple(sorted(options.items())),
            tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
            sig,
        )
        entry = _READ_CACHE.get(key)
        # the strong ref pins id(spark) against reuse, so a hit is always
        # this session; the identity check is belt-and-braces
        if entry is not None and entry.spark is spark:
            return entry, None
    df = spark.read.format(fmt).options(**options).load(path)
    footer_ts = _footer_ts_cols(path, sig) if fmt == "parquet" else None
    entry = _Entry(spark, df.schema, footer_ts)
    if key is not None:
        for k in [k for k in _READ_CACHE if k[0] != key[0] or k[1:5] == key[1:5]]:
            del _READ_CACHE[k]
        _READ_CACHE[key] = entry
    return entry, df


def read_cached(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: dict | None = None,
    normalize: bool = False,
    table: str = "?",
) -> DataFrame:
    """Load ``path`` as a freshly analyzed frame, taking its schema from
    the shared read cache when this session has already inferred it for
    the same files and confs (see the contract above). ``normalize``
    applies read_table's timestamp-layout repair with the cached footer
    probe (``table`` names the source in its log line)."""
    options = options or {}
    entry, df = _resolve(spark, path, fmt, options)
    if df is None:
        df = spark.read.format(fmt).options(**options).schema(entry.schema).load(path)
    return _normalize(df, entry.footer_ts, (), table) if normalize else df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one source table; normalizes event-time columns to UTC
    TIMESTAMP whether the file stores ns-int64 or timestamp[us]/NTZ.
    Returns the shared cache's analyzed frame: one plan per (session,
    table, files), reused by every query key.

    Pins the session timezone to UTC: parquet timestamps are UTC
    instants and the DuckDB oracle compares naive-UTC values — a host
    session left on a local timezone would shift every collected
    timestamp and break value comparison."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    entry, df = _resolve(spark, path, "parquet", {})
    if entry.frame is None:
        if df is None:
            df = spark.read.schema(entry.schema).parquet(path)
        entry.frame = _normalize(
            df, entry.footer_ts, _EVENT_TS_COLS.get(name, ()), name
        )
    return entry.frame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the scan produced fewer partitions than the
    cluster has cores (single-row-group local files). At real scale inputs
    already have >= cores partitions and this is a no-op — we never pay an
    all-to-all of a large corpus. Use before CPU-heavy per-row operators
    (shingling, hashing, Pandas UDFs), not scan-bound queries."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        # metadata-only estimate: number of input files lower-bounds the
        # scan partitions. df.rdd.getNumPartitions() would be exact but
        # costs a full plan→RDD conversion (~1 s of driver time per call).
        n = len(df.inputFiles())
    except Exception:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load each parquet table as a DataFrame."""
    return {t: read_table(spark, sf_dir, t) for t in tables}


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load and register each table as a temp view (name = table name)."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
