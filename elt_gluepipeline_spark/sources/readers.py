"""Readers (SURVEY.md §2.1 S1-S4, S10).

All readers return plain DataFrames and keep the scan declarative so
Catalyst can push filters/projections into the source (parquet
PushedFilters; JDBC WHERE pushdown). The JDBC paths are written for a
real database but are exercised in tests only where a JDBC driver is
available — the testdata pipeline is parquet-first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver's TPC-H-ish testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Parquet TIMESTAMP(NANOS) columns per table: Spark has no ns timestamp
# type, so these are read as long (nanosAsLong) and normalized to
# microsecond timestamps (truncation — matching a DuckDB
# CAST(ts AS TIMESTAMP) oracle twin).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _set_ts_read_confs(spark: SparkSession, name: str) -> None:
    """Timestamp-layout confs shared by the batch and streaming readers.

    nanosAsLong is runtime-settable and needed because the driver's own
    session won't have it at build time; it only affects columns whose
    parquet footer actually says TIMESTAMP(NANOS). inferTimestampNTZ
    keeps naive parquet timestamps timezone-naive (TIMESTAMP_NTZ) so
    formatted output is session-timezone-independent.
    """
    if NANOS_TS_COLUMNS.get(name, ()):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


def _normalize_nanos(df: DataFrame, name: str) -> DataFrame:
    """Dtype-guarded ns→µs normalization: only rewrites a column that
    actually read as bigint (i.e. the file stores TIMESTAMP(NANOS) and
    nanosAsLong kicked in). Files that store µs timestamps arrive as
    timestamp_ntz and pass through untouched — robust to the testdata
    being regenerated with either encoding."""
    dtypes = dict(df.dtypes)
    for c in NANOS_TS_COLUMNS.get(name, ()):
        if dtypes.get(c) == "bigint":
            # ns → µs as NTZ via pure arithmetic on an NTZ epoch:
            # timezone-independent (timestamp_micros() would build an
            # instant that renders shifted under non-UTC sessions)
            df = df.withColumn(
                c, F.expr(f"timestampadd(MICROSECOND, {c} div 1000, "
                          f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    return df


# Footer-schema cache: spark.read.parquet() launches a small Spark job
# just to read the footer schema, so EVERY plan build paid one job per
# table read (and registering all ~125 queries paid ~200). Caching the
# StructType and passing it explicitly makes plan construction job-free
# after the first touch of each table. The key must capture everything
# the footer→StructType mapping depends on:
#   - a FILE signature, not the top-level mtime: appending a part file
#     inside an existing partition subdirectory does not bump the
#     parent directory's mtime, so a (path, parent-mtime) key served a
#     stale schema across an in-place schema-evolving append. The
#     signature is (leaf count, newest leaf mtime) over a bounded
#     os.walk — driver-side metadata, the same order of cost the
#     footer listing itself pays;
#   - a CONF fingerprint: nanosAsLong / inferTimestampNTZ (set by
#     _set_ts_read_confs) change how a TIMESTAMP(NANOS) footer maps to
#     a Spark type, and the cache is process-global across sessions.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_signature(path: str) -> tuple:
    st = os.stat(path)                       # raises OSError if absent
    if not os.path.isdir(path):
        return (st.st_mtime_ns, 1)
    newest, n = st.st_mtime_ns, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            try:
                m = os.stat(os.path.join(root, f)).st_mtime_ns
            except OSError:
                continue
            if m > newest:
                newest = m
    return (newest, n)


def _conf_fingerprint(spark: SparkSession) -> tuple:
    def get(k):
        try:
            return spark.conf.get(k)
        except Exception:
            return None
    return (get("spark.sql.legacy.parquet.nanosAsLong"),
            get("spark.sql.parquet.inferTimestampNTZ.enabled"))


def _table_schema(spark: SparkSession, path: str, name: str | None = None):
    try:
        fp = _conf_fingerprint(spark)
        if name is not None and not NANOS_TS_COLUMNS.get(name, ()):
            # nanosAsLong only changes how a TIMESTAMP(NANOS) footer
            # maps to a Spark type; for tables with no nanos-capable
            # column the conf can't affect the schema, so mask it out
            # of the key — otherwise reading `events` (which sets the
            # conf) invalidates every earlier table's cached footer
            # and each re-read pays a second schema job.
            fp = (None,) + fp[1:]
        key = (path, _path_signature(path), fp)
    except OSError:
        return spark.read.parquet(path).schema
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def _table_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return os.stat(path).st_size
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                continue
    return total


def _size_to_bytes(s: str) -> int:
    s = s.strip().lower()
    for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suf):
            return int(float(s[:-1])) * mult
    return int(s)


def spread_if_narrow(spark: SparkSession, df: DataFrame,
                     path: str) -> DataFrame:
    """Fan a NARROW scan out to the cluster's cores (guide §2.5 "input
    skew: one huge unsplittable file ... repartition immediately after
    the read").

    The driver testdata ships each table as ONE single-row-group
    parquet file, so every scan is exactly one task and the whole
    first stage of a query — shingling HOFs, per-row Python synthesis,
    partial aggregation — runs single-threaded while the other cores
    idle. The condition is derived from INPUT SIZE, not tuned to the
    local core count: estimated scan tasks = on-disk bytes /
    spark.sql.files.maxPartitionBytes; only when that is below
    defaultParallelism does a round-robin repartition fire. On a real
    100 TB table the estimate is thousands of tasks, so this is
    provably a no-op at scale — it exists for the long tail of small
    inputs (dimension feeds, single-file drops) that otherwise
    serialize their first stage. Filters/projections still reach the
    scan: Catalyst pushes both through a Repartition node, so
    PushedFilters/ReadSchema are unchanged (plan-checked in
    tests/test_readers_spread.py).
    """
    try:
        nbytes = _table_bytes(path)
    except OSError:
        return df
    try:
        maxpb = _size_to_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    except Exception:
        maxpb = 128 << 20
    est_tasks = max(1, -(-nbytes // max(1, maxpb)))
    cores = spark.sparkContext.defaultParallelism
    if est_tasks < cores:
        return df.repartition(cores)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str, *,
               spread: bool = False) -> DataFrame:
    """Read one testdata table, e.g. read_table(spark, '/root/testdata/sf0.01', 'lineitem').

    ``spread=True`` applies :func:`spread_if_narrow` — callers whose
    first stage does real per-row work (shingling, Python synthesis,
    wide partial aggregation) opt in so a single-file input doesn't
    serialize that stage; trivially-cheap scan→agg paths leave it off
    and keep their single-stage plan.
    """
    _set_ts_read_confs(spark, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_table_schema(spark, path, name)).parquet(path)
    df = _normalize_nanos(df, name)
    if spread:
        df = spread_if_narrow(spark, df, path)
    return df


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of read_table: file-source stream over one
    testdata table with the SAME timestamp normalization.

    File streams require an explicit schema; taking it from the batch
    parquet footer (under the same confs) instead of hard-coding one
    makes the stream robust to the timestamp encoding of the files —
    a hard-coded ``ts long`` schema silently misreads µs-encoded
    timestamps as raw longs (q29, q35 and q48 return wrong answers).
    Event-time columns come out TIMESTAMP_NTZ; use ntz_to_instant()
    where the plan needs watermarks (which reject NTZ).
    """
    _set_ts_read_confs(spark, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _table_schema(spark, path, name)
    if os.path.isdir(path):
        # directory-layout table (Spark-written part files): stream the
        # folder directly. A pathGlobFilter of "<name>.parquet" would
        # match ZERO leaf files here (they're part-*.parquet) and
        # silently stream nothing — the bug a 4× scale check surfaced.
        src = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file table (driver testdata layout): file-source
        # streams want a directory, so stream the parent glob-filtered
        # to the one file
        src = (spark.readStream.schema(schema)
                    .option("pathGlobFilter", f"{name}.parquet")
                    .parquet(sf_dir))
    return _normalize_nanos(src, name)


def ntz_micros(col: str) -> F.Column:
    """Epoch microseconds of an NTZ timestamp via pure NTZ arithmetic
    (timezone-independent on both engines)."""
    return F.expr(f"timestampdiff(MICROSECOND, "
                  f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


def ntz_to_instant(col: str) -> F.Column:
    """NTZ wall-time (interpreted as UTC) → instant TIMESTAMP, for
    plans that need watermarks/stream-stream joins (which reject NTZ).
    Downstream outputs should extract unix_micros rather than format,
    so results stay session-timezone-independent."""
    return F.timestamp_micros(ntz_micros(col))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load several tables and register each as a temp view (so every
    declared query also runs via spark.sql — SURVEY.md §7.1 engine/sql)."""
    out: dict[str, DataFrame] = {}
    for n in names:
        df = read_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def read_csv(spark: SparkSession, path: str, *, infer: bool = False,
             schema=None) -> DataFrame:
    """S4: CSV scan. Default is typed-as-string (matching the loader's
    ``dtype=str`` read, rds/load_to_sqlserver.py:270); pass infer=True
    for Spark's sampler or an explicit schema for a contract."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_csv_tolerant(spark: SparkSession, path: str, schema,
                      *, corrupt_col: str = "_corrupt_record"
                      ) -> tuple[DataFrame, DataFrame]:
    """S4 with the loader's error-tolerance semantics: the reference
    inserts row batches with a per-row fallback that quarantines rows
    the target rejects (rds/load_to_sqlserver.py:224-264). The Spark
    analog runs the scan in PERMISSIVE mode against the typed
    contract: rows that parse land typed, rows that don't carry their
    raw line in ``corrupt_col``.

    Returns (clean, quarantine): ``clean`` has the contract schema,
    ``quarantine`` is ``(corrupt_col)`` raw lines for the dead-letter
    sink. One scan feeds both via the cached parse (Spark requires the
    corrupt column to be materialized before filtering on it — the
    cache also keeps the split consistent, not two reads racing a
    changing file).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(list(schema.fields)
                      + [StructField(corrupt_col, StringType(), True)])
    from ..operators._cache import register_cache
    df = register_cache(
        spark.read.option("header", True)
             .option("mode", "PERMISSIVE")
             .option("columnNameOfCorruptRecord", corrupt_col)
             .schema(full).csv(path))
    df.count()  # materialize the corrupt column before filtering on it
    clean = (df.filter(F.col(corrupt_col).isNull())
               .select(*[f.name for f in schema.fields]))
    quarantine = (df.filter(F.col(corrupt_col).isNotNull())
                    .select(corrupt_col))
    return clean, quarantine


def read_jdbc_table(spark: SparkSession, url: str, table: str,
                    properties: dict[str, str] | None = None,
                    partition_column: str | None = None,
                    num_partitions: int = 8,
                    lower_bound=None, upper_bound=None) -> DataFrame:
    """S1: full JDBC table scan (reference: scripts/go-ingest-elt.py:30-45).

    At scale, pass partition_column/bounds so the read parallelizes
    across executors instead of a single connection.
    """
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound)))
    return reader.load()


def sql_literal(value) -> str:
    """Render a bookmark value as a TYPED ANSI-SQL literal.

    Strict databases reject comparing a numeric/timestamp column to a
    quoted string (and silently mis-collate dates), so the watermark
    predicate must carry the value's own type: numbers render bare,
    datetimes/dates as JDBC escape literals ``{ts '...'}`` / ``{d
    '...'}`` (every JDBC driver translates these to its engine's
    native form — more portable than ANSI TIMESTAMP '...', which e.g.
    Derby rejects), strings quoted with '' escaping.
    """
    import datetime as _dt
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, _dt.datetime):
        # FULL microsecond precision: truncating the bookmark would
        # re-match already-ingested rows inside the truncated window on
        # the next pull (the duplicate-ingest bug watermarks prevent)
        return "{ts '%s'}" % value.strftime('%Y-%m-%d %H:%M:%S.%f')
    if isinstance(value, _dt.date):
        return "{d '%s'}" % value.isoformat()
    escaped = str(value).replace("'", "''")
    return f"'{escaped}'"


def read_jdbc_incremental(spark: SparkSession, url: str, table: str,
                          watermark_column: str, last_value,
                          properties: dict[str, str] | None = None) -> DataFrame:
    """S2/T1: high-watermark pushdown scan (reference:
    go-incremental-ingest-elt.py:162-195). The predicate is evaluated in
    the source database, not in Spark — bookmark values live outside the
    plan, so the explicit query form is the right call (SURVEY.md §4).
    The bookmark renders as a typed literal (sql_literal), not a quoted
    string — strict databases reject string-vs-numeric comparisons.
    """
    if last_value is None:
        query = f"SELECT * FROM {table}"
    else:
        query = (f"SELECT * FROM {table} "
                 f"WHERE {watermark_column} > {sql_literal(last_value)}")
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("query", query))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
