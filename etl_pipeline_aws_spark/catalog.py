"""Table catalog over the driver's Parquet zones.

The reference keeps data as S3 objects in a landing/transformed bucket pair
(``/root/reference/infra/index.ts:35,50``); the engine's curated storage is
columnar Parquet with a fixed schema per table (SURVEY.md §1.4).  A *zone* is
just a directory (locally) or an ``s3a://bucket/prefix`` (on a cluster) —
``spark.read.parquet`` handles both identically.

At 100 TB each logical table is a partitioned directory of Parquet files, not
one file; ``load_table`` takes whatever path layout sits under ``sf_dir`` and
lets the DataSource enumerate splits, so the same call works for the driver's
single-file tables and a 10k-file production table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 rows always; supplier/part/customer grow with sf
# but stay orders of magnitude under the fact tables).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Schema cache, keyed by resolved parquet path (r11, guide §1.2 "per-task
# work" applied to the DRIVER): every spark.read.parquet() re-infers the
# schema from file footers — ~70 ms per table locally, and SQL-spelled
# operators then opened all 10 tables per build, ~1.05 s of pure
# driver-side footer I/O per query (measured; a 684-query sweep re-read
# the same immutable footers thousands of times).  The canonical tables
# are immutable per sf_dir for a session's lifetime, so the inferred
# schema is cached per path and handed to the reader explicitly — the
# scan itself (pushdown, pruning, row-group skipping) is unchanged.
_SCHEMA_CACHE: dict[str, object] = {}


def _table_schema(spark: SparkSession, path: str):
    if path not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Columnar Parquet scan => Catalyst gets predicate
    pushdown, column pruning, and row-group skipping for free."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timezone is NOT set here: a per-table reader must not mutate session
    # state a caller may have deliberately configured.  UTC (required for
    # the oracle comparison — DuckDB timestamps are UTC-naive) is pinned
    # where sessions are BUILT (session.py) and at the driver boundary
    # (__spark_entry__ wraps every query for vanilla driver sessions).
    if name == "events":
        return _load_events(spark, sf_dir)
    path = table_path(sf_dir, name)
    return spark.read.schema(_table_schema(spark, path)).parquet(path)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-adaptive events reader.  The physical type of ``events.ts`` is a
    property of whoever wrote the file, not of this engine, and it has
    already changed once across testdata generations: TIMESTAMP(NANOS)
    (which Spark's reader rejects outright without the legacy nanos-as-long
    conf) and later TIMESTAMP(MICROS) with isAdjustedToUTC=false (which
    surfaces as TIMESTAMP_NTZ).  Rather than hardcoding either generation,
    normalize whatever arrives via ``normalize_events_ts`` — every
    downstream consumer then sees one stable session-TZ TIMESTAMP.  The
    nanos shim itself is session config, pinned where sessions are built
    (session.py) and at the driver boundary (__spark_entry__._with_utc) —
    NOT here, honoring load_table's no-session-mutation contract."""
    path = table_path(sf_dir, "events")
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    return normalize_events_ts(df)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events ``ts`` column to session-TZ TIMESTAMP regardless
    of the writer's physical choice:

    - ``bigint`` — TIMESTAMP(NANOS) surfaced as long nanos under the legacy
      conf; truncate to microseconds with exact *integer* division
      (``ts div 1000``, matching DuckDB's ns→µs truncation — a double
      division would silently lose µs precision at 1.7e18 ns).
    - ``timestamp_ntz`` — MICROS, isAdjustedToUTC=false.  The session TZ is
      pinned UTC (session.py; __spark_entry__ pins it for vanilla driver
      sessions), so the NTZ→TIMESTAMP cast reinterprets the naive micros as
      the same UTC instant, byte-identical to what DuckDB reads.
    - ``timestamp`` — MICROS/UTC-adjusted; already the target type.

    Functions like ``unix_micros``, windowed aggs, and stream watermarks
    all accept the normalized column; without this, each type flip breaks
    every ts consumer at once (round 2's headline defect)."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def cpu_parallel(df: DataFrame) -> DataFrame:
    """Decouple parallelism from input-split count for CPU-dense narrow
    transforms (shingling, signature hashing, vector math, pandas UDFs).

    Parquet splits at row-group granularity, so a table written as one
    row group scans as ONE task no matter how many cores the cluster has
    — the driver's testdata tables are exactly that shape, and small hot
    tables on a real cluster can be too.  When the scan's parallelism is
    already >= the cluster's (every multi-file table at 100 TB: scans
    there yield orders of magnitude more splits than cores), this is a
    no-op and costs nothing.  Only below that does it round-robin
    repartition — paying one narrow-input shuffle to light up every core,
    which is the right trade precisely when per-row CPU dominates row
    movement."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def bare_tables(sql: str) -> str:
    """Render a SQL text shared with the DuckDB oracle for the oracle side.

    Engine SQL names its inputs with ``{orders}``-style placeholders that
    ``spark.sql(text, orders=load_table(...))`` binds per call, so no
    query reads a session-global view another query can re-point.  The
    oracle's DuckDB connection has one view per canonical table, so its
    copy of a shared text names them bare.  Call this where the oracle
    text is defined: DuckDB-only oracle texts may hold struct-literal
    braces that ``str.format`` would misread."""
    return sql.format(**{name: name for name in TABLES})


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every canonical table as a session temp view under its
    own name.  No engine query reads these views: SQL binds its inputs
    per call (``bare_tables``).  Kept because the benchmark's traced mode
    (``perfbench/layertrace.install_wrappers``) wraps it by name."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
