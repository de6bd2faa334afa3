"""Curated-table catalog: schema-asserted parquet scans (S1).

``scan(spark, sf_dir, table)`` is the single entry point every query
goes through. It:

* applies the required session confs (the driver may hand us a bare
  session — ``spark.sql.legacy.parquet.nanosAsLong`` must be on BEFORE
  the events scan or Spark throws PARQUET_TYPE_ILLEGAL);
* repairs the events ns-timestamp: parquet TIMESTAMP(NANOS) arrives as
  bigint nanos, exposed as both ``ts`` (timestamp_ntz, µs — safe for
  date_trunc/windowing) and ``ts_ns`` (raw bigint — exact integer
  arithmetic that hash-matches DuckDB ``epoch_ns(ts)``);
* asserts the post-repair schema against schemas.EXPECTED so drift in
  fixtures fails loudly instead of corrupting downstream results.

Scale note: a plain ``spark.read.parquet(path)`` keeps predicate
pushdown, column pruning, and partition pruning intact — the repair
uses ``withColumn`` on the scan output, which Catalyst folds into the
projected scan (no extra pass). At 100 TB the same call reads a
date-partitioned directory tree and prunes partitions from filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_log_analysis_spark import schemas
from hadoop_log_analysis_spark.session import configure_session

TABLES: tuple[str, ...] = (
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


def _repair_events(df: DataFrame) -> DataFrame:
    # Fixture generations differ in how events.ts is stored; normalize
    # both to the pinned (ts timestamp_ntz, ts_ns bigint) pair:
    #  * TIMESTAMP(NANOS) parquet + nanosAsLong -> bigint epoch-nanos.
    #    Integer `div` is mandatory: float division of ~1.7e18 loses
    #    precision above 2^53. timestamp_micros gives TimestampType;
    #    with session tz pinned to UTC the cast to timestamp_ntz is an
    #    identity reinterpretation, matching DuckDB's naive reading.
    #  * TIMESTAMP(MICROS) parquet -> timestamp(_ntz) directly; the ns
    #    view is the exact integer µs*1000 (hash-matches DuckDB
    #    epoch_ns(ts), which likewise carries zero sub-µs digits).
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        ts = F.expr("CAST(timestamp_micros(ts div 1000) AS timestamp_ntz)")
        ts_ns = F.col("ts")
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        ts = F.col("ts").cast("timestamp_ntz")
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    else:
        # ADVICE r2: never silently cast an unexpected type (e.g. a
        # string ts would null out unparseable values while still
        # matching schemas.EXPECTED, defeating the drift assertion).
        raise RuntimeError(
            f"events.ts has unsupported parquet type {ts_type}; expected "
            "LongType (TIMESTAMP(NANOS) via nanosAsLong) or Timestamp(NTZ)Type"
        )
    return df.select(
        "event_id",
        ts.alias("ts"),
        ts_ns.cast("long").alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# DataFrame-lineage memo keyed by (session app id, sf_dir, table).
# A DataFrame is an immutable logical plan, so reusing one across
# queries is safe; it skips the per-call parquet footer/schema read
# and schema assertion (~0.1-0.2 s each) — with 153 registry queries
# x 1-3 scans apiece that is most of the driver-verify fixed cost.
# Catalyst still re-optimizes per query, so pushdown/pruning plans
# are identical to a fresh read.
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def scan(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Schema-asserted scan of one curated table under ``sf_dir``."""
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TABLES}")
    configure_session(spark)
    key = (spark.sparkContext.applicationId, sf_dir, table)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        df = _repair_events(df)
    expected = schemas.EXPECTED[table]
    actual_fields = [(f.name, f.dataType) for f in df.schema.fields]
    expected_fields = [(f.name, f.dataType) for f in expected.fields]
    if actual_fields != expected_fields:
        raise RuntimeError(
            f"schema drift for {table}: expected {expected_fields}, got {actual_fields}"
        )
    _SCAN_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register temp views for the SQL entry path (SURVEY.md §3.2.3)."""
    for t in TABLES:
        scan(spark, sf_dir, t).createOrReplaceTempView(t + suffix)


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of one curated table (file or directory) — the
    trusted size input for partitioning.maybe_broadcast.

    Returns -1 ("size unknown — do NOT hint") for any path the local
    os module cannot see: object-store URIs (s3://, hdfs://, ...) or a
    missing path. Returning 0 there would make maybe_broadcast hint
    unconditionally at exactly the scale the policy exists to prevent.
    """
    import os

    if "://" in sf_dir and not sf_dir.startswith("file://"):
        return -1
    path = f"{sf_dir.removeprefix('file://')}/{table}.parquet"
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return -1
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total if total > 0 else -1
