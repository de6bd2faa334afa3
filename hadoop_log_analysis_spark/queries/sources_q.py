"""Source & sink operators S1-S6 (SURVEY.md §2.1).

Roundtrip queries derive a raw file (text log / CSV / JSON / parquet)
from a fixture table, read it back through the corresponding source,
and aggregate — the oracle computes the same aggregate straight from
the parquet view, so the roundtrip itself is what's verified.
Each query writes its derived files into its own per-application
scratch directory (``scratch.run_dir``), overwritten on every call; only
the app-log text files read through the Python DataSource are cached
per input (``sources.logs.app_log_dir``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_log_analysis_spark.functions import money, money_sum
from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.scratch import run_dir
from hadoop_log_analysis_spark.sources.catalog import scan
from hadoop_log_analysis_spark.sources.logs import (
    app_log_dir,
    parse_app_log,
    read_text_logs,
    write_app_log,
)
from hadoop_log_analysis_spark.sources.sinks import read_back, write_partitioned


@query(
    "q_scan_identity",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    tags=("S1",),
)
def q_scan_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: schema-asserted parquet scan, identity projection."""
    return scan(spark, sf_dir, "region").orderBy("r_regionkey")


@query(
    "q_log_parse",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S2", "S3"),
)
def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3: write events as raw pipe-delimited log lines (plus
    injected malformed lines), re-read with spark.read.text, regex-parse
    back to typed columns dropping the malformed, aggregate. The oracle
    computes the same aggregate from the original parquet — verifying
    the full text roundtrip + parse."""
    path = run_dir(spark, "textlog", sf_dir)
    write_app_log(spark, sf_dir, path)
    parsed = parse_app_log(read_text_logs(spark, path))
    return (
        parsed.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("users"))
        .orderBy("event_type")
    )


@query(
    "q_csv_roundtrip",
    oracle="""
        SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("S4",),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: CSV sink + header/schema CSV source roundtrip."""
    path = run_dir(spark, "csv", sf_dir)
    orders = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.coalesce(4).write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), money_sum("o_totalprice").alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "q_json_roundtrip",
    oracle="""
        SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS uid_sum
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S5",),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: JSON-lines sink + source roundtrip."""
    path = run_dir(spark, "json", sf_dir)
    events = scan(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    events.coalesce(4).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("uid_sum"))
        .orderBy("event_type")
    )


@query(
    "q_parquet_sink_partitioned",
    oracle="""
        SELECT date_trunc('day', ts) AS d, count(*) AS n
        FROM events
        WHERE event_type = 'error'
        GROUP BY d
        ORDER BY d
    """,
    tags=("S6",),
)
def q_parquet_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: event_type-partitioned parquet sink; the read-back filter on
    the partition column prunes to the error/ directory only (partition
    pruning is asserted in tests/test_plans.py)."""
    path = run_dir(spark, "parquet_part", sf_dir)
    events = scan(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    write_partitioned(events, path, ["event_type"])
    # schema passed so an all-empty write (no partition dirs) reads
    # back as a normal empty table instead of failing inference
    back = read_back(spark, path, schema=events.schema)
    return (
        back.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count("*").alias("n"))
        .orderBy("d")
    )


@query(
    "q_orc_roundtrip",
    oracle="""
        SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S6", "S1"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+: ORC sink + source roundtrip (the second columnar format).

    Same verification trick as the CSV/JSON roundtrips: the oracle
    aggregates the original parquet, so a lossless ORC write+read is
    exactly what's being checked (including TIMESTAMP_NTZ handling).
    ORC shares parquet's scan features (pushdown, column pruning,
    vectorized reader) — at scale it's a drop-in layout choice.
    """
    path = run_dir(spark, "orc", sf_dir)
    events = scan(spark, sf_dir, "events").drop("ts_ns")
    events.coalesce(4).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), money_sum("value").alias("total"))
        .orderBy("event_type")
    )


@query(
    "q_incremental_overwrite",
    oracle="""
        SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("S6", "incremental"),
)
def q_incremental_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+: dynamic partition overwrite — the incremental-reprocess idiom.

    A stale snapshot (status-'O' partition zeroed) is written
    partitioned by status; then ONLY the 'O' partition is rewritten
    with correct rows under
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` — static mode
    would truncate the whole table. The read-back aggregate matches the
    source-of-truth oracle only if untouched partitions survived and
    the stale partition was fully replaced. This is how a daily
    pipeline repairs one day of a 100 TB date-partitioned table
    without touching the other 364.
    """
    path = run_dir(spark, "dyn_overwrite", sf_dir)
    orders = scan(spark, sf_dir, "orders")
    stale = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "O", F.lit(0.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    stale.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            orders.filter(F.col("o_orderstatus") == "O")
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    back = spark.read.schema(orders.schema).parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_compact_small_files",
    oracle="""
        SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S6", "compaction"),
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: a deliberately fragmented copy of the
    events table (64 tiny parquet files — the classic streaming-sink
    pathology) is rewritten to ~16 MB-target files sized from the
    MEASURED input bytes, then verified lossless: the post-compaction
    rollup must hash-match the original table.

    This is the maintenance job that keeps a 100 TB lake scannable —
    at scale the same logic sizes output partitions as
    total_bytes / 256 MB; file-count reduction itself is asserted in
    tests (file counts are engine-side facts DuckDB cannot see).
    """
    import glob

    src = run_dir(spark, "small_files", sf_dir)
    dst = run_dir(spark, "compacted", sf_dir)
    target_bytes = 16 << 20
    ev = scan(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(64).write.mode("overwrite").parquet(src)
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(src, "*.parquet"))
    )
    n_out = max(1, -(-total // target_bytes))  # ceil division
    spark.read.parquet(src).repartition(n_out).write.mode("overwrite").parquet(
        dst
    )
    return (
        spark.read.parquet(dst)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            money_sum("value").alias("total"),
        )
        .orderBy("event_type")
    )


@query(
    "q_xml_roundtrip",
    oracle="""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("S4", "S6", "xml"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+: XML sink + source roundtrip (Spark 4 native XML, the
    third self-describing text format after CSV/JSON) — write orders
    as <row> elements, read back with an EXPLICIT schema (schema
    inference over XML is a full extra pass at 100 TB), aggregate,
    and hash-match the original table.
    """
    path = run_dir(spark, "xml", sf_dir)
    orders = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .option("rowTag", "order")
        .load(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


# Deterministic garbage injected into the JSON drop for the PERMISSIVE
# malformed-record test: every line here must fail JSON parsing.
_CORRUPT_LINES = (
    "{oops",
    "not json at all",
    "[1, 2",
    '{"event_id": }',
    "<xml>nope</xml>",
    '{"unterminated": "str',
    "}{",
)


@query(
    "q_json_malformed",
    oracle=f"""
        SELECT event_type AS kind, count(*) AS n
        FROM events
        GROUP BY kind
        UNION ALL
        SELECT '_corrupt' AS kind, {len(_CORRUPT_LINES)} AS n
        ORDER BY kind
    """,
    tags=("S5", "S3", "robustness"),
)
def q_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+: malformed-record routing on the JSON source. The events
    table is written as JSON lines plus a file of deliberately broken
    lines; the read uses PERMISSIVE mode with a _corrupt_record
    column, so bad lines are ROUTED (counted under '_corrupt'), never
    dropped silently and never fatal — the production posture for
    100 TB of third-party logs. Valid counts must equal the batch
    table; corrupt count must equal exactly the injected lines.
    """
    path = run_dir(spark, "json_malformed", sf_dir)
    events = scan(spark, sf_dir, "events").select("event_id", "event_type")
    events.write.mode("overwrite").json(path)
    with open(os.path.join(path, "zz-garbage.json"), "w") as fh:
        fh.write("\n".join(_CORRUPT_LINES) + "\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        back.select(
            F.when(
                F.col("_corrupt_record").isNotNull(), F.lit("_corrupt")
            )
            .otherwise(F.col("event_type"))
            .alias("kind")
        )
        .groupBy("kind")
        .agg(F.count("*").alias("n"))
        .orderBy("kind")
    )


@query(
    "q_python_datasource",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS sum_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S2", "S3", "datasource"),
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 via the Spark 4 custom Python DataSource API
    (sources/pydatasource.py): the app-log text files are read through
    ``spark.read.format("applog")`` — a registered DataSource whose
    reader plans one InputPartition per file driver-side and parses /
    drops malformed lines executor-side — then aggregated per type
    including a typed JSON field sum. The oracle computes the same
    result from the original parquet, verifying the whole custom-
    source roundtrip (write -> plan -> parallel Python read -> typed
    parse -> agg). Demonstrates the extension point for formats Spark
    lacks a native reader for; the native q_log_parse twin is the
    faster path when one exists.
    """
    from hadoop_log_analysis_spark.sources.pydatasource import AppLogDataSource

    path = app_log_dir(spark, sf_dir)
    try:
        spark.dataSource.register(AppLogDataSource)
    except Exception:
        pass  # already registered in this session
    logs = spark.read.format("applog").option("path", path).load()
    return (
        logs.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.sum(
                F.get_json_object("props", "$.k").cast("bigint")
            ).alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_binaryfile_ingest",
    oracle="""
        -- Closed-form twin of the real ingest: files are written from
        -- attach_synthetic_binary payloads (REAL PNG/JPEG headers +
        -- utf-8 text body), re-read via Spark's binaryFile source, and
        -- header-decoded; DuckDB predicts every field from doc_id.
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS fmt,
               count(*) AS n_files,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS body_bytes,
               sum((doc_id % 16 + 1) * 64) * 1.0 / count(*) AS avg_w,
               sum((doc_id % 9 + 1) * 64) * 1.0 / count(*) AS avg_h
        FROM documents
        WHERE doc_id < 200
        GROUP BY fmt
        ORDER BY fmt
    """,
    tags=("S1", "L6", "binaryfile"),
)
def q_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S+: ``binaryFile`` source — the ingest path for raw media
    assets sitting in an object store as one file per item (the shape
    every multimodal corpus starts in, before anyone parquet-packs
    it). First 200 payloads are materialized as real .png/.jpg files
    (written EXECUTOR-side via mapInPandas — the distributed write a
    real exporter uses, no driver collect), re-read with
    ``spark.read.format("binaryFile")``, and the (path, content) rows
    are header-decoded with the same struct parser as
    q_multimodal_features.

    Scale notes: binaryFile scans parallelize per-file and prune the
    ``content`` column when untouched; the pathGlobFilter pushdown
    selects by extension without opening files. The one-file-per-item
    layout is exactly what S6's compaction exists to fix downstream —
    this query is the FIRST hop of that pipeline, not the steady
    state.
    """
    import glob as _glob

    from hadoop_log_analysis_spark.operators.multimodal import (
        attach_synthetic_binary,
        decode_features,
    )

    out_dir = run_dir(spark, "binaryfiles", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    docs = scan(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    payloads = attach_synthetic_binary(docs).select(
        "doc_id",
        "payload",
        F.when(F.col("doc_id") % 2 == 0, "png").otherwise("jpg").alias("ext"),
    )

    def _write_files(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                path = os.path.join(
                    out_dir, f"doc_{int(row['doc_id']):06d}.{row['ext']}"
                )
                with open(path, "wb") as fh:
                    fh.write(bytes(row["payload"]))
            yield pd.DataFrame({"n": [len(pdf)]})

    # Idempotent re-derive: clear stale files, then distributed write.
    for stale in _glob.glob(os.path.join(out_dir, "doc_*")):
        os.remove(stale)
    payloads.repartition(8).mapInPandas(_write_files, "n long").agg(
        F.sum("n")
    ).collect()

    binfiles = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*")
        .load(out_dir)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    feats = decode_features(binfiles)
    return (
        feats.groupBy("fmt")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_bytes").alias("body_bytes"),
            (F.sum("width") * F.lit(1.0) / F.count("*")).alias("avg_w"),
            (F.sum("height") * F.lit(1.0) / F.count("*")).alias("avg_h"),
        )
        .orderBy("fmt")
    )


@query(
    "q_schema_evolution_read",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              AND value IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_with_value,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE 0 END) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S1", "S6", "evolution"),
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+/S6+: schema evolution on a parquet lake — an early batch was
    written WITHOUT the ``value`` column, a later batch WITH it; a
    ``mergeSchema`` read unions the file schemas (the missing column
    nulls out for old files) and downstream aggregation works
    unchanged. This is the ingest reality of any long-lived log lake:
    producers add columns mid-stream and the engine must read the
    union without rewriting history.

    The batches are derived deterministically from the events fixture
    (split at 2024-01-16, the PSI cut) into ``batch=1``/``batch=2``
    partition dirs, so the oracle can replicate the same accounting
    straight off the events table: rows from the pre-cut batch have no
    value (count 0 / sum 0), post-cut rows carry theirs.

    Scale note: mergeSchema=true footer-merges EVERY file's schema at
    planning time — fine per-directory here; at 100 TB pin the merged
    schema in a table catalog (or read with an explicit schema) and
    keep mergeSchema for the backfill jobs that actually need it.
    """
    cut = F.lit("2024-01-16").cast("timestamp")
    out_dir = run_dir(spark, "schema_evo", sf_dir)
    ev = scan(spark, sf_dir, "events")
    (
        ev.filter(F.col("ts") < cut)
        .select("event_id", "event_type")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "batch=1"))
    )
    (
        ev.filter(F.col("ts") >= cut)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "batch=2"))
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out_dir)
        .parquet(
            os.path.join(out_dir, "batch=1"), os.path.join(out_dir, "batch=2")
        )
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.count("value").cast("long").alias("n_with_value"),
            F.coalesce(
                money_sum("value"), F.lit(0.0)
            ).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "q_dynamic_partition_pruning",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-15' AND DATE '2024-01-21'
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S1", "S6", "J1", "pruning"),
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) over a date-partitioned lake:
    the fact table is laid out as ``event_date=YYYY-MM-DD/`` parquet
    partitions; a calendar DIM (also parquet, so the filter is not a
    static literal the planner could fold) selects one week; the join
    makes Spark inject a runtime ``dynamicpruning`` subquery into the
    fact scan, so only the 7 matching partition directories are read —
    the other ~24 days of files are never opened.

    This is THE scan-side win for star-schema joins at 100 TB: a
    static filter can only prune what the query text names, DPP prunes
    from the dim's runtime rows (here the calendar week; in production
    "current fiscal period" or "active tenants"). The plan assertion
    lives in tests/test_plans.py (``dynamicpruning`` present in the
    fact scan's PartitionFilters). The oracle computes the same week's
    aggregate straight off the events table — verifying that pruning
    changed I/O, not results.
    """
    out_dir = run_dir(spark, "dpp_events", sf_dir)
    dim_dir = run_dir(spark, "dpp_dates", sf_dir)
    ev = scan(spark, sf_dir, "events")
    (
        ev.select(
            "event_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )
    # Calendar dim: (event_date DATE, period tag). Two DPP-enabling
    # details, both load-bearing (empirically — each alone kills the
    # pruning): the dim key must be DATE so it matches the inferred
    # partition-column type WITHOUT a cast (a cast around the
    # partition attribute defeats extraction), and the dim filter must
    # be a comparison Spark's isLikelySelective accepts — a bare
    # boolean attribute (`WHERE in_week`) does NOT qualify and the
    # rule silently skips insertion.
    (
        ev.select(F.to_date("ts").alias("event_date"))
        .distinct()
        .withColumn(
            "period",
            F.when(
                (F.col("event_date") >= F.lit("2024-01-15").cast("date"))
                & (F.col("event_date") <= F.lit("2024-01-21").cast("date")),
                "wk3",
            ).otherwise("other"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    # Explicit schema: an all-empty write leaves no partition dirs and
    # schema inference fails (q_parquet_sink_partitioned precedent).
    fact_schema = (
        "event_id long, event_type string, value double, event_date date"
    )
    fact = spark.read.schema(fact_schema).parquet(out_dir)
    dim = (
        spark.read.schema("event_date date, period string")
        .parquet(dim_dir)
        .filter(F.col("period") == "wk3")
        .select("event_date")
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            money_sum("value").alias("total"),
        )
        .orderBy("event_type")
    )


@query(
    "q_wap_audit_publish",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               sum(n_chars) * 1.0 / count(*) AS avg_chars,
               TRUE AS audit_passed
        FROM documents
        WHERE n_chars >= 100
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("S6", "governance", "pipeline"),
)
def q_wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (WAP): the production pattern for getting
    curated data into a lake WITHOUT readers ever seeing a bad batch.
    The cleaned corpus (length gate) is (1) WRITTEN to a staging dir
    no consumer reads, (2) AUDITED there — row count > 0, zero NULL
    texts, length floor actually holds — with ONE bounded-row
    aggregate, and (3) PUBLISHED via directory rename only if the
    audit passes (a failed audit raises and leaves the published
    location untouched). The returned report reads from the PUBLISHED
    path, proving consumers see post-audit data only.

    Scale notes: the audit is a single scalar-row aggregate over the
    staged batch (no second pipeline); the publish step is a metadata
    operation (rename), not a rewrite — the same atomicity contract a
    table format (Iceberg/Delta snapshot commit) provides, expressed
    on plain directories. Dirs are per application
    (``scratch.run_dir``) so concurrent sessions stage/publish
    independently.
    """
    import shutil

    stage_dir = run_dir(spark, "wap_stage", sf_dir)
    pub_dir = run_dir(spark, "wap_published", sf_dir)
    cleaned = (
        scan(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 100)
        .select("doc_id", "text", "lang", "n_chars")
    )
    cleaned.write.mode("overwrite").parquet(stage_dir)

    staged = spark.read.parquet(stage_dir)
    audit = staged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
        F.min("n_chars").alias("min_chars"),
    ).collect()[0]
    # An empty batch is a publishable quiet day (repo-wide empty-input
    # contract); the audit REJECTS only a non-empty batch that breaks
    # an invariant.
    if audit.n > 0 and not (audit.null_texts == 0 and audit.min_chars >= 100):
        raise ValueError(f"WAP audit failed, not publishing: {audit}")

    if os.path.exists(pub_dir):
        shutil.rmtree(pub_dir)
    os.rename(stage_dir, pub_dir)

    return (
        spark.read.parquet(pub_dir)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.sum("n_chars") * F.lit(1.0) / F.count("*")).alias(
                "avg_chars"
            ),
        )
        .withColumn("audit_passed", F.lit(True))
        .orderBy("lang")
    )


@query(
    "q_gdpr_erasure",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        WHERE user_id % 17 <> 3
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S6", "governance", "compliance"),
)
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure on a partitioned lake: delete a
    set of user ids (the deterministic `user_id % 17 == 3` cohort —
    the "erasure request batch") by REWRITING ONLY the partitions
    that contain them, leaving every other partition's files
    untouched. On an event_date-partitioned month that still touches
    most partitions (active users span days), so the demonstration
    partitions by user bucket (`u_bkt = user_id % 8`) — the layout a
    lake that expects erasure SHOULD choose, because then a delete
    cohort maps to a bounded partition subset and the rewrite I/O is
    |affected buckets| / |buckets|, not the table.

    Flow: (1) derive the bucketed lake (session-unique dir); (2) find
    affected buckets from the erasure set (one distinct over the
    broadcast-joined ids — computed from data, never assumed; a small
    erasure batch touches few buckets, this month-wide cohort happens
    to touch all 8, and the rewrite is bounded either way); (3) rewrite only
    those partition dirs with the ids anti-joined out (dynamic
    partition overwrite, the q_incremental_overwrite machinery);
    (4) read the whole lake back and aggregate — the oracle computes
    the same accounting straight off events WITH the ids filtered,
    so the join of [untouched partitions + rewritten partitions]
    proves the rewrite deleted exactly the cohort and nothing else.
    """
    lake = run_dir(spark, "gdpr_lake", sf_dir)
    ev = scan(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        (F.col("user_id") % 8).alias("u_bkt"),
    )
    ev.write.mode("overwrite").partitionBy("u_bkt").parquet(lake)

    erase = ev.filter(F.col("user_id") % 17 == 3).select("user_id").distinct()
    affected = [
        r.u_bkt
        for r in ev.join(F.broadcast(erase), "user_id")
        .select("u_bkt")
        .distinct()
        .collect()
    ]
    schema = "event_id long, user_id long, event_type string, value double, u_bkt long"
    if affected:
        lake_df = spark.read.schema(schema).parquet(lake)
        rewritten = (
            lake_df.filter(F.col("u_bkt").isin(affected))
            .join(F.broadcast(erase), "user_id", "left_anti")
        )
        old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                rewritten.select(
                    "event_id", "user_id", "event_type", "value", "u_bkt"
                )
                .write.mode("overwrite")
                .partitionBy("u_bkt")
                .parquet(lake)
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", old_mode
            )
    return (
        spark.read.schema(schema)
        .parquet(lake)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )
