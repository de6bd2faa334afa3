"""SparkSession factory and session repair.

Two entry paths:

* ``get_spark()`` — build a session ourselves (tests, bench.py).
* ``configure_session(spark)`` — the driver hands us ITS session
  (``__spark_entry__.entry(spark)``); we must set the confs we depend
  on at runtime. All confs used here are dynamic SQL confs (verified:
  setting ``spark.sql.legacy.parquet.nanosAsLong`` after session
  creation makes events.parquet readable — SURVEY.md §1.3).

Scale posture (100 TB / 1000 executors): everything below is also
correct on a real cluster — AQE handles skew-join splitting and
shuffle-partition coalescing at runtime; ``shuffle.partitions`` is a
ceiling AQE coalesces down from, so on a cluster set it to ~2-3x total
cores (e.g. 8000 for 1000 executors x 4 cores) instead of the local
default below.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The checkout root, which holds the package: Python workers import it
# from here whatever directory the driver was started in.
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Dynamic SQL confs this engine requires regardless of who built the session.
REQUIRED_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4.x cannot read
    # natively; this reads it as bigint nanos, repaired in sources.catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics: fixtures are tz-naive; DuckDB
    # treats them naively. UTC makes TimestampType<->NTZ casts identity.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: skew-join splitting, shuffle coalescing,
    # dynamic broadcast conversion. Core of the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / applyInPandas / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required dynamic confs to an externally-built session."""
    for key, value in REQUIRED_CONFS.items():
        spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "hadoop-log-analysis-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session for local runs (tests / bench).

    The master is ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at fixture
    scale AQE coalesces below it anyway. Python workers get the
    checkout on their ``PYTHONPATH``, so a UDF that imports the
    package runs from any working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        # Progress bars write \r-terminated frames to stdout; they merged
        # into bench.py's JSON line in r4 (BENCH_r04.json parsed: null).
        # Machine-read stdout must stay clean (VERDICT r4 "weak" #2).
        # STATIC conf: only effective when this builder creates the
        # context — a pre-existing SparkContext keeps its progress bar
        # (it cannot be disabled post-creation), which is why bench.py
        # additionally prints its JSON on a fresh line after stop().
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("HLA_DRIVER_MEM", "8g"))
        # STATIC: read when the context starts, like the progress bar
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT)
        # Local-scale parallelism (measured, BASELINE.md methodology):
        # fixture files are ~1-30 MB, far under the 128 MB split default,
        # so scans would run single-task; 16 MB splits fan them out, and
        # a 4 MB AQE advisory stops coalescing from serializing the tiny
        # post-shuffle stages (sessionize 2.1s -> 1.05s, join5 -> 1.24s).
        # On a real cluster at 100 TB keep the 128 MB / 64 MB defaults —
        # these two are local-mode knobs only.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        # Local-mode shuffle is in-process; keep broadcast threshold default
        # (10 MB) — all dims (region/nation/customer/supplier/part at test
        # SFs) fall under it, exercising the same plan shape as production.
    )
    for key, value in REQUIRED_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session whose static confs won:
    # re-assert the dynamic ones.
    return configure_session(spark)
