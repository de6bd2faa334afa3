"""Raw log sources (SURVEY.md §2.1 S2/S3): schema-on-read text logs.

The classic Hadoop input: line-oriented log files parsed by regex.
``parse_log_lines`` turns a 1-column text DataFrame into typed
columns via ``regexp_extract``; lines that don't match the pattern
are dropped (counted by the caller via an anti filter if needed) —
the MapReduce "malformed line to side output" idiom.

Scale: spark.read.text splits by HDFS/parquet block; the regex parse
is a codegen'd map — linear, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Pipe-delimited app-log line: evt|<event_id>|<user_id>|<event_type>|<props>
APP_LOG_PATTERN = r"^evt\|(\d+)\|(\d+)\|([a-z]+)\|(\{.*\})$"


def read_text_logs(spark: SparkSession, path: str) -> DataFrame:
    """S2: raw text scan — one `value` column per line."""
    return spark.read.text(path)


def format_events_as_log_lines(events: DataFrame) -> DataFrame:
    """Render typed events as raw log lines (the inverse of parsing;
    used to derive deterministic log fixtures from the events table)."""
    return events.select(
        F.concat_ws(
            "|",
            F.lit("evt"),
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.col("props"),
        ).alias("value")
    )


def parse_app_log(lines: DataFrame) -> DataFrame:
    """S3: regex-parse app-log lines to typed columns; non-matching
    (malformed) lines are dropped.

    r14 OPTIMIZATION (guide §1.2 step 2, per-task work): the original
    extraction ran the full regex FIVE times per line (one rlike + one
    regexp_extract per column). The rlike filter stays the single
    source of truth for what counts as well-formed; on a line it
    accepts, the four capture groups are exactly the 2nd..5th fields
    of a 5-limit pipe split (groups 1-3 cannot contain '|' — \\d+ and
    [a-z]+ — so the first four pipes ARE the delimiters, and group 4
    greedily spans everything after the fourth pipe, which is
    precisely the split remainder). One regex + one split per line
    instead of five regex passes.
    """
    matched = lines.filter(F.col("value").rlike(APP_LOG_PATTERN))
    parts = F.split("value", r"\|", 5)
    return matched.select(
        F.element_at(parts, 2).cast("long").alias("event_id"),
        F.element_at(parts, 3).cast("long").alias("user_id"),
        F.element_at(parts, 4).alias("event_type"),
        F.element_at(parts, 5).alias("props"),
    )
