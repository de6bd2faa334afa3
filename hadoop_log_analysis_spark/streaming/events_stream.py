"""Replay feeds: fixture tables replayed as file-source streams (S7).

The batch/stream unification story (SURVEY.md §1.2): the same fixture
rows flow through both engines. A feed is a "drop directory" of
JSON-lines files derived deterministically from a fixture table and
read back with ``spark.readStream``. This module is the one place
that decides both halves:

* the layout (:func:`write_feed`): rows range-partitioned on their
  epoch-µs ``ts_us`` into ``Replay.files`` files (file 0 = earliest
  slice), sorted within each file, written as JSON and replay-order
  stamped by ``scratch.cached``, so the stream replays the feed in
  time order;
* the read-back (:func:`read_feed`): the feed's schema and
  ``Replay.mfpt`` files per microbatch (``maxFilesPerTrigger``).

:func:`feed_stream` is both in one call. The feed variants are the
definitions below (``EVENTS``, ``EVENTS_WITH_DUPS``,
``EVENTS_WITH_SENTINELS``, ``DOCS``, ``QUERY_VECTORS``); a query
family's cadence is its :class:`Replay` entry in
``queries.streaming_q.REPLAY``.

Timestamps cross the JSON boundary as **epoch-microsecond bigints**
(``ts_us``), never as strings: deterministic, precision-exact, and
µs on both engine sides (DuckDB oracle uses ``epoch_us`` which also
truncates the fixture's ns — see memory/duckdb-ns-truncation).

Scale posture: the file source at 100 TB becomes a real queue
(Kafka) with identical downstream code; watermarks + state-store
(RocksDB provider) bound state. ``maxFilesPerTrigger`` here forces
multi-microbatch execution so tests exercise real incremental state,
not one giant batch.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.scratch import cached, run_dir

# Drain deadline: a harness bound, not part of any query's semantics.
# Read at call time, so a long probe run can raise it on the module.
DRAIN_TIMEOUT_S = 300

# Synthetic arrival clock for the fixtures without an event time
# (documents, embeddings): row id seconds after 2024-01-01T00:00:00Z.
# Strictly increasing in the id, so arrival order == id order and
# every ts is unique.
ARRIVAL_BASE_US = 1_704_067_200 * 1_000_000


@dataclass(frozen=True)
class Replay:
    """How a query family replays its feed: ``files`` time-ordered
    drop files, ``mfpt`` of them per microbatch (maxFilesPerTrigger).
    The drain's state-store task count is not a cadence: every drain
    runs at the core count (:func:`run_drain`)."""

    files: int
    mfpt: int


@dataclass(frozen=True)
class Feed:
    """One feed variant. ``rows(spark, sf_dir)`` derives the drop rows
    from the input, each with its ``ts_us`` and the unique ``key`` that
    orders equal-µs rows within a file; ``schema`` reads them back and
    ``typed`` turns the read-back rows into the stream the queries
    consume. ``sentinels`` appends the events watermark pushers
    (:func:`_write_sentinels`). ``kind`` names the cached drop dir."""

    kind: str
    schema: str  # DDL
    key: str
    rows: Callable[[SparkSession, str], DataFrame]
    typed: Callable[[DataFrame], DataFrame] = lambda raw: raw
    sentinels: bool = False


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_log_analysis_spark.sources.catalog import scan

    return scan(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def _events_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events plus a second copy of one in every 20 (the
    deterministic ``event_id % 20 == 0`` rule) for T5 dedup."""
    events = _events(spark, sf_dir)
    return events.unionByName(events.filter(F.col("event_id") % 20 == 0))


def _typed_events(raw: DataFrame) -> DataFrame:
    """The batch-identical column set (event_id, ts, user_id,
    event_type, value) with ``ts`` as TimestampType (UTC session, so
    instants match the batch ntz values exactly)."""
    return raw.select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_log_analysis_spark.sources.catalog import scan

    return scan(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(ARRIVAL_BASE_US) + F.col("doc_id") * 1_000_000).alias("ts_us"),
        "text",
        "source",
    )


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 25th embedding as a query (q_id, ts_us, qvec); the
    q_stream_knn oracle selects the same ``vec_id % 25 = 0`` rows.

    Vectors cross the JSON boundary exactly: float32 -> double is
    value-preserving, Jackson emits the shortest round-trip decimal,
    and the feed schema reads array<double> — so the streamed qvec
    equals the batch ``CAST(embedding AS DOUBLE)`` element for
    element, which is what lets the DuckDB oracle stay exact."""
    from hadoop_log_analysis_spark.sources.catalog import scan

    return (
        scan(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            (F.lit(ARRIVAL_BASE_US) + F.col("vec_id") * 1_000_000).alias("ts_us"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
    )


EVENTS = Feed(
    "stream_drop_plain",
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
    "event_id",
    _events,
    _typed_events,
)
EVENTS_WITH_DUPS = replace(EVENTS, kind="stream_drop_dups", rows=_events_with_dups)
EVENTS_WITH_SENTINELS = replace(
    EVENTS, kind="stream_drop_plain_sentinel", sentinels=True
)
DOCS = Feed(
    "docs_drop",
    "doc_id BIGINT, ts_us BIGINT, text STRING, source STRING",
    "doc_id",
    _docs,
)
QUERY_VECTORS = Feed(
    "emb_query_drop_25",
    "q_id BIGINT, ts_us BIGINT, qvec ARRAY<DOUBLE>",
    "q_id",
    _query_vectors,
)


def _write_sentinels(rows: DataFrame, path: str) -> None:
    """Append THREE final one-event marker files (event_id=-j,
    event_type='__sentinel', user_id=-1, ts = max + j*30 days).

    Outer stream-stream joins hold unmatched rows in state until the
    watermark passes their eviction time; at the end of a bounded
    replay the watermark sits at max_ts - delay, so those rows would
    never emit. The sentinels push the watermark past every eviction
    time, flushing the full outer result. Consumer contract (see
    q_stream_stream_left_join, the reference user): consume with
    maxFilesPerTrigger=1; your side filters must ADMIT '__sentinel'
    rows into the join inputs (Catalyst pushes both event_type filters
    and left-side join predicates below the EventTimeWatermark node,
    so any streaming-plan filter that drops sentinels also hides them
    from the watermark tracker); user_id=-1 guarantees sentinels never
    match real rows; strip sentinel output rows from the DRAINED batch
    result, never inside the streaming plan.
    """
    # coalesce to epoch 0 on an empty feed: the sentinels still
    # advance the watermark and flush (empty) outer-join state.
    max_us = rows.agg(F.coalesce(F.max("ts_us"), F.lit(0))).collect()[0][0]
    # THREE sentinel files, each its own microbatch (consume with
    # maxFilesPerTrigger=1): the watermark computed from batch N's
    # data only takes effect in batch N+1, so a single final
    # sentinel would advance the watermark without any later batch
    # to evict/emit the flushed outer state — and with TWO sources
    # over the same directory the sources can sit one file apart,
    # costing one more batch (observed: 2 sentinels left the join's
    # min-watermark at max_real_ts - delay). Three guarantee the
    # last executed batch runs with watermark >= sentinel-1 - delay
    # even under a one-file source offset. Their names sort after
    # every data part, so stamp_replay_order replays them last.
    for j in (1, 2, 3):
        sentinel = {
            "event_id": -j,
            "ts_us": max_us + j * 30 * 86400 * 1_000_000,
            "user_id": -1,
            "event_type": "__sentinel",
            "value": 0.0,
        }
        sfile = os.path.join(path, f"part-zz-sentinel-{j}.json")
        with open(sfile, "w") as fh:
            fh.write(json.dumps(sentinel) + "\n")


def write_feed(
    spark: SparkSession, sf_dir: str, feed: Feed, replay: Replay
) -> str:
    """The drop dir of ``feed`` over the input ``sf_dir``: its rows
    range-partitioned on ts_us into ``replay.files`` JSON files
    (file 0 = earliest slice), sorted by (ts_us, key) within each
    file, so a maxFilesPerTrigger stream replays the feed in order —
    watermarks advance monotonically like they would against a live
    feed. Built once per (input, feed, file count); deterministic
    content."""

    def build(path: str) -> None:
        rows = feed.rows(spark, sf_dir)
        (
            rows.repartitionByRange(replay.files, "ts_us")
            .sortWithinPartitions("ts_us", feed.key)
            .write.mode("overwrite")
            .json(path)
        )
        if feed.sentinels:
            _write_sentinels(rows, path)

    return cached(f"{feed.kind}_{replay.files}f", sf_dir, build)


def read_feed(
    spark: SparkSession, drop: str, feed: Feed, replay: Replay
) -> DataFrame:
    """A streaming file source over ``feed``'s drop dir ``drop``,
    ``replay.mfpt`` files per microbatch."""
    raw = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", replay.mfpt)
        .json(drop)
    )
    return feed.typed(raw)


def feed_stream(
    spark: SparkSession, sf_dir: str, feed: Feed, replay: Replay
) -> DataFrame:
    """``feed`` over ``sf_dir`` as a stream at ``replay``'s cadence:
    :func:`read_feed` over :func:`write_feed`'s drop dir."""
    return read_feed(spark, write_feed(spark, sf_dir, feed, replay), feed, replay)


def ckpt_path(spark: SparkSession, name: str) -> str:
    """The checkpoint directory :func:`run_drain` uses for a given
    stream name in the session's application. Shared so measurement tooling
    (scripts/stream_state_skew.py) derives the SAME path instead of
    hard-coding the convention — a rename there must break loudly,
    not silently profile an empty directory."""
    return run_dir(spark, f"stream_ckpt_{name}")


def _drain_partitions(spark: SparkSession) -> int:
    """The shuffle (= state-store) partition count of every drain: one
    task per core, so each microbatch commits its state stores in one
    wave of tasks."""
    return spark.sparkContext.defaultParallelism


def run_drain(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Drain a streaming DataFrame to completion.

    ``trigger(availableNow=True)`` processes everything currently in
    the source as real incremental microbatches (bounded by the
    source's maxFilesPerTrigger) then stops — the deterministic way to
    verify a streaming pipeline.

    Sink: without ``foreach_batch`` the rows land in the memory table
    ``name``, which is returned. With it, every microbatch goes to the
    callback — the production fan-out sink, at-least-once, so callers
    key their output on ``batch_id`` and overwrite — and None is
    returned.

    ``checkpoint``: by default a fresh per-application directory
    (:func:`ckpt_path`), cleared first, since a stale checkpoint would
    turn a re-run into a no-op. A caller-owned path is used as is, so
    a second drain over it resumes where the first stopped.

    The session's ``spark.sql.shuffle.partitions`` is set to
    :func:`_drain_partitions` (the core count) for the duration of the
    drain and restored afterwards: the per-microbatch cost of these
    bounded replays is committing state stores, one task each, so one
    wave of tasks is the least of it, whatever the session's own
    setting (a bare session's 200 included). The count is pinned at the
    checkpoint's batch 0, and results are partition-count invariant.
    """
    spark = sdf.sparkSession
    if checkpoint is None:
        checkpoint = ckpt_path(spark, name)
        shutil.rmtree(checkpoint, ignore_errors=True)
    writer = sdf.writeStream.queryName(name).outputMode(output_mode)
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_drain_partitions(spark)))
    try:
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            last = q.lastProgress
            q.stop()
            seen = (
                f"last batch {last['batchId']}: {last['numInputRows']} "
                f"input rows, durationMs {last['durationMs']}"
                if last
                else "no batch completed"
            )
            raise RuntimeError(
                f"stream {name!r} did not drain within {DRAIN_TIMEOUT_S}s; {seen}"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(name) if foreach_batch is None else None
