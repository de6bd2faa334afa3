"""File-source event streams derived from the events fixture (S7).

The batch/stream unification story (SURVEY.md §1.2): the same events
schema flows through both engines. A "drop directory" of JSON-lines
files is derived deterministically from ``events.parquet`` —
time-ordered files, so the stream replays the month roughly in event
order — and every T1-T7 operator consumes it through
``spark.readStream``.

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

import hashlib
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TMP = os.path.join(_REPO, ".tmp")

# Drain deadline: a harness bound, not part of any query's semantics.
# Read at call time, so a long probe run can raise it on the module.
DRAIN_TIMEOUT_S = 300

# JSON-lines drop schema: ts as epoch-µs bigint (see module docstring).
DROP_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stamp_replay_order(path: str) -> None:
    """mtime-stamp a drop dir's ``part-*.json`` files strictly increasing
    in name order. The file source replays files in modification-time
    order; a single batch write stamps them identically, which would
    randomize replay order and break every time-ordered-replay contract
    (T4/T5 watermarks, first-seen dedup, the outer joins' sentinels).
    Part numbering follows repartitionByRange order, so part-00000 is
    the earliest time slice, and sentinel files (``part-zz-…``) sort
    last. Idempotent on a stamped dir; repairs one whose mtimes were
    flattened (``cp -r``, archive extraction)."""
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".json")
    )
    base = (
        os.path.getmtime(os.path.join(path, parts[0]))
        if parts
        else os.path.getmtime(path)
    )
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + 10 * i, base + 10 * i))


def cached_drop(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The replay drop dir ``kind`` derived from the input ``sf_dir``,
    built by ``build(path)`` on first use and cached under ``.tmp``.

    The cache entry is named after the input's basename plus a hash of
    its resolved path, and its ``_READY`` marker records that path, so
    two inputs sharing a basename never share an entry. Replay order
    lives only in the files' mtimes, so every hit re-applies
    :func:`stamp_replay_order`: a cached dir whose mtimes were
    flattened replays in order again instead of silently changing the
    answer."""
    src = os.path.realpath(sf_dir)
    digest = hashlib.sha1(src.encode()).hexdigest()[:8]
    path = os.path.join(
        TMP, f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}_{digest}"
    )
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == src:
                stamp_replay_order(path)
                return path
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    stamp_replay_order(path)
    with open(marker, "w") as fh:
        fh.write(src)
    return path


def derive_drop_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    with_dups: bool = False,
    with_sentinel: bool = False,
) -> str:
    """Write the events fixture as ``n_files`` time-ordered JSON files.

    Files are range-partitioned on ts (file 0 = earliest slice), so a
    ``maxFilesPerTrigger=1`` stream replays the month in order —
    watermarks advance monotonically like they would against a live
    feed. Built once per (input, variant, n_files); deterministic
    content.

    ``with_dups``: additionally duplicate one in every 20 events
    (deterministic ``event_id % 20 == 0`` rule) for T5 dedup.

    ``with_sentinel``: append THREE final one-event marker files
    (event_id=-j, event_type='__sentinel', user_id=-1, ts = max +
    j*30 days). Outer stream-stream joins hold unmatched rows in state
    until the watermark passes their eviction time; at the end of a
    bounded replay the watermark sits at max_ts - delay, so those rows
    would never emit. The sentinels push the watermark past every
    eviction time, flushing the full outer result. Consumer contract
    (see q_stream_stream_left_join, the reference user): consume with
    maxFilesPerTrigger=1; your side filters must ADMIT '__sentinel'
    rows into the join inputs (Catalyst pushes both event_type filters
    and left-side join predicates below the EventTimeWatermark node,
    so any streaming-plan filter that drops sentinels also hides them
    from the watermark tracker); user_id=-1 guarantees sentinels never
    match real rows; strip sentinel output rows from the DRAINED batch
    result, never inside the streaming plan.
    """
    from hadoop_log_analysis_spark.sources.catalog import scan

    variant = ("dups" if with_dups else "plain") + (
        "_sentinel" if with_sentinel else ""
    )

    def build(path: str) -> None:
        events = scan(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        if with_dups:
            dups = events.filter(F.col("event_id") % 20 == 0)
            events = events.unionByName(dups)
        (
            events.repartitionByRange(n_files, "ts_us")
            .sortWithinPartitions("ts_us", "event_id")
            .write.mode("overwrite")
            .json(path)
        )
        if not with_sentinel:
            return
        # coalesce to epoch 0 on an empty feed: the sentinels still
        # advance the watermark and flush (empty) outer-join state.
        max_us = events.agg(
            F.coalesce(F.max("ts_us"), F.lit(0))
        ).collect()[0][0]
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

    return cached_drop(f"stream_drop_{variant}_{n_files}f", sf_dir, build)


def read_events_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """S7: streaming file source over a drop directory -> typed events.

    Emits the batch-identical column set (event_id, ts, user_id,
    event_type, value) with ``ts`` as TimestampType (UTC session, so
    instants match the batch ntz values exactly).
    """
    raw = (
        spark.readStream.schema(DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )
    return raw.select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def ckpt_path(name: str, app_id: str) -> str:
    """The checkpoint directory :func:`run_drain` uses for a given
    stream name and Spark application id. Shared so measurement tooling
    (scripts/stream_state_skew.py) derives the SAME path instead of
    hard-coding the convention — a rename there must break loudly,
    not silently profile an empty directory."""
    return os.path.join(TMP, f"stream_ckpt_{name}_{app_id}")


def run_drain(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    shuffle_partitions: int | None = 8,
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

    ``shuffle_partitions`` sizes the state-store TASK COUNT to the
    (tiny) state volume for the duration of the drain and is restored
    afterwards (the per-microbatch cost of these bounded replays is
    state tasks, not data). The count is pinned at the checkpoint's
    batch 0, and results are partition-count invariant. ``None`` leaves
    the session's setting alone.
    """
    spark = sdf.sparkSession
    if checkpoint is None:
        checkpoint = ckpt_path(name, spark.sparkContext.applicationId)
        shutil.rmtree(checkpoint, ignore_errors=True)
    writer = sdf.writeStream.queryName(name).outputMode(output_mode)
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            last = q.lastProgress
            q.stop()
            raise RuntimeError(
                f"stream {name!r} did not drain within {DRAIN_TIMEOUT_S}s; "
                f"last batch {last['batchId'] if last else None}"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(name) if foreach_batch is None else None
