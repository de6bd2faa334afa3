"""Structured Streaming operators S7 + T1-T7 (SURVEY.md §2.10).

Every query here REALLY streams: a time-ordered JSON drop directory
derived from the events fixture is consumed incrementally
(``maxFilesPerTrigger`` microbatches, ``availableNow`` trigger), then
the drained result is returned as a batch DataFrame. Where the
streaming semantics are deterministic (complete-mode aggregations,
watermark-safe dedup, final-state reductions) the query carries a
full DuckDB oracle — the stream must hash-match the batch answer,
which is the stream-batch parity law (SURVEY.md §5.4) enforced at
the driver level, not just in unit tests.

Time crosses engine boundaries as epoch-µs bigints throughout
(memory/duckdb-ns-truncation): Spark ``unix_micros``, DuckDB
``epoch_us`` — both truncate the fixture's ns timestamps to µs.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_log_analysis_spark.functions import money_sum, subus_key
from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.scratch import run_dir
from hadoop_log_analysis_spark.sources.catalog import scan
from hadoop_log_analysis_spark.streaming.events_stream import (
    DOCS,
    EVENTS,
    EVENTS_WITH_DUPS,
    EVENTS_WITH_SENTINELS,
    QUERY_VECTORS,
    Replay,
    ckpt_path,
    feed_stream,
    read_feed,
    run_drain,
    write_feed,
)
from hadoop_log_analysis_spark.streaming.skew import (
    bucketed_interval_join,
    merge_bucketed_left,
)

# Sink-table names shared with measurement tooling
# (scripts/stream_state_skew.py derives checkpoint paths from these
# via events_stream.ckpt_path — ADVICE r12: no hard-coded convention).
T8_LEFT_TABLE = "t8_stream_left_join"
T8_LEFT_BKT_TABLE = "t8_stream_left_join_bkt"
T8_LEFT_BKT_PAYLOAD_TABLE = "t8_stream_left_join_bkt_pl"

# The bucketed T8 twins' registered default width, set at the MEASURED
# knee of the r13 width curve (SCALE.md "Width sensitivity"): W = 4I
# flattens 2.77x hot-key state concentration to the same 1.03x as
# W = I while cutting the left-duplication state tax from ~45% to +5%
# (expected duplication 1 + I/W). W = I remains the right choice only
# for BURST-hot keys whose active span is comparable to the interval
# (too few live buckets at 4I to spread across) — the fixture's hot
# keys are month-long, and at 100 TB the rule is
# W ~ active_span / (10 x state-partitions), clamped per SCALE.md.
# Output is width-invariant (driver-hash-enforced by the byte-identical
# oracles); read at call time, so width sweeps set it on the module.
T8_INTERVAL_SECONDS = 3600
T8_BUCKET_SECONDS = 4 * T8_INTERVAL_SECONDS


# Replay cadence per query family, read at call time: every drop-fed
# query names its family once and takes both its feed
# (events_stream.feed_stream) and its drain's state partitions from
# the entry. Every drained answer below is a pure function of the
# replayed data, not of how it is batched (each query says why). The
# oracle parity tests pin every entry; tests/test_streaming.py also
# pins most families at a folded 2-file / mFPT=3 replay.
REPLAY: dict[str, Replay] = {
    # complete-mode aggregations without a watermark: hourly_errors,
    # sliding_counts, sessions, ohlc
    "complete": Replay(8, 2),
    "dedup": Replay(8, 1),
    # per-user applyInPandasWithState (stateful_counts, sequence_match):
    # one Python call per user per batch, which parallelizes with tasks
    "stateful": Replay(8, 1, 32),
    "inner_join": Replay(8, 2),
    # mFPT=1: every sentinel of the left-outer joins is its own batch
    "left_join": Replay(8, 1),
    "heavy_hitters": Replay(8, 1),
    "psi_monitor": Replay(8, 2),
    # bands x docs tiny bucket groups, see q_stream_minhash_dedup
    "minhash_dedup": Replay(8, 1, 16),
    # stateless retrieval over a 4-file query feed (q_stream_knn pair)
    "knn": Replay(4, 1),
    # mFPT=1: the watermark advances one time slice per batch
    "watermark_late": Replay(8, 1),
    "sink_parquet": Replay(8, 2),
    # foreachBatch drains whose batches run their own batch jobs: the
    # session's shuffle partitions stay as they are
    "recovery": Replay(8, 1, None),
    "static_join": Replay(8, 2),
    "cdc_apply": Replay(8, 2, None),
}

# q_stream_minhash_dedup's bucket groups per band (G): one Python call
# per (band, group) per batch, see stream_minhash_dup_hits.
MINHASH_GROUPS_PER_BAND = 128


def _us(col):
    return F.unix_micros(col)


@query(
    "q_stream_hourly_errors",
    oracle="""
        SELECT epoch_us(date_trunc('hour', ts)) AS hr_us, count(*) AS errors
        FROM events
        WHERE event_type = 'error'
        GROUP BY hr_us
        ORDER BY hr_us
    """,
    tags=("S7", "T1", "T7"),
)
def q_stream_hourly_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+T1: tumbling 1-hour window over the error stream, complete
    mode (all windows retained -> deterministic == batch answer)."""
    r = REPLAY["complete"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    agg = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("errors"))
    )
    out = run_drain(
        agg, "t1_hourly_errors", "complete", shuffle_partitions=r.state_partitions
    )
    return out.select(_us(F.col("w.start")).alias("hr_us"), "errors").orderBy("hr_us")


@query(
    "q_stream_sliding_counts",
    oracle="""
        SELECT ws_us, count(*) AS n
        FROM (SELECT unnest(list_transform(range(0, 4),
                     k -> (epoch_us(ts) // 900000000 - k) * 900000000)) AS ws_us
              FROM events)
        GROUP BY ws_us
        ORDER BY ws_us
    """,
    tags=("T2",),
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: sliding window (1 h width / 15 min slide) event counts,
    complete mode. Each event lands in 4 overlapping windows; the
    oracle enumerates the same 4 window starts per event."""
    r = REPLAY["complete"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    agg = (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_drain(
        agg, "t2_sliding", "complete", shuffle_partitions=r.state_partitions
    )
    return out.select(_us(F.col("w.start")).alias("ws_us"), "n").orderBy("ws_us")


@query(
    "q_stream_sessions",
    oracle="""
        WITH g AS (SELECT user_id, ts,
                          CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                               THEN 1 ELSE 0 END AS brk
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             s AS (SELECT user_id, ts,
                          sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                   FROM g)
        SELECT user_id,
               epoch_us(min(ts)) AS s_start_us,
               epoch_us(max(ts)) + 1800000000 AS s_end_us,
               count(*) AS n
        FROM s
        GROUP BY user_id, sid
        ORDER BY user_id, s_start_us
    """,
    tags=("T3",),
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: streaming session windows (30-min gap) per user — the
    streaming twin of batch W6 sessionization, and the oracle IS the
    batch formulation (lag -> break -> running sum -> agg). Spark's
    session_window end = last event + gap, mirrored as +1800000000 µs."""
    r = REPLAY["complete"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    agg = (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count("*").alias("n"))
    )
    out = run_drain(
        agg, "t3_sessions", "complete", shuffle_partitions=r.state_partitions
    )
    return out.select(
        "user_id",
        _us(F.col("w.start")).alias("s_start_us"),
        _us(F.col("w.end")).alias("s_end_us"),
        "n",
    ).orderBy("user_id", "s_start_us")


@query("q_stream_watermark_late", oracle=None, tags=("T4",))
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermark + late data. Append-mode hourly counts with a
    10-minute watermark over the time-ordered drop: append only emits
    a window once the watermark passes its end, so the result is the
    set of closed windows; the final in-flight window is withheld.
    Late rows behind the watermark are dropped by the aggregation.

    Rows-only BY DESIGN (no oracle — DuckDB has no
    watermark/append-mode analog); correctness story: closed-window
    parity with batch plus exact late-drop accounting are pinned by
    tests/test_streaming.py (every emitted window carries the exact
    batch count; a deterministic hand-built late row is dropped)."""
    r = REPLAY["watermark_late"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_drain(
        agg, "t4_watermark", "append", shuffle_partitions=r.state_partitions
    )
    return out.select(_us(F.col("w.start")).alias("hr_us"), "n").orderBy("hr_us")


@query(
    "q_stream_dedup",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS ids
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("T5",),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: streaming dedup. The drop variant duplicates every 20th
    event; ``dropDuplicatesWithinWatermark`` on event_id removes them
    (each dup shares its original's event time, so it always lands
    within the watermark). The deduped stream must equal the original
    events table — a full SQL oracle on per-type counts.

    Cadence-invariant: every duplicate sits in its original's
    time-ordered file slice, so fewer, bigger batches only make the
    watermark advance LESS between original and duplicate, and deduped
    rows append in their own batch."""
    r = REPLAY["dedup"]
    events = feed_stream(spark, sf_dir, EVENTS_WITH_DUPS, r)
    deduped = events.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_drain(
        deduped, "t5_dedup", "append", shuffle_partitions=r.state_partitions
    )
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("ids"))
        .orderBy("event_type")
    )


_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_T6_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_so_far", T.LongType()),
    ]
)


def _count_state_fn(key, pdf_iter, state):
    """Per-user running event count (GroupState), emitted per batch."""
    import pandas as pd

    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_so_far": [n]})


@query(
    "q_stream_stateful_counts",
    oracle="""
        SELECT user_id, count(*) AS n
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("T6",),
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: arbitrary stateful op — applyInPandasWithState keeps a
    per-user running count across microbatches, emitting the running
    value each batch (update mode). The max emitted value per user is
    the final state == the batch per-user count (SQL oracle).

    Spark-4-native ``transformWithStateInPandas`` re-checked 2026-08-13
    (VERDICT r2 item 8): still blocked — the container has NO
    ``google.protobuf`` at all (``import google`` ->
    ModuleNotFoundError) and its Arrow-state protocol requires it, so
    this documented fallback remains the T6 implementation.

    The drained answer, max(running count) per user, is the final
    total under every batching and partition count."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    r = REPLAY["stateful"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    updates = events.groupBy("user_id").applyInPandasWithState(
        _count_state_fn,
        outputStructType=_T6_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_drain(
        updates, "t6_stateful", "update", shuffle_partitions=r.state_partitions
    )
    return (
        out.groupBy("user_id").agg(F.max("n_so_far").alias("n")).orderBy("user_id")
    )


@query(
    "q_stream_sink_parquet",
    oracle="""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("T7", "S6"),
)
def q_stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: foreachBatch sink — each microbatch written to a
    batch_id-keyed, event_type-partitioned parquet directory
    (at-least-once delivery made effectively-once by the idempotent
    batchId overwrite), then read back and aggregated; must equal the
    batch table (SQL oracle)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = run_dir(spark, "stream_sink", sf_dir)
    r = REPLAY["sink_parquet"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").partitionBy("event_type").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    run_drain(
        events, f"t7_sink_{tag}", foreach_batch=write_batch,
        shuffle_partitions=r.state_partitions,
    )
    # explicit schema (stream schema + the batch_id partition dir):
    # a drained stream with zero batches reads back as empty, not as
    # an inference failure — quiet days are normal at scale.
    sink_schema = T.StructType(
        events.schema.fields + [T.StructField("batch_id", T.LongType())]
    )
    back = spark.read.schema(sink_schema).parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), money_sum("value").alias("total"))
        .orderBy("event_type")
    )


@query(
    "q_stream_stream_join",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("T8", "J6", "S7"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: stream-stream interval join — purchases within 1 h of a click
    by the same user, both sides live streams.

    Watermarks on BOTH sides + the time-range join condition let Spark
    bound join state: a buffered click is evicted once the watermark
    passes click.ts + 1 h (no purchase can match it anymore). The
    in-order replay (events_stream.write_feed lays files out in ts
    order) advances the watermark monotonically, so the availableNow
    drain emits exactly the batch join's matches — a full-hash oracle,
    the strongest check a streaming op can carry. Inner joins need no
    sentinel flush (a match emits once both rows are present), so any
    replay cadence gives the same answer.
    """
    r = REPLAY["inner_join"]
    clicks = (
        feed_stream(spark, sf_dir, EVENTS, r)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        feed_stream(spark, sf_dir, EVENTS, r)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
    ).select("click_id", "purchase_id")
    out = run_drain(
        joined, "t8_stream_stream_join", "append",
        shuffle_partitions=r.state_partitions,
    )
    return out.orderBy("click_id", "purchase_id")


@query(
    "q_stream_stream_join_bucketed",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("T8", "J6", "S7", "skew"),
)
def q_stream_stream_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 skew defense, INNER variant: q_stream_stream_join through
    ``streaming.skew.bucketed_interval_join`` — the equality key
    widened to ``(user_id, ts div W)`` spreads a hot user's buffered
    state across its live buckets' state-store partitions. Registered
    width = T8_BUCKET_SECONDS (W = 4I, the measured r13 knee: same
    1.03x spread as W = I at +5% instead of ~45% total state). Unlike the
    outer twin, the inner form needs NO drained merge and NO
    sentinels: every match is emitted as soon as both rows arrive, a
    purchase has exactly one bucket so at most one click duplicate can
    equi-match it (no duplicate pairs), and nothing waits for an
    eviction-time flush — the defense is a pure streaming plan end to
    end. Oracle byte-identical to q_stream_stream_join's (output-
    invisibility, driver-hash-enforced)."""
    r = REPLAY["inner_join"]
    clicks = (
        feed_stream(spark, sf_dir, EVENTS, r)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        feed_stream(spark, sf_dir, EVENTS, r)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = bucketed_interval_join(
        clicks,
        purchases,
        left_key="c_user",
        right_key="p_user",
        left_ts="c_ts",
        right_ts="p_ts",
        interval_seconds=T8_INTERVAL_SECONDS,
        watermark="2 hours",
        bucket_seconds=T8_BUCKET_SECONDS,
        how="inner",
    ).select("click_id", "purchase_id")
    out = run_drain(
        joined, "t8_stream_stream_join_bkt", "append",
        shuffle_partitions=r.state_partitions,
    )
    return out.orderBy("click_id", "purchase_id")


@query(
    "q_stream_checkpoint_recovery",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("T7", "recovery"),
)
def q_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+: end-to-end effectively-once RESTART. Phase 1 drains the
    first half of the drop files through a foreachBatch parquet sink
    and stops (simulated downtime); the remaining files then arrive;
    phase 2 starts a new query from the SAME checkpoint. foreachBatch
    delivery is AT-LEAST-once (a mid-batch failure replays the batch),
    so the sink is made idempotent by keying each batch's output on
    batch_id and overwriting — replayed batches replace themselves
    instead of duplicating (ADVICE.md streaming_q.py:357). The sink
    must hold every event exactly once — no replays of phase-1 files,
    no gaps. Verified by hash-match against the batch table.
    """
    import glob

    r = REPLAY["recovery"]
    drop = write_feed(spark, sf_dir, EVENTS, r)
    tag = os.path.basename(os.path.normpath(sf_dir))
    stage = run_dir(spark, "recovery_stage", sf_dir)
    out = run_dir(spark, "recovery_out", sf_dir)
    ckpt = ckpt_path(spark, f"recovery_{tag}")
    for p in (stage, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(stage)
    files = sorted(glob.glob(os.path.join(drop, "part-*.json")))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batchId-keyed overwrite = idempotent under at-least-once
        # replay; the directory doubles as a partition column on read.
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch_id={batch_id}")
        )

    def drain_once() -> None:
        run_drain(
            read_feed(spark, stage, EVENTS, r),
            f"recovery_{tag}",
            foreach_batch=write_batch,
            checkpoint=ckpt,
            shuffle_partitions=r.state_partitions,
        )

    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, stage)
    drain_once()
    for f in files[half:]:
        shutil.copy(f, stage)
    drain_once()  # same checkpoint: resumes, processes ONLY the new files
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query(
    "q_stream_static_join",
    oracle="""
        WITH a AS (SELECT event_type, avg(value) AS av
                   FROM events GROUP BY event_type)
        SELECT e.event_type, count(*) AS n_above
        FROM events e JOIN a USING (event_type)
        WHERE e.value > a.av
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    tags=("T8", "J1", "S7"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 (stream-static): live events enriched against a STATIC
    batch-computed dimension (per-type global average value), counting
    events above their type's average — the reference-data enrichment
    pattern (stream joined to a slowly-changing dim table).

    The static side is a tiny broadcast re-read each microbatch;
    complete-mode aggregation holds the |event_types| running counts.
    Stream-batch parity: the drained result must hash-match the batch
    join+aggregate (full DuckDB oracle).
    """
    r = REPLAY["static_join"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    static_avg = (
        scan(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("av"))
    )
    joined = events.join(F.broadcast(static_avg), "event_type").filter(
        F.col("value") > F.col("av")
    )
    counts = joined.groupBy("event_type").agg(F.count("*").alias("n_above"))
    out = run_drain(
        counts, "t8_stream_static", "complete",
        shuffle_partitions=r.state_partitions,
    )
    return out.orderBy("event_type")


@query(
    "q_stream_stream_left_join",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("T8", "J3", "J6", "S7"),
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 (outer): stream-stream LEFT OUTER interval join — every click
    paired with same-user purchases within 1 h, clicks with no such
    purchase emitted with a null purchase_id.

    The hard part of a streaming OUTER join is COMPLETENESS: unmatched
    rows sit in state until the watermark passes their eviction time,
    and a bounded replay ends with the watermark at max_ts - delay, so
    the last rows would never flush. The feed therefore carries final
    watermark-pusher sentinels (+30/+60/+90 days, see
    events_stream.EVENTS_WITH_SENTINELS). Subtlety: Catalyst pushes a
    plain event_type filter BELOW the EventTimeWatermark node, so a
    filtered-out sentinel would never reach the watermark tracker —
    instead each side's filter ADMITS the sentinel rows (user_id = -1
    can never match a real row). The sentinel strip (``click_id >= 0``)
    runs on the DRAINED batch table, NOT inside the streaming plan: as a
    left-side predicate of a left-outer join it would be pushed below
    the join and through the clicks-side watermark node, hiding the
    sentinel from exactly the tracker it exists to advance (observed:
    global min-watermark pinned at max_real_ts - delay). The drained
    stream then hash-matches the batch LEFT JOIN exactly (full DuckDB
    oracle) — the stream-batch parity law applied to outer-join
    semantics.

    Cadence: correctness only needs SOME batch to execute after a
    batch that saw a sentinel (the watermark from batch N binds in
    batch N+1). The shipped mFPT=1 gives every sentinel its own
    batch. A folded 2-file / mFPT=3 replay packs the feed into
    [d1,d2,s1],[s2,s3], where the last two sentinels can never share
    the final data batch, so the flush batch is still guaranteed.
    """
    r = REPLAY["left_join"]
    clicks = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .withWatermark("ts", "2 hours")
        .filter(F.col("event_type").isin("click", "__sentinel"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .withWatermark("ts", "2 hours")
        .filter(F.col("event_type").isin("purchase", "__sentinel"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    ).select("click_id", "purchase_id")
    out = run_drain(
        joined, T8_LEFT_TABLE, "append", shuffle_partitions=r.state_partitions
    )
    return (
        out.filter(F.col("click_id") >= 0)
        .orderBy("click_id", "purchase_id")
    )


@query(
    "q_stream_stream_left_join_bucketed",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("T8", "J3", "J6", "S7", "skew"),
)
def q_stream_stream_left_join_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T8 skew defense: q_stream_stream_left_join's hot-key-resilient
    twin — same LEFT OUTER interval join, but through
    ``streaming.skew.bucketed_interval_join``: the join's equality key
    is widened to ``(user_id, ts div W)``, so a hot user's buffered
    state spreads across its live time buckets' state-store partitions
    instead of concentrating in one (r12 measured 2.80x max/med state
    bytes under a 20%-share key; streaming has no AQE to split it).
    Registered width = T8_BUCKET_SECONDS (W = 4I, the measured r13
    knee — same 1.03x spread as W = I at +5% instead of ~45% total
    state; see the constant's comment for when W = I is still right).
    The clicks side is exploded into its candidate buckets; the
    drained output then collapses per-duplicate NULL rows back to
    plain left-outer semantics (``merge_bucketed_left`` — an
    output-sized batch step running exactly where the sentinel strip
    already does).

    The oracle is BYTE-IDENTICAL to q_stream_stream_left_join's — the
    sessionize_auto proof pattern: the defense must be output-
    invisible, and the driver's hash compare enforces it. Sentinel
    mechanics unchanged (both exploded sentinel duplicates are
    unmatched -> NULL rows -> stripped by ``click_id >= 0`` before the
    merge; user_id=-1 never equi-matches). State-spread effect is
    measured by scripts/stream_state_skew.py (plain vs bucketed).
    """
    r = REPLAY["left_join"]
    clicks = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .filter(F.col("event_type").isin("click", "__sentinel"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .filter(F.col("event_type").isin("purchase", "__sentinel"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = bucketed_interval_join(
        clicks,
        purchases,
        left_key="c_user",
        right_key="p_user",
        left_ts="c_ts",
        right_ts="p_ts",
        interval_seconds=T8_INTERVAL_SECONDS,
        watermark="2 hours",
        bucket_seconds=T8_BUCKET_SECONDS,
    ).select("click_id", "purchase_id")
    out = run_drain(
        joined, T8_LEFT_BKT_TABLE, "append", shuffle_partitions=r.state_partitions
    )
    return merge_bucketed_left(
        out.filter(F.col("click_id") >= 0), "click_id", "purchase_id"
    ).orderBy("click_id", "purchase_id")


@query(
    "q_stream_stream_left_join_bucketed_payload",
    oracle="""
        SELECT c.event_id AS click_id,
               epoch_us(c.ts) AS click_ts_us,
               p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("T8", "J3", "J6", "S7", "skew"),
)
def q_stream_stream_left_join_bucketed_payload(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T8 skew defense, payload-carrying variant (r14 — the r13
    verdict's generalization item made driver-visible): identical to
    q_stream_stream_left_join_bucketed, but the click's own timestamp
    rides through ``merge_bucketed_left(payload_cols=("c_ts",))`` and
    is emitted as ``click_ts_us``. This is the shape a production
    consumer actually wants — the full left row back, not just the id
    pair — and the oracle extends the plain join's with the same
    column, so the driver's hash compare proves the payload branch
    (first()-per-id recovery on NULL-only ids) byte-exact, not just
    multiset-exact in the unit sweep (tests/test_properties.py
    ``test_merge_bucketed_left_carries_payload_cols``). Time crosses
    the engine boundary as epoch-µs (module docstring)."""
    r = REPLAY["left_join"]
    clicks = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .filter(F.col("event_type").isin("click", "__sentinel"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        feed_stream(spark, sf_dir, EVENTS_WITH_SENTINELS, r)
        .filter(F.col("event_type").isin("purchase", "__sentinel"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = bucketed_interval_join(
        clicks,
        purchases,
        left_key="c_user",
        right_key="p_user",
        left_ts="c_ts",
        right_ts="p_ts",
        interval_seconds=T8_INTERVAL_SECONDS,
        watermark="2 hours",
        bucket_seconds=T8_BUCKET_SECONDS,
    ).select("click_id", "c_ts", "purchase_id")
    out = run_drain(
        joined, T8_LEFT_BKT_PAYLOAD_TABLE, "append",
        shuffle_partitions=r.state_partitions,
    )
    merged = merge_bucketed_left(
        out.filter(F.col("click_id") >= 0),
        "click_id",
        "purchase_id",
        payload_cols=("c_ts",),
    )
    return merged.select(
        "click_id",
        F.unix_micros(F.col("c_ts")).alias("click_ts_us"),
        "purchase_id",
    ).orderBy("click_id", "purchase_id")


MG_STREAM_K = 16

_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)
_MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("item", T.StringType()),
        T.StructField("lower_bound", T.LongType()),
    ]
)


def _mg_state_fn(key, pdf_iter, state):
    """Per-shard Misra-Gries summary carried across microbatches
    (mergeable-summaries update: batch value_counts added, then the
    (k+1)-largest count subtracted from all and non-positives
    dropped). Emits the whole summary each batch — the union of
    emissions contains the final summary, which contains every true
    heavy hitter."""
    import pandas as pd

    if state.exists:
        items, counts = state.get
        counters = dict(zip(items, counts))
    else:
        counters = {}
    for pdf in pdf_iter:
        for item, c in pdf["item"].value_counts().items():
            counters[item] = counters.get(item, 0) + int(c)
        if len(counters) > MG_STREAM_K:
            sub = sorted(counters.values(), reverse=True)[MG_STREAM_K]
            counters = {i: v - sub for i, v in counters.items() if v > sub}
    state.update(
        (list(counters), [int(v) for v in counters.values()])
    )
    yield pd.DataFrame(
        {"item": list(counters), "lower_bound": list(counters.values())}
    )


@query(
    "q_stream_heavy_hitters",
    oracle=f"""
        WITH tot AS (SELECT count(*) AS n_total FROM events)
        SELECT event_type AS item, count(*) AS n
        FROM events, tot
        GROUP BY item, tot.n_total
        HAVING count(*) > tot.n_total // {MG_STREAM_K + 1}
        ORDER BY n DESC, item
    """,
    tags=("T6", "sketch", "A1"),
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+: streaming heavy hitters — a per-shard Misra-Gries summary
    lives in applyInPandasWithState state across microbatches (the
    streaming twin of operators/sketch.heavy_hitters); after the
    drain, the emitted candidate union is exactly recounted against
    the batch table and thresholded at n/(k+1). Sharding is BY ITEM
    HASH, so an item's whole stream hits one state row and the
    per-shard guarantee implies the global superset; the recount makes
    the final answer exact, hence the full SQL oracle.

    At 100 TB this is the shape for "top values on an unbounded
    stream": state is k counters per shard (KBs), each microbatch
    does vectorized value_counts + an O(k log k) merge, and the exact
    recount runs only when a report is cut.

    Cadence-invariant although Misra-Gries emissions are not: the
    exact recount filters whatever extra candidates a cadence emits,
    and every true heavy hitter is in the final summary under every
    batching.
    """
    r = REPLAY["heavy_hitters"]
    ev = feed_stream(spark, sf_dir, EVENTS, r)
    sharded = ev.select(
        F.col("event_type").alias("item"),
        F.pmod(F.xxhash64("event_type"), F.lit(8)).alias("shard"),
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    updates = sharded.groupBy("shard").applyInPandasWithState(
        _mg_state_fn,
        outputStructType=_MG_OUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    cands = (
        run_drain(
            updates, "t6_stream_hh", "update",
            shuffle_partitions=r.state_partitions,
        )
        .select("item")
        .distinct()
    )
    batch = scan(spark, sf_dir, "events")
    total = batch.count()
    return (
        batch.select(F.col("event_type").alias("item"))
        .join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > total // (MG_STREAM_K + 1))
        .orderBy(F.desc("n"), "item")
    )


@query(
    "q_stream_python_datasource",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("S7", "T1", "datasource"),
)
def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 via the Spark 4 custom Python STREAMING DataSource API
    (sources/pydatasource.AppLogStreamDataSource): the app-log text
    files stream in through ``spark.readStream.format("applog_stream")``
    — checkpointable file-index offsets, per-file partitions, typed
    parse + malformed drop executor-side — drained under AvailableNow
    into a complete-mode aggregate. The oracle is the batch answer
    from the original parquet: the stream-batch parity law applied to
    a source Spark has no native reader for. Batch twin:
    q_python_datasource.
    """
    from hadoop_log_analysis_spark.sources.logs import app_log_dir
    from hadoop_log_analysis_spark.sources.pydatasource import (
        AppLogStreamDataSource,
    )

    path = app_log_dir(spark, sf_dir)
    try:
        spark.dataSource.register(AppLogStreamDataSource)
    except Exception:
        pass  # already registered in this session
    stream = spark.readStream.format("applog_stream").option("path", path).load()
    # exact count(DISTINCT) is unsupported inside a streaming agg;
    # drain the typed rows append-mode and aggregate exactly on the
    # drained batch — the streaming-transport / batch-finishing split
    # the foreachBatch sink queries also use. Not a replay feed, and
    # the stateless drain has no shuffle to size.
    typed = run_drain(
        stream, "t_stream_pysrc", "append", shuffle_partitions=None
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("event_type")
    )


@query(
    "q_stream_cdc_apply",
    oracle="""
        SELECT user_id, event_type AS last_type,
               round(value, 4) AS last_value,
               epoch_ns(ts) // 1000 AS last_us
        FROM (
          -- rank by MICROSECOND ts, the precision the stream transport
          -- carries: ranking by raw ns would pick a different winner
          -- than the engine whenever two events share a µs (r4 review)
          SELECT user_id, event_type, value, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts) // 1000 DESC,
                                             event_id DESC) AS rn
          FROM events)
        WHERE rn = 1
        ORDER BY user_id
    """,
    tags=("T7", "cdc", "O5"),
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+CDC: a streaming UPSERT-apply — foreachBatch maintains a
    keyed latest-state table (one row per user: last event_type /
    value / timestamp) across microbatches, the streaming
    materialized-view pattern behind every CDC mirror.

    Each microbatch: reduce the batch to per-key maxima (max_by over
    (ts, event_id)), read the previous state VERSION, merge with
    greatest-timestamp-wins, and write state version batch_id — a
    versioned copy-on-write commit, so an at-least-once replay of
    batch N simply rewrites version N from the same inputs
    (idempotent), and readers never see a half-written state (they
    read the last COMPLETE version). The final state must equal the
    batch per-user argmax — the full SQL oracle — which pins both the
    merge logic and the replay safety. At scale the state table is
    key-partitioned parquet and the merge is a per-partition
    anti-join+union (same shape as q_merge_upsert); versions are
    pruned by retention.
    """
    import glob as _glob

    tag = os.path.basename(os.path.normpath(sf_dir))
    state_root = run_dir(spark, "stream_cdc_state", sf_dir)
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)

    r = REPLAY["cdc_apply"]
    events = feed_stream(spark, sf_dir, EVENTS, r)

    def _latest_versions() -> list[str]:
        vs = _glob.glob(os.path.join(state_root, "v=*"))
        return sorted(vs, key=lambda p: int(p.rsplit("=", 1)[1]))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.max_by(
                F.struct("event_type", "value", "ts_us", "event_id"),
                F.struct("ts_us", "event_id"),
            ).alias("s")
        ).select("user_id", "s.event_type", "s.value", "s.ts_us", "s.event_id")
        spark_l = batch_df.sparkSession
        prev = _latest_versions()
        # Replay safety: rebuilding batch N must merge onto N-1's
        # state, not N's own partial output.
        prev = [p for p in prev if int(p.rsplit("=", 1)[1]) < batch_id]
        if prev:
            state = spark_l.read.parquet(prev[-1])
            merged = (
                state.unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("event_type", "value", "ts_us", "event_id"),
                        F.struct("ts_us", "event_id"),
                    ).alias("s")
                )
                .select(
                    "user_id", "s.event_type", "s.value", "s.ts_us", "s.event_id"
                )
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v={batch_id}")
        )

    stream = events.select(
        "user_id",
        "event_type",
        "value",
        "event_id",
        _us(F.col("ts")).alias("ts_us"),
    )
    run_drain(
        stream, f"cdc_apply_{tag}", foreach_batch=apply_batch,
        shuffle_partitions=r.state_partitions,
    )

    versions = _latest_versions()
    if not versions:  # zero-batch drain (empty fixture) -> empty result
        return spark.createDataFrame(
            [], "user_id long, last_type string, last_value double, last_us long"
        )
    final = spark.read.parquet(versions[-1])
    return final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"),
        F.col("ts_us").alias("last_us"),
    ).orderBy("user_id")


# Stream-batch parity law: the streaming monitor answers to the SAME
# oracle SQL as its batch twin q_psi_drift.
from hadoop_log_analysis_spark.queries.governance_q import (  # noqa: E402
    _PSI_ORACLE as _PSI_SQL,
)


@query(
    "q_stream_psi_monitor",
    oracle=_PSI_SQL,
    tags=("T1", "T7", "S7", "drift", "diagnostic"),
)
def q_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the current period arrives as a STREAM
    while the reference snapshot is a static table — the deployment
    shape of a production PSI monitor (reference = the training
    snapshot, stream = live traffic).

    The replayed event stream is filtered to the current period,
    stream-static-joined against the broadcast per-type reference
    bounds, banded with the identical closed-form bin expression, and
    count-aggregated in complete mode — state is bounded by
    |types| x 10 bins regardless of stream length. The drained state
    table then feeds the same PSI assembly as the batch query, and the
    final report must hash-match q_psi_drift's DuckDB oracle exactly:
    stream-batch parity for the whole monitor, not just the counts.
    """
    from hadoop_log_analysis_spark.queries.governance_q import (
        _PSI_CUT,
        _psi_assemble,
        _psi_binned,
        _psi_reference,
    )

    # Complete-mode agg with no watermark: the drained result is
    # batching-invariant.
    r = REPLAY["psi_monitor"]
    cut = F.lit(_PSI_CUT).cast("timestamp")
    stream = (
        feed_stream(spark, sf_dir, EVENTS, r)
        .filter(F.col("ts") >= cut)
        .select("event_type", "value")
    )
    ev = scan(spark, sf_dir, "events")
    b = _psi_reference(ev).localCheckpoint(eager=True)  # snapshot once
    cb = run_drain(
        _psi_binned(stream, b), "psi_monitor", "complete",
        shuffle_partitions=r.state_partitions,
    )
    cut_ref = F.lit(_PSI_CUT).cast("timestamp")
    rb = _psi_binned(
        ev.filter(F.col("ts") < cut_ref).select("event_type", "value"), b
    )
    return _psi_assemble(b, rb, cb)


_SEQ_STATE_SCHEMA = T.StructType([T.StructField("seq", T.StringType())])
_SEQ_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_matches", T.LongType()),
    ]
)


def _seq_state_fn(key, pdf_iter, state):
    """Per-user event-initial string carried across microbatches;
    emits the running pattern-match count each batch. The batch's rows
    are CONCATENATED ACROSS Arrow chunks before the single sort — a
    group spanning multiple chunks (arrow maxRecordsPerBatch, split
    files) arrives as several frames in no global order, so sorting
    each chunk independently would interleave wrongly (r5 review).
    Cross-batch order is the drop directory's time order
    (maxFilesPerTrigger=1 over range-partitioned files — equal-µs rows
    never straddle files)."""
    import re

    import pandas as pd

    seq = state.get[0] if state.exists else ""
    chunks = list(pdf_iter)
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        seq += "".join(pdf["event_type"].str[0])
    state.update((seq,))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [len(seq)],
            "n_matches": [len(re.findall("c[sv]*p", seq))],
        }
    )


@query(
    "q_stream_sequence_match",
    oracle="""
        WITH seqs AS (
          SELECT user_id,
                 count(*) AS n_events,
                 string_agg(substring(event_type, 1, 1), ''
                            ORDER BY epoch_us(ts), event_id) AS seq
          FROM events
          GROUP BY user_id)
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(seq, 'c[sv]*p')) AS BIGINT)
                 AS n_matches
        FROM seqs
        ORDER BY user_id
    """,
    tags=("T6", "cep", "W6"),
)
def q_stream_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+: STREAMING sequence-pattern matching — the CEP twin of the
    batch q_event_sequence_match. Each user's event-initial string
    lives in applyInPandasWithState state across microbatches; every
    batch emits the running count of click->(signup|view)*->purchase
    matches, and the drained answer per user is the LAST emission =
    the max (the count is monotone under appended suffixes: a match
    ends at its terminating 'p', so a finalized match can never be
    re-consumed by later text, and new text can only complete or add
    matches — the property that makes max-of-emissions sound, same
    argument as q_stream_stateful_counts's running counts).

    Hash-matches the batch oracle over (epoch-µs, event_id) order —
    the stream-batch parity law applied to pattern matching. At scale
    the state is one user's initial string; production would cap it by
    closing sessions (q_sessionize) and matching per session.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Cadence-invariant: the state fn sorts each batch's rows by (ts,
    # event_id) before appending, so the concatenated string is the
    # same under any batching of the time-ordered files, and the
    # per-user max of emissions is its final value (see above).
    r = REPLAY["stateful"]
    ev = feed_stream(spark, sf_dir, EVENTS, r)
    updates = ev.groupBy("user_id").applyInPandasWithState(
        _seq_state_fn,
        outputStructType=_SEQ_OUT_SCHEMA,
        stateStructType=_SEQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_drain(
        updates, "t6_stream_seq", "update", shuffle_partitions=r.state_partitions
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_matches").alias("n_matches"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_ohlc",
    oracle="""
        WITH p AS (
          SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hr_us,
                 epoch_us(ts) * 100 + event_id % 100 AS k,
                 value
          FROM events WHERE event_type = 'purchase')
        SELECT hr_us,
               round(arg_min(value, k), 2) AS open,
               round(max(value), 2) AS high,
               round(min(value), 2) AS low,
               round(arg_max(value, k), 2) AS close,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        FROM p
        GROUP BY hr_us
        ORDER BY hr_us
    """,
    tags=("T1", "T7", "timeseries"),
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candles — q_ohlc_hourly's tumbling-window twin
    running as a REAL stream (complete-mode window aggregation over
    the drop-dir replay): min_by/max_by resolve open/close
    incrementally inside the streaming state, proving the
    first/last-in-group rollup needs no batch re-sort — the pattern a
    live market-data / metering dashboard runs. Hash-matches the
    batch answer at the stream's µs grain (stream-batch parity law).

    Scale shape: state is |open windows| x 7 aggregates (bounded by
    the calendar in complete mode; with a watermark in append mode it
    is bounded by lateness); min_by/max_by carry (key, value) pairs
    through partial aggregation exactly as the batch plan does. The
    sub-µs key fold (µs * 100 + event_id % 100) keeps same-µs ties
    engine-deterministic; unlike the batch twin the stream's native
    grain IS µs, so the fold multiplies the raw epoch (safe: 1.7e17
    < 2^63).
    """
    r = REPLAY["complete"]
    events = feed_stream(spark, sf_dir, EVENTS, r)
    k = subus_key(F.unix_micros(F.col("ts")))
    agg = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("k", k)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.round(F.expr("min_by(value, k)"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.expr("max_by(value, k)"), 2).alias("close"),
            F.count("*").cast("long").alias("n_trades"),
            money_sum("value").alias("volume"),
        )
    )
    out = run_drain(
        agg, "t1_ohlc", "complete", shuffle_partitions=r.state_partitions
    )
    return out.select(
        _us(F.col("w.start")).alias("hr_us"),
        "open",
        "high",
        "low",
        "close",
        "n_trades",
        "volume",
    ).orderBy("hr_us")


@query(
    "q_stream_minhash_dedup",
    tags=("T5", "T6", "L2"),
)
def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5xL2: streaming near-duplicate suppression — the ingest-side
    twin of q_minhash_near_dups. Documents replay as an arrival-ordered
    stream; MinHash signatures and banded LSH bucket keys are computed
    JVM-side (the SAME bucket hashes as the batch path, via
    operators.dedup.band_hash_expr), and applyInPandasWithState keyed
    by (band_idx, band_hash) keeps each bucket's first-seen document as
    16 bytes of state, emitting a dup-hit row for every later arrival
    in the bucket (streaming.docs_dedup module docstring: semantics,
    determinism, and why this state shape is skew-PROOF — a
    boilerplate bucket holds one winner no matter how many docs hash
    into it).

    Result: the suppressed-documents report — for each doc that
    collided in >= 1 band, how many bands hit and the earliest
    colliding winner. Rows-only BY DESIGN (MinHash is not expressible
    in DuckDB SQL — same verification class as q_minhash_near_dups);
    correctness story: tests/test_streaming.py pins multiset equality
    of the drained hit set against an exact Python greedy simulation
    over batch-computed signatures, at TWO microbatch widths
    (batch-boundary invariance), and pins that the kept set equals the
    simulation's keepers.
    """
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        stream_minhash_dup_hits,
    )

    # The stateful grouping is (band, pmod(bucket, G)) rather than one
    # group per bucket: the bucket -> group mapping is key-pure, so the
    # greedy answer is unchanged, and the per-group Python call cost
    # amortizes over the group's buckets. State partitions run opposite
    # to the joins': this op holds many tiny groups whose Python cost
    # parallelizes with task count. The drained result is invariant
    # under replay cadence, G and partition count.
    r = REPLAY["minhash_dedup"]
    hits = stream_minhash_dup_hits(
        feed_stream(spark, sf_dir, DOCS, r),
        groups_per_band=MINHASH_GROUPS_PER_BAND,
    )
    out = run_drain(
        hits, "t5_minhash_dedup", "append", shuffle_partitions=r.state_partitions
    )
    return (
        out.groupBy("doc_id")
        .agg(
            F.countDistinct("band_idx").alias("n_bands_hit"),
            F.min("winner_id").alias("min_winner_id"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_stream_knn",
    oracle="""
        WITH q AS (
          SELECT vec_id AS q_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id % 25 = 0),
        s AS (
          SELECT q.q_id, e.vec_id,
                 list_dot_product(
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                 / (sqrt(list_dot_product(
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(q.qv, q.qv))) AS rawsim
          FROM embeddings e, q
          WHERE e.vec_id <> q.q_id),
        r AS (
          SELECT q_id, vec_id, rawsim,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY rawsim DESC, vec_id) AS rn
          FROM s)
        SELECT q_id, vec_id, round(rawsim, 6) AS sim, rn
        FROM r WHERE rn <= 10
        ORDER BY q_id, rn
    """,
    tags=("T8", "L3", "T7"),
)
def q_stream_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8xL3: streaming vector search — every 25th embedding arrives
    as a query stream and gets its exact cosine top-10 from the static
    corpus (self excluded), via the stateless foreachBatch enrichment
    in streaming/retrieval.py (module docstring: why retrieval carries
    ZERO streaming state, and how the join widens to the IVF route
    when the corpus outgrows broadcast). Full DuckDB oracle — the
    drained stream must hash-match the batch SQL answer, the same
    double-dot-product exactness contract as the batch L3 tier."""
    from hadoop_log_analysis_spark.streaming.retrieval import stream_knn

    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = run_dir(spark, "stream_knn", sf_dir)
    corpus = scan(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Retrieval is stateless, so the result is batch-boundary invariant.
    r = REPLAY["knn"]
    result = stream_knn(
        feed_stream(spark, sf_dir, QUERY_VECTORS, r),
        corpus,
        k=10,
        name=f"t8_knn_{tag}",
        out_dir=out_dir,
        shuffle_partitions=r.state_partitions,
    )
    return result.orderBy("q_id", "rn")


@query(
    "q_stream_knn_ivf",
    tags=("T8", "L4", "T7"),
)
def q_stream_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8xL4: streaming APPROXIMATE vector search — q_stream_knn's
    corpus-past-broadcast route, shipped rather than documented. Same
    query stream and foreachBatch skeleton; the per-batch ranker is
    operators.similarity.ivf_topk_multi: route each query to its 2
    nearest IVF centroids (only the |buckets| centroid table and the
    query x n_probe routing table broadcast — the corpus itself never
    does), exact-rerank inside the probed buckets. On a label-bucketed
    corpus layout the bucket equi-join prunes every unprobed partition.

    Rows-only BY DESIGN (approximate retrieval, same verification
    class as q_ann_ivf — no SQL oracle can mirror the probe without
    re-deriving it); correctness story in tests/test_streaming.py +
    test_llm_ops: the drained stream multiset-equals the batch
    ivf_topk_multi answer on the full query frame, ivf_topk_multi on a
    1-query frame equals the trusted ann_ivf_topk, and IVF-is-exact-
    within-probed-buckets is pinned on the batch side; recall vs the
    exact ranker is the coverage fraction on this near-random fixture
    (~n_probe/|buckets|), floor-tested."""
    from hadoop_log_analysis_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_multi,
    )
    from hadoop_log_analysis_spark.streaming.retrieval import stream_knn

    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = run_dir(spark, "stream_knn_ivf", sf_dir)
    corpus = scan(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cents = ivf_centroids(corpus)
    r = REPLAY["knn"]
    result = stream_knn(
        feed_stream(spark, sf_dir, QUERY_VECTORS, r),
        corpus,
        k=10,
        name=f"t8_knn_ivf_{tag}",
        out_dir=out_dir,
        ranker=lambda batch_df: ivf_topk_multi(
            batch_df, corpus, cents, k=10, n_probe=2
        ),
        shuffle_partitions=r.state_partitions,
    )
    return result.orderBy("q_id", "rn")
