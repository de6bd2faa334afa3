"""Streaming near-duplicate suppression over a documents feed (T5 x L2).

Batch near-dup dedup (operators.dedup: MinHash -> banded LSH ->
candidate pairs) answers "which pairs in this corpus are near-dups".
An INGEST pipeline asks a different question: "is this arriving
document a near-dup of anything seen before?" — and must answer it
incrementally, without re-joining the corpus per batch. This module
is that operator:

  doc stream -> MinHash signature (JVM-side array exprs, reused from
  operators.dedup) -> banded LSH bucket keys (band_hash_expr — the
  SAME bucket hashes as the batch path) -> posexplode to one row per
  (band, bucket) -> applyInPandasWithState keyed by (band_idx,
  band_hash): state is the bucket's FIRST-SEEN document (winner), and
  every later arrival in the bucket emits a dup-hit row
  (doc_id, band_idx, winner_id). A document is suppressed iff it hit
  in at least one band — the standard LSH OR-construction.

Semantics (first-seen-wins, variant "all docs register"): the bucket
winner is the first document EVER to touch the bucket, whether or not
that document was itself suppressed via some other band. This is the
deterministic greedy ingest order — doc D is a dup iff some earlier
doc shares a band bucket with D — and it is exactly reproducible by a
sequential scan, which is what tests/test_streaming.py pins
(multiset equality of the drained hit set against a Python greedy
simulation over the batch-computed signatures, at two different
microbatch widths).

Determinism: the drop directory replays in event-time order
(mtime-stamped range partitions, same scheme as events_stream), and
within a microbatch each bucket group is sorted by (ts_us, doc_id)
before the winner is chosen — so processing order == event order and
ties are impossible (ts_us is doc_id-derived and unique). On a truly
out-of-order live feed the operator degrades to first-PROCESSED-wins,
which is the honest streaming semantic; the suppressed set changes
only for docs whose arrival order inverted. With a horizon set, rows
BELOW the watermark never even reach the operator (Spark filters late
input to stateful ops once a watermark exists — pinned by the TTL
test), so the caveat narrows to above-watermark disorder.

Scale posture (100 TB ingest): this is the skew-PROOF shape of
streaming dedup. State per bucket is ONE (winner_id, winner_ts_us)
row regardless of how many documents hash into it — a boilerplate
bucket hit by 10^6 near-identical docs holds 16 bytes of state while
a stream-stream join key would hold 10^6 rows (the 2.77x
concentration streaming/skew.py exists to flatten). Total state is
O(#distinct buckets) <= bands x #novel docs, independent of the dup
rate. Only the 4-column exploded key rows cross into Python (Arrow
batches); signature computation stays in whole-stage codegen. On an
unbounded feed, pass ``horizon_us`` to bound the dedup horizon
(``_make_ttl_fn``: winners suppress only within their horizon, and
EventTimeTimeout evicts buckets the watermark has passed) exactly as
dropDuplicatesWithinWatermark bounds exact dedup — the bounded
availableNow replay default keeps NoTimeout so the drained result is
the full greedy answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_log_analysis_spark.operators.dedup import (
    band_hash_expr,
    minhash_signature,
)
from hadoop_log_analysis_spark.streaming.events_stream import cached_drop

# Synthetic arrival clock for the documents fixture (it has no event
# time): doc_id seconds after 2024-01-01T00:00:00Z. Strictly
# increasing in doc_id, so "arrival order" == doc_id order and every
# ts is unique — the determinism contract above.
DOCS_BASE_US = 1_704_067_200 * 1_000_000

DOCS_DROP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def derive_docs_drop_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> str:
    """Write documents as ``n_files`` arrival-ordered JSON-lines files.

    Same replay scheme as events_stream.derive_drop_dir: files are
    range-partitioned on ts_us (file 0 = earliest) and mtime-stamped
    strictly increasing, so a maxFilesPerTrigger stream replays the
    feed in arrival order. Built once per input; deterministic content.
    """
    from hadoop_log_analysis_spark.sources.catalog import scan

    def build(path: str) -> None:
        docs = scan(spark, sf_dir, "documents").select(
            "doc_id",
            (F.lit(DOCS_BASE_US) + F.col("doc_id") * 1_000_000).alias("ts_us"),
            "text",
            "source",
        )
        (
            docs.repartitionByRange(n_files, "ts_us")
            .sortWithinPartitions("ts_us")
            .write.mode("overwrite")
            .json(path)
        )

    return cached_drop(f"docs_drop_{n_files}f", sf_dir, build)


def read_docs_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming file source over a documents drop directory."""
    return (
        spark.readStream.schema(DOCS_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


_DUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("winner_id", T.LongType()),
        T.StructField("winner_ts_us", T.LongType()),
    ]
)

# Grouped-path state: one row per (band_idx, bucket-GROUP), holding the
# group's claimed buckets as parallel arrays. Total state is unchanged
# — O(#claimed buckets) entries either way — only its row granularity
# coarsens (see stream_minhash_dup_hits: groups_per_band).
_GROUPED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("band_hashes", T.ArrayType(T.LongType())),
        T.StructField("winner_ids", T.ArrayType(T.LongType())),
    ]
)

DUP_HITS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("winner_id", T.LongType()),
    ]
)


def _first_seen_fn(key, pdf_iter, state):
    """Per-bucket first-seen winner; every later arrival emits a hit.

    The batch's rows for this bucket are sorted by (ts_us, doc_id); if
    no winner exists yet the earliest row claims the bucket silently
    (it is novel IN THIS BUCKET) and everything after it — this batch
    or any later one — emits exactly one (doc_id, band_idx, winner_id)
    hit row. The winner is never displaced: on an ordered replay no
    later batch can precede it, and on a live out-of-order feed
    first-processed-wins is the intended semantic (module docstring).
    """
    import pandas as pd

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts_us", "doc_id"], kind="mergesort")
    if state.exists:
        winner_id = state.get[0]
    else:
        first = rows.iloc[0]
        winner_id = int(first["doc_id"])
        state.update((winner_id, int(first["ts_us"])))
        rows = rows.iloc[1:]
    if len(rows):
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"].astype("int64"),
                "band_idx": int(key[0]),
                "winner_id": winner_id,
            }
        )


def _grouped_first_seen_fn(key, pdf_iter, state):
    """Per-bucket-GROUP first-seen winners (r15 optimization): one
    Python call handles every bucket whose hash lands in this group,
    so the per-group stateful-runner overhead — the operator's
    measured dominant cost (OPTIMIZATION_r14 "Not yet optimized" #1:
    ~80k per-bucket Python calls per batch at sf0.1) — amortizes over
    ``rows/groups`` buckets instead of being paid once per bucket.

    Semantics are IDENTICAL to :func:`_first_seen_fn` bucket by
    bucket: rows are sorted by (ts_us, doc_id) — a stable global sort,
    so each bucket's rows keep that order — and a sequential dict scan
    claims each unseen (band_hash -> winner) and emits one hit row per
    later arrival. The bucket -> group mapping is a pure function of
    the bucket key (pmod(band_hash, G)), so every row of a bucket
    reaches the same group and the greedy recurrence is untouched;
    tests pin the drained multiset against the per-bucket path's
    greedy simulation at two replay cadences."""
    import pandas as pd

    chunks = list(pdf_iter)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True
    )
    rows = rows.sort_values(["ts_us", "doc_id"], kind="mergesort")
    if state.exists:
        hashes, winners = state.get
        owner = dict(zip(hashes, winners))
    else:
        owner = {}
    n0 = len(owner)
    out_docs: list[int] = []
    out_wins: list[int] = []
    for bh, doc in zip(
        rows["band_hash"].to_numpy(), rows["doc_id"].to_numpy()
    ):
        w = owner.get(bh)
        if w is None:
            owner[int(bh)] = int(doc)
        else:
            out_docs.append(doc)
            out_wins.append(w)
    if len(owner) != n0:
        state.update((list(owner.keys()), list(owner.values())))
    if out_docs:
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out_docs, dtype="int64"),
                "band_idx": int(key[0]),
                "winner_id": pd.array(out_wins, dtype="int64"),
            }
        )


def _make_ttl_fn(horizon_us: int):
    """First-seen with a dedup HORIZON: a winner only suppresses
    arrivals within ``horizon_us`` of its own event time; a later
    arrival re-claims the bucket (and suppresses ITS horizon), exactly
    the contract ``dropDuplicatesWithinWatermark`` gives exact keys.

    Two mechanisms, deliberately separate:

    * SEMANTICS are enforced row-by-row against the stored winner ts
      (``ts - winner_ts > horizon`` -> re-claim) — event-time
      deterministic and independent of when Spark fires timers, so the
      greedy-with-expiry simulation reproduces the output exactly.
    * STATE CLEANUP is the EventTimeTimeout: expiry is set to
      winner_ts + horizon, and once the watermark passes it the bucket
      entry is removed. Removal is semantically neutral — any in-order
      future row is past the horizon and would re-claim anyway — so
      the timer's only job is bounding state to LIVE buckets, which is
      what makes the operator runnable on an unbounded feed.
    """

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts_us", "doc_id"], kind="mergesort")
        if state.exists:
            winner_id, winner_ts = state.get
        else:
            winner_id = winner_ts = None
        out_docs: list[tuple[int, int]] = []
        for ts, doc in zip(rows["ts_us"], rows["doc_id"]):
            ts, doc = int(ts), int(doc)
            if winner_id is None or ts - winner_ts > horizon_us:
                winner_id, winner_ts = doc, ts
            else:
                out_docs.append((doc, winner_id))
        state.update((winner_id, winner_ts))
        # Event-time timer in ms; must exceed the current watermark
        # (Spark refuses a timer already in the past — possible when a
        # late row re-claims an old bucket).
        expiry_ms = (winner_ts + horizon_us) // 1000
        state.setTimeoutTimestamp(
            max(expiry_ms, state.getCurrentWatermarkMs() + 1)
        )
        if out_docs:
            yield pd.DataFrame(
                {
                    "doc_id": [d for d, _ in out_docs],
                    "band_idx": int(key[0]),
                    "winner_id": [w for _, w in out_docs],
                }
            )

    return fn


def stream_minhash_dup_hits(
    docs: DataFrame,
    num_hashes: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    horizon_us: int | None = None,
    watermark_delay: str = "0 seconds",
    groups_per_band: int | None = None,
) -> DataFrame:
    """Streaming LSH dup-hit detector (module docstring for semantics).

    Input: a streaming documents DataFrame with (doc_id, ts_us, text).
    Output stream (append): one row per (suppressed doc, colliding
    band) with the bucket's first-seen winner. Downstream keeper
    selection is one anti-semantics aggregation over the drained hits:
    a doc is kept iff it emitted zero hit rows.

    ``horizon_us=None`` (the bounded-replay default) keeps every
    bucket winner forever — the drained result is the full greedy
    answer. On an UNBOUNDED feed pass a horizon: winners only
    suppress within ``horizon_us`` of their event time, later
    arrivals re-claim, and EventTimeTimeout evicts buckets the
    watermark has passed, bounding state to live buckets
    (``_make_ttl_fn``; eviction observability is pinned by test — a
    late in-horizon arrival after the timer fired re-claims instead
    of hitting).

    ``groups_per_band`` (r15, bounded-replay path only) coarsens the
    stateful grouping from one group per (band, bucket) to one per
    (band, pmod(bucket_hash, G)): applyInPandasWithState pays a fixed
    Python stateful-runner cost PER GROUP PER BATCH, and with ~5 tiny
    buckets per doc-band this operator's cost is that fixed cost times
    ~bands x docs — at sf0.1, ~80k Python calls per batch (the r14
    sizing law). G groups per band cut the call count to bands x G
    while each call handles its buckets with one vectorized
    dict-claim pass; the bucket -> group mapping is key-pure, so the
    greedy answer is UNCHANGED (CI pins the multiset at two replay
    cadences). The trade, stated for 100 TB honesty: per-bucket state
    rows are read/written individually, while a group row is
    rewritten whole whenever any of its buckets is touched — so G
    should scale with corpus size (keep expected buckets/group in the
    10^1-10^3 range; the fixed default suits batches that touch most
    groups, which is the throughput-sized-batch regime). ``None``
    keeps the exact per-bucket shape (the TTL path always uses it:
    its EventTimeTimeout eviction is per-bucket by design).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    sig = docs.withColumn(
        "sig", minhash_signature("text", num_hashes, shingle_k, seed)
    )
    buckets = sig.select(
        "doc_id",
        "ts_us",
        F.posexplode(band_hash_expr("sig", bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    if horizon_us is None:
        if groups_per_band is not None:
            if groups_per_band < 1:
                raise ValueError(
                    f"groups_per_band must be >= 1, got {groups_per_band}"
                )
            return buckets.withColumn(
                "grp", F.pmod("band_hash", F.lit(groups_per_band))
            ).groupBy("band_idx", "grp").applyInPandasWithState(
                _grouped_first_seen_fn,
                outputStructType=DUP_HITS_SCHEMA,
                stateStructType=_GROUPED_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        return buckets.groupBy("band_idx", "band_hash").applyInPandasWithState(
            _first_seen_fn,
            outputStructType=DUP_HITS_SCHEMA,
            stateStructType=_DUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    if horizon_us < 1:
        raise ValueError(f"horizon_us must be >= 1, got {horizon_us}")
    if groups_per_band is not None:
        raise ValueError(
            "groups_per_band is bounded-replay-only: the TTL path's "
            "EventTimeTimeout eviction is per-bucket by design "
            "(a group timer would evict sibling buckets early or "
            "hold them past their horizon)"
        )
    with_ts = buckets.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("ts", watermark_delay)
    return with_ts.groupBy("band_idx", "band_hash").applyInPandasWithState(
        _make_ttl_fn(horizon_us),
        outputStructType=DUP_HITS_SCHEMA,
        stateStructType=_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
