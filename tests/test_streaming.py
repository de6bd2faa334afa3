"""Stream-batch parity (SURVEY.md §5.4) for the rows-only streaming
ops; the SQL-oracled ones (T1/T2/T3/T5/T6/T7) are parity-checked
against DuckDB by test_oracle_parity / the driver already."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.queries import load_registry
from hadoop_log_analysis_spark.queries.streaming_q import REPLAY, Replay
from hadoop_log_analysis_spark.sources.catalog import scan
from tests.conftest import SF001, SF0001

REGISTRY = load_registry()

# The measurement-style fold: 2 drop files, 3 per microbatch.
FOLDED = Replay(2, 3)


def _oracle_parity_at(spark, monkeypatch, qname, family, replays):
    """Run ``qname`` with REPLAY[family] set to each of ``replays`` and
    compare against its DuckDB oracle with the driver's comparator."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    spec = REGISTRY[qname]
    want = run_oracle(spec.oracle, SF001)
    for replay in replays:
        monkeypatch.setitem(REPLAY, family, replay)
        got = spec.fn(spark, SF001).toPandas()
        problems = compare_frames(got, want)
        assert not problems, f"{qname} at {replay} desynced: {problems}"


def test_replay_table_ships_default_cadences():
    """The shipped cadences: files / mFPT / state partitions per query
    family, plus the plain constants that replaced env overrides."""
    from hadoop_log_analysis_spark.queries import graph_q, streaming_q
    from hadoop_log_analysis_spark.streaming import events_stream

    assert REPLAY == {
        "complete": Replay(8, 2, 8),
        "dedup": Replay(8, 1, 8),
        "stateful": Replay(8, 1, 32),
        "inner_join": Replay(8, 2, 8),
        "left_join": Replay(8, 1, 8),
        "heavy_hitters": Replay(8, 1, 8),
        "psi_monitor": Replay(8, 2, 8),
        "minhash_dedup": Replay(8, 1, 16),
        "knn": Replay(4, 1, 8),
        "watermark_late": Replay(8, 1, 8),
        "sink_parquet": Replay(8, 2, 8),
        "recovery": Replay(8, 1, None),
        "static_join": Replay(8, 2, 8),
        "cdc_apply": Replay(8, 2, None),
    }
    assert streaming_q.MINHASH_GROUPS_PER_BAND == 128
    assert streaming_q.T8_BUCKET_SECONDS == 4 * 3600
    assert events_stream.DRAIN_TIMEOUT_S == 300
    assert graph_q.BFS_CHECKPOINT_EVERY_K == 1


# q_stream_python_datasource streams the app-log text files, not a feed
DROP_FED = sorted(
    n
    for n in REGISTRY
    if n.startswith("q_stream_") and n != "q_stream_python_datasource"
)


def test_every_drop_fed_query_takes_its_feed_from_replay(spark, monkeypatch):
    """Each drop-fed q_stream_* lays out its feed at a REPLAY entry's
    cadence, and every entry has a query. The writer is patched to
    raise with the Replay it was handed, so no feed is built and no
    drain runs."""
    from hadoop_log_analysis_spark.queries import streaming_q
    from hadoop_log_analysis_spark.streaming import events_stream

    class Fed(Exception):
        pass

    def refuse(spark, sf_dir, feed, replay):
        raise Fed(replay)

    monkeypatch.setattr(events_stream, "write_feed", refuse)
    monkeypatch.setattr(streaming_q, "write_feed", refuse)
    used = set()
    for name in DROP_FED:
        with pytest.raises(Fed) as fed:
            REGISTRY[name].fn(spark, SF0001)
        replay = fed.value.args[0]
        family = [f for f, r in REPLAY.items() if r is replay]
        assert family, f"{name} fed at {replay}, not a REPLAY entry"
        used.update(family)
    assert used == set(REPLAY), f"entries without a query: {set(REPLAY) - used}"


def test_watermark_append_emits_closed_windows_matching_batch(spark):
    """T4: every window append-mode emits must carry the exact batch
    count for that hour (late rows behind the watermark were dropped,
    but the drop replays in ts order so closed windows are complete);
    only trailing in-flight windows may be withheld."""
    emitted = {
        r.hr_us: r.n
        for r in REGISTRY["q_stream_watermark_late"].fn(spark, SF001).collect()
    }
    batch = {
        r.hr_us: r.n
        for r in (
            scan(spark, SF001, "events")
            .groupBy(
                F.unix_micros(
                    F.date_trunc("hour", F.col("ts")).cast("timestamp")
                ).alias("hr_us")
            )
            .agg(F.count("*").alias("n"))
        ).collect()
    }
    assert emitted, "append mode should emit closed windows"
    mismatched = {h for h, n in emitted.items() if batch.get(h) != n}
    assert not mismatched, f"closed windows disagree with batch: {sorted(mismatched)[:5]}"
    withheld = set(batch) - set(emitted)
    # Only windows near the end of the stream may still be open.
    assert len(withheld) <= 2, f"too many withheld windows: {len(withheld)}"
    # Exact accounting (VERDICT r1 item 7): every input row is either in
    # an emitted window or in a withheld trailing window — none lost,
    # none duplicated — and withheld windows strictly follow emitted ones.
    total = scan(spark, SF001, "events").count()
    assert total - sum(emitted.values()) == sum(batch[h] for h in withheld)
    if withheld:
        assert min(withheld) > max(emitted)


def test_watermark_drops_late_row_exact_count(spark, tmp_path):
    """T4 late-DROP semantics pinned deterministically: a hand-built
    drop replays (on-time rows) -> (two watermark advances) -> (one
    late row behind the watermark). Spark 3.4+ filters late input with
    the PREVIOUS batch's watermark (eviction uses the current one), so
    the advance must be committed one batch before the late row
    arrives; the late row's window is then already closed and append
    mode must emit it WITHOUT the late row — count 2, not 3 — and
    withhold the still-open trailing windows."""
    import json
    import os

    from hadoop_log_analysis_spark.streaming.events_stream import (
        EVENTS,
        read_feed,
        run_drain,
    )

    drop = str(tmp_path / "stream_drop_latecase")
    os.makedirs(drop)
    base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    hour = 3_600_000_000
    minute = 60_000_000
    files = [
        [(1, base_us), (2, base_us + 30 * minute)],  # window 00:00, on time
        [(3, base_us + 2 * hour)],  # advances watermark to 01:50
        [(5, base_us + 3 * hour)],  # commits 01:50 as the late-filter wm
        [(4, base_us + 5 * minute)],  # LATE: window 00:00 already closed
    ]
    for i, evs in enumerate(files):
        with open(os.path.join(drop, f"part-{i:05d}.json"), "w") as f:
            for eid, ts_us in evs:
                f.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts_us": ts_us,
                            "user_id": 7,
                            "event_type": "click",
                            "value": 1.0,
                        }
                    )
                    + "\n"
                )
    base_m = os.path.getmtime(os.path.join(drop, "part-00000.json"))
    for i in range(len(files)):
        os.utime(os.path.join(drop, f"part-{i:05d}.json"), (base_m + 10 * i,) * 2)
    replay = Replay(len(files), 1)
    events = read_feed(spark, drop, EVENTS, replay)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_drain(
        agg, "t4_latecase", "append", shuffle_partitions=replay.state_partitions
    )
    emitted = {(r["w"].start.isoformat(), r.n) for r in out.collect()}
    assert emitted == {("2024-01-01T00:00:00", 2)}


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_stream_left_join",
        "q_stream_stream_left_join_bucketed",
        "q_stream_stream_left_join_bucketed_payload",
    ],
)
def test_stream_stream_left_join_parity_at_bench_mfpt(spark, monkeypatch, qname):
    """T8 left-outer joins at the shipped cadence (8 files, every
    sentinel its own microbatch) and at the folded one, where
    2 files at mFPT=3 pack the replay into two microbatches and
    correctness rests on Spark scheduling a no-data flush batch after
    the final sentinel-carrying batch. Pinned with the driver's exact
    comparator, so a Spark-version change in no-data-batch triggering
    fails loudly; covers the bucketed skew-defense twin (exploded
    sentinels, drained merge) and its payload-carrying variant."""
    _oracle_parity_at(
        spark, monkeypatch, qname, "left_join", [REPLAY["left_join"], FOLDED]
    )


def test_stream_minhash_dedup_matches_greedy_simulation(spark):
    """T5xL2 (streaming.docs_dedup): the drained dup-hit multiset must
    equal an exact Python greedy simulation of first-seen-per-bucket
    over the batch-computed signatures — at TWO microbatch widths, so
    the winner/hit assignment is batch-boundary invariant — and the
    kept set must equal the simulation's keepers."""
    from collections import Counter

    from hadoop_log_analysis_spark.operators.dedup import (
        band_hash_expr,
        minhash_signature,
    )
    from hadoop_log_analysis_spark.queries.streaming_q import (
        MINHASH_GROUPS_PER_BAND,
    )
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        stream_minhash_dup_hits,
    )
    from hadoop_log_analysis_spark.streaming.events_stream import (
        DOCS,
        feed_stream,
        run_drain,
    )

    docs = scan(spark, SF0001, "documents").select("doc_id", "text")
    sig_rows = (
        docs.withColumn("sig", minhash_signature("text"))
        .select("doc_id", band_hash_expr("sig").alias("bands"))
        .collect()
    )
    # Greedy ingest simulation: docs arrive in doc_id order (the drop
    # dir's synthetic clock is doc_id-derived); the first doc EVER to
    # touch a bucket owns it, later touchers emit one hit per band.
    seen: dict = {}
    expected: Counter = Counter()
    all_ids = set()
    for r in sorted(sig_rows, key=lambda r: r.doc_id):
        all_ids.add(r.doc_id)
        for bi, bh in enumerate(r.bands):
            if (bi, bh) in seen:
                expected[(r.doc_id, bi, seen[(bi, bh)])] += 1
            else:
                seen[(bi, bh)] = r.doc_id
    assert expected, "fixture should contain near-duplicates"

    # replay configs: the per-bucket path on the 8-file dir at two
    # microbatch widths; the coarse-grouped path at the shipped
    # q_stream_minhash_dedup config (8 files, mFPT=1, G=128, 16 state
    # partitions) and at the folded 2-file / mFPT=3 one; and a
    # deliberately tiny/odd G under the finest cadence (many buckets
    # per group x incremental state across 8 batches) — all must
    # produce the identical greedy hit multiset
    g = MINHASH_GROUPS_PER_BAND
    configs = [
        (Replay(8, 1), None),
        (Replay(8, 4), None),
        (REPLAY["minhash_dedup"], g),
        (FOLDED, g),
        (Replay(8, 1), 7),
    ]
    for i, (replay, groups) in enumerate(configs):
        hits = stream_minhash_dup_hits(
            feed_stream(spark, SF0001, DOCS, replay), groups_per_band=groups
        )
        out = run_drain(
            hits, f"test_mh_dedup_{i}", "append",
            shuffle_partitions=replay.state_partitions,
        )
        got = Counter(
            (r.doc_id, r.band_idx, r.winner_id) for r in out.collect()
        )
        assert got == expected, f"hit multiset diverges at config {i}"
        kept = all_ids - {d for d, _, _ in got}
        assert kept == all_ids - {d for d, _, _ in expected}


def test_grouped_first_seen_empty_group_emits_nothing():
    """Under a state timeout Spark invokes a group with no rows (it runs
    with NoTimeout today): the grouped first-seen function must emit
    nothing and leave the state alone instead of failing in
    pd.concat([])."""
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        _grouped_first_seen_fn,
    )

    class _NoState:
        exists = False

        def update(self, value):
            raise AssertionError(f"state written without rows: {value}")

    assert list(_grouped_first_seen_fn((0,), iter([]), _NoState())) == []


def test_stream_knn_batch_boundary_invariant(spark, tmp_path):
    """T8xL3 (streaming/retrieval.py): retrieval is stateless, so the
    drained top-k must be IDENTICAL under different microbatch widths
    — and each query's rows must form a complete 1..k rank prefix."""
    from hadoop_log_analysis_spark.sources.catalog import scan as _scan
    from hadoop_log_analysis_spark.streaming.events_stream import (
        QUERY_VECTORS,
        feed_stream,
    )
    from hadoop_log_analysis_spark.streaming.retrieval import stream_knn

    corpus = _scan(spark, SF0001, "embeddings").select("vec_id", "embedding")
    results = {}
    for mfpt in (1, 4):
        replay = Replay(4, mfpt)
        out_dir = str(tmp_path / f"test_knn_{mfpt}")
        df = stream_knn(
            feed_stream(spark, SF0001, QUERY_VECTORS, replay),
            corpus,
            k=10,
            name=f"test_knn_{mfpt}",
            out_dir=out_dir,
            shuffle_partitions=replay.state_partitions,
        )
        results[mfpt] = {tuple(r) for r in df.collect()}
    assert results[1] == results[4]
    assert results[1], "query feed should produce results"
    by_q: dict = {}
    for q_id, _vec, _sim, rn in results[1]:
        by_q.setdefault(q_id, []).append(rn)
    for q_id, rns in by_q.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), q_id


def test_stream_knn_ivf_matches_batch_ranker(spark, tmp_path):
    """T8xL4 (streaming/retrieval.py): the drained approximate stream
    must multiset-equal the batch ivf_topk_multi answer over the full
    query frame (same centroids, same routing) — replay adds nothing
    and loses nothing — and stay a strict subset-or-equal of recall
    against the exact ranker at the coverage floor."""
    from hadoop_log_analysis_spark.operators.similarity import (
        exact_topk_multi,
        ivf_centroids,
        ivf_topk_multi,
    )
    from hadoop_log_analysis_spark.streaming.events_stream import (
        QUERY_VECTORS,
        feed_stream,
    )
    from hadoop_log_analysis_spark.streaming.retrieval import stream_knn

    corpus = scan(spark, SF0001, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cents = ivf_centroids(corpus)
    queries = (
        scan(spark, SF0001, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
    )
    batch = {
        tuple(r)
        for r in ivf_topk_multi(queries, corpus, cents, k=10, n_probe=2).collect()
    }
    replay = Replay(4, 2)
    streamed = {
        tuple(r)
        for r in stream_knn(
            feed_stream(spark, SF0001, QUERY_VECTORS, replay),
            corpus,
            k=10,
            name="test_knn_ivf",
            out_dir=str(tmp_path / "test_knn_ivf"),
            ranker=lambda b: ivf_topk_multi(b, corpus, cents, k=10, n_probe=2),
            shuffle_partitions=replay.state_partitions,
        ).collect()
    }
    assert streamed == batch and streamed
    # coverage-level recall floor vs the exact ranker (near-random
    # fixture: recall ~= n_probe/|buckets| = 0.2; floor at half that)
    exact = {
        (r.q_id, r.vec_id)
        for r in exact_topk_multi(queries, corpus, k=10).collect()
    }
    approx = {(q, v) for q, v, _s, _r in streamed}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.1, f"IVF stream recall {recall:.2f} below coverage floor"


def test_stream_minhash_dedup_ttl_horizon(spark, tmp_path):
    """TTL variant (docs_dedup._make_ttl_fn): winners suppress only
    within horizon_us of their own event time; later arrivals re-claim
    the bucket; and the EventTimeTimeout actually EVICTS — a late
    in-horizon arrival delivered after the timer fired re-claims
    instead of hitting, which is only observable if state.remove()
    ran. Hand-built feed, identical text => all 16 bands collide."""
    import json
    import os

    from hadoop_log_analysis_spark.scratch import stamp_replay_order
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        stream_minhash_dup_hits,
    )
    from hadoop_log_analysis_spark.streaming.events_stream import (
        DOCS,
        ckpt_path,
        read_feed,
        run_drain,
    )

    base = 1_704_067_200_000_000
    mn = 60_000_000
    text_x = "the same boilerplate text repeated verbatim every time"
    text_y = "a completely different document about something else entirely"
    text_z = "yet another unrelated third document with its own words here"
    horizon = 90 * mn
    # file-per-batch, in arrival order:
    #  A(0, X)        claims every X bucket
    #  B(80min, X)    within horizon of A -> 16 hits on A
    #  C(180min, X)   past A's horizon -> re-claims silently
    #  D(260min, X)   within horizon of C -> 16 hits on C
    #  E(700min, Y)   unrelated; advances watermark past C+horizon
    #  G(705min, Y)   batch with no X-bucket data -> timers fire,
    #                 C's buckets evicted
    #  F(300min, X)   LATE (watermark ~705min) but within horizon of C:
    #                 with state alive it would hit C; after eviction it
    #                 re-claims -> emits nothing (proves remove() ran)
    #  H(310min, X)   also late, within horizon of F: hits F — which
    #                 both proves applyInPandasWithState DELIVERS
    #                 late rows (no automatic late filtering; the
    #                 operator's in-order contract is the caller's)
    #                 and that F's re-claim really registered
    files = [
        (10, 0, text_x),
        (11, 80 * mn, text_x),
        (12, 180 * mn, text_x),
        (13, 260 * mn, text_x),
        (14, 700 * mn, text_y),
        (15, 705 * mn, text_z),
        (16, 300 * mn, text_x),
        (17, 310 * mn, text_x),
    ]
    drop = str(tmp_path / "docs_drop_ttlcase")
    os.makedirs(drop)
    for i, (doc_id, off, text) in enumerate(files):
        with open(os.path.join(drop, f"part-{i:05d}.json"), "w") as f:
            f.write(json.dumps({
                "doc_id": doc_id, "ts_us": base + off,
                "text": text, "source": "s",
            }) + "\n")
    stamp_replay_order(drop)

    replay = Replay(len(files), 1)
    hits = stream_minhash_dup_hits(
        read_feed(spark, drop, DOCS, replay), horizon_us=horizon
    )
    out = run_drain(
        hits, "test_mh_ttl", "append", shuffle_partitions=replay.state_partitions
    )
    got = sorted((r.doc_id, r.band_idx, r.winner_id) for r in out.collect())
    # F and H emit NOTHING: watermark filtering drops late input before
    # applyInPandasWithState (observed and pinned here — Spark filters
    # sub-watermark rows for stateful ops when a watermark is set, so
    # the late-feed caveat in the module docstring applies only to
    # out-of-order rows ABOVE the watermark).
    expected = sorted(
        [(11, b, 10) for b in range(16)] + [(13, b, 12) for b in range(16)]
    )
    assert got == expected, f"TTL horizon semantics diverged: {got[:8]}..."

    # EVICTION proof, read from the checkpoint itself (Spark 4 state
    # data source; the coordinator endpoint exists because this session
    # just ran the drain): the X buckets' entries — winner 10 then 12 —
    # must be GONE (watermark 700min passed C's 270min expiry at the
    # G batch, which carried no X data, so the timers fired), leaving
    # only E's and G's 16 buckets each, live because their expiries
    # exceed the final watermark.
    ckpt = ckpt_path(spark, "test_mh_ttl")
    live = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("value.groupState.winner_id")
        .collect()
    )
    winners = sorted(r.winner_id for r in live)
    assert winners == [14] * 16 + [15] * 16, (
        f"expected only the Y/Z buckets live after eviction, got {winners}"
    )


@pytest.mark.parametrize(
    "qname", ["q_stream_stateful_counts", "q_stream_sequence_match"]
)
def test_stateful_pair_parity_at_folded_replay(spark, monkeypatch, qname):
    """The two per-user applyInPandasWithState drains. The drained
    answer is a per-user max of monotone running values, so it must
    be batching- and partition-count-invariant: pinned at the shipped
    cadence (8 files, mFPT=1, 32 state partitions) and folded into one
    microbatch over 4 partitions, so a regression in the in-batch
    (ts, event_id) sort or the monotonicity argument fails loudly."""
    _oracle_parity_at(
        spark, monkeypatch, qname, "stateful",
        [REPLAY["stateful"], Replay(2, 3, 4)],
    )


def test_stream_dedup_parity_at_folded_replay(spark, monkeypatch):
    """q_stream_dedup at the shipped and folded cadences. Every
    injected duplicate shares its original's event time and file
    slice, so folding only narrows the watermark movement between
    original and dup — the drained set must stay the unique rows."""
    _oracle_parity_at(
        spark, monkeypatch, "q_stream_dedup", "dedup", [REPLAY["dedup"], FOLDED]
    )


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_hourly_errors",
        "q_stream_sliding_counts",
        "q_stream_sessions",
        "q_stream_ohlc",
    ],
)
def test_complete_mode_parity_at_folded_replay(spark, monkeypatch, qname):
    """The complete-mode, no-watermark drains re-emit the full
    aggregate each batch, so the drained result is a pure function of
    the total replayed data: pinned at the shipped 8-file / mFPT=2
    cadence and at the folded one."""
    _oracle_parity_at(
        spark, monkeypatch, qname, "complete", [REPLAY["complete"], FOLDED]
    )


def test_stream_heavy_hitters_parity_at_folded_replay(spark, monkeypatch):
    """q_stream_heavy_hitters at the shipped and folded cadences.
    Misra-Gries emissions are cadence-dependent, but the exact recount
    thresholded at n/(k+1) filters extra candidates and the MG
    guarantee puts every true heavy hitter in any cadence's final
    state — so the drained ANSWER must be cadence-invariant."""
    _oracle_parity_at(
        spark, monkeypatch, "q_stream_heavy_hitters", "heavy_hitters",
        [REPLAY["heavy_hitters"], FOLDED],
    )


def test_flattened_drop_mtimes_keep_answers(spark):
    """A cached drop dir keeps its replay order only in part-file
    mtimes, which a copy (``cp -r``, an archive) flattens. Flatten the
    cached events (with dups, with sentinels) and docs drop dirs at
    sf0.01, then check the answers that depend on replay order."""
    import os

    from hadoop_log_analysis_spark.operators.dedup import (
        band_hash_expr,
        minhash_signature,
    )
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle
    from hadoop_log_analysis_spark.streaming.events_stream import (
        DOCS,
        EVENTS_WITH_DUPS,
        EVENTS_WITH_SENTINELS,
        write_feed,
    )

    drops = [
        write_feed(spark, SF001, EVENTS_WITH_DUPS, REPLAY["dedup"]),
        write_feed(spark, SF001, EVENTS_WITH_SENTINELS, REPLAY["left_join"]),
        write_feed(spark, SF001, DOCS, REPLAY["minhash_dedup"]),
    ]
    for drop in drops:
        t = os.path.getmtime(drop)
        for f in os.listdir(drop):
            if f.startswith("part-"):
                os.utime(os.path.join(drop, f), (t, t))

    for qname in ("q_stream_dedup", "q_stream_stream_left_join"):
        spec = REGISTRY[qname]
        got = spec.fn(spark, SF001).toPandas()
        problems = compare_frames(got, run_oracle(spec.oracle, SF001))
        assert not problems, f"{qname} after flattened mtimes: {problems}"

    # q_stream_minhash_dedup against the greedy first-seen simulation
    sig_rows = (
        scan(spark, SF001, "documents")
        .withColumn("sig", minhash_signature("text"))
        .select("doc_id", band_hash_expr("sig").alias("bands"))
        .collect()
    )
    seen: dict = {}
    bands_hit: dict = {}
    winners: dict = {}
    for r in sorted(sig_rows, key=lambda r: r.doc_id):
        for bi, bh in enumerate(r.bands):
            if (bi, bh) in seen:
                bands_hit.setdefault(r.doc_id, set()).add(bi)
                winners[r.doc_id] = min(
                    winners.get(r.doc_id, seen[(bi, bh)]), seen[(bi, bh)]
                )
            else:
                seen[(bi, bh)] = r.doc_id
    want = pd.DataFrame(
        {
            "doc_id": list(bands_hit),
            "n_bands_hit": [len(b) for b in bands_hit.values()],
            "min_winner_id": [winners[d] for d in bands_hit],
        }
    )
    got = REGISTRY["q_stream_minhash_dedup"].fn(spark, SF001).toPandas()
    assert len(want), "fixture should contain near-duplicates"
    problems = compare_frames(got, want)
    assert not problems, f"minhash dedup after flattened mtimes: {problems}"


def test_same_basename_inputs_get_their_own_drop_dirs(spark, tmp_path):
    """Two inputs that share a basename must not share a cached
    directory or table: the second one, holding half the events, half
    the embeddings and half the lineitem rows, replays half the events,
    reads its own app-log text files, probes its own IVF index and
    joins its own bucketed tables."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle
    from hadoop_log_analysis_spark.streaming.events_stream import (
        EVENTS,
        write_feed,
    )

    other = tmp_path / "other" / os.path.basename(SF0001)
    other.mkdir(parents=True)
    halves = {}
    for name in os.listdir(SF0001):
        table = name.removesuffix(".parquet")
        if table in ("events", "embeddings", "lineitem"):
            full = pq.read_table(os.path.join(SF0001, name))
            halves[table] = full.slice(0, full.num_rows // 2)
            assert halves[table].num_rows < full.num_rows
            pq.write_table(halves[table], str(other / name))
        else:
            os.symlink(os.path.join(SF0001, name), other / name)

    replay = Replay(8, 2)
    first = write_feed(spark, SF0001, EVENTS, replay)
    second = write_feed(spark, str(other), EVENTS, replay)
    assert first != second
    assert os.path.basename(SF0001) in os.path.basename(second)
    for drop, src in ((first, SF0001), (second, str(other))):
        with open(os.path.join(drop, "_READY")) as fh:
            assert fh.read() == os.path.realpath(src)
    n_second = spark.read.schema(EVENTS.schema).json(second).count()
    assert n_second == halves["events"].num_rows

    for name in ("q_python_datasource", "q_bucketed_join"):
        spec = REGISTRY[name]
        spec.fn(spark, SF0001).collect()
        got = spec.fn(spark, str(other)).toPandas()
        problems = compare_frames(got, run_oracle(spec.oracle, str(other)))
        assert not problems, f"{name} on the second input: {problems}"

    ann = REGISTRY["q_ann_ivf"].fn
    ann(spark, SF0001).collect()
    hits = {r.vec_id for r in ann(spark, str(other)).collect()}
    assert hits <= set(halves["embeddings"].column("vec_id").to_pylist())

    from hadoop_log_analysis_spark import scratch

    indexes = {}
    pattern = f"ivf_index_{os.path.basename(SF0001)}_*"
    for entry in glob.glob(os.path.join(scratch.ROOT, pattern)):
        with open(os.path.join(entry, "_READY")) as fh:
            indexes[fh.read()] = entry
    mine, theirs = os.path.realpath(SF0001), os.path.realpath(other)
    assert mine in indexes and theirs in indexes
    assert indexes[mine] != indexes[theirs]
    for entry in glob.glob(os.path.join(scratch.ROOT, "*")):
        marker = os.path.join(entry, "_READY")
        if os.path.exists(marker):
            with open(marker) as fh:
                if fh.read() == theirs:
                    shutil.rmtree(entry)
