"""Algebraic property checks (SURVEY.md §5.5): invariants that hold
for ANY data, checked on the fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_log_analysis_spark.sources.catalog import scan
from tests.conftest import SF001


def test_union_count_additivity(spark):
    ev = scan(spark, SF001, "events")
    a = ev.filter(F.col("event_type") == "error")
    b = ev.filter(F.col("event_type") != "error")
    assert a.count() + b.count() == ev.count()
    assert a.unionByName(b).count() == ev.count()


def test_filter_subset_of_scan(spark):
    li = scan(spark, SF001, "lineitem")
    assert li.filter(F.col("l_quantity") > 30).count() <= li.count()


def test_topk_prefix_monotone(spark):
    ev = scan(spark, SF001, "events")
    ranked = ev.orderBy(F.col("value").desc(), "event_id")
    top5 = [r.event_id for r in ranked.limit(5).collect()]
    top10 = [r.event_id for r in ranked.limit(10).collect()]
    assert top10[:5] == top5


def test_distinct_idempotent(spark):
    docs = scan(spark, SF001, "documents").select("lang")
    assert docs.distinct().count() == docs.distinct().distinct().count()


def test_events_ts_repair_roundtrip(spark):
    # ts (µs, repaired) and ts_ns (raw) must agree: ts == ts_ns div 1000 µs.
    ev = scan(spark, SF001, "events")
    bad = ev.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) != F.expr("ts_ns div 1000")
    ).count()
    assert bad == 0


def test_events_ts_repair_rejects_unexpected_type(spark):
    # VERDICT r3 "Next round" #5: a StringType ts must raise loudly —
    # silently casting would null unparseables while still matching
    # the expected schema, defeating scan()'s drift assertion.
    import pytest

    from hadoop_log_analysis_spark.sources.catalog import _repair_events

    fake = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "error", 1.0, {"k": "v"})],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props map<string,string>",
    )
    with pytest.raises(RuntimeError, match="unsupported parquet type"):
        _repair_events(fake)


def test_pivot_row_sums_equal_daily_totals(spark):
    # Summing the pivoted per-type columns must reproduce the plain
    # per-day counts — pivot loses no rows.
    from hadoop_log_analysis_spark.queries import load_registry

    piv = load_registry()["q_pivot_event_day"].fn(spark, SF001)
    type_cols = [c for c in piv.columns if c != "d"]
    summed = piv.select(
        "d", sum(F.col(c) for c in type_cols).alias("n")
    )
    plain = (
        scan(spark, SF001, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    assert summed.exceptAll(plain).count() == 0
    assert plain.exceptAll(summed).count() == 0


def test_gapfill_spine_is_dense_and_complete(spark):
    # The gap-filled series must be hourly-dense: (max-min)/3600s + 1 rows,
    # and its error total must equal the raw error count.
    from hadoop_log_analysis_spark.queries import load_registry

    filled = load_registry()["q_gapfill_hours"].fn(spark, SF001).collect()
    hrs = [r.hr for r in filled]
    assert len(hrs) == int((max(hrs) - min(hrs)).total_seconds()) // 3600 + 1
    total = sum(r.n_errors for r in filled)
    ev = scan(spark, SF001, "events")
    assert total == ev.filter(F.col("event_type") == "error").count()


def test_centroid_dims_match_embedding_width(spark):
    from hadoop_log_analysis_spark.queries import load_registry

    cents = load_registry()["q_label_centroids"].fn(spark, SF001).collect()
    assert cents and all(r.dims == 64 for r in cents)


def test_unpivot_roundtrips_wide_values(spark):
    # melt(wide) must carry exactly the wide frame's cells.
    from hadoop_log_analysis_spark.queries import load_registry

    long_df = load_registry()["q_unpivot_status_metrics"].fn(spark, SF001)
    orders = scan(spark, SF001, "orders")
    statuses = orders.select("o_orderstatus").distinct().count()
    assert long_df.count() == statuses * 2  # two metrics per status


def test_kmeans_members_partition_the_corpus(spark):
    # Every vector is assigned to exactly one refined centroid.
    from hadoop_log_analysis_spark.queries import load_registry

    rows = load_registry()["q_kmeans_ivf"].fn(spark, SF001).collect()
    emb_count = scan(spark, SF001, "embeddings").count()
    assert sum(r.n_members for r in rows) == emb_count
    assert all(r.dims == 64 for r in rows)


def test_connected_components_transitive_closure(spark):
    # On a hand-built graph with two components and a chain, labels
    # must reach the min id of each component (diameter > 1 exercised).
    from hadoop_log_analysis_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], ["a_id", "b_id"]
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_funnel_steps_monotone_narrowing(spark):
    # A strict-ordered funnel can only narrow: each step's user count
    # is <= the previous step's.
    from hadoop_log_analysis_spark.queries import load_registry

    rows = (
        load_registry()["q_funnel_steps"]
        .fn(spark, SF001)
        .collect()
    )
    counts = [r.n_users for r in sorted(rows, key=lambda r: r.step)]
    assert counts == sorted(counts, reverse=True)


def test_transitions_count_events_minus_first_per_user(spark):
    # Every event except each user's first contributes exactly one
    # (prev -> next) transition: sum(n) == |events| - |active users|.
    from hadoop_log_analysis_spark.queries import load_registry

    ev = scan(spark, SF001, "events")
    total = (
        load_registry()["q_event_transitions"]
        .fn(spark, SF001)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert total == ev.count() - ev.select("user_id").distinct().count()


def test_pack_sequences_conserves_chunk_tokens(spark):
    # Packing only regroups chunks: total packed tokens must equal the
    # total chunk tokens emitted by the chunking query.
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    packed = reg["q_pack_sequences"].fn(spark, SF001).agg(F.sum("n_tokens"))
    chunks = reg["q_doc_chunks"].fn(spark, SF001).agg(F.sum("n_chunk_toks"))
    assert packed.collect()[0][0] == chunks.collect()[0][0]


def test_rolling_active_users_bounds_daily_active(spark):
    # WAU(d) is sandwiched: DAU(d) <= WAU(d) <= total distinct users.
    from hadoop_log_analysis_spark.queries import load_registry

    ev = scan(spark, SF001, "events")
    dau = {
        r.d: r.n
        for r in ev.select(
            F.date_trunc("day", "ts").alias("d"), "user_id"
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    n_users = ev.select("user_id").distinct().count()
    for r in load_registry()["q_rolling_active_users"].fn(spark, SF001).collect():
        assert dau[r.d] <= r.wau <= n_users


def test_compaction_reduces_file_count_losslessly(spark):
    # After q_compact_small_files runs, the compacted dir must hold
    # far fewer files than the 64-way fragmented source while keeping
    # every row (row count preserved; content equality is the query's
    # own DuckDB oracle).
    import glob
    import os

    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.scratch import run_dir

    load_registry()["q_compact_small_files"].fn(spark, SF001).collect()
    src_dir = run_dir(spark, "small_files", SF001)
    dst_dir = run_dir(spark, "compacted", SF001)
    src = glob.glob(os.path.join(src_dir, "*.parquet"))
    dst = glob.glob(os.path.join(dst_dir, "*.parquet"))
    assert len(src) == 64
    assert len(dst) < len(src) // 8
    n_src = spark.read.parquet(src_dir).count()
    n_dst = spark.read.parquet(dst_dir).count()
    assert n_src == n_dst


def test_hll_rollup_merge_is_lossless_and_accurate(spark):
    """q_hll_rollup invariants: (a) merging the 24 hourly sketches
    yields EXACTLY the estimate of a direct one-pass daily sketch (HLL
    union is register-wise max — mergeability is exact, not
    approximate); (b) the estimate's relative error vs the exact
    distinct count stays inside the lgK=12 HLL bound; (c) the exact
    column itself matches DuckDB."""
    from hadoop_log_analysis_spark.oracle import run_oracle
    from hadoop_log_analysis_spark.queries import load_registry

    rows = load_registry()["q_hll_rollup"].fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r.est_users == r.est_direct, f"merge lost info on {r.day}"
        assert abs(r.est_users - r.exact_users) / r.exact_users < 0.05
    exact = {
        (str(x[0].date() if hasattr(x[0], "date") else x[0]), x[1])
        for x in run_oracle(
            "SELECT CAST(ts AS DATE) d, count(DISTINCT user_id) n "
            "FROM events GROUP BY d",
            SF001,
        ).itertuples(index=False)
    }
    assert {(str(r.day), r.exact_users) for r in rows} == exact


def test_semantic_dedup_cluster_structure(spark):
    """q_semantic_dedup planted structure: vec_id<20 seeds form
    3-member clusters (base + x1.5 + x0.75 copies), 20<=vec_id<40 form
    2-member clusters; every keeper is the base vec_id (min id)."""
    from hadoop_log_analysis_spark.queries import load_registry

    rows = load_registry()["q_semantic_dedup"].fn(spark, SF001).collect()
    by_comp = {r.component: r for r in rows}
    assert set(by_comp) == set(range(40))
    for comp, r in by_comp.items():
        expect = 3 if comp < 20 else 2
        assert r.n_members == expect, f"component {comp}: {r.n_members}"
        assert r.n_dropped == expect - 1


def test_grouped_bottom_k_equals_window_reference(spark):
    # operators/topk.py must be hash-identical to the window plan it
    # replaces, for any k, including groups smaller than k.
    from pyspark.sql import Window

    from hadoop_log_analysis_spark.operators.topk import grouped_bottom_k

    ev = scan(spark, SF001, "events").select("event_type", "event_id", "value")
    for k in (1, 3, 50000):
        got = (
            grouped_bottom_k(
                ev, ["event_type"], F.struct("value", "event_id"), k, "__s"
            )
            .select("event_type", "__s.value", "__s.event_id")
            .orderBy("event_type", "value", "event_id")
            .collect()
        )
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        want = (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("event_type", "value", "event_id")
            .orderBy("event_type", "value", "event_id")
            .collect()
        )
        assert got == want, f"k={k}: {len(got)} vs {len(want)} rows"


def test_boilerplate_removal_idempotent(spark):
    # Stripping boilerplate from an already-stripped corpus must be a
    # no-op: no kept line occurs in >= BOILERPLATE_MIN_DOCS docs.
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.pipeline_q import (
        BOILERPLATE_MIN_DOCS,
    )

    cleaned = load_registry()["q_boilerplate_removal"].fn(spark, SF001)
    lines = cleaned.select(
        "doc_id", F.explode(F.split("text_clean", "\n")).alias("line")
    ).filter(F.col("line") != "")
    still_common = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILERPLATE_MIN_DOCS)
        .count()
    )
    assert still_common == 0


def test_keyless_asof_matches_serial_reference(spark):
    # The r3 two-phase range-bucket carry must be row-identical to the
    # serial single-window formulation it replaced, for both join modes.
    from pyspark.sql import Window

    from hadoop_log_analysis_spark.functions import ts_us
    from hadoop_log_analysis_spark.operators.joins import _MARK, _SRC, asof_join

    ev = scan(spark, SF001, "events").select(
        "event_id", ts_us().alias("tus")
    )
    orders = scan(spark, SF001, "orders").select(
        (
            (F.col("o_orderkey") % 2592000 + 1704067200) * 1000000
        ).alias("tus"),
        "o_totalprice",
    )
    for how in ("inner", "left"):
        got = (
            asof_join(ev, orders, ts_col="tus", payload=["o_totalprice"], how=how)
            .orderBy("event_id", "tus", "o_totalprice")
            .collect()
        )
        # serial reference: one global ordered window
        l = ev.withColumn(_SRC, F.lit(1)).withColumn(
            _MARK, F.lit(None).cast("long")
        ).withColumn("o_totalprice", F.lit(None).cast("double"))
        r = orders.withColumn(_SRC, F.lit(0)).withColumn(
            _MARK, F.col("tus").cast("long")
        ).withColumn("event_id", F.lit(None).cast("long"))
        u = l.unionByName(r.select(*l.columns))
        w = (
            Window.orderBy(F.col("tus").asc(), F.col(_SRC).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ref = (
            u.withColumn("o_totalprice", F.last("o_totalprice", True).over(w))
            .withColumn(_MARK, F.last(_MARK, True).over(w))
            .filter(F.col(_SRC) == 1)
        )
        if how == "inner":
            ref = ref.filter(F.col(_MARK).isNotNull())
        want = (
            ref.select("event_id", "tus", "o_totalprice")
            .orderBy("event_id", "tus", "o_totalprice")
            .collect()
        )
        assert got == want, f"how={how}: {len(got)} vs {len(want)} rows"


def test_salted_ops_match_unsalted_and_bound_partition_load(spark):
    """Skew stress (VERDICT r3 'Next round' #7): on a 90%-one-key
    dataset, salted_agg and salted_join must (a) return exactly the
    unsalted answers and (b) demonstrably spread the hot key — the max
    hash-partition row count under (key, salt) partitioning must be a
    small fraction of the unsalted hot-partition load, observed via
    spark_partition_id."""
    from hadoop_log_analysis_spark.operators.skew import salt_col, salted_agg, salted_join

    n, n_salts, parts = 20_000, 16, 32
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            F.when(F.col("id") % 10 != 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 100).cast("string")))
            .alias("key"),
            (F.col("id") % 7).cast("double").alias("val"),
        )
    )

    # (a) salted_agg == plain groupBy
    got = salted_agg(
        df, ["key"], "id", n_salts=n_salts,
        aggs={"n": "count:*", "s": "sum:val", "mx": "max:val"},
    )
    want = df.groupBy("key").agg(
        F.count("*").alias("n"), F.sum("val").alias("s"), F.max("val").alias("mx")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # (a') salted_join == plain join
    small = df.select("key").distinct().withColumn("payload", F.length("key"))
    plain = df.join(small, "key").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    ).collect()[0]
    salted = (
        salted_join(df, small, "key", "key", "id", n_salts=n_salts)
        .agg(F.count("*").alias("n"), F.sum("payload").alias("s"))
        .collect()[0]
    )
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])

    # (b) partition-load bound via spark_partition_id
    def max_load(frame, *cols):
        return (
            frame.repartition(parts, *[F.col(c) for c in cols])
            .select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    unsalted_max = max_load(df, "key")                      # hot key -> one partition
    salted_max = max_load(
        df.withColumn("__salt", salt_col("id", n_salts)), "key", "__salt"
    )
    assert unsalted_max >= int(n * 0.9)  # the funnel really exists
    assert salted_max <= unsalted_max // 3  # and salting breaks it


def test_bigram_lm_conserves_bigram_count(spark):
    # Every scored doc contributes exactly len(toks)-1 bigrams: the
    # per-doc n_bigrams must sum to the corpus bigram total.
    from hadoop_log_analysis_spark.queries import load_registry

    scored = load_registry()["q_bigram_lm_score"].fn(spark, SF001)
    got = scored.agg(F.sum("n_bigrams")).collect()[0][0]
    docs = scan(spark, SF001, "documents").select(
        F.greatest(F.size(F.split("text", " ")) - 1, F.lit(0)).alias("nb")
    )
    assert got == docs.agg(F.sum("nb")).collect()[0][0]


def test_token_entropy_within_information_bounds(spark):
    # 0 <= H <= ln(n_tokens) for every document (uniform upper bound);
    # rounding slack of 1e-4 on the upper comparison.
    from hadoop_log_analysis_spark.queries import load_registry

    ent = load_registry()["q_token_entropy"].fn(spark, SF001)
    bad = ent.filter(
        (F.col("entropy") < 0)
        | (F.col("entropy") > F.log(F.col("n_tokens").cast("double")) + 1e-4)
    ).count()
    assert bad == 0


def test_recursive_hierarchy_counts_all_users(spark):
    # Every distinct user lands in exactly one depth bucket.
    from hadoop_log_analysis_spark.queries import load_registry

    hist = load_registry()["q_recursive_hierarchy"].fn(spark, SF001)
    n_users = (
        scan(spark, SF001, "events").select("user_id").distinct().count()
    )
    assert hist.agg(F.sum("n_users")).collect()[0][0] == n_users


def test_cusum_closed_form_matches_sequential_recursion(spark):
    # q_cusum_shift computes S_t = max(0, S_{t-1} + x_t - mu - k*sd)
    # via its running-sum/running-min closed form; replay the textbook
    # recursion in Python over the same hourly series and demand
    # agreement to the emitted rounding.
    from hadoop_log_analysis_spark.queries.analytics_q import (
        CUSUM_SLACK_SD,
        q_cusum_shift,
    )

    rows = q_cusum_shift(spark, SF001).collect()
    ns = [r.n for r in rows]
    mu = sum(ns) / len(ns)
    var = sum((x - mu) ** 2 for x in ns) / (len(ns) - 1)
    sd = var**0.5
    s = 0.0
    for r in rows:
        s = max(0.0, s + r.n - mu - CUSUM_SLACK_SD * sd)
        # r.cusum is emitted rounded to 3 decimals
        assert abs(s - r.cusum) < 6e-4, (r.hr, s, r.cusum)


def test_ewma_closed_form_matches_reference_loop(spark):
    # The band-join EWMA must equal the direct weighted mean over each
    # trailing window, computed independently in Python.
    from hadoop_log_analysis_spark.queries.analytics_q import (
        EWMA_DECAY,
        EWMA_SPAN_DAYS,
        q_ewma_daily,
    )

    rows = q_ewma_daily(spark, SF001).collect()
    series = {r.d: r.n for r in rows}
    for r in rows:
        num = den = 0.0
        for d, n in series.items():
            age = (r.d - d).days
            if 0 <= age <= EWMA_SPAN_DAYS:
                w = EWMA_DECAY**age
                num += n * w
                den += w
        assert abs(num / den - r.ewma) < 1e-3, (r.d, num / den, r.ewma)


def test_containment_prefix_filter_recall_on_zipfian_corpus(spark):
    # The fixture vocabulary is tiny and uniform, where prefix
    # filtering degenerates toward all-pairs; build a Zipfian corpus
    # with planted excerpts (doc i+offset = a strict subset of doc i)
    # and check (a) recall 1.0 vs brute force, (b) the prefix index is
    # genuinely smaller than the full explode would be.
    import itertools

    from hadoop_log_analysis_spark.operators.dedup import containment_join

    rng_tokens = [f"w{i}" for i in range(200)]

    def doc_tokens(i: int) -> list[str]:
        # Zipf-ish: token w_k appears in doc i if (i * (k + 3)) % (k + 3 + i % 7) == 0
        # — deterministic, rare tokens for large k.
        toks = [rng_tokens[k] for k in range(200) if (i * 7 + k * k) % (k + 11) < 3]
        return toks or [rng_tokens[i % 200]]

    docs_py = []
    for i in range(60):
        toks = doc_tokens(i)
        docs_py.append((i, " ".join(toks)))
        if len(toks) >= 10:
            # planted excerpt: 90% prefix subset of doc i
            docs_py.append((1000 + i, " ".join(toks[: int(len(toks) * 0.9)])))
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")

    got = {
        (r.a_id, r.b_id)
        for r in containment_join(docs, threshold=0.9).collect()
    }
    # brute force reference
    sets = {i: set(t.split(" ")) for i, t in docs_py}
    want = {
        (a, b)
        for a, b in itertools.permutations(sets, 2)
        if len(sets[a] & sets[b]) / len(sets[a]) >= 0.9
    }
    assert got == want
    assert any(a > 1000 for a, _ in got)  # planted excerpts were found


def test_pagerank_mass_bounds_and_order_stability(spark):
    # Every rank lies in [0.15, 0.15 + 0.85 * sum of in-contributions]
    # and total mass stays within [0.15*N, N] for a 3-step iteration
    # seeded at 1.0 (dangling nodes leak mass, so <= N).
    from hadoop_log_analysis_spark.queries.graph_q import q_pagerank_tokens

    rows = q_pagerank_tokens(spark, SF001).collect()
    n = len(rows)
    total = sum(r.rank for r in rows)
    assert all(r.rank >= 0.15 - 1e-9 for r in rows)
    # each rank carries up to 5e-7 of round(6) error
    assert 0.15 * n - 1e-6 <= total <= n + 1e-6 * n


def test_wav_header_roundtrip(spark):
    # The JVM-built RIFF header must parse back (in Python) to exactly
    # the parameters it encodes, for every (channels, rate) class.
    from hadoop_log_analysis_spark.operators.multimodal import (
        WAV_HEADER_LEN,
        _decode_wav,
        attach_synthetic_audio,
    )
    from hadoop_log_analysis_spark.sources.catalog import scan

    docs = scan(spark, SF001, "documents").limit(40)
    for r in attach_synthetic_audio(docs).collect():
        data = bytes(r.payload)
        n_channels, sample_rate, bits, data_bytes = _decode_wav(data)
        assert n_channels == r.doc_id % 2 + 1
        assert sample_rate == (r.doc_id % 4 + 1) * 8000
        assert bits == 16
        assert data_bytes == len(data) - WAV_HEADER_LEN


def test_bloom_prefilter_no_false_negatives_and_prunes(spark):
    """operators/bloom.py invariants on real keys: (1) every true key
    passes the probe (Bloom admits no false negatives, so the exact
    verify join can only REMOVE rows, never need to add any back);
    (2) the probe really prunes (candidate set is a small superset of
    the true match set, not a pass-through); (3) the full composition
    equals the plain semi-join row-for-row."""
    from hadoop_log_analysis_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_semi_join,
    )

    m_bits = 1 << 16
    li = scan(spark, SF001, "lineitem").select("l_partkey")
    econ = (
        scan(spark, SF001, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    words = bloom_build(econ, "p_partkey", m_bits)

    # (1) no false negatives: every ECONOMY key itself passes.
    n_true = econ.count()
    assert (
        econ.where(bloom_might_contain(F.col("p_partkey"), words, m_bits)).count()
        == n_true
    )

    # (2) the probe prunes the fact side: candidates <= exact + fpp slack.
    exact = li.join(
        econ.withColumnRenamed("p_partkey", "l_partkey").distinct(),
        "l_partkey",
        "left_semi",
    ).count()
    candidates = li.where(
        bloom_might_contain(F.col("l_partkey"), words, m_bits)
    ).count()
    total = li.count()
    assert exact <= candidates < total  # supersets exact, beats pass-through
    # fpp at n=311 keys, m=2^16, k=3 is ~1e-5 -> essentially no slack.
    assert candidates <= exact + max(10, total // 100)

    # (3) composition is exact.
    composed = bloom_semi_join(
        li, econ, fact_key="l_partkey", keys_key="p_partkey", m_bits=m_bits
    ).count()
    assert composed == exact


def test_new_algorithms_partition_invariant(spark):
    """Split-invariance for the r4 wave-3 algorithmic queries: the
    sort-scan skyline, the interval-sweep concurrency, the oriented
    triangle count, and the Bloom-prefiltered join must return
    IDENTICAL rows whether the shuffle fans out over 32 partitions or
    squeezes through 5 — any dependence on partition boundaries
    (a per-partition prefix leaking, a wedge built twice) shows up as
    a diff here long before it shows up at 1000 executors."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_skyline_parts",
        "q_max_concurrency_daily",
        "q_triangle_count",
        "q_bloom_prefilter_join",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_queries_survive_empty_input(spark, tmp_path):
    """Quiet-day robustness: a pipeline must return EMPTY results, not
    crash, when a batch has zero rows (the bug class of ADVICE r3:
    `max(...).collect()[0][0] + 1` -> None + 1). Runs a representative
    query per machinery family against zero-row fixtures with the
    original schemas (including the ns-timestamp quirk). The full
    225-query sweep ran clean on 2026-08-14; this subset pins every
    site that needed a fix plus each driver-side-scalar pattern."""
    import os

    import pyarrow.parquet as pq

    empty = str(tmp_path / "empty_sf")
    os.makedirs(empty, exist_ok=True)
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), os.path.join(empty, f"{t}.parquet"))

    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        # the six that crashed before the r4 hardening:
        "q_incremental_rollup", "q_ann_ivf", "q_parquet_sink_partitioned",
        "q_incremental_overwrite",
        # one per driver-side-scalar / iterative machinery family:
        "q_embedding_near_dups",   # planted-offset max collect
        "q_semantic_dedup",        # LSH + connected components loop
        "q_asof_join",             # quantile-bucket bounds probe
        "q_kmeans_ivf",            # Lloyd convergence loop
        "q_bfs_hops",              # frontier loop isEmpty
        "q_sql_script_threshold",  # SQL-scripting binary search
        "q_heavy_hitters",         # two-pass Misra-Gries
        "q_skyline_parts", "q_max_concurrency_daily", "q_triangle_count",
        "q_bloom_prefilter_join", "q_basket_lift", "q_scd2_build",
        "q_bitmap_rollup_monthly", "q_data_quality_report",
        "q_binaryfile_ingest", "q_map_in_arrow",
        # r4 waves 6-8: the driver-side-scalar / iterative additions
        "q_mmr_rerank",        # greedy argmax collect loop
        "q_pca_components",    # covariance collect + local eigensolve
        "q_rocchio_feedback",  # two-pass broadcast retrieval
        "q_hard_negatives",
        "q_bootstrap_ci",
        "q_bpe_encode",        # merge-loop argmax collects
        "q_bpe_fertility",
        "q_js_divergence", "q_ks_drift", "q_psi_drift",
        "q_k_anonymity", "q_source_diversity", "q_distinctive_terms",
        "q_embedding_covariance",
        # r4 review finding: zero-batch drain left no state version
        "q_stream_cdc_apply",
        # r4 waves 10-11
        "q_except_all", "q_intersect_all", "q_asof_tolerance",
        "q_tokenizer_coverage", "q_ab_test_report", "q_lexical_richness",
        "q_quality_gate_gains", "q_golden_record", "q_token_zipf_fit",
        "q_source_vocab_jaccard", "q_corpus_datasheet",
        # r5 additions (all 13 batch queries verified clean on the
        # zero-row fixtures on 2026-08-14; the driver-loop and
        # applyInPandas members are the regression-prone ones)
        "q_cms_frequency", "q_dpo_pairs", "q_curriculum_phases",
        "q_canonical_dedup", "q_crossdoc_ngram_coverage",
        "q_quantile_sketch_merge",   # applyInPandas empty-group path
        "q_rouge2_eval", "q_event_sequence_match",
        "q_label_propagation",       # empty-edge iteration loop
        "q_schema_evolution_read", "q_scd2_point_in_time",
        "q_interval_union_time", "q_value_histogram_log2",
        # r6 additions — the two that DID crash before hardening
        # (partitionBy write of zero rows leaves no dirs -> schema
        # inference fails; the WAP audit treated n=0 as a failure
        # instead of a publishable quiet day) plus the driver-side-
        # scalar / rank-machinery members most likely to regress
        "q_dynamic_partition_pruning", "q_wap_audit_publish",
        "q_ann_recall_curve", "q_gini_spend", "q_lorenz_curve",
        "q_rfm_segmentation", "q_sparse_cosine_pairs",
        "q_vocab_growth_heaps", "q_snapshot_diff",
        # r6 waves 8-21: driver-side counts (theil-sen n_months,
        # hits n_docs), grouped_bottom_k / mapInPandas empty-group
        # paths, and the scalar-division members
        "q_theil_sen_trend", "q_negative_sampling",
        "q_stratified_fixed_k", "q_image_ahash_dedup",
        "q_shard_rebalance", "q_hits_scores", "q_kaplan_meier",
        "q_bh_fdr", "q_mann_whitney", "q_budget_apportionment",
        "q_two_core", "q_eval_contamination", "q_feature_backfill",
        "q_churn_training_set", "q_quantile_bridge",
        "q_mahalanobis_outliers", "q_ab_power_calc",
        "q_churn_rule_eval",
        # r6 waves 33+: global-moment scalars whose denominators all
        # go NULL (never raise) on zero rows, and the histogram-spine
        # EMD whose [min,max] bounds vanish
        "q_spearman_corr", "q_two_proportion_ztest",
        "q_wasserstein_drift", "q_calibration_bins", "q_brier_score",
        # wave 35: empty-series Holt (applyInPandas zero groups),
        # empty-window bands, zero-edge graph
        "q_max_drawdown", "q_bollinger_breakouts",
        "q_holt_linear_forecast", "q_clustering_coefficient",
        # waves 36-37: rank statistics on empty histograms, RAKE on
        # zero documents, GROUP BY ALL / log loss on zero rows
        "q_auc_roc", "q_precision_recall_curve", "q_kendall_tau",
        "q_rake_keywords", "q_sql_group_by_all", "q_log_loss",
    )
    for name in names:
        rows = reg[name].fn(spark, empty).collect()  # must not raise
        if name != "q_data_quality_report":  # its report is check-bounded
            assert rows == [] or all(r is not None for r in rows)


def test_governance_statistics_within_theoretical_bounds(spark):
    """r4 wave 6: JSD is bounded by [0, 1] bit, the KS statistic by
    [0, 1], PSI is non-negative (it is a sum of (a-b)ln(a/b) terms,
    each >= 0), and every query emits one row per group present."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    jsd = reg["q_js_divergence"].fn(spark, SF001).collect()
    assert jsd and all(0.0 <= r["jsd_bits"] <= 1.0 for r in jsd)
    ks = reg["q_ks_drift"].fn(spark, SF001).collect()
    assert ks and all(0.0 <= r["ks_stat"] <= 1.0 for r in ks)
    psi = reg["q_psi_drift"].fn(spark, SF001).collect()
    assert psi and all(r["psi"] >= 0.0 for r in psi)


def test_k_anonymity_generalization_ladder_consistent(spark):
    """Relaxed (source-suppressed) class sizes must equal the sum of
    the member class sizes and dominate every member; class sizes sum
    to the corpus size."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    rows = reg["q_k_anonymity"].fn(spark, SF001).collect()
    n_docs = scan(spark, SF001, "documents").count()
    assert sum(r["class_size"] for r in rows) == n_docs
    from collections import defaultdict

    by_relaxed = defaultdict(int)
    for r in rows:
        by_relaxed[(r["lang"], r["len_band"])] += r["class_size"]
    for r in rows:
        assert r["relaxed_size"] == by_relaxed[(r["lang"], r["len_band"])]
        assert r["relaxed_size"] >= r["class_size"]
        assert r["at_risk"] == (r["class_size"] < 5)


def test_hard_negatives_match_bruteforce(spark):
    """The aggregation-argmax hard negative equals the numpy
    brute-force argmax (sim desc, id asc) for every query vector, and
    the reported positive is the true best same-label cosine."""
    import numpy as np

    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    got = {r["qid"]: r for r in reg["q_hard_negatives"].fn(spark, SF001).collect()}
    emb = scan(spark, SF001, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb])
    labs = np.array([r["label"] for r in emb])
    vecs = np.array([r["embedding"] for r in emb], dtype=np.float64)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    assert got, "no query vectors sampled"
    for qid, row in got.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = vecs @ vecs[qi]
        neg_mask = (labs != labs[qi]) & (ids != qid)
        pos_mask = (labs == labs[qi]) & (ids != qid)
        # argmax by (sim desc, id asc): sort once, take the head
        order = sorted(
            np.flatnonzero(neg_mask), key=lambda i: (-sims[i], ids[i])
        )
        assert ids[order[0]] == row["hard_neg_id"]
        assert abs(sims[order[0]] - row["hard_neg_sim"]) < 1e-5
        assert abs(sims[pos_mask].max() - row["best_pos_sim"]) < 1e-5


def test_bpe_encode_conserves_corpus_token_mass(spark):
    """Subword occurrences weighted over the FULL (un-truncated)
    subword histogram must sum to the corpus character count with
    spaces removed — merges never create or destroy characters."""
    from hadoop_log_analysis_spark.queries.llm_ops import _bpe_trained_state

    state, rules = _bpe_trained_state(spark, SF001)
    assert len(rules) == 3
    total_subword_chars = (
        state.select(
            F.explode(F.split("seq", " ")).alias("sym"), F.col("freq")
        )
        .select(
            (
                F.length(F.replace(F.col("sym"), F.lit("+"), F.lit("")))
                * F.col("freq")
            ).alias("chars")
        )
        .agg(F.sum("chars"))
        .collect()[0][0]
    )
    corpus_chars = (
        scan(spark, SF001, "documents")
        .select(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("c")
        )
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    assert total_subword_chars == corpus_chars


def test_bag_set_ops_match_multiplicity_arithmetic(spark):
    """EXCEPT ALL keeps max(n_left - n_right, 0) copies per key and
    INTERSECT ALL keeps min(n_left, n_right) — verified against
    independently computed per-user purchase/error counts."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    ev = scan(spark, SF001, "events")
    counts = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    users = {u for (u, _) in counts}
    expect_exc = {}
    expect_int = {}
    for u in users:
        p = counts.get((u, "purchase"), 0)
        e = counts.get((u, "error"), 0)
        if p - e > 0:
            expect_exc[u] = p - e
        if min(p, e) > 0:
            expect_int[u] = min(p, e)
    got_exc = {
        r["user_id"]: r["n"]
        for r in reg["q_except_all"].fn(spark, SF001).collect()
    }
    got_int = {
        r["user_id"]: r["n"]
        for r in reg["q_intersect_all"].fn(spark, SF001).collect()
    }
    assert got_exc == expect_exc
    assert got_int == expect_int


def test_set_similarity_prefix_filter_prunes_zipfian_corpus(spark):
    """VERDICT r4 'weak' #1: on the FIXTURE's ~31-token vocabulary the
    prefix filter degenerates toward all-pairs, so nothing there
    demonstrates the pruning the operator exists for. This corpus has
    a Zipfian document-frequency profile (token w_k appears in
    ~min(1, 6/k) of docs — a few stop tokens, a long rare tail) plus
    planted 92%-prefix near-dups; the candidate stage must emit FAR
    fewer than n(n-1)/2 pairs while the verified result still equals
    brute force exactly (recall 1.0 AND precision, the PPJoin
    guarantee). Measured at commit time: 941 set-sim candidates /
    11175 all-pairs (8.4%) and 1452 containment candidates / 22350
    ordered pairs (6.5%); asserted with headroom at 15%."""
    import itertools

    from hadoop_log_analysis_spark.operators.dedup import (
        containment_candidates,
        set_similarity_candidates,
        set_similarity_join,
    )

    V = 400

    def toks_of(i: int) -> list[str]:
        return [
            f"w{k}"
            for k in range(1, V + 1)
            if (i * 2654435761 + k * 40503) % max(k, 6) < 6
        ]

    docs_py = []
    for i in range(120):
        t = toks_of(i)
        docs_py.append((i, " ".join(t)))
        if i % 4 == 0 and len(t) >= 10:
            # planted near-dup: the first 92% of doc i's tokens
            docs_py.append((1000 + i, " ".join(t[: int(len(t) * 0.92)])))
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")
    n = len(docs_py)
    sets = {i: set(s.split(" ")) for i, s in docs_py}

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.8
    }
    got = {
        (r.a_id, r.b_id) for r in set_similarity_join(docs, 0.8).collect()
    }
    assert got == want  # exactness: recall 1.0 and no false positives
    assert want, "corpus must contain true near-dup pairs"

    all_pairs = n * (n - 1) // 2
    n_cand = set_similarity_candidates(docs, 0.8).count()
    assert len(want) <= n_cand <= 0.15 * all_pairs, (
        f"set-sim prefix filter not pruning: {n_cand} candidates "
        f"of {all_pairs} pairs"
    )
    n_ccand = containment_candidates(docs, 0.9).count()
    assert n_ccand <= 0.15 * n * (n - 1), (
        f"containment prefix filter not pruning: {n_ccand} candidates "
        f"of {n * (n - 1)} ordered pairs"
    )


def test_prefix_filter_mask_path_boundary(spark):
    """r14 optimization guard: set_similarity_join/containment_join
    switch to a single-long bitmask verify when the probed vocabulary
    fits 64 ranks. Pin (a) exactness against brute force at vocab =
    EXACTLY 64, where the top rank occupies the sign bit — the
    encoding's edge; (b) that adding one 65th token flips the SAME
    corpus to the array path with identical results on the original
    ids (mask path ≡ array path, data-adaptively chosen); (c) the
    plan really switches (bit_count present iff the mask path ran)."""
    import itertools

    from hadoop_log_analysis_spark.operators.dedup import (
        containment_join,
        set_similarity_join,
    )

    V = 64

    def toks_of(i: int) -> list[str]:
        # every token k appears in ~min(1, 8/k) of docs; token 64
        # (rarest, rank 64 -> sign bit) appears in a few docs
        return [
            f"w{k:02d}"
            for k in range(1, V + 1)
            if (i * 2654435761 + k * 40503) % max(k, 8) < 8
        ] or ["w01"]

    docs_py = []
    for i in range(60):
        t = toks_of(i)
        docs_py.append((i, " ".join(t)))
        if i % 3 == 0 and len(t) >= 10:
            docs_py.append((1000 + i, " ".join(t[: int(len(t) * 0.9)])))
    # force full-vocab coverage so max rank is exactly 64
    docs_py.append((5000, " ".join(f"w{k:02d}" for k in range(1, V + 1))))
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")
    sets = {i: set(s.split(" ")) for i, s in docs_py}

    got_j = set_similarity_join(docs, 0.5)
    assert "bit_count" in got_j._jdf.queryExecution().analyzed().toString()
    got_jacc = {(r.a_id, r.b_id): r.jacc for r in got_j.collect()}
    want_jacc = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    }
    assert set(got_jacc) == set(want_jacc) and want_jacc
    assert all(
        abs(got_jacc[p] - want_jacc[p]) < 5e-5 for p in want_jacc
    )

    got_c = containment_join(docs, 0.9)
    assert "bit_count" in got_c._jdf.queryExecution().analyzed().toString()
    got_cont = {(r.a_id, r.b_id): r.containment for r in got_c.collect()}
    want_cont = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a])
        for a, b in itertools.permutations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a]) >= 0.9
    }
    assert set(got_cont) == set(want_cont) and want_cont
    assert all(
        abs(got_cont[p] - want_cont[p]) < 5e-5 for p in want_cont
    )

    # one 65-rank doc flips the whole corpus to the array path; the
    # original pairs must come out identical (path equivalence)
    wide = spark.createDataFrame(
        docs_py + [(6000, " ".join(f"x{k}" for k in range(1, 66)))],
        "doc_id long, text string",
    )
    wide_j = set_similarity_join(wide, 0.5)
    assert "bit_count" not in wide_j._jdf.queryExecution().analyzed().toString()
    wide_jacc = {
        (r.a_id, r.b_id): r.jacc for r in wide_j.collect() if r.a_id != 6000
    }
    assert wide_jacc == got_jacc
    wide_cont = {
        (r.a_id, r.b_id): r.containment
        for r in containment_join(wide, 0.9).collect()
        if r.a_id != 6000 and r.b_id != 6000
    }
    assert wide_cont == got_cont


def test_prefix_len_exact_integral_boundary(spark):
    """r15 regression guard (ADVICE r14 medium): every prefix
    derivation — explode, slice, pmask — now shares ONE arithmetic
    path (_prefix_slice), with a recall-safe 1e-9 ceil guard. The
    worst regression a future prefix-arithmetic change could cause is
    a one-token-short prefix at an exactly-integral t|x| (ceil jumps
    m -> m+1): a qualifying pair missing exactly the first prefix
    token then silently never joins. Pin that exact boundary: A has
    10 tokens, B = A minus A's RAREST token (the only rank a
    length-1 prefix would index), so C(A, B) = 9/10 = 0.9 and
    J(A, B) = 0.9 sit exactly at t = 0.9. Both joins must emit the
    pair; brute force confirms the full output. A 65-rank filler doc
    repeats the check on the array path (same _prefix_slice, but the
    regression classes differ)."""
    import itertools

    from hadoop_log_analysis_spark.operators.dedup import (
        containment_join,
        set_similarity_join,
    )

    # t0 appears only in A (df=1 -> rank 1, A's one-token prefix
    # under the buggy length); t1..t9 appear in both docs.
    a_toks = [f"t{k}" for k in range(10)]
    b_toks = a_toks[1:]
    base = [(1, " ".join(a_toks)), (2, " ".join(b_toks))]

    for tag, extra in (
        ("mask", []),
        ("array", [(9, " ".join(f"x{k}" for k in range(1, 66)))]),
    ):
        docs = spark.createDataFrame(
            base + extra, "doc_id long, text string"
        )
        sets = {i: set(s.split(" ")) for i, s in base + extra}
        got_c = {
            (r.a_id, r.b_id): r.containment
            for r in containment_join(docs, threshold=0.9).collect()
        }
        want_c = {
            (a, b): round(len(sets[a] & sets[b]) / len(sets[a]), 4)
            for a, b in itertools.permutations(sorted(sets), 2)
            if len(sets[a] & sets[b]) / len(sets[a]) >= 0.9
        }
        assert (1, 2) in want_c, "fixture must sit on the boundary"
        assert got_c == want_c, f"{tag} path containment diverged"
        got_j = {
            (r.a_id, r.b_id): r.jacc
            for r in set_similarity_join(docs, threshold=0.9).collect()
        }
        want_j = {
            (a, b): round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 4)
            for a, b in itertools.combinations(sorted(sets), 2)
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.9
        }
        assert (1, 2) in want_j, "fixture must sit on the boundary"
        assert got_j == want_j, f"{tag} path jaccard diverged"


def test_mask_path_emits_each_pair_exactly_once(spark):
    """r14 min-shared-bit uniqueness guard: the bitmask paths of
    set_similarity_join / containment_join no longer run a per-pair
    dropDuplicates — uniqueness must hold BY CONSTRUCTION (keep only
    the join row at the least shared indexed bit). The brute-force
    comparisons elsewhere build {(a, b): val} dicts, which would
    silently collapse duplicate output rows, so this test asserts
    directly: on a corpus where every near-dup pair shares MANY prefix
    tokens (the worst case for per-pair join multiplicity), the output
    row count equals the distinct pair count, and no Deduplicate/
    Aggregate-over-pairs node is needed to get there."""
    from hadoop_log_analysis_spark.operators.dedup import (
        containment_join,
        set_similarity_join,
    )

    # 40 docs over a 20-token vocab, heavy overlap: every pair shares
    # most of its prefix tokens, so pre-filter join multiplicity is
    # high (the old plan relied on dropDuplicates here).
    docs_py = [
        (i, " ".join(f"w{k:02d}" for k in range(1, 21) if (i + k) % 5 != 0))
        for i in range(40)
    ]
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")

    out_j = set_similarity_join(docs, 0.5)
    plan = out_j._jdf.queryExecution().analyzed().toString()
    assert "bit_count" in plan, "corpus must take the bitmask path"
    # the PER-PAIR dedup node is gone (containment_join's plan keeps a
    # Deduplicate [tok_rank] — the B-side token prune — which is fine)
    assert "Deduplicate [a_id" not in plan, (
        "bitmask path must not need a per-pair dedup"
    )
    rows_j = out_j.collect()
    pairs_j = {(r.a_id, r.b_id) for r in rows_j}
    assert len(rows_j) == len(pairs_j) and pairs_j, (
        f"duplicate pairs emitted: {len(rows_j)} rows, "
        f"{len(pairs_j)} distinct"
    )

    out_c = containment_join(docs, 0.8)
    plan_c = out_c._jdf.queryExecution().analyzed().toString()
    assert "bit_count" in plan_c and "Deduplicate [a_id" not in plan_c
    rows_c = out_c.collect()
    pairs_c = {(r.a_id, r.b_id) for r in rows_c}
    assert len(rows_c) == len(pairs_c) and pairs_c


def test_cms_overestimates_within_epsilon_bound(spark):
    """Count-Min sketch law on real keys: the estimate NEVER
    undercounts (min over d rows of an overcounting cell), and the
    overcount stays within the eps*N guarantee, eps = e/w (measured
    at sf0.01: overcounts in [58, 299] against the bound ~850)."""
    import math

    from hadoop_log_analysis_spark.queries.curation_q import CMS_W

    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    pdf = reg["q_cms_frequency"].fn(spark, SF001).toPandas()
    n_total = int(pdf.n_true.sum())
    assert (pdf.n_est >= pdf.n_true).all(), "CMS must never undercount"
    bound = math.e / CMS_W * n_total
    assert (pdf.overcount <= bound).all(), (
        f"overcount {int(pdf.overcount.max())} exceeds eps*N {bound:.0f}"
    )


def test_quantile_sketch_rank_error_bound(spark):
    """Mergeable quantile summary: for every (type, p) the estimate's
    true CDF position must sit within 1/QS_POINTS + discretization
    slack of p — the GK/KLL rank guarantee the summary resolution
    promises (measured max err 0.0065 vs the 0.026 bound)."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.curation_q import QS_POINTS

    reg = load_registry()
    qs = reg["q_quantile_sketch_merge"].fn(spark, SF001).toPandas()
    assert len(qs) == 15  # 5 event types x 3 probes
    ev = (
        scan(spark, SF001, "events")
        .select("event_type", F.col("value").cast("double").alias("v"))
        .toPandas()
    )
    tol = 1.0 / QS_POINTS + 0.01
    for _, r in qs.iterrows():
        vals = ev[ev.event_type == r.event_type].v
        frac = float((vals <= r.est).mean())
        assert abs(frac - r.p) <= tol, (
            f"{r.event_type} p={r.p}: F(est)={frac:.4f}"
        )


def test_canonical_dedup_planted_variants_and_idempotence(spark):
    """Canonicalization dedup: at sf0.01 (no natural exact dups) the
    planted case/spacing variants must produce EXACTLY the 50 groups
    {orig, variant} — and the normalizer must be idempotent
    (canon(canon(x)) == canon(x)), the fixed-point property any
    canonical form needs."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.curation_q import _canonicalize

    reg = load_registry()
    pdf = reg["q_canonical_dedup"].fn(spark, SF001).toPandas()
    assert len(pdf) == 50
    assert sorted(pdf.rep_id) == list(range(50))
    assert (pdf.n_members == 2).all()

    docs = scan(spark, SF001, "documents").limit(50)
    once = docs.select(
        "doc_id", _canonicalize(F.upper(F.col("text"))).alias("c1")
    )
    twice = once.select("doc_id", _canonicalize("c1").alias("c2"), "c1")
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_dpo_pairs_injective_and_gap_ordered(spark):
    """Pair-mining contract: each doc appears at most once as chosen
    and once as rejected, chosen quality exceeds rejected by at least
    the gap floor, and no pair crosses a (lang, source) stratum."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.curation_q import DPO_MIN_GAP

    reg = load_registry()
    pdf = reg["q_dpo_pairs"].fn(spark, SF001).toPandas()
    assert len(pdf) > 0
    assert pdf.chosen_id.is_unique and pdf.rejected_id.is_unique
    assert (pdf.gap >= DPO_MIN_GAP).all()
    # a doc must never be chosen in one pair and rejected in another
    assert not set(pdf.chosen_id) & set(pdf.rejected_id)


def test_curation_wave_partition_invariant(spark):
    """Split-invariance for the r5 curation queries — including the
    quantile sketch, whose shards are HASH-derived precisely so the
    summary does not depend on physical partition boundaries (the
    classic mergeable-sketch trap this battery exists to catch)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_cms_frequency",
        "q_dpo_pairs",
        "q_canonical_dedup",
        "q_crossdoc_ngram_coverage",
        "q_quantile_sketch_merge",
        # wave-3: the modal-label window and the ordered-string agg are
        # the two shapes a partition squeeze would perturb first
        "q_label_propagation",
        "q_event_sequence_match",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_embedding_covariance_batch_and_partition_invariant(spark):
    """The r5/r6 driver FAILs reproduced and pinned:
    q_embedding_covariance accumulates Gram partials in Arrow-batch
    order, so a FLOAT accumulation would depend on BOTH
    `spark.sql.shuffle.partitions` AND
    `spark.sql.execution.arrow.maxRecordsPerBatch` — session configs
    the driver sets differently from the local gate (decimal rounding
    of such sums was falsified twice — VERDICT r6 #1). The r7 kernel
    quantizes components to a 1e-4 integer grid and accumulates EXACT
    integers, so the rows must be byte-identical across a 4x
    batch-size and 6x partition-count spread — bit-exactness, not
    noise-margin, is now the contract. Covers q_pca_components
    transitively (it eigensolves the cached matrix)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    fn = reg["q_embedding_covariance"].fn
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    configs = [("32", "10000"), ("5", "2500"), ("7", "611")]
    results = []
    try:
        for parts, batch in configs:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", batch
            )
            results.append([tuple(r) for r in fn(spark, SF001).collect()])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    assert results[0] == results[1] == results[2], (
        "q_embedding_covariance is batch/partition-sensitive"
    )


def test_scd2_point_in_time_tiling_invariant(spark):
    """The SCD2 dimension tiles each user's timeline with no gaps or
    overlaps, so EVERY probe (one per event, +30 min) matches exactly
    one versioned row: sum(n_probes) == |events|. A gap or overlap in
    the validity intervals breaks this equality immediately."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    pdf = reg["q_scd2_point_in_time"].fn(spark, SF001).toPandas()
    n_events = scan(spark, SF001, "events").count()
    assert int(pdf.n_probes.sum()) == n_events


def test_interval_union_bounds_and_histogram_conservation(spark):
    """Interval-union sanity: per user, the merged busy time is
    sandwiched between one window's width (any activity opens at
    least one 30-min interval) and n_events * width (no merge at
    all), and islands never exceed events. The log2 histogram must
    conserve rows: bucket counts per type sum to that type's event
    count."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    ev = scan(spark, SF001, "events")
    per_user = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    width = 1_800_000_000
    for r in reg["q_interval_union_time"].fn(spark, SF001).collect():
        n = per_user[r.user_id]
        assert width <= r.busy_us <= n * width
        assert 1 <= r.n_islands <= n

    hist = reg["q_value_histogram_log2"].fn(spark, SF001).toPandas()
    per_type = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = hist.groupby("event_type").n.sum().to_dict()
    assert got == per_type


def test_r6_wave_partition_invariant(spark):
    """Split-invariance for the round-6 queries built on rank/bucket
    machinery — the two-phase exact rank (curriculum phases, Gini,
    Lorenz), the decile-bucket triangular cumsum (Heaps curve), and
    the postings self-join (sparse cosine): identical rows at 32 and
    5 shuffle partitions, or a per-partition prefix is leaking."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_curriculum_phases",
        "q_gini_spend",
        "q_lorenz_curve",
        "q_vocab_growth_heaps",
        "q_sparse_cosine_pairs",
        "q_rfm_segmentation",
        "q_audience_overlap",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_registry_priority_integrity():
    """The driver samples the FIRST 50 names of load_registry() order;
    a duplicate in _PRIORITY silently collapses in the dict and
    shrinks the evidence window, and an unregistered name raises only
    at driver time. Pin: no duplicates, every priority name resolves,
    full registry >= priority, and the first 50 entries all carry a
    callable + (oracle or declared rows-only)."""
    from hadoop_log_analysis_spark.queries import _PRIORITY, load_registry

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate in _PRIORITY"
    reg = load_registry()
    assert set(_PRIORITY) <= set(reg)
    top50 = list(reg.values())[:50]
    assert all(callable(s.fn) for s in top50)
    # every query is either oracled or explicitly rows-only (oracle
    # None is a declared state, not an accident: it must come with a
    # docstring mentioning its verification story)
    for s in top50:
        if s.oracle is None:
            doc = (s.fn.__doc__ or "").lower()
            assert "rows-only" in doc or "oracle" in doc, s.name


def test_r6_wave8_partition_invariant(spark):
    """Split-invariance for the round-6 wave-8 FP-heavy queries: the
    Q8 market-share ratio, the HHI squared-share sum, the Theil-Sen
    pairwise median + MK z-score, the t-closeness TVD, and the
    Adamic-Adar 1/ln(n) accumulation all pin intermediate floats
    before rounding — identical rows at 32 and 5 shuffle partitions,
    or an accumulation-order sensitivity is leaking through the
    rounding."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_market_share",
        "q_hhi_concentration",
        "q_theil_sen_trend",
        "q_t_closeness",
        "q_adamic_adar",
        "q_negative_sampling",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave9_partition_invariant(spark):
    """Split-invariance for the round-6 wave-9 queries: KM's exp-sum
    survival, BH's Welch variances and polynomial tail, the mixture
    rates, the ring successor resolution, and the contamination
    fractions must be identical at 32 and 5 shuffle partitions."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_kaplan_meier",
        "q_bh_fdr",
        "q_mixture_apply",
        "q_shard_rebalance",
        "q_eval_contamination",
        "q_sole_late_supplier",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave10_partition_invariant(spark):
    """Split-invariance for the round-6 wave-10 queries: U/z/p from
    integer histograms, kappa's count ratios, the weighted-median
    cumulative cut, compaction byte bins, and interpolated deciles
    must be identical at 32 and 5 shuffle partitions."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_mann_whitney",
        "q_cohens_kappa",
        "q_weighted_median",
        "q_compaction_plan",
        "q_quantile_bridge",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave11_partition_invariant(spark):
    """Split-invariance for the round-6 wave-11 queries (Q7/Q10
    revenue pins, aHash banding)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_nation_trade_volume",
        "q_returned_revenue",
        "q_image_ahash_dedup",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave12_partition_invariant(spark):
    """Split-invariance for the round-6 wave-12 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_percentile_ranks",
        "q_decayed_score",
        "q_stratified_fixed_k",
        "q_script_mix",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave13_partition_invariant(spark):
    """Split-invariance for the round-6 wave-13 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_feature_backfill",
        "q_degree_powerlaw",
        "q_funnel_latency",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave14_partition_invariant(spark):
    """Split-invariance for the round-6 wave-14 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_ohlc_hourly", "q_churn_training_set")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave15_partition_invariant(spark):
    """Split-invariance for the round-6 wave-15 queries (integer
    apportionment, burn-rate ratios, HITS normalized sums)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_budget_apportionment", "q_slo_burn_rate", "q_hits_scores")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave16_partition_invariant(spark):
    """Split-invariance for the round-6 wave-16 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_session_path_topk", "q_linear_attribution")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave17_partition_invariant(spark):
    """Split-invariance for the round-6 wave-17 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_anova_doclen", "q_referential_integrity", "q_id_gap_report")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave18_partition_invariant(spark):
    """Split-invariance for the round-6 wave-18 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_xmr_control_chart",
        "q_empirical_bayes_rate",
        "q_simpson_check",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave19_partition_invariant(spark):
    """Split-invariance for the round-6 wave-19 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_graph_assortativity",
        "q_mahalanobis_outliers",
        "q_peak_detection",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave20_partition_invariant(spark):
    """Split-invariance for the round-6 wave-20 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_lag_feature_matrix",
        "q_loo_target_encoding",
        "q_ab_power_calc",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave21_partition_invariant(spark):
    """Split-invariance for the round-6 wave-21 queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_two_core", "q_data_freshness")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave22_partition_invariant(spark):
    """Split-invariance for the round-6 wave-22 queries — the digest
    checksums are commutative by design, the residuals integer-exact."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_partition_digest", "q_cell_residuals")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave23_partition_invariant(spark):
    """Split-invariance for q_column_stats (multi-distinct expand)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_column_stats"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_column_stats"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave24_partition_invariant(spark):
    """Split-invariance for q_item_cf_topk (cosine from exact
    integer counts; rank tie-broken)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_item_cf_topk"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_item_cf_topk"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave25_partition_invariant(spark):
    """Split-invariance for q_rec_eval."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_rec_eval"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_rec_eval"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave26_partition_invariant(spark):
    """Split-invariance for q_churn_rule_eval (integer histogram U)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_churn_rule_eval"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_churn_rule_eval"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave27_partition_invariant(spark):
    """Split-invariance for the aging report and retry storms."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_aging_report", "q_retry_storms")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_price_volume_mix_reconciles(spark):
    """The two-factor attribution must reconcile: volume_effect +
    price_effect == delta exactly (residual 0.00 for every flag) —
    the property that makes the waterfall trustworthy."""
    from hadoop_log_analysis_spark.queries import load_registry

    rows = load_registry()["q_price_volume_mix"].fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r.residual == 0.0, f"waterfall leaks for {r.flag}"


def test_r6_wave28_partition_invariant(spark):
    """Split-invariance for q_price_volume_mix."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_price_volume_mix"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_price_volume_mix"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave29_partition_invariant(spark):
    """Split-invariance for q_logrank_test."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_logrank_test"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_logrank_test"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave30_partition_invariant(spark):
    """Split-invariance for q_silhouette_simplified."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_silhouette_simplified"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_silhouette_simplified"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave31_partition_invariant(spark):
    """Split-invariance for q_effective_sample_size."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_effective_sample_size"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_effective_sample_size"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave32_partition_invariant(spark):
    """Split-invariance for q_token_burstiness."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = [tuple(r) for r in reg["q_token_burstiness"].fn(spark, SF001).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = [tuple(r) for r in reg["q_token_burstiness"].fn(spark, SF001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow


def test_r6_wave33_partition_invariant(spark):
    """Split-invariance for the delta-method and Neyman queries."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_ratio_delta_method", "q_neyman_allocation")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_neyman_allocation_sums_to_budget(spark):
    """The integerized Neyman allocation must sum EXACTLY to the
    budget (the largest-remainder property)."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.curation_q import NEYMAN_BUDGET

    rows = load_registry()["q_neyman_allocation"].fn(spark, SF001).collect()
    assert sum(r.allocated for r in rows) == NEYMAN_BUDGET


def test_r6_wave34_partition_invariant(spark):
    """Split-invariance for the wave-34 stats queries: Spearman's
    centered-bigint moments, the pooled z, the integer-carried EMD,
    and the calibration averages must not depend on how the shuffle
    fans out."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_spearman_corr",
        "q_two_proportion_ztest",
        "q_wasserstein_drift",
        "q_calibration_bins",
        "q_brier_score",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave35_partition_invariant(spark):
    """Split-invariance for the wave-35 time-series/graph queries:
    the decimal daily aggregates, bigint band moments, sequential
    Holt state (group-to-pandas boundary must not depend on shuffle
    fan-out), and the triangle/degree join."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_max_drawdown",
        "q_bollinger_breakouts",
        "q_holt_linear_forecast",
        "q_clustering_coefficient",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_r6_wave36_partition_invariant(spark):
    """Split-invariance for the wave-36 rank statistics (AUC's
    histogram rank-sum, the PR cumulation, Kendall's class-pair
    dominance counts)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_auc_roc", "q_precision_recall_curve", "q_kendall_tau")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_kendall_pair_accounting_is_exhaustive(spark):
    """C + D + xy-mixed-tie pairs must account for EVERY pair:
    C + D = T0 - T1 - T2 + Txy (pairs tied in both margins are in
    neither side and in both tie terms). Pins the dominance-count
    join against double- or under-counting."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.sources.catalog import scan

    row = load_registry()["q_kendall_tau"].fn(spark, SF001).collect()[0]
    per = (
        scan(spark, SF001, "orders")
        .join(
            scan(spark, SF001, "lineitem").select("l_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("l_orderkey").alias("y"))
        .select(F.col("o_totalprice").alias("x"), "y")
    ).toPandas()
    n = len(per)
    t0 = n * (n - 1) // 2
    t1 = sum(c * (c - 1) // 2 for c in per.groupby("x").size())
    t2 = sum(c * (c - 1) // 2 for c in per.groupby("y").size())
    txy = sum(c * (c - 1) // 2 for c in per.groupby(["x", "y"]).size())
    assert row.n_orders == n
    assert row.concordant + row.discordant == t0 - t1 - t2 + txy


def test_r6_wave37_partition_invariant(spark):
    """Split-invariance for wave 37: RAKE's islands grouping + <=4-
    double phrase sums, the GROUP BY ALL inference, and log loss."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = ("q_rake_keywords", "q_sql_group_by_all", "q_log_loss")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_money_helpers_are_exact_and_order_free(spark):
    """r8 determinism helpers (functions.money/money_sum/exact_sum/
    exact_avg): the DECIMAL view must recover the 2-dp values exactly
    (bit-equal total to Python's Decimal sum), and every helper must
    be partition-count invariant — the property the raw double sums
    they replaced did NOT have."""
    from decimal import Decimal

    from hadoop_log_analysis_spark.functions import (
        exact_avg,
        exact_sum,
        money_sum,
    )
    from hadoop_log_analysis_spark.sources.catalog import scan

    ev = scan(spark, SF001, "events").select("value")
    truth = sum(
        Decimal(f"{r.value:.2f}") for r in ev.collect()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts, n_input in (("32", 64), ("5", 3)):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            row = (
                ev.repartition(n_input)
                .agg(
                    money_sum("value").alias("total"),
                    exact_sum(F.col("value") / 3.0, 6).alias("es"),
                    exact_avg(F.col("value") / 3.0, 6).alias("ea"),
                )
                .collect()[0]
            )
            results.append((row.total, row.es, row.ea))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1], "helpers are partition-sensitive"
    assert results[0][0] == float(truth), "decimal sum != exact truth"


def test_decimal_moment_helpers_exact_and_order_free(spark):
    """r9 second-moment tier (functions.dsum/dsum2/exact_comoment/
    exact_corr): the DECIMAL accumulation must equal Python's
    unbounded-int arithmetic exactly and be partition-count invariant.
    The int64 shape these replaced (n*sum(x*x) - sum(x)^2 in long)
    overflows QUADRATICALLY in group size — ~460x headroom left at
    sf0.1 (r8 review) — and past the bound DuckDB promotes to HUGEINT
    while Spark's long wraps, so the engines would diverge rather
    than fail together."""
    from hadoop_log_analysis_spark.functions import (
        dsum,
        dsum2,
        exact_comoment,
        exact_corr,
    )

    ev = scan(spark, SF001, "events").select(
        F.col("user_id").alias("x"),
        (F.col("event_id") % 977).alias("y"),
    )
    rows = [(r.x, r.y) for r in ev.collect()]
    n = len(rows)
    sx = sum(x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxx = sum(x * x for x, _ in rows)
    syy = sum(y * y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    com_xx = n * sxx - sx * sx  # exact unbounded ints
    com_yy = n * syy - sy * sy
    com_xy = n * sxy - sx * sy
    import math

    want_r = math.floor(
        (float(com_xy) / math.sqrt(float(com_xx) * float(com_yy))) * 1e6
        + 0.5
    ) / 1e6

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts, n_input in (("32", 64), ("5", 3)):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            row = (
                ev.repartition(n_input)
                .agg(
                    dsum(F.col("x")).alias("s1"),
                    dsum2(F.col("x")).alias("s2"),
                    exact_comoment(F.col("x")).alias("cxx"),
                    exact_comoment(F.col("x"), F.col("y")).alias("cxy"),
                    exact_corr(F.col("x"), F.col("y"), 6).alias("r"),
                )
                .collect()[0]
            )
            results.append(
                (int(row.s1), int(row.s2), int(row.cxx), int(row.cxy), row.r)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1], "DECIMAL moments are partition-sensitive"
    got = results[0]
    assert got[0] == sx and got[1] == sxx, "first/second moment inexact"
    assert got[2] == com_xx and got[3] == com_xy, "comoment inexact"
    assert got[4] == want_r, "exact_corr != Python-exact pinned r"


def test_subus_key_unique_in_fixtures(spark):
    """subus_key is collision-RESISTANT, not collision-proof (r8
    review): two events in one truncated µs with ids congruent mod
    100 would share a key and argmax/as-of tie-breaks could diverge
    across engines. Every comparison keyed on it relies on the
    fixtures being collision-free — assert that, at every generated
    SF, so a regenerated fixture that violates it fails loudly here
    instead of as an opaque driver hash mismatch."""
    from tests.conftest import SF0001, SF01

    for sf in (SF0001, SF001, SF01):
        ev = scan(spark, sf, "events").select(
            (
                F.expr("ts_ns div 1000") * 100 + F.col("event_id") % 100
            ).alias("k")
        )
        n, d = ev.agg(
            F.count("*").alias("n"),
            F.countDistinct("k").alias("d"),
        ).collect()[0]
        assert n == d, f"subus_key collides in {sf}: {n} rows, {d} keys"


def test_dec_var_and_equal_width_bin_match_python_truth(spark):
    """r9 consolidation helpers: dec_var/dec_comoment (post-agg DECIMAL
    moment algebra) must equal Python unbounded-int truth through one
    double cast, and equal_width_bin must reproduce the closed-form
    clamp bin-by-bin."""
    import math

    from hadoop_log_analysis_spark.functions import (
        dec_comoment,
        dec_var,
        dsum,
        dsum2,
        equal_width_bin,
    )

    ev = scan(spark, SF001, "events").select(
        F.col("user_id").alias("x"), "value"
    )
    xs = [r.x for r in ev.select("x").collect()]
    n = len(xs)
    com = n * sum(x * x for x in xs) - sum(xs) ** 2
    want_var = float(com) / (n * (n - 1.0))

    row = (
        ev.agg(
            F.count("*").alias("n"),
            dsum(F.col("x")).alias("s1"),
            dsum2(F.col("x")).alias("s2"),
        )
        .select(
            dec_comoment(F.col("n"), F.col("s2"), F.col("s1")).alias("c"),
            dec_var(F.col("n"), F.col("s2"), F.col("s1")).alias("v"),
        )
        .collect()[0]
    )
    assert row.c == float(com) and row.v == want_var

    vals = [r.value for r in ev.select("value").collect()]
    lo, hi = min(vals), max(vals)
    got = (
        ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .crossJoin(ev.select("value"))
        .select(
            "value",
            equal_width_bin(
                F.col("value"), F.col("lo"), F.col("hi"), 10
            ).alias("bin"),
        )
        .collect()
    )
    for r in got:
        want = (
            0
            if hi <= lo
            else min(9, max(0, math.floor((r.value - lo) * 10.0 / (hi - lo))))
        )
        assert r.bin == want, (r.value, r.bin, want)


def test_connected_components_edge_cases(spark):
    """r9 lazy-seed loop (prev_sum=None skips the first convergence
    compare): empty edge list, an already-min-labeled graph, and
    max_iter exhaustion must all terminate and return sane labels."""
    from hadoop_log_analysis_spark.operators.clustering import (
        connected_components,
    )

    empty = spark.createDataFrame([], "a_id long, b_id long")
    assert connected_components(empty).count() == 0

    one = spark.createDataFrame([(1, 2)], ["a_id", "b_id"])
    got = {r.id: r.component for r in connected_components(one).collect()}
    assert got == {1: 1, 2: 1}

    # budget exhaustion: 2 iterations over an 8-node chain cannot reach
    # the CERTIFIED fixed point (effective budget is max_iter-1 — the
    # lazy seed spends iteration 1 confirming) — must return (with the
    # documented warning), every label a valid reachable-node id
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["a_id", "b_id"]
    )
    out = connected_components(chain, max_iter=2).collect()
    assert len(out) == 8
    assert all(1 <= r.component <= r.id for r in out)

    # max_iter=1 can never certify convergence -> rejected up-front
    import pytest

    with pytest.raises(ValueError, match="max_iter >= 2"):
        connected_components(chain, max_iter=1)


def test_decimal_tier_queries_partition_invariant(spark):
    """Split-invariance for the r9 DECIMAL-second-moment conversions:
    variance/correlation/Mahalanobis outputs must be IDENTICAL over 32
    vs 5 shuffle partitions — the property the exact sufficient-
    statistics design guarantees by construction, asserted here at the
    full-query level (bit-equal rows, not approximate)."""
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    names = (
        "q_stats_agg",
        "q_spearman_corr",
        "q_mahalanobis_outliers",
        "q_ratio_delta_method",
        "q_try_divide",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = {n: [tuple(r) for r in reg[n].fn(spark, SF001).collect()] for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert wide[n] == narrow[n], f"{n} is partition-sensitive"


def test_bfs_checkpoint_cadence_invariant(spark, monkeypatch):
    """graph_q.BFS_CHECKPOINT_EVERY_K: the deep-graph checkpoint
    cadence — re-checkpoint the distance table every k levels,
    union-of-blocks between — must be output-invariant. k=2 rows must
    be IDENTICAL to the shipped k=1 per-level rewrite."""
    from hadoop_log_analysis_spark.queries import graph_q, load_registry
    from tests.conftest import SF0001

    fn = load_registry()["q_bfs_hops"].fn
    assert graph_q.BFS_CHECKPOINT_EVERY_K == 1
    base = [tuple(r) for r in fn(spark, SF0001).collect()]
    monkeypatch.setattr(graph_q, "BFS_CHECKPOINT_EVERY_K", 2)
    k2 = [tuple(r) for r in fn(spark, SF0001).collect()]
    assert base and base == k2


def test_logistic_irls_returns_materialized_result(spark):
    """q_logistic_irls unpersists its cached scan before returning, so
    the returned plan must already be materialized: a plan that still
    reads the documents parquet re-runs the final aggregate over an
    uncached scan on every action the caller takes."""
    from hadoop_log_analysis_spark.queries import load_registry
    from tests.conftest import SF0001

    df = load_registry()["q_logistic_irls"].fn(spark, SF0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower(), plan
    assert df.count() == 1


def test_dec_sum_double_crosses_2_53_identically(spark):
    """functions.dec_sum_double (r10, sf1-probe finding): the emission
    must match DuckDB's sql_dec_sum_double mirror EXACTLY even when
    the sum's integer significand exceeds 2^53 — the regime where the
    naive decimal->double casts of the two engines diverge by 1 ulp
    (Spark correctly-rounded, DuckDB significand-then-divide)."""
    import duckdb

    from hadoop_log_analysis_spark.functions import (
        dec_sum_double,
        sql_dec_sum_double,
    )

    # 4M rows of 6-dp decimals up to ~9.6e5 -> sum ~1.9e12, integer
    # significand ~1.9e18: past 2^53 (the q_pricing_summary sf1
    # regime) and within DECIMAL(38,0)/HUGEINT exactness.
    n = 4_000_000
    df = spark.range(n).select(
        (
            (F.col("id") % 97 * 10000 + F.col("id") % 101)
            .cast("decimal(18,0)")
            * F.lit(1).cast("decimal(12,6)")
            / F.lit(1)
        ).alias("v")
    )
    # v is decimal with scale 6, magnitude up to 9.6e5; sum ~ 1.9e12;
    # significand 1.9e18 > 2^53 (and < 2^63 — also beyond long-double
    # exactness), exactly the cliff regime.
    got = df.agg(dec_sum_double(F.col("v"), 6).alias("s")).collect()[0].s
    want = duckdb.sql(
        "SELECT "
        + sql_dec_sum_double(
            "CAST(i % 97 * 10000 + i % 101 AS DECIMAL(18,0))"
            " * CAST(1 AS DECIMAL(12,6))",
            6,
        )
        + f" AS s FROM (SELECT unnest(range({n})) AS i)"
    ).fetchone()[0]
    assert repr(got) == repr(want), (got, want)


def test_sessionize_split_matches_plain_and_splits_hot_key(spark):
    """sessionize_split (r11 skew defense) must be row-for-row
    identical to sessionize for EVERY (gap, span) shape — span smaller
    than gap, span equal to one event step, span so large a single
    slice holds everything (degenerating to the plain plan) — on a
    stream engineered with the hazards: one hot entity owning most
    rows, boundary gaps exactly == gap (no break) and gap+1 (break),
    duplicate timestamps (ties must not straddle slices), and sessions
    spanning many slices. And it must actually SPLIT: under the
    composite (entity, slice) key the hot entity's largest window
    partition must carry a small fraction of its rows."""
    from hadoop_log_analysis_spark.operators.windows import (
        sessionize,
        sessionize_split,
    )

    gap = 100
    rows = []
    # hot entity 0: bursts of 7 events 3 apart (with a duplicate ts in
    # each burst), bursts separated alternately by exactly gap (same
    # session) and gap+1 (break), marching across many span boundaries
    t = 1_000
    for burst in range(300):
        for i in range(7):
            rows.append((0, t + 3 * i))
        rows.append((0, t + 9))  # duplicate of the i=3 event's ts
        t = t + 3 * 6 + (gap if burst % 2 == 0 else gap + 1)
    # cold entities 1..4: sparse, every gap+1 -> all singleton sessions
    for e in range(1, 5):
        for k in range(25):
            rows.append((e, 500 + e + k * (gap + 1)))
    # NULL hazards (r11 review finding): a NULL entity and a NULL ts
    # are ordinary window groups in sessionize — the split plan must
    # keep them. The r12 rewrite routes them through three disjoint
    # branches, so the sweep pins each branch's edge: a (NULL, NULL)
    # row (must be emitted ONCE, by the null_ts branch, not also by
    # null_ent), MULTIPLE NULL-ts rows on one entity (each its own
    # break; their count shifts the entity's real-ts session ids),
    # and a NULL entity mixing NULL and real ts
    rows += [(None, 100), (None, 150), (None, 150 + gap + 1), (3, None),
             (3, None), (3, None), (None, None), (None, None), (4, None)]
    df = spark.createDataFrame(rows, "user_id INT, tus LONG")

    want = sessionize(df, gap=gap, ts_col="tus").groupBy(
        "user_id", "sid"
    ).agg(F.count("*").alias("n"), F.min("tus").alias("lo"),
          F.max("tus").alias("hi"))

    for span in (37, 100, 101, 1_000, 10_000_000_000):
        got = sessionize_split(df, gap=gap, span=span, ts_col="tus").groupBy(
            "user_id", "sid"
        ).agg(F.count("*").alias("n"), F.min("tus").alias("lo"),
              F.max("tus").alias("hi"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    # the split claim: at span=1000 the hot entity's largest
    # (entity, slice) group is a sliver of its 2400 rows
    hot_max = (
        df.filter("user_id = 0")
        .groupBy((F.col("tus") / 1000).cast("long").alias("s"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_max <= 2400 * 0.05


def test_sessionize_split_rejects_degenerate_span(spark):
    """span <= 0 would make SQL `ts div span` NULL, silently collapsing
    every row into one slice — the operator must refuse instead."""
    import pytest as _pytest

    from hadoop_log_analysis_spark.operators.windows import sessionize_split

    df = spark.createDataFrame([(1, 10)], "user_id INT, tus LONG")
    for span in (0, -5):
        with _pytest.raises(ValueError):
            sessionize_split(df, gap=100, span=span, ts_col="tus")


def test_sparse_cosine_sharded_constant_shard_equals_global(spark):
    """The sampled sf1 oracle for q_sparse_cosine_pairs (r12) rests on
    one algebraic identity: sparse_cosine_pairs_sharded with the WHOLE
    corpus as a single shard computes exactly q_sparse_cosine_pairs
    (shard-local nd/df/df-cut degenerate to the global ones, per-shard
    top-k to the global top-k). Pin the identity at fixture scale so a
    drift in either pipeline (a changed rounding, df-cut, or tie
    break) breaks HERE, not silently inside the sf1 evidence."""
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.queries.llm_ops import (
        sparse_cosine_pairs_sharded,
    )

    reg = load_registry()
    docs = (
        scan(spark, SF001, "documents")
        .select("doc_id", "text")
        .withColumn("__one", F.lit(0))
    )
    got = [
        tuple(r)
        for r in sparse_cosine_pairs_sharded(docs, "__one", 20)
        .drop("__one")
        .collect()
    ]
    want = [
        tuple(r)
        for r in reg["q_sparse_cosine_pairs"].fn(spark, SF001).collect()
    ]
    assert got == want


def test_sessionize_auto_chooses_by_key_share(spark):
    """sessionize_auto (r12) must implement the documented decision
    rule mechanically: plain when no entity's share rivals a shuffle
    partition, range-split when one does — and the ANSWER must be
    identical to plain sessionize either way (the probe is allowed to
    change the plan, never the output)."""
    from hadoop_log_analysis_spark.operators.windows import (
        sessionize,
        sessionize_auto,
    )

    gap = 100

    def sess_agg(df):
        return df.groupBy("user_id", "sid").agg(
            F.count("*").alias("n"),
            F.min("tus").alias("lo"),
            F.max("tus").alias("hi"),
        )

    # uniform: 32 entities x 40 rows each -> top share 1/32 < 1/8
    uniform = spark.createDataFrame(
        [(e, 1000 + e + k * (gap + 1)) for e in range(32) for k in range(40)],
        "user_id INT, tus LONG",
    )
    # hot: entity 0 owns ~70% of rows >> 1/8
    hot = spark.createDataFrame(
        [(0, 1000 + 3 * k) for k in range(900)]
        + [(e, 500 + e + k * (gap + 1)) for e in range(1, 5) for k in range(90)],
        "user_id INT, tus LONG",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        for df, expect in ((uniform, "plain"), (hot, "split")):
            got, plan = sessionize_auto(
                df, gap=gap, span=1000, ts_col="tus"
            )
            assert plan == expect, (plan, expect)
            want = sess_agg(sessionize(df, gap=gap, ts_col="tus"))
            have = sess_agg(got)
            assert have.exceptAll(want).count() == 0
            assert want.exceptAll(have).count() == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_sessionize_auto_precomputed_share_skips_probe(spark):
    """sessionize_auto with ``top_share=`` supplied (r12 verdict
    missing #4 / ADVICE r12): construction must run NO Spark job —
    the probe shuffle is skipped and the wrapper is a pure lazy plan
    builder — while the decision rule and the answer stay identical.
    Job detection: a dedicated jobGroup must end the call with zero
    job ids."""
    from hadoop_log_analysis_spark.operators.windows import (
        sessionize,
        sessionize_auto,
    )

    gap = 100
    df = spark.createDataFrame(
        [(e, 1000 + e + k * (gap + 1)) for e in range(8) for k in range(10)],
        "user_id INT, tus LONG",
    )
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        sc.setJobGroup("sessionize-auto-probe-check", "must stay empty")
        got_plain, plan_plain = sessionize_auto(
            df, gap=gap, span=1000, ts_col="tus", top_share=0.05
        )
        got_split, plan_split = sessionize_auto(
            df, gap=gap, span=1000, ts_col="tus", top_share=0.5
        )
        jobs = sc.statusTracker().getJobIdsForGroup(
            "sessionize-auto-probe-check"
        )
        assert jobs == [], f"probe ran a job despite top_share: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # 0.05 * 8 < 1 -> plain; 0.5 * 8 >= 1 -> split; same answer
    assert (plan_plain, plan_split) == ("plain", "split")
    want = sessionize(df, gap=gap, ts_col="tus").groupBy("user_id", "sid").agg(
        F.count("*").alias("n")
    )
    for got in (got_plain, got_split):
        have = got.groupBy("user_id", "sid").agg(F.count("*").alias("n"))
        assert have.exceptAll(want).count() == 0
        assert want.exceptAll(have).count() == 0


def test_sessionize_auto_exact_boundary_split(spark):
    """ADVICE r13 windows.py: at EXACT decision boundaries the float
    form top/total*partitions lands a half-ulp under 1 (1/3 * 3 =
    0.9999999999999998) and would flip the PLAN (never the answer) to
    plain. The self-probe branch must use the exact integer comparison
    top*partitions >= total; a caller-supplied top_share gets an
    epsilon. Fixture: 3 partitions, top entity owns exactly 1/3."""
    from hadoop_log_analysis_spark.operators.windows import sessionize_auto

    gap = 100
    # 3 entities x 3 rows each: top share exactly 1/3 of 9
    df = spark.createDataFrame(
        [(e, 1000 + e + k * (gap + 1)) for e in range(3) for k in range(3)],
        "user_id INT, tus LONG",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        _, plan_probe = sessionize_auto(df, gap=gap, span=1000, ts_col="tus")
        _, plan_given = sessionize_auto(
            df, gap=gap, span=1000, ts_col="tus", top_share=1 / 3
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert plan_probe == "split", "integer boundary must choose split"
    assert plan_given == "split", "epsilon boundary must choose split"


def test_sessionize_auto_tolerates_non_numeric_partitions_conf(spark, monkeypatch):
    """ADVICE r12 windows.py:223: 'auto'-style values of
    spark.sql.shuffle.partitions must fall back to defaultParallelism,
    not throw inside a planning helper. This Spark build validates the
    conf at set() time, so the platform that returns 'auto' is
    simulated by patching conf.get."""
    from hadoop_log_analysis_spark.operators.windows import sessionize_auto

    df = spark.createDataFrame([(1, 10), (1, 20)], "user_id INT, tus LONG")
    real_get = spark.conf.get

    def fake_get(key, *a, **kw):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, *a, **kw)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    got, plan = sessionize_auto(df, gap=5, span=100, ts_col="tus")
    assert plan in ("plain", "split")
    assert got.count() == 2


def test_merge_bucketed_left_collapses_duplicate_nulls(spark):
    """streaming.skew.merge_bucketed_left (r13): the drained bucketed
    left join emits one NULL row per UNMATCHED LEFT DUPLICATE — a
    matched-elsewhere id's spurious NULL must vanish, a fully
    unmatched id's two NULLs must collapse to exactly one, and matched
    pairs must pass through untouched (they are already unique: one
    bucket per right row)."""
    from hadoop_log_analysis_spark.streaming.skew import merge_bucketed_left

    out = spark.createDataFrame(
        [
            (1, 10),  # matched in bucket b ...
            (1, None),  # ... spurious NULL from its b+1 duplicate
            (2, None),  # fully unmatched: NULL from duplicate 1
            (2, None),  # ... and from duplicate 2
            (3, 30),  # matched twice (two purchases, same bucket)
            (3, 31),
        ],
        "click_id INT, purchase_id INT",
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in merge_bucketed_left(out, "click_id", "purchase_id").collect()
    }
    assert got == {(1, 10), (2, None), (3, 30), (3, 31)}
    n = merge_bucketed_left(out, "click_id", "purchase_id").count()
    assert n == 4  # exactly one NULL row for id 2, no duplicates


def test_bucketed_interval_join_validates_widths():
    """Degenerate interval/bucket widths fail loudly: width 0 would
    make `div` return NULL and silently empty the join."""
    import pytest as _pytest

    from hadoop_log_analysis_spark.streaming.skew import (
        bucketed_interval_join,
    )

    with _pytest.raises(ValueError):
        bucketed_interval_join(
            None, None, "a", "b", "ta", "tb",
            interval_seconds=0, watermark="1 hour",
        )
    with _pytest.raises(ValueError):
        bucketed_interval_join(
            None, None, "a", "b", "ta", "tb",
            interval_seconds=10, watermark="1 hour", bucket_seconds=0,
        )
    # semi/anti/full outer have per-left-row (or right-NULL) semantics
    # the duplicate-left construction silently breaks — must refuse
    for bad_how in ("leftSemi", "left_anti", "fullOuter", "full"):
        with _pytest.raises(ValueError):
            bucketed_interval_join(
                None, None, "a", "b", "ta", "tb",
                interval_seconds=10, watermark="1 hour", how=bad_how,
            )


def _bucketed_join_skew_frames(spark):
    """The bucketed-join exactness fixture (hot key + NULL keys + NULL
    timestamps + negative-epoch rows), shared by the width sweep and
    the payload-merge test. Returns (left, right, plain-join cond,
    interval_seconds)."""
    base = 1_704_067_200  # 2024-01-01 00:00:00 UTC, seconds
    rows_l, rows_r = [], []
    lid = rid = 0
    # hot key 0: 60 clicks 7 min apart; keys 1-4: 10 each, 31 min apart
    for k, n, step in ((0, 60, 420), (1, 10, 1860), (2, 10, 1860),
                       (3, 10, 1860), (4, 10, 1860)):
        for i in range(n):
            rows_l.append((lid, k, base + i * step)); lid += 1
        for i in range(n):
            rows_r.append((rid, k, base + 150 + i * (step + 95))); rid += 1
    # NULL key rows on both sides; NULL ts rows on both sides
    rows_l += [(lid, None, base + 50), (lid + 1, 1, None)]
    lid += 2
    rows_r += [(rid, None, base + 60), (rid + 1, 2, None)]
    rid += 2
    # pre-1970 rows (negative epoch): `div` truncates toward zero
    # there rather than flooring, so bucket BOUNDARIES shift — the
    # docstring claims correctness needs only monotonicity + candidate
    # coverage, not alignment; pin it with matches that straddle the
    # epoch and a negative-side pair inside one interval
    rows_l += [(lid, 7, -1800), (lid + 1, 7, -7000)]
    lid += 2
    rows_r += [(rid, 7, 300), (rid + 1, 7, -5000), (rid + 2, 7, -6999)]

    def mk(rows, pfx):
        df = spark.createDataFrame(
            rows, f"{pfx}id LONG, {pfx}k INT, {pfx}sec LONG"
        )
        return df.select(
            f"{pfx}id", f"{pfx}k",
            F.timestamp_seconds(F.col(f"{pfx}sec")).alias(f"{pfx}ts"),
        )

    cond = (
        (F.col("lk") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 3600 SECOND"))
    )
    return mk(rows_l, "l"), mk(rows_r, "r"), cond, 3600


def test_bucketed_interval_join_exact_across_widths(spark):
    """bucketed_interval_join must be multiset-identical to the plain
    interval join for EVERY bucket width — wider than the interval
    (1-2 candidates), equal (2), narrower (more duplicates), and a
    non-divisor width — for both inner and leftOuter (+merge), on data
    with a hot key, NULL keys, and NULL timestamps. Exactness argument
    in streaming/skew.py's docstring; this sweeps it empirically on
    BATCH frames (withWatermark is a no-op there), which shares the
    join algebra with the streaming plan while keeping the sweep
    cheap. The streaming execution itself is pinned by the
    q_stream_stream_*_bucketed oracles and the bench-mfpt test."""
    from hadoop_log_analysis_spark.streaming.skew import (
        bucketed_interval_join,
        merge_bucketed_left,
    )

    left, right, cond, interval = _bucketed_join_skew_frames(spark)
    want_inner = left.join(right, cond, "inner").select("lid", "rid")
    want_left = left.join(right, cond, "leftOuter").select("lid", "rid")
    assert want_inner.count() > 50  # non-vacuous fixture
    assert want_left.filter(F.col("rid").isNull()).count() > 0

    for w in (7200, 3600, 1800, 901):
        got_inner = bucketed_interval_join(
            left, right, "lk", "rk", "lts", "rts",
            interval_seconds=interval, watermark="2 hours",
            bucket_seconds=w, how="inner",
        ).select("lid", "rid")
        got_left = merge_bucketed_left(
            bucketed_interval_join(
                left, right, "lk", "rk", "lts", "rts",
                interval_seconds=interval, watermark="2 hours",
                bucket_seconds=w, how="leftOuter",
            ).select("lid", "rid"),
            "lid", "rid",
        )
        for got, want, tag in (
            (got_inner, want_inner, "inner"),
            (got_left, want_left, "leftOuter"),
        ):
            extra = got.exceptAll(want).count()
            missing = want.exceptAll(got).count()
            assert extra == 0 and missing == 0, (
                f"W={w} {tag}: extra={extra} missing={missing}"
            )


def test_merge_bucketed_left_carries_payload_cols(spark):
    """merge_bucketed_left with payload_cols (r14 — the r13 verdict's
    generalization item): the payload-carrying merge must multiset-
    match the PLAIN leftOuter interval join with the same projection,
    on the full skew fixture (hot key + NULL keys + NULL ts +
    negative epochs), for both a left payload (constant per id,
    recovered by first()) and a right payload (NULL on unmatched rows
    by left-outer semantics). Sweeps the registered-default and
    narrow widths so duplicate NULL collapse is exercised."""
    from hadoop_log_analysis_spark.streaming.skew import (
        bucketed_interval_join,
        merge_bucketed_left,
    )

    left, right, cond, interval = _bucketed_join_skew_frames(spark)
    proj = ["lid", "lk", "lts", "rts", "rid"]
    want = left.join(right, cond, "leftOuter").select(*proj)
    assert want.filter(F.col("rid").isNull()).count() > 0  # non-vacuous
    for w in (4 * interval, interval, 901):
        out = bucketed_interval_join(
            left, right, "lk", "rk", "lts", "rts",
            interval_seconds=interval, watermark="2 hours",
            bucket_seconds=w, how="leftOuter",
        ).select(*proj)
        got = merge_bucketed_left(
            out, "lid", "rid", payload_cols=("lk", "lts", "rts")
        )
        assert got.columns == proj
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        assert extra == 0 and missing == 0, (
            f"W={w} payload merge: extra={extra} missing={missing}"
        )


def test_merge_bucketed_left_rejects_null_left_id(spark):
    """ADVICE r13 skew.py: a NULL left_id in the drained output
    violates the unique-non-NULL id precondition and would silently
    collapse distinct unmatched left rows into one NULL row — the
    merge must now refuse it LOUDLY at execution time (the guard
    lives inside the left_id column itself, so pruning can't elide
    it), on both the matched and the NULL-only path."""
    import pytest as _pytest

    from hadoop_log_analysis_spark.streaming.skew import merge_bucketed_left

    out = spark.createDataFrame(
        [(1, 10), (None, None), (2, None)],
        "click_id INT, purchase_id INT",
    )
    with _pytest.raises(Exception, match="NULL click_id"):
        merge_bucketed_left(out, "click_id", "purchase_id").collect()


def test_merge_bucketed_left_validates_payload_cols():
    """payload_cols naming an id column or a column absent from the
    drained output is a caller bug — refused loudly before any plan
    is built (the knob-validation discipline)."""
    import pytest as _pytest

    from hadoop_log_analysis_spark.streaming.skew import merge_bucketed_left

    class _FakeDF:  # only .columns is reached before the raise
        columns = ["click_id", "purchase_id", "c_ts"]

    with _pytest.raises(ValueError, match="must not repeat"):
        merge_bucketed_left(
            _FakeDF(), "click_id", "purchase_id",
            payload_cols=("click_id",),
        )
    with _pytest.raises(ValueError, match="not in drained output"):
        merge_bucketed_left(
            _FakeDF(), "click_id", "purchase_id", payload_cols=("nope",)
        )


def test_parse_app_log_split_extraction_matches_regex_groups(spark):
    """r14 optimization pin: parse_app_log now extracts fields with one
    5-limit pipe split after the (unchanged) rlike gate instead of four
    regexp_extract passes. On every line the gate accepts, the split
    fields must equal the regex capture groups — including props
    payloads that CONTAIN pipes/braces (the greedy group-4 case) — and
    the gate itself must keep dropping the malformed classes."""
    import re

    from hadoop_log_analysis_spark.sources.logs import (
        APP_LOG_PATTERN,
        parse_app_log,
    )

    lines = [
        'evt|1|2|click|{"k": 1}',                  # plain
        'evt|3|4|view|{"path": "a|b|c"}',          # pipes INSIDE props
        'evt|5|6|purchase|{"nest": {"x": 2}}',     # braces inside props
        "evt|7|8|signup|{}",                       # minimal props
        'evt|9|10|view|{"trail": "}|{"}',          # brace-pipe soup
        "evt|11|12|Click|{}",                      # uppercase type: drop
        "evt|x|2|click|{}",                        # non-digit id: drop
        "evt|1|2|click|nojson",                    # props not {...}: drop
        "evt|1|2|click",                           # missing field: drop
        "",                                        # empty: drop
        "this is not a log line",                  # garbage: drop
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    got = {
        r.event_id: (r.user_id, r.event_type, r.props)
        for r in parse_app_log(df).collect()
    }
    pat = re.compile(APP_LOG_PATTERN)
    want = {
        int(m.group(1)): (int(m.group(2)), m.group(3), m.group(4))
        for ln in lines
        if (m := pat.fullmatch(ln))
    }
    assert got == want and len(want) == 5
