"""Physical-plan assertions (SURVEY.md §4 — "rely; verify with explain").

Catalyst gives pushdown/pruning/broadcast for free ONLY if the engine
expresses plans declaratively; these tests pin that contract so a
refactor that silently breaks it (e.g. a UDF blocking pushdown, a
collect-loop hiding a join) fails CI."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_log_analysis_spark.queries import load_registry
from hadoop_log_analysis_spark.sources.catalog import scan
from tests.conftest import SF001

REGISTRY = load_registry()


def _formatted(df, execute: bool = False) -> str:
    """explain("formatted") as a string; ``execute`` first when the
    assertion concerns the AQE final plan (codegen spans)."""
    if execute:
        df.collect()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_parquet(spark):
    df = scan(spark, SF001, "lineitem").filter(F.col("l_quantity") > 40.0)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_parquet(spark):
    df = scan(spark, SF001, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    # ReadSchema must carry only the 2 projected columns of 16.
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_small_dims_broadcast_in_join5(spark):
    plan = _formatted(REGISTRY["q_join5"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark):
    plan = _formatted(REGISTRY["q_topk_users"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning_on_partitioned_sink(spark):
    # q_parquet_sink_partitioned writes event_type-partitioned parquet;
    # re-reading with the partition filter must prune, not scan+filter.
    REGISTRY["q_parquet_sink_partitioned"].fn(spark, SF001).collect()
    from hadoop_log_analysis_spark.scratch import run_dir

    back = spark.read.parquet(run_dir(spark, "parquet_part", SF001)).filter(
        F.col("event_type") == "error"
    )
    plan = _formatted(back)
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters: ")[1].splitlines()[0]


def test_whole_stage_codegen_covers_agg(spark):
    plan = _formatted(REGISTRY["q_hourly_errors"].fn(spark, SF001), execute=True)
    assert "[codegen id :" in plan  # codegen spans present in final plan


def test_bucketed_join_has_no_shuffle(spark):
    # Force SMJ (defeat broadcast) to prove the bucketed tables co-locate:
    # a correct bucketed join plans with ZERO Exchange on the join keys.
    REGISTRY["q_bucketed_join"].fn(spark, SF001).collect()  # ensure tables exist
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted(REGISTRY["q_bucketed_join"].fn(spark, SF001))
        join_section = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in join_section
        assert "Exchange hashpartitioning(l_orderkey" not in join_section
        assert "Exchange hashpartitioning(o_orderkey" not in join_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_agg_splits_hot_keys(spark):
    # The salted plan must aggregate twice: by (event_type, salt-expr)
    # then by event_type — 4 HashAggregate nodes (partial+final x 2
    # phases) with the deterministic xxhash64 salt in the keys (the
    # alias is inlined by the analyzer, so match the expression).
    plan = _formatted(REGISTRY["q_salted_agg"].fn(spark, SF001))
    assert "xxhash64" in plan and "pmod" in plan
    assert plan.count("HashAggregate") >= 4


def test_llm_dedup_minhash_stays_jvm_side(spark):
    # The MinHash/LSH pipeline must not contain Python evaluation nodes
    # (BatchEvalPython / ArrowEvalPython) — it is built from higher-order
    # array expressions precisely so it stays in codegen at 100 TB.
    plan = _formatted(REGISTRY["q_minhash_near_dups"].fn(spark, SF001))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _scan_node_ids(plan: str) -> set[str]:
    """Unique Scan node ids in a formatted plan (the same node appears
    in the tree, the AQE initial-plan tree, and the details section —
    dedupe by id so 'one scan' means one physical scan node)."""
    import re

    return set(re.findall(r"Scan parquet[^\n(]*\((\d+)\)", plan))


def test_pivot_is_single_pass(spark):
    # Explicit pivot values -> ONE aggregate pass over ONE scan of
    # events (no separate distinct-values job, no re-scan per value).
    plan = _formatted(REGISTRY["q_pivot_event_day"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_unpivot_is_zero_shuffle_expand(spark):
    # DataFrame.unpivot compiles to an Expand node, not a union of
    # re-aggregations: one scan, and no exchange introduced by the melt
    # itself (the only exchanges belong to the upstream groupBy/orderBy).
    plan = _formatted(REGISTRY["q_unpivot_status_metrics"].fn(spark, SF001))
    assert "Expand" in plan
    assert len(_scan_node_ids(plan)) == 1


def test_scalar_subquery_broadcasts_one_row_side(spark):
    # The global-average side is 1 row; it must reach the fact side as
    # a broadcast (nested-loop for the cross join), never a shuffle.
    plan = _formatted(REGISTRY["q_scalar_subquery"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan


def test_shipping_priority_broadcasts_dim_and_takes_topk(spark):
    # TPC-H Q3 shape: filtered customer dim must broadcast onto the
    # fact chain, and the final top-10 must be TakeOrderedAndProject
    # (no global sort of the grouped output).
    plan = _formatted(REGISTRY["q_shipping_priority"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_doc_chunks_is_map_only_until_sort(spark):
    # Chunking is scan -> split/sequence/explode/slice: one scan, no
    # hash shuffle anywhere (the only exchange is the verification
    # ORDER BY's range partitioning), and no Python eval nodes.
    plan = _formatted(REGISTRY["q_doc_chunks"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    # The eval-set shingle side is tiny by construction; the overlap
    # join must be a broadcast, never a full shuffle of training grams.
    plan = _formatted(REGISTRY["q_decontaminate"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_bm25_stays_jvm_side(spark):
    # Retrieval scoring is built from explode + built-in math only —
    # it must not fall back to Python evaluation.
    plan = _formatted(REGISTRY["q_bm25"].fn(spark, SF001))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cohort_retention_dedups_before_shuffle(spark):
    # Partial (map-side) dedup must precede the first exchange so
    # shuffles move distinct (user, day) pairs, never raw events; one
    # linear pipeline = one scan; and no Python in the plan.
    plan = _formatted(REGISTRY["q_cohort_retention"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _first_node_id(plan, "HashAggregate") < _first_node_id(
        plan, "Exchange"
    )


def _first_node_id(plan: str, node: str) -> int:
    """Lowest detail-section id of a node kind; ids are assigned
    leaf-to-root, so smaller id = earlier in execution order."""
    import re

    ids = [int(i) for i in re.findall(rf"\((\d+)\) {node}", plan)]
    assert ids, f"no {node} node in plan"
    return min(ids)


def test_hourly_anomaly_windows_over_aggregate(spark):
    # The z-score window must run over the hourly AGGREGATE (one scan,
    # agg before window), so the single-series sort is O(hours).
    plan = _formatted(REGISTRY["q_hourly_anomaly"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert _first_node_id(plan, "HashAggregate") < _first_node_id(
        plan, "Window"
    )


def test_pareto_total_broadcasts(spark):
    # The 1-row corpus total joins the ranked users via broadcast
    # nested-loop, never a shuffle join.
    plan = _formatted(REGISTRY["q_pareto_users"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan


def test_large_orders_broadcasts_having_set_and_takes_topk(spark):
    # TPC-H Q18 shape: the HAVING-filtered orderkey set and the
    # customer dim must both broadcast; top-100 must be TakeOrdered.
    plan = _formatted(REGISTRY["q_large_orders"].fn(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_subword_tokens_stays_jvm_side(spark):
    # regexp_extract_all + explode + agg must compile to codegen with
    # a TakeOrdered top-20 — no Python, no global sort.
    plan = _formatted(REGISTRY["q_subword_tokens"].fn(spark, SF001))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_multimodal_frames_uses_arrow_batches(spark):
    # Frame sampling must ride mapInPandas (Arrow batches), not a
    # row-at-a-time Python UDF.
    plan = _formatted(REGISTRY["q_multimodal_frames"].fn(spark, SF001))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_late_orders_exists_becomes_semi_join(spark):
    # The correlated EXISTS with a cross-table date predicate must
    # plan as a left-semi join (decorrelated), with the quarter filter
    # pushed into the orders scan.
    plan = _formatted(REGISTRY["q_late_orders_by_priority"].fn(spark, SF001))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_event_transitions_single_scan_window_then_agg(spark):
    # Lag window then 25-cell aggregate: one scan, window precedes the
    # final aggregate, no Python nodes.
    plan = _formatted(REGISTRY["q_event_transitions"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _first_node_id(plan, "Window") < _first_node_id(plan, "HashAggregate")


def test_rolling_active_spine_broadcasts(spark):
    # The O(days) spine must broadcast onto the deduped (user, day)
    # pairs — a range condition, so broadcast nested-loop.
    plan = _formatted(REGISTRY["q_rolling_active_users"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan


def test_sessionize_reuses_one_user_exchange(spark):
    # Sessionization chains lag -> running-sum windows -> session agg,
    # all keyed on user_id: the plan must contain exactly ONE user_id
    # hash exchange feeding both Window operators (exchange reuse is
    # what keeps multi-window pipelines one-shuffle at 100 TB).
    import re

    plan = _formatted(REGISTRY["q_sessionize"].fn(spark, SF001))
    user_exchanges = re.findall(r"Arguments: hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 2


def test_sessionize_split_windows_on_composite_key(spark):
    # The r11 skew defense's whole point is the PARTITIONING: the heavy
    # per-row window must hash on (user_id, __slice) — never on bare
    # user_id, which would recreate the hot-key funnel the operator
    # exists to break. Only the tiny slice-summary window and the final
    # presentation sort may key on user_id alone.
    import re

    plan = _formatted(REGISTRY["q_sessionize_split"].fn(spark, SF001))
    composite = re.findall(
        r"hashpartitioning\(user_id#\d+L?, __slice", plan
    )
    assert composite, "local window must partition on (user_id, __slice)"
    # the row-bearing windows order raw event time (tus) and MUST be
    # composite-keyed: a windowspec of (user_id, tus ASC) — bare
    # entity key directly over event rows — is exactly the funnel
    # this operator exists to break. The ONE sanctioned exception is
    # the NULL-ts recovery branch's row_number (its lit-NULL slice key
    # constant-folds away), which must sit over a pushdown-filtered
    # IsNull(tus) scan — i.e. over ~0 rows, never the full events
    bare = re.findall(
        r"(\w+\(\)?\)?) windowspecdefinition\(user_id#\d+L?, tus#", plan
    )
    assert bare == ["row_number()"], (
        f"raw-row window keyed on bare user_id — the hot-key funnel: {bare}"
    )
    # tus is computed from ts, so the isnull guard lands as a Filter
    # just above the column-pruned scan rather than in PushedFilters
    assert re.search(r"Condition : isnull\(\(\(unix_micros", plan), (
        "the bare-key row_number branch must scan only ts-IS-NULL rows"
    )
    assert re.findall(
        r"windowspecdefinition\(user_id#\d+L?, __slice#\d+L?, tus#", plan
    ), "expected composite-keyed raw-row windows"
    # r12: the join back must be a PLAIN equi-join on (user_id, __slice)
    # so the big side reuses the local window's exchange — the r11
    # eqNullSafe condition re-exchanged both sides on coalesce-wrapped
    # keys (~2x the operator's cost on uniform data, SCALE.md)
    assert "coalesce(user_id" not in plan, (
        "null-safe join keys re-exchange the big side"
    )
    assert re.findall(
        r"Left keys \[2\]: \[user_id#\d+L?, __slice#", plan
    ), "main branch must equi-join on (user_id, __slice)"


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    # 100 TB posture: a selective dim filter on a SHUFFLE join injects
    # a bloom filter (BloomFilterMightContain) on the fact side,
    # pruning shuffle input at runtime. Local fixture sizes sit below
    # the application-side default threshold (10 GB), so the test
    # lowers it to prove the optimizer path; on a real cluster the
    # defaults trigger it for exactly this plan shape.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = scan(spark, SF001, "lineitem")
        orders = scan(spark, SF001, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderstatus")
            .count()
        )
        assert "might_contain" in _formatted(j)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_gapfill_spine_join_broadcasts(spark):
    # Spine (O(#hours)) joined to the hourly aggregate: final AQE plan
    # must broadcast, not sort-merge, two tiny sides.
    plan = _formatted(REGISTRY["q_gapfill_hours"].fn(spark, SF001), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan and "explode(" in plan  # sequence->explode spine


def test_ivf_probe_reads_index_not_full_table(spark):
    # VERDICT r1 item 3: with the index persisted, the probe plan must
    # contain no posexplode (centroid recomputation) and must scan the
    # index directories, with the bucket filter pruning assignment
    # partitions (DPP via the broadcast bucket join).
    REGISTRY["q_ann_ivf"].fn(spark, SF001).collect()  # builds index once
    plan = _formatted(REGISTRY["q_ann_ivf"].fn(spark, SF001))
    assert "posexplode" not in plan
    assert "ivf_index_sf0.01" in plan  # scans the persisted index
    assert "dynamicpruning" in plan or "PartitionFilters: [" in plan


def test_kmeans_argmax_uses_hash_agg_not_window(spark):
    # ADVICE r1 clustering.py:108: nearest-centroid argmax must be a
    # partial-aggregating max_by, not a row_number window shuffling the
    # n x k scored cross product.
    plan = _formatted(REGISTRY["q_kmeans_ivf"].fn(spark, SF001))
    assert "Window" not in plan
    assert "max_by" in plan


def test_cbo_stats_hold_and_bucketed_join_plan_stable(spark):
    # VERDICT r1 item 8: with table/column stats ANALYZEd and CBO on,
    # the bucketed join must keep the same shuffle-free SMJ shape —
    # stats improve estimates without destabilizing the plan.
    from hadoop_log_analysis_spark.queries.scale_q import bucketed_tables

    li_tbl, ord_tbl = bucketed_tables(spark, SF001)
    spark.sql(f"ANALYZE TABLE {li_tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql(f"ANALYZE TABLE {ord_tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    stats_row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {li_tbl}")
        .filter(F.col("col_name") == "Statistics")
        .collect()
    )
    assert stats_row and "rows" in stats_row[0].data_type
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _formatted(REGISTRY["q_bucketed_join"].fn(spark, SF001))
        join_section = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in join_section
        assert "Exchange hashpartitioning(l_orderkey" not in join_section
        assert "Exchange hashpartitioning(o_orderkey" not in join_section
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_waiting_orders_is_semi_anti_with_broadcast_dim(spark):
    # TPC-H Q21 shape: EXISTS/NOT EXISTS must compile to left-semi +
    # left-anti joins (no correlated per-row subqueries) and the
    # supplier dim must broadcast.
    plan = _formatted(REGISTRY["q_waiting_orders"].fn(spark, SF001))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_embedding_outliers_broadcasts_centroid_table(spark):
    # The |labels|-row centroid table must broadcast back onto the
    # embeddings scan; a shuffle join here would re-shuffle the full
    # vector corpus at 100 TB.
    plan = _formatted(REGISTRY["q_embedding_outliers"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_embedding_outliers_bottom_k_has_no_window(spark):
    # VERDICT r2 "What's wrong" #2: bottom-3-per-label must be the
    # two-phase bounded aggregate (slice-after-sort over partial
    # collect_list), NOT a Window.partitionBy(label) that sorts the
    # whole scored corpus through ~|labels| partitions.
    plan = _formatted(REGISTRY["q_embedding_outliers"].fn(spark, SF001))
    assert "Window" not in plan
    assert "slice(" in plan and "SPARK_PARTITION_ID" in plan


def test_user_segments_two_phase_rank_no_ntile(spark):
    # VERDICT r2 "Next round" #7: quartiles must come from the
    # histogram-offset + within-tie-class rank (parallel across
    # |distinct n| classes), not a global single-partition ntile.
    plan = _formatted(REGISTRY["q_user_segments"].fn(spark, SF001))
    assert "ntile" not in plan
    assert "row_number" in plan


def test_curriculum_phases_two_phase_rank_no_ntile(spark):
    # VERDICT r5 "What's wrong" #2: the phase assignment must come
    # from the histogram-offset + within-tie-class rank (parallel
    # across |distinct difficulty| classes, offsets broadcast), not
    # an UNPARTITIONED corpus-scale ntile window — the latter funnels
    # the whole documents table through a single task.
    plan = _formatted(REGISTRY["q_curriculum_phases"].fn(spark, SF001))
    assert "ntile" not in plan
    assert "row_number" in plan
    assert "BroadcastHashJoin" in plan


def test_pareto_prefilter_broadcasts_kept_classes(spark):
    # VERDICT r2 "Next round" #7: the running-sum window must see only
    # the histogram-selected heavy-hitter classes, joined back via a
    # broadcast of the tiny kept-n list.
    plan = _formatted(REGISTRY["q_pareto_users"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_gopher_rules_is_single_scan_no_shuffle(spark):
    # The quality-rule metrics are within-row expressions: the plan
    # must contain no Exchange at all (global sort excepted — assert
    # before the orderBy by rebuilding the unsorted projection).
    from hadoop_log_analysis_spark.operators import text as TXT

    docs = scan(spark, SF001, "documents")
    df = docs.select(
        "doc_id",
        TXT.dup_token_frac().alias("d"),
        TXT.top_bigram_frac().alias("b"),
        TXT.symbol_token_frac().alias("s"),
    )
    plan = _formatted(df)
    assert "Exchange" not in plan


def test_maybe_broadcast_is_size_aware(spark):
    # The hint must appear only when on-disk bytes x decompression
    # factor fit the session threshold — and must parse Spark's
    # size-suffixed conf values ('10485760b', '10MB').
    from hadoop_log_analysis_spark.operators.partitioning import (
        _parse_bytes,
        maybe_broadcast,
    )
    from hadoop_log_analysis_spark.sources.catalog import table_bytes

    assert _parse_bytes("10485760b") == 10 << 20
    assert _parse_bytes("10MB") == 10 << 20
    assert _parse_bytes("-1") == -1

    sup = scan(spark, SF001, "supplier")
    li = scan(spark, SF001, "lineitem")
    small = table_bytes(SF001, "supplier")
    hinted = li.join(
        maybe_broadcast(sup, small), F.col("l_suppkey") == F.col("s_suppkey")
    )
    assert "BroadcastHashJoin" in _formatted(hinted)

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted = li.join(
            maybe_broadcast(sup, small),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        assert "BroadcastHashJoin" not in _formatted(unhinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_keyless_asof_carry_window_is_bucket_partitioned(spark):
    # The r3 keyless asof must run its carry window partitioned by the
    # quantile bucket (parallel), not over one global SinglePartition
    # ordering of |L|+|R| rows; only the <= n_buckets boundary-seed
    # window may single-partition.
    plan = _formatted(REGISTRY["q_asof_join"].fn(spark, SF001))
    assert "windowspecdefinition(__asof_bkt" in plan


def test_domain_cap_has_no_window(spark):
    # Per-source cap must compile to the two-phase bounded aggregate,
    # never a Window.partitionBy(source) sort of the corpus.
    plan = _formatted(REGISTRY["q_domain_cap"].fn(spark, SF001))
    assert "Window" not in plan
    assert "slice(" in plan and "SPARK_PARTITION_ID" in plan


def test_boilerplate_strip_is_anti_join(spark):
    # The boilerplate strip must be a LEFT ANTI join against the
    # frequency-filtered line set, with the reassembly as an object
    # hash aggregate (no window, no cartesian).
    plan = _formatted(REGISTRY["q_boilerplate_removal"].fn(spark, SF001))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_token_budget_prefilter_broadcasts_kept_classes(spark):
    # Same contract as q_pareto_users: the running-sum window input is
    # pre-filtered via a broadcast of the tiny kept-class list.
    plan = _formatted(REGISTRY["q_token_budget_fill"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_index_lookup_filters_before_aggregation(spark):
    # The term predicate must cut the exploded token stream before any
    # exchange, and the top-20 must be TakeOrderedAndProject.
    plan = _formatted(REGISTRY["q_index_lookup"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_uses_take_ordered(spark):
    # Weighted sampling is a map-side key + global top-k: the plan must
    # show TakeOrderedAndProject (k per partition merged), never a full
    # Sort + Limit of the corpus.
    plan = _formatted(REGISTRY["q_weighted_sample"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]" in plan


def test_knn_classify_broadcasts_probe_set(spark):
    # The labeled seed set must broadcast; both scans must push their
    # vec_id range filters into parquet.
    plan = _formatted(REGISTRY["q_knn_classify"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "GreaterThanOrEqual(vec_id,20)" in plan
    assert "LessThan(vec_id,20)" in plan


def test_heavy_hitters_recount_is_broadcast_semi_join(spark):
    # Pass 2 semi-joins the bounded candidate set back onto the token
    # stream — must be a broadcast, not a shuffled join of the corpus.
    plan = _formatted(
        REGISTRY["q_heavy_hitters"].fn(spark, SF001), execute=True
    )
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_zorder_key_is_broadcast_bounds_plus_take_ordered(spark):
    # The bin bounds ride a broadcast 1-row aggregate (never a window
    # or a data-row collect); the LIMIT must be TakeOrderedAndProject.
    plan = _formatted(REGISTRY["q_zorder_layout"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_ewma_is_window_free_band_join(spark):
    # The closed-form EWMA must stay a band self-join over the daily
    # aggregate — no sequential window anywhere in the plan.
    plan = _formatted(REGISTRY["q_ewma_daily"].fn(spark, SF001))
    assert "Window" not in plan


def test_cusum_global_stats_broadcast_not_window(spark):
    # mu/sd must come from a broadcast 1-row aggregate; the only
    # windows are the two running aggs over the hourly series.
    plan = _formatted(REGISTRY["q_cusum_shift"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Window") <= 2 * plan.count("BroadcastNestedLoopJoin") + 2


def test_mad_median_joins_broadcast(spark):
    # Both per-type median tables (5 rows) join back via broadcast
    # hash joins, never a shuffle of the event stream.
    plan = _formatted(REGISTRY["q_mad_outliers"].fn(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pagerank_materializes_and_releases_iteration_caches(spark):
    # r4 review fix: the query eagerly materializes its result (the
    # returned plan is a checkpointed RDD scan, NOT a per-iteration
    # re-derivation from the corpus) and unpersists the edges/nodes/
    # adj caches it pinned during the loop — a long registry sweep
    # must not accumulate InMemoryRelations.
    # Dropped invariant, consciously: the old InMemoryTableScan>=3
    # assertion (iterations reuse the cached adjacency) is no longer
    # observable from the checkpointed plan; removing adj.cache()
    # would now show up as a q_pagerank_tokens BENCH regression (the
    # corpus-scale edge build re-running per iteration), which is the
    # guard that remains.
    spark.catalog.clearCache()  # isolate from other tests' caches
    df = REGISTRY["q_pagerank_tokens"].fn(spark, SF001)
    plan = _formatted(df)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "parquet" not in plan.lower()  # corpus scan happened at build
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "pagerank left cached relations pinned"


def test_dynamic_partition_pruning_through_dim_join(spark, tmp_path):
    # Joining the event_type-partitioned sink against a selectively
    # filtered dim must inject a dynamicpruning subquery into the
    # fact scan's PartitionFilters — at 100 TB this is what turns a
    # full-corpus scan into reading only the dim-selected partitions.
    from hadoop_log_analysis_spark.scratch import run_dir

    REGISTRY["q_parquet_sink_partitioned"].fn(spark, SF001).collect()
    fact = spark.read.parquet(run_dir(spark, "parquet_part", SF001))
    dim_path = str(tmp_path / "dpp_dim")
    spark.createDataFrame(
        [(t, int(t == "error")) for t in
         ("error", "click", "view", "purchase", "signup")],
        "event_type string, is_alert int",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("is_alert") == 1)
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _formatted(j)
    assert "dynamicpruningexpression" in plan


def test_bloom_prefilter_probe_is_jvm_filter_plus_semi_join(spark):
    # q_bloom_prefilter_join: the Bloom probe must be an in-plan
    # xxhash64 expression filter (codegen'd, no Python boundary) and
    # the exactness backstop a LeftSemi hash join — never a cartesian.
    plan = _formatted(REGISTRY["q_bloom_prefilter_join"].fn(spark, SF001))
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_skyline_class_join_back_broadcasts(spark):
    # q_skyline_parts: the price-class table (distinct prices + prefix
    # max) must come back to the part rows as a broadcast join; the
    # window must run over classes, not raw rows (no rows-scale sort
    # before the aggregate).
    plan = _formatted(REGISTRY["q_skyline_parts"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan


def test_basket_lift_dimension_joins_broadcast(spark):
    # q_basket_lift: per-item count table and the 1-row order count
    # must both broadcast onto the pair-support aggregate.
    plan = _formatted(REGISTRY["q_basket_lift"].fn(spark, SF001))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_triangle_enumeration_all_hash_joins(spark):
    # q_triangle_count: wedge build and closure are equi hash joins on
    # (src) and (d1, d2) — a cartesian or nested-loop node here means
    # the orientation trick got lost in a refactor.
    plan = _formatted(REGISTRY["q_triangle_count"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    # The only nested-loop nodes allowed are the deliberate Cross
    # broadcasts of the 1-row doc-count aggregate (threshold math);
    # any Inner BNLJ would mean an equi-join degenerated.
    assert "BroadcastNestedLoopJoin Inner" not in plan
    assert "Join Inner" in plan  # wedge build + closure are equi joins


def test_js_divergence_corpus_total_is_broadcast_scalar(spark):
    """The corpus-total normalizer must be a 1-row broadcast, and no
    cartesian product may appear (the closed-form tail replaces the
    source x vocab cross join)."""
    plan = _formatted(REGISTRY["q_js_divergence"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ks_grid_types_side_is_broadcast(spark):
    """The |types| grid dimension must broadcast against the distinct
    values; the cumulative window must partition by event_type (never
    a single global partition)."""
    plan = _formatted(REGISTRY["q_ks_drift"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "partitionBy=[event_type]" in plan.replace(" ", "").replace(
        "PartitionBy", "partitionBy"
    ) or "hashpartitioning(event_type" in plan


def test_psi_reference_bounds_broadcast(spark):
    """Per-type reference bounds and the 10-bin spine must broadcast;
    the event scans keep the time predicate pushed down."""
    plan = _formatted(REGISTRY["q_psi_drift"].fn(spark, SF001))
    assert plan.count("BroadcastExchange") >= 2
    assert "PushedFilters" in plan


def test_hard_negatives_query_side_broadcast_no_corpus_sort(spark):
    """The sampled query set broadcasts against the corpus and the
    per-query argmax is an aggregation — no Window/Sort over the
    |corpus| x |queries| candidate stream."""
    plan = _formatted(REGISTRY["q_hard_negatives"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_covariance_gram_reduction_is_arrow_then_agg(spark):
    """The Gram partials must cross into Python as whole Arrow batches
    (MapInArrow / ArrowEvalPython), with the only corpus-scale shuffle
    being the (i, j)-keyed partial aggregation AFTER the map."""
    plan = _formatted(REGISTRY["q_embedding_covariance"].fn(spark, SF001))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan
    assert "CartesianProduct" not in plan


def test_golden_record_modal_pick_is_aggregation_not_window(spark):
    """Survivorship's modal picks are aggregation argmaxes; a window
    over per-cluster candidates would reintroduce the per-group sort
    funnel the max(struct) formulation avoids."""
    plan = _formatted(REGISTRY["q_golden_record"].fn(spark, SF001))
    assert "Window" not in plan


def test_zipf_rank_window_partitions_by_lang(spark):
    """The rank window must run per language — a global rank would
    serialize the vocabulary through one partition."""
    plan = _formatted(REGISTRY["q_token_zipf_fit"].fn(spark, SF001))
    squeezed = plan.replace(" ", "")
    assert "partitionBy=[lang" in squeezed or "hashpartitioning(lang" in squeezed


def test_cms_probe_broadcasts_sketch(spark):
    """The CMS probe must join the key table against the BROADCAST
    96-row sketch — a shuffled join here would defeat the sketch's
    reason to exist (summary-sized state, corpus-sized stream)."""
    plan = _formatted(REGISTRY["q_cms_frequency"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_canonical_dedup_uses_arrow_udf(spark):
    """The canonicalizer must run as an Arrow-batched pandas UDF
    (ArrowEvalPython), never a row-at-a-time BatchEvalPython — the
    10-100x rule for the one justified Python step."""
    plan = _formatted(REGISTRY["q_canonical_dedup"].fn(spark, SF001))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_crossdoc_coverage_no_cartesian(spark):
    """The n-gram coverage join must stay keyed on the shingle string
    (word-count shape): no cartesian/nested-loop fallback."""
    plan = _formatted(REGISTRY["q_crossdoc_ngram_coverage"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_in_fact_scan(spark):
    # The fact scan's PartitionFilters must carry a runtime
    # dynamicpruning subquery fed by the calendar dim — the star-join
    # scan-side win DPP exists for. Static pruning would show only
    # isnotnull; a missing dynamicpruningexpression means the rule was
    # silently skipped (type-cast around the partition column or a
    # non-selective dim predicate — both regressions this test pins).
    plan = _formatted(REGISTRY["q_dynamic_partition_pruning"].fn(spark, SF001))
    assert "dynamicpruning" in plan.lower()


def test_sparse_cosine_pairs_no_cartesian_no_python(spark):
    # The pair space must come from the token-keyed postings self-join
    # (bounded by df after the df-cut), NEVER a cartesian/BNLJ over
    # documents, and the whole pipeline stays JVM-side.
    plan = _formatted(REGISTRY["q_sparse_cosine_pairs"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the r12 shard-local variant inherits the same contract, and its
    # postings self-join must key on (shard, tok) — shards never
    # exchange rows, so a skewed shard bounds its own tasks
    import re

    plan2 = _formatted(
        REGISTRY["q_sparse_cosine_pairs_by_source"].fn(spark, SF001)
    )
    assert "CartesianProduct" not in plan2
    assert "BatchEvalPython" not in plan2 and "ArrowEvalPython" not in plan2
    assert re.search(r"hashpartitioning\(source#\d+, tok#", plan2)


def test_vocab_growth_has_no_corpus_scale_window(spark):
    # The Heaps curve must never window over corpus-grain rows: the
    # only Window allowed is absent entirely (bucket algebra is joins
    # + aggregates), and the cumulative step joins the 10-row bucket
    # table via broadcast.
    plan = _formatted(REGISTRY["q_vocab_growth_heaps"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_gini_two_phase_rank_no_global_window(spark):
    # The Gini rank must be the histogram-offset + class-parallel
    # row_number — a window partitioned by spend class — never an
    # UNPARTITIONED window over all users. The formatted plan shows
    # window partition specs; assert the partition-by list is
    # non-empty wherever a Window appears.
    import re

    plan = _formatted(REGISTRY["q_gini_spend"].fn(spark, SF001))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_gini_spend"
    assert "row_number" in plan


def test_token_budget_fill_no_corpus_scale_global_window(spark):
    # VERDICT r6 "What's wrong" #3: the kept-prefix running sum is
    # ~25% of the corpus BY CONSTRUCTION (TOKEN_BUDGET_FRAC), so it
    # must be the two-phase exact_cumsum — within-class sums under
    # Window.partitionBy(n_chars) — never an unpartitioned
    # (n_chars DESC, doc_id) window over the kept set. In the
    # windowspecdefinition string, partition columns come first with
    # no sort direction; assert every spec that orders by doc_id
    # (the corpus-grain window) leads with a bare partition column,
    # while the unpartitioned specs are histogram-grain (no doc_id).
    import re

    plan = _formatted(REGISTRY["q_token_budget_fill"].fn(spark, SF001))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected Window nodes in q_token_budget_fill"
    for spec in specs:
        if "doc_id" not in spec:
            continue  # histogram-grain offset window (bounded rows)
        head = spec.split(",")[0]
        assert "ASC" not in head and "DESC" not in head, (
            f"corpus-grain window is unpartitioned: {spec[:100]}"
        )
    assert "BroadcastHashJoin" in plan


def test_market_share_region_filter_pushed_and_dims_broadcast(spark):
    # Q8 shape: every dimension hop (customer-nation-region, supplier-
    # nation) must broadcast so the only big exchange is the fact join,
    # and the region predicate must reach the parquet scan — at 100 TB
    # the non-AMERICA customers must never enter the shuffle.
    plan = _formatted(REGISTRY["q_market_share"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(r_name,AMERICA)" in plan.replace("'", "")


def test_small_qty_revenue_decorrelated_no_window(spark):
    # Q17 shape: the correlated AVG must be ONE per-part aggregate
    # joined back — no Window, no per-part re-scan loop; the brand
    # filter must reach the part scan.
    plan = _formatted(REGISTRY["q_small_qty_revenue"].fn(spark, SF001))
    assert "Window" not in plan
    assert "EqualTo(p_brand,Brand#4)" in plan.replace("'", "")
    assert "CartesianProduct" not in plan


def test_hhi_share_window_partitioned_by_segment(spark):
    # The share denominator runs over the (segment, supplier)
    # AGGREGATE frame with a segment-partitioned window — never an
    # unpartitioned window over corpus-grain rows.
    import re

    plan = _formatted(REGISTRY["q_hhi_concentration"].fn(spark, SF001))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_hhi_concentration"


def test_theil_sen_pairs_join_is_aggregate_sized(spark):
    # The pairwise slope join must run over the MONTHLY aggregate
    # (calendar-bounded), broadcast on one side (theta join -> BNLJ),
    # and the orders scan must be pruned to the two needed columns.
    plan = _formatted(REGISTRY["q_theil_sen_trend"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_orderdate" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema


def test_negative_sampling_windows_partitioned_and_anchor_broadcast(spark):
    # Candidate generation broadcasts the anchor slice; the final rank
    # window runs over the k-bounded survivor frame partitioned by
    # anchor — no unpartitioned window anywhere.
    import re

    plan = _formatted(REGISTRY["q_negative_sampling"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_negative_sampling"


def test_t_closeness_grid_is_broadcast_not_cartesian(spark):
    # The |classes| x |sources| grid is built from aggregate-sized
    # frames with explicit broadcasts — a CartesianProduct would mean
    # a corpus-scale side leaked into the grid.
    plan = _formatted(REGISTRY["q_t_closeness"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_adamic_adar_pair_join_colocated_topk_take_ordered(spark):
    # The within-order self-join must be an equi-join on the order key
    # (one co-located shuffle), never a cartesian; the top-20 must be
    # TakeOrdered, not a global sort.
    plan = _formatted(REGISTRY["q_adamic_adar"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kaplan_meier_single_fact_agg_pruned_scan(spark):
    # The fact table contributes ONE per-user min-aggregate; the
    # observation end is a broadcast scalar (BNLJ), and the events
    # scan is pruned to the three needed columns.
    plan = _formatted(REGISTRY["q_kaplan_meier"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema and "value" not in read_schema


def test_sole_late_supplier_decorrelated_no_window_take_ordered(spark):
    # The EXISTS/NOT-EXISTS pair must decorrelate into per-order
    # aggregates — no Window, no re-probe; the top-10 is TakeOrdered
    # and the supplier dim broadcasts.
    plan = _formatted(REGISTRY["q_sole_late_supplier"].fn(spark, SF001))
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shard_rebalance_ring_broadcasts(spark):
    # The 160-point ring must broadcast against the key set — the
    # corpus-scale side never shuffles for the ring probe.
    plan = _formatted(REGISTRY["q_shard_rebalance"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_mixture_apply_rates_broadcast_no_window(spark):
    # The |sources|-row rate table joins back via broadcast; keep/drop
    # is a map-side comparison — no Window anywhere.
    plan = _formatted(REGISTRY["q_mixture_apply"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_bh_fdr_corpus_scan_pruned(spark):
    # The only corpus-scale work is the (type, day) hash agg; the
    # events scan must carry only event_type and the timestamp.
    plan = _formatted(REGISTRY["q_bh_fdr"].fn(spark, SF001))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "event_type" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema
    assert "row_number" in plan


def test_eval_contamination_eval_grams_broadcast(spark):
    # The eval shingle set is benchmark-sized and must broadcast into
    # the train-side probe — corpus x corpus would be a scale killer.
    plan = _formatted(REGISTRY["q_eval_contamination"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_rank_from_value_histogram(spark):
    # The U statistic must come from the distinct-value histogram —
    # one corpus hash agg, no row-grain ranking window, lang filter
    # pushed to the scan.
    plan = _formatted(REGISTRY["q_mann_whitney"].fn(spark, SF001))
    assert "In(lang" in plan.replace("'", "") or "lang" in plan.split("PushedFilters:")[1].splitlines()[0]
    assert "row_number" not in plan and "rank(" not in plan


def test_cohens_kappa_single_corpus_pass(spark):
    # Kappa shares q_lang_id_confusion's shape: within-row argmax into
    # one |langs|^2 aggregate; everything after is broadcast algebra.
    plan = _formatted(REGISTRY["q_cohens_kappa"].fn(spark, SF001))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_median_window_partitioned_by_flag(spark):
    # The cumulative-weight window must be partitioned by the group
    # key — never an unpartitioned corpus-scale window.
    import re

    plan = _formatted(REGISTRY["q_weighted_median"].fn(spark, SF001))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_weighted_median"


def test_compaction_plan_scan_pruned_to_day(spark):
    # The corpus contributes one (day) hash agg; the events scan must
    # not read payload columns.
    plan = _formatted(REGISTRY["q_compaction_plan"].fn(spark, SF001))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_quantile_bridge_corpus_side_broadcast(spark):
    # The 9-row corpus decile frame must broadcast into the bridge
    # join.
    plan = _formatted(REGISTRY["q_quantile_bridge"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nation_trade_volume_dims_broadcast_one_fact_shuffle(spark):
    # Q7 shape: both nation arms resolve to broadcast key lists; the
    # only big exchange is lineitem x orders.
    plan = _formatted(REGISTRY["q_nation_trade_volume"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_returned_revenue_filter_pushed_take_ordered(spark):
    # Q10 shape: the returnflag filter must reach the lineitem scan
    # and the top-20 must be TakeOrdered.
    plan = _formatted(REGISTRY["q_returned_revenue"].fn(spark, SF001))
    assert "EqualTo(l_returnflag,R)" in plan.replace("'", "")
    assert "TakeOrderedAndProject" in plan


def test_image_ahash_payload_hashed_once_then_jvm(spark):
    # The binary payload crosses into Python exactly once — ONE
    # MapInPandas node (formatted explain names each node twice:
    # tree + details). A bucket SELF-JOIN would duplicate the node
    # (2x payload decode at 100 TB); the grouped pair expansion must
    # keep a single lineage pass. Banding + verify stay JVM-side.
    plan = _formatted(REGISTRY["q_image_ahash_dedup"].fn(spark, SF001))
    assert plan.count("MapInPandas") == 2, "hash stage evaluated more than once"
    assert "CartesianProduct" not in plan


def test_percentile_ranks_window_partitioned(spark):
    # percent_rank/cume_dist run partitioned by segment over the
    # customer DIMENSION — never an unpartitioned window.
    import re

    plan = _formatted(REGISTRY["q_percentile_ranks"].fn(spark, SF001))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_percentile_ranks"


def test_decayed_score_map_side_take_ordered(spark):
    # The decay is a within-row expression against one broadcast
    # scalar; top-25 is TakeOrdered, no Window.
    plan = _formatted(REGISTRY["q_decayed_score"].fn(spark, SF001))
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_stratified_fixed_k_no_strata_scale_window(spark):
    # Selection must be the k-bounded grouped_bottom_k aggregates;
    # the only window runs over the k * |sources| survivor frame and
    # is partitioned.
    import re

    plan = _formatted(REGISTRY["q_stratified_fixed_k"].fn(spark, SF001))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_script_mix_within_row_no_python(spark):
    # Character-class counting is codegen'd regexp_replace — no
    # Python stage, no Window, one hash agg.
    plan = _formatted(REGISTRY["q_script_mix"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_feature_backfill_fanout_one_agg_no_window(spark):
    # The PIT join fans the fact out by |cutoffs| (broadcast) and
    # resolves count + last value in ONE hash agg — no window over
    # per-cutoff event history.
    plan = _formatted(REGISTRY["q_feature_backfill"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_degree_powerlaw_pairs_colocated_fit_on_histogram(spark):
    # Pair generation self-joins within the order key; the OLS fit is
    # aggregate algebra on the degree histogram — no window anywhere.
    plan = _formatted(REGISTRY["q_degree_powerlaw"].fn(spark, SF001))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_latency_stage_chain_is_aggregates(spark):
    # Each funnel stage is a per-user min-aggregate joined forward —
    # no per-user ordered window over raw events.
    plan = _formatted(REGISTRY["q_funnel_latency"].fn(spark, SF001))
    assert "Window" not in plan


def test_ohlc_single_agg_no_window_no_self_join(spark):
    # Open/close resolve via min_by/max_by inside ONE hash agg — no
    # window, and exactly one scan (the oracle's join-back is spec
    # only; the engine must not mirror it).
    plan = _formatted(REGISTRY["q_ohlc_hourly"].fn(spark, SF001))
    assert "Window" not in plan
    assert len(_scan_node_ids(plan)) == 1


def test_churn_training_set_one_pass_conditional_agg(spark):
    # Features AND label come from one conditional-aggregation pass:
    # one fact scan (plus the 1-row bounds scan), no window, no
    # fan-out join.
    plan = _formatted(REGISTRY["q_churn_training_set"].fn(spark, SF001))
    assert "Window" not in plan
    assert len(_scan_node_ids(plan)) <= 2


def test_apportionment_algebra_on_source_frame(spark):
    # Everything after the per-source count is |sources|-row algebra;
    # the remainder-rank window is over that bounded frame (ordered
    # + tie-broken) — assert no corpus-scale second scan.
    plan = _formatted(REGISTRY["q_budget_apportionment"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert "row_number" in plan


def test_slo_burn_rate_single_hour_agg(spark):
    # One corpus-scale (hour) hash agg; the trailing window runs on
    # the calendar-bounded hourly frame.
    plan = _formatted(REGISTRY["q_slo_burn_rate"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema and "value" not in read_schema


def test_hits_half_iterations_are_hash_aggs(spark):
    # Each HITS half-iteration is an edge-keyed hash agg + broadcast
    # scalar normalizer — no window, no cartesian.
    plan = _formatted(REGISTRY["q_hits_scores"].fn(spark, SF001))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_session_path_in_row_sort_no_collect_order_assumption(spark):
    # The path string must build from array_sort over collected
    # structs (in-row, retry-safe) — collect_list order alone is
    # nondeterministic. array_sort shows up as sort_array/array_sort
    # in the plan; and the top-10 is TakeOrdered.
    plan = _formatted(REGISTRY["q_session_path_topk"].fn(spark, SF001))
    assert "array_sort" in plan or "sort_array" in plan
    assert "TakeOrderedAndProject" in plan


def test_linear_attribution_interval_join_on_user_key(spark):
    # The touch-purchase match must be an equi-join on user_id with
    # the time bounds as join filters — never a cartesian; n_touch is
    # a purchase-partitioned window.
    import re

    plan = _formatted(REGISTRY["q_linear_attribution"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window"


def test_anova_from_sufficient_statistics(spark):
    # SSB/SSW come from per-group sufficient statistics — ONE corpus
    # scan and hash agg; the grand-mean/total terms are window
    # aggregates on the |sources|-bounded group frame (not a second
    # scan of the corpus, which a derived-totals cross join causes).
    plan = _formatted(REGISTRY["q_anova_doclen"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_referential_integrity_anti_joins_broadcast_dims(spark):
    # Each FK audit is a left-anti join; dimension key sets broadcast.
    plan = _formatted(REGISTRY["q_referential_integrity"].fn(spark, SF001))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_id_gap_report_no_adjacency_window(spark):
    # Gap detection must be block-count algebra, never a lead/lag
    # window over the sorted corpus-scale id space.
    plan = _formatted(REGISTRY["q_id_gap_report"].fn(spark, SF001))
    assert "Window" not in plan


def test_xmr_single_hour_agg_bounded_windows(spark):
    # One corpus (hour) hash agg; lag/limits run on the hourly frame.
    plan = _formatted(REGISTRY["q_xmr_control_chart"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_empirical_bayes_prior_broadcast_take_ordered(spark):
    # The Beta prior is a broadcast scalar row; shrinkage is within-
    # row; top-20 is TakeOrdered.
    plan = _formatted(REGISTRY["q_empirical_bayes_rate"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_simpson_check_corr_is_streaming_agg(spark):
    # corr() must compile to hash aggregates (sufficient statistics),
    # no window, no Python.
    plan = _formatted(REGISTRY["q_simpson_check"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_assortativity_corr_aggregate_no_window(spark):
    # Edge-degree correlation is a sufficient-statistics aggregate;
    # the degree joins are hash/broadcast joins, no cartesian.
    plan = _formatted(REGISTRY["q_graph_assortativity"].fn(spark, SF001))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_mahalanobis_closed_form_broadcast_take_ordered(spark):
    # Moments broadcast back; d2 is within-row; top-15 TakeOrdered.
    plan = _formatted(REGISTRY["q_mahalanobis_outliers"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_peak_detection_single_hour_agg(spark):
    # One (hour) hash agg; shape tests run on the bounded hourly
    # frame.
    plan = _formatted(REGISTRY["q_peak_detection"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_lag_feature_matrix_single_day_agg(spark):
    # One (day) hash agg; lags/rolling on the bounded daily frame.
    plan = _formatted(REGISTRY["q_lag_feature_matrix"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_loo_encoding_group_stats_broadcast(spark):
    # Per-category (n, sum) broadcast back; the LOO expression is
    # within-row — no window, no second corpus aggregation pass
    # before the audit agg.
    plan = _formatted(REGISTRY["q_loo_target_encoding"].fn(spark, SF001))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_ab_power_moments_broadcast(spark):
    # One moments aggregate; the MDE grid is 3 rows of within-row
    # arithmetic against broadcast scalars.
    plan = _formatted(REGISTRY["q_ab_power_calc"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_two_core_peels_are_joins_no_cartesian(spark):
    # Each peel is degree agg + keep-list joins — no cartesian, no
    # window.
    plan = _formatted(REGISTRY["q_two_core"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_data_freshness_two_aggs_one_lineage(spark):
    # Per-type + global max over the same pruned scan; broadcast
    # scalar join only.
    plan = _formatted(REGISTRY["q_data_freshness"].fn(spark, SF001))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema and "value" not in read_schema
    assert "BroadcastNestedLoopJoin" in plan


def test_partition_digest_map_side_combinable(spark):
    # The digest is a plain hash agg — partial + final HashAggregate,
    # no window, no Python, one scan.
    plan = _formatted(REGISTRY["q_partition_digest"].fn(spark, SF001))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert len(_scan_node_ids(plan)) == 1


def test_cell_residuals_marginals_on_cell_frame(spark):
    # Marginals are window aggregates over the bounded cell frame —
    # one corpus scan, residuals within-row.
    plan = _formatted(REGISTRY["q_cell_residuals"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_column_stats_single_pass_stack(spark):
    # All three columns' statistics come from ONE multi-aggregate
    # pass over ONE scan, unpivoted with stack — not a per-column
    # UNION of re-scans (the oracle's three-scan UNION is spec only).
    plan = _formatted(REGISTRY["q_column_stats"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1


def test_item_cf_pairs_colocated_window_partitioned(spark):
    # Pair generator self-joins within the order key; the top-k
    # window partitions by part over pruned candidate lists.
    import re

    plan = _formatted(REGISTRY["q_item_cf_topk"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "unpartitioned Window in q_item_cf_topk"


def test_rec_eval_part_dim_broadcast(spark):
    # The part dim joins broadcast for brand lookup; top-k window is
    # part-partitioned; no cartesian.
    plan = _formatted(REGISTRY["q_rec_eval"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_churn_rule_eval_auc_from_value_histogram(spark):
    # AUC must come from the distinct-recency histogram (value-grain
    # window), never a row-grain ranking; confusion is one bounded
    # aggregate.
    plan = _formatted(REGISTRY["q_churn_rule_eval"].fn(spark, SF001))
    assert "row_number" not in plan and "rank(" not in plan
    assert "CartesianProduct" not in plan


def test_aging_report_status_filter_pushed(spark):
    # The open-status filter must reach the parquet scan.
    plan = _formatted(REGISTRY["q_aging_report"].fn(spark, SF001))
    assert "EqualTo(o_orderstatus,O)" in plan.replace("'", "")
    assert "Window" not in plan


def test_retry_storms_single_bucket_agg(spark):
    # One corpus-scale (user, type, minute) hash agg; the rollup runs
    # on the storm-bucket frame.
    plan = _formatted(REGISTRY["q_retry_storms"].fn(spark, SF001))
    assert "Window" not in plan
    assert len(_scan_node_ids(plan)) == 1


def test_price_volume_mix_no_window_two_aggs(spark):
    # Month filter + one (flag, period) hash agg + bounded pivot
    # algebra — no window anywhere.
    plan = _formatted(REGISTRY["q_price_volume_mix"].fn(spark, SF001))
    assert "Window" not in plan


def test_logrank_terms_on_duration_histogram(spark):
    # Log-rank terms run on the distinct-duration histogram with
    # exclusive-cumulative windows — one fact aggregate, no
    # corpus-scale ranking.
    plan = _formatted(REGISTRY["q_logrank_test"].fn(spark, SF001))
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan


def test_silhouette_centroids_broadcast_no_pairwise(spark):
    # Distances reduce against the broadcast centroid frame — never
    # an n x n pairwise join.
    plan = _formatted(REGISTRY["q_silhouette_simplified"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_effective_sample_size_day_grain_only(spark):
    # The fact table contributes one day-grain aggregate; everything
    # else runs on the day series with broadcast scalars.
    plan = _formatted(REGISTRY["q_effective_sample_size"].fn(spark, SF001))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_token_burstiness_grid_vocab_bounded(spark):
    # The zero-filled grid builds from the vocab frame (broadcast
    # bucket list) — vocabulary-bounded, no cartesian over the corpus.
    plan = _formatted(REGISTRY["q_token_burstiness"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ratio_delta_method_two_aggs_no_window(spark):
    # One per-user agg + one moments agg — no window, no fan-out.
    plan = _formatted(REGISTRY["q_ratio_delta_method"].fn(spark, SF001))
    assert "Window" not in plan
    assert len(_scan_node_ids(plan)) == 1


def test_neyman_allocation_single_scan_window_total(spark):
    # Same single-scan pattern as q_budget_apportionment: totals are
    # window aggregates on the bounded source frame.
    plan = _formatted(REGISTRY["q_neyman_allocation"].fn(spark, SF001))
    assert len(_scan_node_ids(plan)) == 1
    assert "row_number" in plan


def test_wave34_35_windows_all_partitioned(spark):
    # Every Window in the new time-series/stats queries must carry a
    # non-empty partition spec: drawdown/bollinger/holt run per
    # nation/region series, wasserstein's CDF runs per source, and
    # spearman's rank offsets run over per-value HISTOGRAMS — the
    # one allowed unpartitioned window class (value-grain-bounded
    # input, the exact_rank contract), which is why spearman is
    # exempted here and covered by the histogram-size assertion in
    # its docstring instead.
    import re

    for name in (
        "q_max_drawdown",
        "q_bollinger_breakouts",
        "q_wasserstein_drift",
    ):
        plan = _formatted(REGISTRY[name].fn(spark, SF001))
        for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
            assert m.group(1).strip(), f"unpartitioned Window in {name}"


def test_wave35_dims_broadcast_no_cartesian(spark):
    # The nation/region dimension hops must broadcast (the fact join
    # on custkey is the only big exchange) and nothing in the wave
    # may degenerate to a cartesian product.
    for name in (
        "q_max_drawdown",
        "q_bollinger_breakouts",
        "q_holt_linear_forecast",
        "q_clustering_coefficient",
    ):
        plan = _formatted(REGISTRY[name].fn(spark, SF001))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_holt_python_boundary_after_daily_aggregate(spark):
    # The Arrow boundary (FlatMapGroupsInPandas) must sit ABOVE the
    # daily HashAggregate: the corpus-scale orders table collapses to
    # (nation, day) cells BEFORE any row crosses into Python.
    plan = _formatted(REGISTRY["q_holt_linear_forecast"].fn(spark, SF001))
    assert "FlatMapGroupsInPandas" in plan
    pandas_pos = plan.index("FlatMapGroupsInPandas")
    assert "HashAggregate" in plan[pandas_pos:], (
        "daily aggregate must feed the pandas group, not follow it"
    )


def test_calibration_single_exchange(spark):
    # Per-row scoring is codegen arithmetic; the only exchanges are
    # the bin hash-agg and the final 10-row ordering. No join, no
    # window anywhere. (Formatted explain lists each node twice —
    # count tree edges, not name occurrences.)
    plan = _formatted(REGISTRY["q_calibration_bins"].fn(spark, SF001))
    assert plan.count("- Exchange") <= 2  # agg shuffle + output sort
    assert "Window" not in plan
    assert "Join" not in plan


def test_ewma_plan_has_no_transcendentals(spark):
    """r9: q_ewma_daily's decay^age weights are exact-rational integer
    LITERALS (analytics_q._EWMA_W6) shared by both engines — no pow()
    anywhere, so there is no libm-ulp boundary to pin. This test keeps
    a refactor from quietly reintroducing an engine-computed
    transcendental into the weight path."""
    plan = _formatted(REGISTRY["q_ewma_daily"].fn(spark, SF001))
    assert "POWER" not in plan and "pow(" not in plan.lower(), plan[:800]
