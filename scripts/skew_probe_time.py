#!/usr/bin/env python3
"""Measure straggler ratios + skew-defense engagement on the skew probe.

VERDICT r10 "Next round" #2(b,c): the last 100 TB claim resting on plan
shape alone is skew resilience. This script runs the shuffle-heavy
queries against the homogeneous sf1 probe AND the skew-injected twin
(scripts/make_skew_probe.py: one user owns 20% of events, one order key
owns 10% of lineitems, one token hits 30% of docs) and records, per
run, the heaviest stage's STRAGGLER RATIO

    ratio = max task executorRunTime / median task executorRunTime

from Spark's status store (AppStatusStore.taskSummary, which answers
with the UI off), plus wall time and rows timed by bench.time_query.
It then demonstrates each defense ENGAGING:

* AQE skew-join split: the naive events-x-customer sort-merge join on
  the hot user key, run (a) with skew-split disabled and (b) enabled —
  (b) must show `skewed` AQEShuffleRead nodes in the FINAL adaptive
  plan (asserted on the collected DataFrame's executedPlan) and a
  lower straggler ratio. The skew thresholds are scaled to fixture
  bytes (threshold 100k / advisory 64k vs the 256 MB / 64 MB
  production defaults) exactly as the local session already scales
  maxPartitionBytes — the CONDITION (hot partition >> median) is the
  real thing; only the byte floor is fixture-scaled.
* explicit salting (operators/skew.py salted_join): same hot-key join
  with the dim replicated 8x — the hot key spreads over 8 tasks with
  AQE skew-split OFF, proving the beyond-AQE fallback stands alone.
* chunked postings (operators/text.py inverted_index_chunked): naive
  collect_list index vs the (tok, doc_id // B) pre-aggregated build on
  the df=15k hot token.
* AQE in normal posture: q_join_fact_fact (hot order key) and
  q_sessionize (hot user window partition — a skew AQE CANNOT split;
  recorded honestly as the residual straggler class).

Broadcast joins are Spark's zeroth skew defense (no shuffle at all):
the naive join measurements force autoBroadcastJoinThreshold=-1
because at 100 TB the customer dim does NOT fit a broadcast — that is
the regime the salted/AQE paths exist for.

Usage:
    python scripts/skew_probe_time.py [--out .tmp/skew_probe.json]

Results land in SCALE.md ("skew probe" section).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLAIN = os.path.join(REPO, ".tmp", "sf1")
SKEW = os.path.join(REPO, ".tmp", "sf1_skew")

# Fixture-scaled AQE skew thresholds (see module docstring).
SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
}


def _shuffle_stage_stats(spark, stage_keys) -> dict:
    """Straggler stats of the stage in ``stage_keys`` with the largest
    total shuffle READ — the reduce side where key skew lands. Two
    per-task ratios from taskSummary quantiles (median, max):

    * bytes_ratio: shuffle-read bytes — the scale-independent skew
      signal (a hot partition reads its key's full share no matter how
      fast the hardware is; at fixture MBs, task TIMES are noise but
      byte shares are exact);
    * time_ratio: executorRunTime — the wall-clock straggler, what the
      bytes turn into at 100 TB partition sizes.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = [store.lastStageAttempt(sid) for sid, _ in stage_keys]
    stages = [s for s in stages if s.shuffleReadBytes() > 0]
    if not stages:
        return {}
    heavy = max(stages, key=lambda s: s.shuffleReadBytes())
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    ts = store.taskSummary(heavy.stageId(), heavy.attemptId(), quantiles).get()
    t_med, t_max = (ts.executorRunTime().apply(i) for i in (0, 1))
    read = ts.shuffleReadMetrics().readBytes()
    b_med, b_max = read.apply(0), read.apply(1)
    return {
        "n_tasks": heavy.numCompleteTasks(),
        "shuffle_read_mb": round(heavy.shuffleReadBytes() / 1e6, 2),
        "med_task_read_kb": round(b_med / 1e3, 1),
        "max_task_read_kb": round(b_max / 1e3, 1),
        "bytes_ratio": round(b_max / b_med, 2) if b_med > 0 else None,
        "med_task_ms": round(t_med, 1),
        "max_task_ms": round(t_max, 1),
        "time_ratio": round(t_max / t_med, 2) if t_med > 0 else None,
    }


def measure(spark, tag: str, thunk, confs: dict | None = None,
            assert_skewed: bool | None = None, collect: bool = False) -> dict:
    """Time one fresh-plan execution with bench.time_query (collect or
    noop sink) and read the heaviest shuffle stage's task stats.

    Conf overrides are applied AFTER each thunk() builds its DataFrame:
    query builders go through sources.catalog.scan, which re-asserts
    session.REQUIRED_CONFS (skewJoin/coalesce back on) — overriding
    post-build is what makes the off-switch demonstrations real. AQE
    confs are read at execution start, so post-build overrides bind.
    The noop sink (not count()) keeps the payload work: count() let
    Catalyst prune the inverted index's collect_list, so the postings
    shuffle measured 0.01 MB instead of ~14 MB.
    """
    from bench import time_query

    saved = {}
    built = []

    def build():
        df = thunk()
        for k, v in (confs or {}).items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)
        built.append(df)
        return df

    try:
        rec = time_query(spark, build, "collect" if collect else "noop", 1)
        out = {"sec": round(rec["sec"], 3), "rows": rec["rows"]}
        out.update(_shuffle_stage_stats(spark, rec["stage_keys"]))
        if assert_skewed is not None:
            plan = built[-1]._jdf.queryExecution().executedPlan().toString()
            fired = any("skewed" in line for line in plan.splitlines())
            out["aqe_skew_split_fired"] = fired
            if fired != assert_skewed:
                out["ASSERT_FAIL"] = (
                    f"expected aqe_skew_split_fired={assert_skewed}"
                )
        print(f"{tag}: {out}", flush=True)
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main() -> int:
    global SKEW
    ap = argparse.ArgumentParser()
    ap.add_argument("--out",
                    default=os.path.join(REPO, ".tmp", "skew_probe.json"))
    ap.add_argument("--only", nargs="*", default=None,
                    help="run only these sections (user_join fact_fact "
                         "sessionize inverted_index agg_taxonomy)")
    ap.add_argument("--skew-dir", default=SKEW,
                    help="skewed data dir (default .tmp/sf1_skew; pass "
                         ".tmp/sf1_zipf for the r12 Zipf-head probe)")
    args = ap.parse_args()
    SKEW = args.skew_dir

    def wants(section: str) -> bool:
        return args.only is None or section in args.only

    from pyspark.sql import functions as F

    from hadoop_log_analysis_spark.operators.skew import salted_join
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.session import get_spark
    from hadoop_log_analysis_spark.sources.catalog import scan

    # 32 shuffle partitions, whatever the core count: the byte ratios
    # below are per-partition shares, so they depend on it.
    os.environ.setdefault("HLA_DRIVER_MEM", "16g")
    spark = get_spark(app_name="hla-skew-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    def naive_user_join(sf_dir: str):
        ev = scan(spark, sf_dir, "events").select("event_id", "user_id", "value")
        cu = scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        return (
            ev.join(cu, ev["user_id"] == cu["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        )

    def salted_user_join(sf_dir: str):
        ev = scan(spark, sf_dir, "events").select("event_id", "user_id", "value")
        cu = scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        return (
            salted_join(ev, cu, "user_id", "c_custkey", "event_id", n_salts=8)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        )

    # AQE partition coalescing merges fixture-small partitions up to
    # the advisory size, which MASKS per-key byte skew at MB scale (a
    # 5 MB hot partition vs 4 MB coalesced neighbors reads as ratio
    # ~1.2; at 100 TB the hot partition is GBs and nothing masks it).
    # The naive/salted demonstration runs therefore pin coalescing off
    # so per-partition byte shares are the raw hash-partition shares;
    # the AQE run keeps the full adaptive stack (split + coalesce) —
    # that IS the defense being demonstrated.
    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    skew_off = dict(
        no_bcast,
        **{"spark.sql.adaptive.skewJoin.enabled": "false",
           "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    skew_on = dict(no_bcast, **SKEW_CONFS,
                   **{"spark.sql.adaptive.skewJoin.enabled": "true"})

    result: dict = {"confs": {"skew_scaled": SKEW_CONFS},
                    "skew_dir": SKEW,
                    "load_avg_start": [round(x, 2) for x in os.getloadavg()]}

    # A. hot-user join: AQE split + salting vs the naive SMJ
    if wants("user_join"):
        result["user_join"] = {
            "plain_data_noskewjoin": measure(
                spark, "user_join plain", lambda: naive_user_join(PLAIN),
                confs=skew_off, collect=True, assert_skewed=False),
            "skew_data_noskewjoin": measure(
                spark, "user_join skew naive", lambda: naive_user_join(SKEW),
                confs=skew_off, collect=True, assert_skewed=False),
            "skew_data_aqe_split": measure(
                spark, "user_join skew AQE", lambda: naive_user_join(SKEW),
                confs=skew_on, collect=True, assert_skewed=True),
            # r12: same with partition COALESCING off. At MB fixture
            # scale the coalescer (parallelismFirst default) merges
            # valley-partition runs into ~total/parallelism chunks
            # LARGER than the split sub-reads, re-creating a straggler
            # that is a fixture artifact, not key skew (at 100 TB every
            # partition exceeds the advisory and nothing coalesces) —
            # this row shows the split's true effect in isolation
            "skew_data_aqe_split_nocoalesce": measure(
                spark, "user_join skew AQE nocoalesce",
                lambda: naive_user_join(SKEW),
                confs=dict(skew_on, **{
                    "spark.sql.adaptive.coalescePartitions.enabled":
                        "false"}),
                collect=True, assert_skewed=True),
            "skew_data_salted": measure(
                spark, "user_join skew salted", lambda: salted_user_join(SKEW),
                confs=skew_off, collect=True),
        }

    # B. hot-order fact-fact join under the normal session posture
    # (+ fixture-scaled skew thresholds so AQE's runtime answer shows)
    q_ff = registry["q_join_fact_fact"].fn
    if wants("fact_fact"):
        result["fact_fact"] = {
            "plain_raw": measure(spark, "fact_fact plain raw",
                                 lambda: q_ff(spark, PLAIN), confs=skew_off,
                                 collect=True),
            "skew_raw": measure(spark, "fact_fact skew raw",
                                lambda: q_ff(spark, SKEW), confs=skew_off,
                                collect=True),
            "skew_aqe": measure(spark, "fact_fact skew AQE",
                                lambda: q_ff(spark, SKEW), confs=skew_on,
                                collect=True, assert_skewed=True),
        }

    # C. hot-user window partition (sessionize) — the skew class AQE
    # cannot split (window semantics need the whole key in one task);
    # measured honestly with raw hash-partition shares
    q_sess = registry["q_sessionize"].fn
    q_split = registry["q_sessionize_split"].fn
    raw = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    if wants("sessionize"):
        result["sessionize"] = {
            "plain": measure(spark, "sessionize plain",
                             lambda: q_sess(spark, PLAIN), confs=raw),
            "skew": measure(spark, "sessionize skew",
                            lambda: q_sess(spark, SKEW), confs=raw),
            # the r11 defense: sessionize_split windows on (user, day-slice)
            # so the hot user's 201k events spread across its active days —
            # the byte ratio must collapse back toward the plain profile
            # while the ANSWER stays byte-identical (same oracle SQL)
            "split_plain": measure(spark, "sessionize_split plain",
                                   lambda: q_split(spark, PLAIN), confs=raw),
            "split_skew": measure(spark, "sessionize_split skew",
                                  lambda: q_split(spark, SKEW), confs=raw),
        }

    # D. hot-token postings: collect_list funnel vs chunked build
    q_inv = registry["q_inverted_index"].fn
    q_invc = registry["q_inverted_index_chunked"].fn
    if wants("inverted_index"):
        result["inverted_index"] = {
            "naive_plain": measure(spark, "inv_index plain",
                                   lambda: q_inv(spark, PLAIN), confs=raw),
            "naive_skew": measure(spark, "inv_index skew",
                                  lambda: q_inv(spark, SKEW), confs=raw),
            "chunked_plain": measure(spark, "inv_index_chunked plain",
                                     lambda: q_invc(spark, PLAIN), confs=raw),
            "chunked_skew": measure(spark, "inv_index_chunked skew",
                                    lambda: q_invc(spark, SKEW), confs=raw),
        }

    # E. aggregation skew taxonomy (r11 continuation): AQE cannot split
    # aggregation exchanges either, but ALGEBRAIC aggs never need it —
    # partial aggregation emits at most one row per (key, map task), so
    # the hot key's reduce-side share is bounded by #map partitions, not
    # by its row count. HOLISTIC aggs (collect_list) have no
    # volume-reducing combine: every value ships, and the hot key's
    # whole payload funnels into one reduce task — exactly the
    # inverted-index funnel, isolated here from tokenization noise. The
    # defense is the same contract as inverted_index_chunked: collect
    # under (key, chunk) so no single task ever owns more than one
    # chunk, and CONSUME chunked (never re-merge into one row).
    def agg_algebraic(sf_dir: str):
        ev = scan(spark, sf_dir, "events").select("user_id", "value")
        return ev.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )

    def agg_holistic(sf_dir: str):
        ev = scan(spark, sf_dir, "events").select("user_id", "value")
        return ev.groupBy("user_id").agg(
            F.collect_list("value").alias("vals")
        )

    def agg_holistic_chunked(sf_dir: str):
        # chunk = event-time day slice (the sessionize_split knob);
        # deterministic, data-independent fan-out of the hot key
        ev = scan(spark, sf_dir, "events").select(
            "user_id",
            "value",
            F.expr("ts_ns div 86400000000000").alias("chunk"),
        )
        return ev.groupBy("user_id", "chunk").agg(
            F.collect_list("value").alias("vals")
        )

    # F. chunk-width sensitivity (VERDICT r12 next #5): span got its
    # sweep r12 (hour 1.26 / day 1.09 / week 1.36 / 4week 1.31); the
    # chunked-holistic contract's width is the same class of knob but
    # had only a point measurement. The trade (measured, Zipf probe):
    # every VALUE ships exactly once at any width, but the partial
    # collect_list rows carry per-GROUP framing (key tuple + list
    # header per map task per group), so total shuffle bytes GROW as
    # chunks narrow (5.1 MB at 4week -> 12.1 MB at hour here, where
    # values are single doubles; with real payloads the value bytes
    # dominate and the overhead share shrinks) while max-task spread
    # improves (bytes_ratio 1.37 -> 1.03). Sizing rule: pick the
    # widest chunk whose (hot key's rate x width) still fits a task,
    # i.e. width ~ target task rows / hot key's event rate — day is
    # the knee on this fixture (1.05 at 10.2 MB; week jumps to 1.33).
    def agg_holistic_chunked_w(sf_dir: str, width_ns: int):
        ev = scan(spark, sf_dir, "events").select(
            "user_id",
            "value",
            F.expr(f"ts_ns div {width_ns}").alias("chunk"),
        )
        return ev.groupBy("user_id", "chunk").agg(
            F.collect_list("value").alias("vals")
        )

    if wants("chunk_width"):
        result["chunk_width"] = {}
        for label, w_ns in (
            ("hour", 3_600_000_000_000),
            ("day", 86_400_000_000_000),
            ("week", 604_800_000_000_000),
            ("4week", 2_419_200_000_000_000),
        ):
            result["chunk_width"][label] = measure(
                spark, f"agg collect_list chunk={label} skew",
                lambda w_ns=w_ns: agg_holistic_chunked_w(SKEW, w_ns),
                confs=raw)

    if wants("agg_taxonomy"):
        result["agg_taxonomy"] = {
            "algebraic_plain": measure(
                spark, "agg sum plain", lambda: agg_algebraic(PLAIN),
                confs=raw),
            "algebraic_skew": measure(
                spark, "agg sum skew", lambda: agg_algebraic(SKEW),
                confs=raw),
            "holistic_skew": measure(
                spark, "agg collect_list skew", lambda: agg_holistic(SKEW),
                confs=raw),
            "holistic_chunked_skew": measure(
                spark, "agg collect_list chunked skew",
                lambda: agg_holistic_chunked(SKEW), confs=raw),
        }

    result["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    fails = [
        (grp, tag) for grp, d in result.items() if isinstance(d, dict)
        for tag, m in d.items() if isinstance(m, dict) and "ASSERT_FAIL" in m
    ]
    result["assert_failures"] = [f"{g}/{t}" for g, t in fails]
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()
    print("WROTE", args.out, "assert_failures:", result["assert_failures"],
          flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
