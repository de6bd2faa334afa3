#!/usr/bin/env python
"""Benchmark runner, and the repo's one query timer (:func:`time_query`).

    python bench.py                            # HEADLINE rows + ANNEX
    python bench.py q_join5 q_pricing_summary  # only these, headline method

Times the queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures)
on local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": <total-sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "annex": {"q2": sec, ...}, "sf": 0.1}

BENCH_LOCAL.json keeps every query's full :func:`time_query` record
(spread, rerun, rows, jobs and stage sums).

Timing discipline (BASELINE.md "2x of PySpark warm" criterion +
VERDICT r2 item 2): each query is built + executed once to warm
codegen/caches, then timed on N_RUNS (default 3;
SPARK_GRAFT_BENCH_RUNS=5 is the isolation protocol's median-of-5)
fresh executions; the reported number is the MEDIAN, with min/max in
the record so a noisy session is visible instead of silently inflating
the headline. Session startup is excluded per BASELINE.md
"Interpretation of the 2x criterion". r2's uniform 1.3-1.8x inflation
vs r1 was an n=1 artifact of a shared session under load — the
median-of-3 protocol is the committed fix. To split a regressed row's
plan cost from session contention, time it alone on a quiet machine
(`python bench.py <query>`; the load average is part of the line).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from functools import partial

from pyspark.sql import Observation
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.queries import load_registry
from hadoop_log_analysis_spark.session import get_spark
from perfbench.tracing import StatusStore

# BASELINE.md headline suite — one per operator family.
HEADLINE = (
    "q_pricing_summary",      # A1 agg (TPC-H Q1 shape)
    "q_join5",                # J1/J2 6-table join (TPC-H Q5 shape)
    "q_topk_users",           # A1+O2 top-k
    "q_hourly_errors",        # flagship: filter + time bucket agg
    "q_window_rank",          # W1/W2 window top-3 per user
    "q_sessionize",           # W3/W4/W6 sessionization
    "q_distinct_users_daily", # A3 count-distinct
    "q_json_extract",         # F7 JSON
    "q_text_tokens",          # L5 tokenize/explode
    "q_dedup",                # L1 exact dedup accounting
    "q_cosine_knn",           # L3 embedding similarity
    "q_asof_join",            # J7 as-of join
    # r2 additions (VERDICT r1 item 5): the LLM-pipeline heavyweights,
    # so the north-star features carry a regressable number.
    "q_minhash_near_dups",    # L2 MinHash + banded LSH near-dup
    "q_bm25",                 # L5 BM25 ranking
    "q_pretraining_pipeline", # L1/L5/L7 end-to-end corpus pipeline
    "q_dedup_clusters",       # L1/L2 iterative connected components
    # r3 additions (VERDICT r2 item 9): one iterative-LSH and one
    # report-layer representative, so those families regress too.
    "q_semantic_dedup",       # L2/L3 LSH pairs -> components -> keeper
    "q_cohort_retention",     # report layer: cohort windows + pivot
    # r4 addition (VERDICT r3 item 6): the one family with zero bench
    # coverage — stream-stream outer join incl. the watermark-sentinel
    # machinery (drop-dir replay, maxFilesPerTrigger=1, state flush).
    "q_stream_stream_left_join",  # T8 streaming outer interval join
    # r4 operator additions with nontrivial plans: the self-trained
    # bigram LM (two count-table joins over the exploded pair stream)
    # and the two-pass Misra-Gries sketch (mapInPandas + recount).
    "q_bigram_lm_score",
    "q_heavy_hitters",
    # r4 second wave: the numeric-iterative graph family (driver-looped
    # bounded joins over a cached adjacency) gets a regression number.
    "q_pagerank_tokens",
    # r4 third wave: the Bloom-prefiltered semi-join (bitmap build +
    # map-side probe + exact verify — the scan-reduction pattern) and
    # degree-ordered triangle enumeration (edge build dominates; the
    # wedge/closure joins are the regression target).
    "q_bloom_prefilter_join",
    "q_triangle_count",
    # r4 wave 6/8: the governance layer's two corpus-scale members —
    # token-distribution JSD (explode + vocab-bounded joins) and the
    # Poisson bootstrap (B x map fan-out + bounded hash agg).
    "q_js_divergence",
    "q_bootstrap_ci",
    # r4 wave 7: the streaming drift monitor — a SECOND streaming
    # regression row with a much smaller fixed-cost drain (~4
    # microbatches vs the left join's ~24), so streaming overhead and
    # streaming logic regress separately.
    "q_stream_psi_monitor",
    # r5 additions (VERDICT r4 item 6): complete the driver-loop
    # iterative tier — pagerank and CC already regress above; BFS
    # (frontier-expansion joins) and BPE training (per-iteration
    # argmax + merge rewrite) close the family.
    "q_bfs_hops",
    "q_bpe_train",
    # r6 additions: the sparse-similarity join (token-keyed postings
    # self-join with the df-cut — the quadratic-term regression
    # target), the character-entropy gate (explode-to-chars whose
    # shuffle must stay |docs| x alphabet), and the two-phase exact
    # rank via the Gini statistic (histogram-offset + class-parallel
    # row_number — now load-bearing in four queries).
    "q_sparse_cosine_pairs",
    "q_char_entropy_filter",
    "q_gini_spend",
    # r6 waves 8-13: the Arrow-batched binary tier (aHash decode +
    # banded LSH — the single-MapInPandas plan is the regression
    # target), the within-key pair generator (Adamic-Adar: blow-up
    # bounded by basket size), and the broadcast-armed snowflake
    # (TPC-H Q8 shape: one fact shuffle, every dim broadcast).
    "q_image_ahash_dedup",
    "q_adamic_adar",
    "q_market_share",
)

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Heavy-tail annex (VERDICT r9 "What's missing" #3): the headline suite
# is a FIXED 35-row series so rounds stay comparable; these non-headline
# heavyweights get a timing history of their own, reported under the
# separate "annex" key and NEVER added to value/value_batch_only.
# scripts/sweep_noop.py times the rest of the registry on demand.
ANNEX = (
    "q_set_similarity_join",
    "q_ngram_jaccard_pairs",
    "q_pmi_collocations",
    "q_embedding_near_dups",
    "q_simhash_pairs",
    "q_ann_ivf",
    "q_kmeans_ivf",
    "q_pca_components",
    "q_tfidf",
    "q_inverted_index_chunked",
)

# A streaming row's time is dominated by deterministic per-microbatch
# fixed cost, so median-of-3 would triple its wall time to re-measure
# the same number: one warm (also derives the drop dir) + one timed run
# is a stable regression signal.
STREAMING_SINGLE_RUN = {"q_stream_stream_left_join", "q_stream_psi_monitor"}
SINKS = ("collect", "noop")


def _execute(df, sink: str):
    """Run ``df`` to completion. ``collect`` fetches every row to the
    driver. ``noop`` consumes every column on the executors and fetches
    nothing; ``.count()`` is no substitute (ADVICE r10 #2): it lets
    Catalyst's EliminateSorts drop the final global orderBy and prune
    payload-only columns, so it would time a different plan."""
    if sink == "collect":
        return df.collect()
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, build, sink: str, runs: int = N_RUNS) -> dict:
    """Time the DataFrame that ``build()`` returns, through ``sink``.

    One warm execution (plan build, codegen, file listing; it also
    counts the rows), then ``runs`` timed executions, each of a FRESH
    ``build()`` so every shuffle stage runs. Under ``collect`` each
    fresh run is followed by a timed same-object rerun, whose shuffle
    stages are skipped (BASELINE.md's "warm" rows).

    Returns one record: ``sec`` (median), ``sec_min``, ``sec_max``,
    ``rerun_sec`` (median; None under ``noop``), ``rows``, and the first
    timed run's ``jobs`` plus the stage sums of
    :meth:`perfbench.tracing.StatusStore.stage_metrics` (``stages``,
    ``tasks``, ``task_cpu_s``, ``shuffle_read_mb``, ``stage_keys``, ...).
    The status store is read only between timed regions.
    """
    if sink not in SINKS or runs < 1:
        raise ValueError(f"sink must be one of {SINKS} and runs >= 1: "
                         f"got {sink!r}, {runs}")
    store = StatusStore(spark)
    warm = build()
    if sink == "collect":
        rows = len(_execute(warm, sink))
    else:
        seen = Observation()
        _execute(warm.observe(seen, F.count(F.lit(1)).alias("n")), sink)
        rows = seen.get["n"]
    stages0, jobs0 = store.stage_keys(), store.job_ids()
    fresh: list[float] = []
    reruns: list[float] = []
    for i in range(runs):
        t0 = time.perf_counter()
        df = build()
        _execute(df, sink)
        fresh.append(time.perf_counter() - t0)
        if i == 0:
            stats = store.stage_metrics(stages0)
            stats["jobs"] = len(store.job_ids() - jobs0)
        if sink == "collect":
            t0 = time.perf_counter()
            _execute(df, sink)
            reruns.append(time.perf_counter() - t0)
    rec = {k: round(v, 4) if isinstance(v, float) else v
           for k, v in stats.items()}
    rec.update(
        sec=round(statistics.median(fresh), 4),
        sec_min=round(min(fresh), 4),
        sec_max=round(max(fresh), 4),
        rerun_sec=round(statistics.median(reruns), 4) if reruns else None,
        rows=rows,
    )
    return rec


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_registry()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    spark = get_spark(app_name="hla-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Measurement hygiene: per-query times move together with session
    # load (the r2/r6/r7/r8 drift diagnosis — driver-session benches
    # ran ~1.2x the dedicated-session numbers with nothing in the plan
    # changed). Wait briefly — bounded, and RECORDED in the JSON — for
    # the 1-min load to drain below a quarter of the cores before
    # timing, exactly what the isolation protocol does by hand.
    waited = 0.0
    quiet = os.cpu_count() / 4.0
    while os.getloadavg()[0] > quiet and waited < 120.0:
        time.sleep(5.0)
        waited += 5.0
    # 1/5/15-min load average at suite start: the contention context
    # needed to separate environment from regression after the fact.
    load_start = [round(x, 2) for x in os.getloadavg()]
    # Headline rows go through collect: the driver fetches their
    # results. Annex rows go through noop, with ONE timed run: they are
    # round-over-round history, and collecting some of them (millions
    # of pairs) would time the driver fetch instead of the plan.
    records = {
        name: time_query(spark, partial(registry[name].fn, spark, sf_dir),
                         "collect",
                         1 if name in STREAMING_SINGLE_RUN else N_RUNS)
        for name in names or HEADLINE
    }
    annex = {
        name: time_query(spark, partial(registry[name].fn, spark, sf_dir),
                         "noop", 1)
        for name in (() if names else ANNEX)
    }

    timings = {n: r["sec"] for n, r in records.items()}
    total = round(sum(timings.values()), 4)
    # Streaming drains are a different cost regime (per-microbatch fixed
    # overhead) from the batch queries; value_batch_only keeps r1-r3
    # totals comparable.
    batch_only = round(
        sum(t for n, t in timings.items() if n not in STREAMING_SINGLE_RUN), 4
    )
    summary = {
        "metric": "headline_suite_warm_total",
        "value": total,
        "value_batch_only": batch_only,
        "unit": "sec",
        "queries": {n: round(t, 3) for n, t in timings.items()},
        "annex": {n: round(r["sec"], 3) for n, r in annex.items()},
        "sf": _sf_of(sf_dir),
        # contention context (~45 chars): the drift-vs-regression
        # question every round starts with "what else was running?"
        "load_avg_start": load_start,
        "waited_for_quiet_sec": waited,
    }
    # The driver captures only the LAST 2,000 chars of stdout — a ~2.8 KB
    # line arrived truncated in r4 AND r5 (BENCH_r0{4,5}.json "parsed":
    # null). stdout therefore gets this COMPACT line; the per-query
    # records live only in the durable BENCH_LOCAL.json.
    compact = json.dumps(summary, separators=(",", ":"))
    assert len(compact) < 1900, f"compact bench line {len(compact)} chars"
    line = json.dumps(dict(
        summary,
        records={"queries": records, "annex": annex},
        n_runs=N_RUNS,
        load_avg_end=[round(x, 2) for x in os.getloadavg()],
    ))
    # r4's driver bench JSON failed to parse because Spark progress-bar
    # frames (\r-terminated, written to stdout) interleaved with the
    # JSON line (BENCH_r04.json "parsed": null). Three-layer fix:
    # spark.ui.showConsoleProgress=false in the session factory; a
    # durable copy on disk written BEFORE spark.stop() (a wedged
    # executor must not lose the finished run); the stdout JSON printed
    # only AFTER spark.stop(), prefixed by a newline so any \r residue
    # a pre-existing context's progress bar left on the current line
    # cannot prefix the JSON for a line-based parser.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as f:
        f.write(line + "\n")
    try:
        spark.stop()
    finally:
        sys.stdout.flush()
        print("\n" + compact, flush=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
