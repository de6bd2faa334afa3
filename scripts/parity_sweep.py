"""Full-registry Spark-vs-DuckDB parity sweep at an arbitrary SF.

The evidence machinery behind BASELINE.md's tri-scale claims: runs
every `__spark_entry__.queries()` entry against its `oracle_sql()`
string (rows + schema + order-insensitive value hash — the driver's
exact comparator) and prints one line per query (``ok``, ``rows-only``
or ``FAIL``) plus a final `DONE: <n> mismatches over <m> queries`
summary.

Usage:
    python scripts/parity_sweep.py [sf_dir] [query_name ...]

A ``@tier`` argument expands to a named query list (see TIERS below),
e.g. ``python scripts/parity_sweep.py .tmp/sf1_zipf @skew_batch``.

With no query names the FULL registry is swept and two extra gates run
first:

* ``SMOKE entry()`` — the driver's smoke call at sf0.001 (a fresh
  bare-ish session must self-repair the events nanos conf / timezone);
* ``subus_key uniqueness`` at the swept SF — every comparison that
  tie-breaks on ``µs*100 + event_id%100`` (functions.subus_key) relies
  on the events fixture being collision-free under that fold; a NEW or
  DERIVED fixture (e.g. the sf1 scale probe) that violates it must
  fail here loudly, not as an opaque downstream hash mismatch
  (VERDICT r9 "What's wrong" #1 — the fixture test in
  tests/test_properties.py pins only the driver-generated SFs; this
  check runs against whatever dir is being swept).

Notes (learned the hard way):
- 24 GiB driver heap: sf0.1's largest result (q_containment_join,
  8.28M rows) dies fetching through a long-lived default-heap sweep
  JVM (the r8 "sweep-harness memory artifact"); with 24g the r9 sweep
  was the first fully-clean sf0.1 run.
- Console progress bars off: \r-frames corrupt machine-read stdout
  (memory/bench-json discipline).
"""

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle  # noqa: E402
from hadoop_log_analysis_spark.sources.catalog import scan  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def check_subus_unique(spark: SparkSession, sf: str) -> bool:
    """True iff subus_key (µs*100 + event_id%100) is unique over events at sf."""
    ev = scan(spark, sf, "events").select(
        (F.expr("ts_ns div 1000") * 100 + F.col("event_id") % 100).alias("k")
    )
    n, d = ev.agg(
        F.count("*").alias("n"), F.countDistinct("k").alias("d")
    ).collect()[0]
    print(f"subus_key uniqueness at {sf}: {n} rows, {d} keys", flush=True)
    return n == d


# Named query tiers for the scale/skew probes (r11 ran these as ad-hoc
# command lines; @-expansion makes the tier reproducible). The batch
# tier deliberately EXCLUDES the O(N^2)-oracle pair queries
# (q_set_similarity_join etc. — DuckDB grinds for hours at sf1; they
# get scripts/sampled_oracle_sf1.py instead).
TIERS = {
    "skew_batch": [
        "q_join5", "q_join_fact_fact", "q_broadcast_join",
        "q_left_join_counts", "q_semi_join", "q_anti_join",
        "q_theta_band_join", "q_range_join", "q_asof_join",
        "q_null_safe_join", "q_bucketed_join", "q_salted_agg",
        "q_salted_join", "q_null_skew_join_split",
        "q_bloom_prefilter_join", "q_sessionize", "q_sessionize_split",
        "q_sessionize_auto",
        "q_session_window_native", "q_session_bounce_rate",
        "q_window_rank", "q_rank_variants", "q_time_range_window",
        "q_inverted_index", "q_inverted_index_chunked", "q_tfidf",
        "q_bm25", "q_cohort_retention", "q_funnel_steps",
        "q_funnel_latency", "q_pareto_users", "q_percentile_ranks",
        "q_minhash_near_dups",
    ],
    # r12 adds the stream-STREAM joins: join-key state under a hot key
    # was the one streaming skew surface not yet cross-checked
    "skew_stream": [
        "q_stream_sessions", "q_stream_stateful_counts",
        "q_stream_static_join", "q_stream_dedup",
        "q_stream_hourly_errors", "q_stream_sliding_counts",
        "q_stream_heavy_hitters", "q_stream_stream_join",
        "q_stream_stream_left_join",
        # r13: the shipped hot-key state defense — must stay
        # output-identical to the plain joins under every skew shape
        "q_stream_stream_join_bucketed",
        "q_stream_stream_left_join_bucketed",
        # r14: the payload-carrying merge variant
        "q_stream_stream_left_join_bucketed_payload",
    ],
}


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    for arg in sys.argv[2:]:
        if arg.startswith("@") and arg[1:] not in TIERS:
            print(f"unknown tier {arg}; known tiers: "
                  f"{', '.join(sorted(TIERS))}", file=sys.stderr)
            return 2
    names = [
        n
        for arg in sys.argv[2:]
        for n in (TIERS[arg[1:]] if arg.startswith("@") else [arg])
    ]
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("parity-sweep")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = 0
    if not names:
        smoke = entrymod.entry(spark)
        print(f"SMOKE entry(): {smoke.count()} rows, schema={smoke.columns}",
              flush=True)
        if not check_subus_unique(spark, sf):
            bad += 1
            print(f"FAIL subus_key-uniqueness at {sf}", flush=True)
    todo = names or list(queries)
    for name in todo:
        fn = queries[name]
        try:
            spdf = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001 — record and continue
            bad += 1
            print(f"FAIL {name}: spark {type(e).__name__}: {e}", flush=True)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only {name}: {len(spdf)}", flush=True)
            continue
        try:
            opdf = run_oracle(sql, sf)
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(f"FAIL {name}: oracle {type(e).__name__}: {e}", flush=True)
            continue
        problems = compare_frames(spdf, opdf)
        if problems:
            bad += 1
            print(f"FAIL {name}: " + " | ".join(problems), flush=True)
        else:
            # per-query ok lines so a partial long sweep (e.g. the sf1
            # probe over the full registry) still records its coverage
            print(f"ok {name}: {len(spdf)}", flush=True)
    print(f"DONE: {bad} mismatches over {len(todo)} queries")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
