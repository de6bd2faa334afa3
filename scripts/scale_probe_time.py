#!/usr/bin/env python3
"""Time the heaviest queries at sf0.1 vs the derived sf1 scale probe.

VERDICT r9 "What's missing" #2(c): the scaling evidence between bench
scale and the 100 TB design arguments. For each timed query, run
bench.time_query through the noop sink (1 warm + N fresh-plan
executions, median; noop keeps the final sort and the payload columns
that .count() would let Catalyst drop) at BOTH scale dirs and report
the per-query scaling exponent

    alpha = log(t_sf1 / t_sf0.1) / log(10)

(alpha ~ 1.0 = linear in data, < 1 = fixed-cost amortizing, > 1 =
superlinear — the shape that predicts a scale cliff). The three
quadratic-ORACLE pair queries (whose DuckDB brute-force twin is
infeasible at 50k docs) run Spark-side only at sf1, recording rows +
time — their exactness is already proven against brute force at
sf0.01/sf0.1; here the question is whether the PLAN's work scales
linearly, which the runtime answers.

Results land in SCALE.md ("sf1 scale probe" section). Run after
scripts/make_scale_probe.py:

    python scripts/scale_probe_time.py [--runs 3] [--out .tmp/scale_probe.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = "/root/testdata/sf0.1"
PROBE = os.path.join(REPO, ".tmp", "sf1")

# The heaviest batch rows of the bench suite (streaming rows excluded:
# their cost is microbatch-scheduler fixed overhead, already priced in
# BASELINE.md — a 10x drop-dir would time the scheduler, not the data).
TIMED = (
    "q_pagerank_tokens",
    "q_semantic_dedup",
    "q_adamic_adar",
    "q_bfs_hops",
    "q_triangle_count",
    "q_bloom_prefilter_join",
    "q_pricing_summary",
    "q_asof_join",
    "q_join5",
    "q_sessionize",
    "q_image_ahash_dedup",
    "q_bigram_lm_score",
)

# Heavy pair-generators whose ORACLE is brute-force-quadratic
# (infeasible at 50k docs); Spark side runs + counts only.
SPARK_ONLY = (
    "q_containment_join",
    "q_set_similarity_join",
    "q_embedding_near_dups",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out",
                    default=os.path.join(REPO, ".tmp", "scale_probe.json"))
    args = ap.parse_args()

    from bench import time_query
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.session import get_spark

    os.environ.setdefault("HLA_DRIVER_MEM", "24g")
    registry = load_registry()
    spark = get_spark(app_name="hla-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {"runs": args.runs, "timed": {}, "spark_only": {},
                    "load_avg_start": [round(x, 2) for x in os.getloadavg()]}
    for section, names, runs in (("timed", TIMED, args.runs),
                                 ("spark_only", SPARK_ONLY, 1)):
        for name in names:
            fn = registry[name].fn
            r0, r1 = (time_query(spark, partial(fn, spark, d), "noop", runs)
                      for d in (BASE, PROBE))
            alpha = math.log(r1["sec"] / r0["sec"]) / math.log(10.0)
            result[section][name] = {
                "sf0.1_sec": round(r0["sec"], 3),
                "sf1_sec": round(r1["sec"], 3),
                "sf0.1_rows": r0["rows"], "sf1_rows": r1["rows"],
                "alpha": round(alpha, 2),
            }
            print(f"{name} ({section}): {r0['sec']:.2f}s -> {r1['sec']:.2f}s "
                  f"alpha={alpha:.2f} rows {r0['rows']} -> {r1['rows']}",
                  flush=True)

    result["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()
    print(json.dumps({k: v for k, v in result.items() if k != "runs"},
                     separators=(",", ":"))[:1800], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
