"""Isolation protocol: median-of-5 fresh-plan timing for named queries
in a dedicated session (the r2-diagnosis protocol, BASELINE.md).

Use when driver-bench rows regress, to split a permanent plan cost
from measurement-session contention: run this with NOTHING else on
the machine and compare against the driver-recorded numbers.

Usage:
    python scripts/isolate_bench.py q_join5 q_pricing_summary [...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1   # optional override

Prints one `RES <name> {json}` line per query and writes the map to
.tmp/isolate_latest.json. Check os.getloadavg() output in the header —
a loaded machine invalidates the protocol (r9: the same query varied
1.4-2.9 s purely with background load).
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_log_analysis_spark.queries import load_registry  # noqa: E402
from hadoop_log_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: isolate_bench.py <query> [<query> ...]")
        raise SystemExit(2)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(f"load_avg at start: {[round(x, 2) for x in os.getloadavg()]}")
    reg = load_registry()
    spark = get_spark(app_name="isolate-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        fn = reg[name].fn
        fn(spark, sf).collect()  # warm: codegen + file listing
        fresh, rerun = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.collect()
            fresh.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            df.collect()
            rerun.append(time.perf_counter() - t0)
        out[name] = {
            "fresh_median5": round(statistics.median(fresh), 3),
            "fresh_spread": [round(min(fresh), 3), round(max(fresh), 3)],
            "rerun_median5": round(statistics.median(rerun), 3),
        }
        print("RES", name, json.dumps(out[name]), flush=True)
    os.makedirs(".tmp", exist_ok=True)
    json.dump(out, open(".tmp/isolate_latest.json", "w"), indent=1)


if __name__ == "__main__":
    main()
