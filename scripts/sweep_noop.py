"""Full-registry noop-sink timing sweep — the r14 optimization round's
"measure first" artifact (guide §1): every registry query timed with
the annex method (1 warm + 1 timed fresh-plan noop-sink run) so the
optimization targets are ranked by MEASURED cost, not by which rows
happen to sit in a bench window.

Usage:
    python scripts/sweep_noop.py [out.jsonl] [query ...]

Resumable: queries already present in out.jsonl are skipped, so an
interrupted sweep continues where it stopped. Honors
SPARK_GRAFT_SF_DIR (default sf0.1). Streaming rows run at the shipped
replay cadences (streaming_q.REPLAY).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_log_analysis_spark.queries import load_registry  # noqa: E402
from hadoop_log_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else ".tmp/sweep_noop.jsonl"
    only = set(sys.argv[2:])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    done: dict[str, float] = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            for line in f:
                rec = json.loads(line)
                done[rec["name"]] = rec["sec"]
    reg = load_registry()
    names = [n for n in reg if (not only or n in only) and n not in done]
    print(f"load_avg: {[round(x, 2) for x in os.getloadavg()]}; "
          f"{len(done)} done, {len(names)} to go", flush=True)
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    spark = get_spark(app_name="sweep-noop")
    spark.sparkContext.setLogLevel("ERROR")
    for i, name in enumerate(names):
        fn = reg[name].fn
        try:
            spark.sparkContext.setJobDescription(f"{name}: warm")
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            spark.sparkContext.setJobDescription(f"{name}: timed")
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 4)
            err = None
        except Exception as e:  # noqa: BLE001 — record and continue
            sec, err = -1.0, f"{type(e).__name__}: {e}"
        finally:
            spark.sparkContext.setJobDescription(None)
        with open(out_path, "a") as f:
            f.write(json.dumps({"name": name, "sec": sec, "err": err}) + "\n")
        print(f"[{len(done) + i + 1}] RES {name} {sec:.3f}s"
              + (f" ERR {err}" if err else ""), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
