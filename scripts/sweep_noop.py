"""Full-registry noop-sink timing sweep — the r14 optimization round's
"measure first" artifact (guide §1): every registry query timed with
the annex method (bench.time_query, noop sink, 1 warm + 1 timed
fresh-plan run) so the optimization targets are ranked by MEASURED
cost, not by which rows happen to sit in the bench annex.

Usage:
    python scripts/sweep_noop.py [out.jsonl] [query ...]

Resumable: queries already present in out.jsonl are skipped, so an
interrupted sweep continues where it stopped. Each line is the query's
time_query record plus its name and error (``sec`` is -1 on error).
Honors SPARK_GRAFT_SF_DIR (default sf0.1). Streaming rows run at the
shipped replay cadences (streaming_q.REPLAY).
"""

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402
from hadoop_log_analysis_spark.queries import load_registry  # noqa: E402
from hadoop_log_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else ".tmp/sweep_noop.jsonl"
    only = set(sys.argv[2:])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    done: set[str] = set()
    if os.path.exists(out_path):
        with open(out_path) as f:
            done = {json.loads(line)["name"] for line in f}
    reg = load_registry()
    names = [n for n in reg if (not only or n in only) and n not in done]
    print(f"load_avg: {[round(x, 2) for x in os.getloadavg()]}; "
          f"{len(done)} done, {len(names)} to go", flush=True)
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    spark = get_spark(app_name="sweep-noop")
    spark.sparkContext.setLogLevel("ERROR")
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(name)
        try:
            rec = dict(time_query(spark, partial(reg[name].fn, spark, sf),
                                  "noop", 1), err=None)
        except Exception as e:  # noqa: BLE001 — record and continue
            rec = {"sec": -1.0, "err": f"{type(e).__name__}: {e}"}
        finally:
            spark.sparkContext.setJobDescription(None)
        with open(out_path, "a") as f:
            f.write(json.dumps(dict(name=name, **rec)) + "\n")
        print(f"[{len(done) + i + 1}] RES {name} {rec['sec']:.3f}s"
              + (f" ERR {rec['err']}" if rec["err"] else ""), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
