#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001 inputs.

    python3 perfbench/selftest.py

Runs one traced pass of each workload's query list on sf0.001 inputs,
each in its own process, and asserts that:

* every metric named in BENCHMARK.json is emitted with its unit (the
  end-to-end ones and the per-layer ones);
* every answer matches its oracle, and every Spark stage booked to a
  query execution was run by a job tagged with that execution's id (a
  stage of one execution still running, or left behind by a cancel,
  when the next starts would be booked to the wrong one);
* a deliberately wrong expected digest is counted in ``failed_ratio``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WRONG = "0" * 64


def child(workload: str, trace: str, wrong: bool) -> None:
    """Run one workload at sf0.001 and print its run record's path."""
    import run

    run.WORKLOADS[workload] = dataclasses.replace(
        run.WORKLOADS[workload], sf=0.001, factor=1)
    override = {run.WORKLOADS[workload].queries[0]: WRONG} if wrong else None
    record = run.bench(["--workload", workload, "--seed", "7", "--seconds", "0",
                        "--trace", trace], expected_override=override)
    print(record["path"])


def spawn(workload: str, trace: str, wrong: bool = False) -> dict:
    cmd = [sys.executable, __file__, "--child", workload, trace]
    out = subprocess.run(cmd + (["--wrong"] if wrong else []), cwd=ROOT,
                         capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    with open(out.stdout.strip().splitlines()[-1]) as f:
        return json.load(f)


def check_units(record: dict, spec: list[dict], key: str) -> None:
    got = record[key]
    for m in spec:
        assert m["name"] in got, f"{record['workload']}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{m['name']}: unit {got[m['name']]}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        rec = spawn(w["name"], "1")
        check_units(rec, bench["end_to_end"], "end_to_end")
        check_units(rec, bench["per_layer"], "per_layer")
        assert rec["failed_ratio"] == 0, [q["error"] for q in rec["queries"]]
        stages = 0
        for q in rec["queries"]:
            assert not q["foreign_stages"], \
                f"{q['query']}: stages of other executions {q['foreign_stages']}"
            stages += len(q["stage_keys"])
        print(f"ok {w['name']}: {len(rec['queries'])} traced executions, "
              f"{stages} stages, each run by a job of its own execution", flush=True)
    rec = spawn(bench["workloads"][0]["name"], "0", wrong=True)
    assert rec["failed_ratio"] > 0, "a wrong expected digest was not counted"
    print(f"ok wrong digest: failed_ratio={rec['failed_ratio']:.3f}")
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], sys.argv[3], "--wrong" in sys.argv)
        sys.exit(0)
    sys.exit(main())
