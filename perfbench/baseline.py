#!/usr/bin/env python3
"""Measure and write the committed baseline.

    python3 perfbench/baseline.py [--seeds 10] [--traced 2]

Runs every workload of BENCHMARK.json untraced once per seed, as two
independent sets (set A on seeds 1..N, then set B on seeds 101..100+N),
then ``--traced`` traced runs per workload. Writes to
``perfbench/baseline/``:

* ``runs.jsonl``: one line per run (set, workload, seed, trace, the
  printed result and a digest of its run record);
* ``BASELINE.md``: per set and workload the median and quartile spread
  of every end-to-end metric, the tracing overhead, and the traced
  per-query layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline")

# per-query columns of the layer table: (record key, header, format)
LAYER_COLUMNS = (
    ("seconds", "query s", "{:.2f}"), ("build_s", "build s", "{:.2f}"),
    ("build_jobs", "build jobs", "{:.0f}"), ("plan_s", "plan s", "{:.3f}"),
    ("exec_s", "exec s", "{:.2f}"), ("jobs", "jobs", "{:.0f}"),
    ("stages", "stages", "{:.0f}"), ("tasks", "tasks", "{:.0f}"),
    ("task_run_s", "task run s", "{:.2f}"), ("task_cpu_s", "task cpu s", "{:.2f}"),
    ("input_mb", "input MB", "{:.1f}"), ("shuffle_write_mb", "shuffle w MB", "{:.1f}"),
    ("operators_call_s", "operators s", "{:.2f}"), ("drain_s", "drain s", "{:.2f}"),
    ("microbatches", "batches", "{:.0f}"), ("output_rows", "out rows", "{:.0f}"),
)


def run_one(workload: str, seed: int, trace: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed_s = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    summary, result = lines[-2], json.loads(lines[-1])
    path = os.path.join(ROOT, summary.rsplit("record=", 1)[1])
    with open(path) as f:
        record = json.load(f)
    return {"workload": workload, "seed": seed, "trace": trace, "result": result,
            "passes": record["passes"], "peak_rss_mb": record["peak_rss_mb"],
            "failed_ratio": record["failed_ratio"], "load_avg": record["load_avg"],
            "cpu_steal_share": record["cpu_steal_share"],
            "pass_steal_share": record["pass_steal_share"], "elapsed_s": elapsed_s,
            "nproc": record["nproc"], "queries": record["queries"]}


def spread(values: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med


def table(rows: list[list[str]]) -> list[str]:
    out = ["| " + " | ".join(rows[0]) + " |", "|" + "---|" * len(rows[0])]
    return out + ["| " + " | ".join(r) + " |" for r in rows[1:]]


def report(runs: list[dict], bench: dict) -> str:
    names = [w["name"] for w in bench["workloads"]]
    e2e = [m["name"] for m in bench["end_to_end"]]
    lines = ["# perfbench baseline", ""]
    first = runs[0]
    lines += [f"nproc {first['nproc']}; run_seconds {bench['run_seconds']}; "
              "every value is the median over the set's runs, with the "
              "quartile spread (IQR / median) in brackets. cpu steal is the "
              "share of the machine's CPU time the host took during a run "
              "(/proc/stat); run s is the median time of a whole run, "
              "set-up and input generation included.", ""]
    rows = [["set", "workload", "runs", "failed_ratio"] + e2e
            + ["peak_rss_mb", "cpu steal", "run s"]]
    for s in ("A", "B"):
        for w in names:
            rs = [r for r in runs if r["set"] == s and r["workload"] == w]
            if len(rs) < 2:
                continue
            cells = []
            for m in e2e:
                med, iqr = spread([r["result"]["metrics"][m]["value"] for r in rs])
                cells.append(f"{med:.3f} [{iqr:.3f}]")
            med, iqr = spread([r["peak_rss_mb"] for r in rs])
            steal = statistics.median(r["cpu_steal_share"] for r in rs)
            run_s = statistics.median(r["elapsed_s"] for r in rs)
            rows.append([s, w, str(len(rs)), f"{max(r['failed_ratio'] for r in rs):g}"]
                        + cells + [f"{med:.0f} [{iqr:.3f}]", f"{steal:.1%}", f"{run_s:.0f}"])
    lines += table(rows) + [""]
    for w in names:
        traced = [r for r in runs if r["trace"] == 1 and r["workload"] == w]
        plain = [r for r in runs if r["trace"] == 0 and r["workload"] == w]
        if not traced:
            continue
        t_wall = statistics.median(
            r["result"]["metrics"]["trace.wall_s"]["value"] for r in traced)
        u_wall = statistics.median(r["result"]["metrics"]["wall_s"]["value"] for r in plain)
        lines += [f"## {w}", "",
                  f"Tracing overhead: traced wall_s {t_wall:.3f} s against untraced "
                  f"{u_wall:.3f} s ({t_wall / u_wall - 1:+.1%}), "
                  f"{len(traced)} traced runs.", "",
                  "Per query, median over the measured passes of the traced runs:", ""]
        rows = [["query"] + [h for _, h, _ in LAYER_COLUMNS]]
        order = list(dict.fromkeys(q["query"] for q in traced[0]["queries"]))
        for name in order:
            qs = [q for r in traced for q in r["queries"]
                  if q["query"] == name and q["pass"] > 0]
            for q in qs:
                q["microbatches"] = len(q.get("microbatch_ms", []))
            rows.append([name] + [fmt.format(statistics.median(q.get(k, 0) for q in qs))
                                  for k, _, fmt in LAYER_COLUMNS])
        lines += table(rows) + [""]
        layer = traced[0]["result"]["metrics"]
        rows = [["per-layer metric", "unit", "median"]]
        for m in layer:
            rows.append([m, layer[m]["unit"], "{:.4g}".format(statistics.median(
                r["result"]["metrics"][m]["value"] for r in traced))])
        lines += table(rows) + [""]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(OUT, exist_ok=True)
    jobs = [(s, w["name"], base + i, 0) for s, base in (("A", 1), ("B", 101))
            for w in bench["workloads"] for i in range(a.seeds)]
    jobs += [("T", w["name"], 201 + i, 1) for w in bench["workloads"]
             for i in range(a.traced)]
    runs = []
    with open(os.path.join(OUT, "runs.jsonl"), "w") as f:
        for s, w, seed, trace in jobs:
            r = {"set": s, **run_one(w, seed, trace, bench["run_seconds"])}
            runs.append(r)
            slim = {k: v for k, v in r.items() if k != "queries"}
            f.write(json.dumps(slim) + "\n")
            f.flush()
            print(json.dumps(slim)[:300], flush=True)
    with open(os.path.join(OUT, "BASELINE.md"), "w") as f:
        f.write(report(runs, bench))
    return 0


if __name__ == "__main__":
    sys.exit(main())
