#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One driver process, one client, one query at a time, on
``local[<nproc>]``. The program is driven only through
``session.get_spark``, ``queries.load_registry()[name].fn(spark, dir)``
and the returned DataFrame's ``toPandas()``.

A run:

1. builds its inputs from ``--seed`` in a child process (``gen.py``):
   a seeded row permutation of the repository's fixture tables
   (``fixtures/``), so answers do not depend on the seed; the DuckDB
   oracle digests come from the same child, once per generated input;
2. starts the session, loads the registry and makes ``WARM_PASSES``
   warm passes over the workload's queries (``setup_s``);
3. makes measured passes for ``--seconds`` (a pass starts only if one
   as long as the last still fits; at least one pass) and digests every
   result outside the timed region; a wrong digest, an exception or a
   timeout counts as a failure;
4. writes a run record (and, traced, the spans) under
   ``perfbench/.work/runs`` and prints one JSON line last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs
the per-layer instrumentation of ``tracing.py`` and reports the
per-layer metrics; its ``trace.wall_s`` against the untraced ``wall_s``
is the tracing overhead. Sizes are in MB of 10^6 bytes, except
``peak_rss_mb`` (VmHWM of the driver Python plus the driver JVM), which
is in MiB. ``peak_rss_mb`` and ``failed_ratio`` are printed on the
summary line and kept in the run record; the JSON line carries the
failures as ``failed`` out of ``attempted``. The run record also keeps,
per execution and per pass, the share of the machine's CPU time the
host took (``steal_share``), since that is what slows a run on a shared
host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "hadoop_log_analysis_spark"
WORK = os.path.join(HERE, ".work")
RUNS = os.path.join(WORK, "runs")

QUERY_TIMEOUT_S = 60.0  # a query past this is cancelled and counts as failed
# The first pass fills codegen, the scan memo and the streaming drop-dir
# caches; the JIT still speeds the second up by 10-30%, so it is set-up too.
WARM_PASSES = 2


@dataclass(frozen=True)
class Workload:
    sf: float
    factor: int  # key-shifted replicas of the sf base (1 = the base itself)
    queries: tuple[str, ...]


# Why each workload exists is recorded in BENCHMARK.json. Their sizes keep
# a run near a minute: every run pays a JVM start and the warm passes.
# Five queries of well-apart times each put query_p50_s inside the middle
# query's times and query_p90_s inside the slowest one's, not in a gap.
WORKLOADS = {
    # the read path: scans, joins and aggregates, no Python in the tasks
    "logs_olap": Workload(
        0.1, 2,
        ("q_pricing_summary", "q_join5", "q_hourly_errors",
         "q_distinct_users_daily", "q_json_extract")),
    # what logs_olap leaves idle: Python workers and a global ORDER BY, a
    # driver loop of eager jobs, a stateful drain and a parquet sink
    "curation_stream": Workload(
        0.01, 1,
        ("q_apply_in_pandas", "q_dedup_clusters", "q_stream_hourly_errors",
         "q_parquet_sink_partitioned", "q_bm25")),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the host took between two
    ``cpu_times()`` reads (the ``steal`` column of /proc/stat)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and run on the
    program's defaults at local[nproc]."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def clear_caches() -> None:
    """Drop the program's derived caches built from benchmark inputs
    (their names carry the input directory's ``pb_`` basename), so every
    run starts from the same cache state."""
    tmp = os.path.join(ROOT, ".tmp")
    if os.path.isdir(tmp):
        for d in os.listdir(tmp):
            if "pb_" in d:
                shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)


def make_inputs(wl: Workload, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--sf", str(wl.sf),
         "--factor", str(wl.factor), "--seed", str(seed), *wl.queries],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Runner:
    """Runs queries one at a time and keeps one record per execution."""

    def __init__(self, spark, registry, sf_dir, expected, traced):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.expected = expected
        self.traced = traced
        self.records: list[dict] = []
        if traced:
            import tracing

            self.tracer = tracing.TRACER
            self.store = tracing.StatusStore(spark)
            self.progress: list[dict] = []
            self.listener = tracing.progress_listener(spark, self.progress)

    def _cancel(self, flag: dict) -> None:
        flag["timed_out"] = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def run(self, name: str, pass_no: int) -> dict:
        rec = {"query": name, "pass": pass_no, "error": None}
        qid = f"{name}#{len(self.records)}"
        flag = {"timed_out": False}
        timer = threading.Timer(QUERY_TIMEOUT_S, self._cancel, (flag,))
        sc = self.spark.sparkContext
        sc.addJobTag(qid)
        if self.traced:
            stages0, jobs0 = self.store.stage_keys(), self.store.job_ids()
            mark = len(self.progress)
            self.tracer.qid = qid
        pdf = None
        timer.start()
        ticks0 = cpu_times()
        t0 = time.perf_counter()
        try:
            df = self.registry[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            build_s, plan_s = t1 - t0, 0.0
            if self.traced:
                rec["build_jobs"] = len(self.store.job_ids() - jobs0)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t1
                t1 = time.perf_counter()
            pdf = df.toPandas()
            exec_s = time.perf_counter() - t1
            rec.update(seconds=build_s + plan_s + exec_s, build_s=build_s,
                       plan_s=plan_s, exec_s=exec_s, rows=len(pdf))
        except Exception as e:  # noqa: BLE001 - every failure is counted
            rec.update(seconds=time.perf_counter() - t0,
                       error=f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            rec["steal_share"] = steal_share(ticks0, cpu_times())
            timer.cancel()
            sc.removeJobTag(qid)
            if self.traced:
                self.tracer.qid = None
        if flag["timed_out"]:
            rec["error"] = f"timeout after {QUERY_TIMEOUT_S:.0f}s"
        c0 = time.perf_counter()
        if rec["error"] is None:
            from gen import digest

            rec["digest"] = digest(pdf)
            want = self.expected.get(name)
            if want is None:
                rec["error"] = "no oracle digest"
            elif want != rec["digest"]:
                rec["error"] = "wrong answer"
        rec["check_s"] = time.perf_counter() - c0
        if self.traced:
            self._layers(rec, qid, stages0, jobs0, mark)
        rec["ok"] = rec["error"] is None
        self.records.append(rec)
        return rec

    def _layers(self, rec, qid, stages0, jobs0, mark) -> None:
        import tracing

        spans = [s for s in self.tracer.spans if s["qid"] == qid]
        rec.update(self.store.stage_metrics(stages0))
        rec["jobs"] = len(self.store.job_ids() - jobs0)
        rec["foreign_stages"] = self.store.foreign_stages(rec["stage_keys"], jobs0, qid)
        ops = tracing.outermost(spans, "operators")
        rec["operators_calls"] = len(ops)
        rec["operators_call_s"] = tracing.span_seconds(ops)
        for m in tracing.OPERATOR_MODULES:
            rec[f"operators_{m}_call_s"] = tracing.span_seconds(
                tracing.outermost(spans, "operators", m + "."))
        scans = [s for s in spans if s["name"] == "catalog.scan"]
        rec["scan_calls"] = len(scans)
        rec["scan_s"] = tracing.span_seconds(tracing.outermost(scans, "sources"))
        rec["drain_s"] = tracing.span_seconds(  # run_to_table and friends
            [s for s in spans if s["layer"] == "streaming"
             and s["name"].split(".", 1)[1].startswith("run_")])
        rec["sinks_call_s"] = tracing.span_seconds(tracing.outermost(spans, "sinks"))
        prog = self.progress[mark:]
        rec["microbatch_ms"] = [p["duration_ms"].get("triggerExecution", 0) for p in prog]
        d = lambda k: sum(p["duration_ms"].get(k, 0) for p in prog)  # noqa: E731
        rec["add_batch_ms"] = d("addBatch")
        rec["query_planning_ms"] = d("queryPlanning")
        rec["log_commit_ms"] = d("walCommit") + d("commitOffsets")
        rec["offset_ms"] = d("latestOffset") + d("getBatch")
        rec["stream_input_rows"] = sum(p["input_rows"] for p in prog)
        last: dict[str, dict] = {}
        for p in prog:
            last[p["name"]] = p
        rec["state_rows"] = sum(p["state_rows"] for p in last.values())
        rec["state_mem_mb"] = sum(p["state_mem_bytes"] for p in last.values()) / 1e6


def typical_pass(measured) -> float:
    """One pass made of typical executions: the sum over the workload's
    queries of each query's median time over the measured passes. One slow
    execution moves it less than it moves the median of whole passes."""
    by_query: dict[str, list[float]] = {}
    for r in measured:
        by_query.setdefault(r["query"], []).append(r["seconds"])
    return sum(statistics.median(ts) for ts in by_query.values())


def end_to_end(setup_s, measured) -> dict:
    """Query percentiles are taken over every measured execution."""
    times = [r["seconds"] for r in measured]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (typical_pass(measured), "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "query_p90_s": (quantile(times, 0.9), "s"),
    }


def per_layer(setup, measured, cores) -> dict:
    """Per-pass sums over the measured passes, reported as the median
    pass. ``spark.core_busy`` is task run time over the queries' whole
    time (build, plan and execution) times the cores."""
    by_pass: dict[int, list[dict]] = {}
    for r in measured:
        by_pass.setdefault(r["pass"], []).append(r)

    def med(fn) -> float:
        return statistics.median(fn(rs) for rs in by_pass.values())

    def total(key):
        return med(lambda rs: sum(r.get(key, 0) for r in rs))

    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.registry_load_s": (setup["registry_load_s"], "s"),
        "session.peak_rss_mb": (setup["peak_rss_mb"], "MB"),
        "queries.build_s": (total("build_s"), "s"),
        "queries.build_jobs": (total("build_jobs"), "count"),
        "operators.calls": (total("operators_calls"), "count"),
        "operators.call_s": (total("operators_call_s"), "s"),
    }
    from tracing import OPERATOR_MODULES

    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.call_s"] = (total(f"operators_{mod}_call_s"), "s")
    m.update({
        "sources.scan_calls": (total("scan_calls"), "count"),
        "sources.scan_s": (total("scan_s"), "s"),
        "sources.input_rows": (total("input_rows"), "count"),
        "sources.input_mb": (total("input_mb"), "MB"),
        "spark.plan_s": (total("plan_s"), "s"),
        "spark.exec_s": (total("exec_s"), "s"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "spark.task_run_s": (total("task_run_s"), "s"),
        "spark.task_cpu_s": (total("task_cpu_s"), "s"),
        "spark.task_wait_s": (med(lambda rs: sum(
            r.get("task_run_s", 0) - r.get("task_cpu_s", 0) for r in rs)), "s"),
        "spark.core_busy": (med(lambda rs: sum(r.get("task_run_s", 0) for r in rs)
                                / (sum(r["seconds"] for r in rs) * cores)), "ratio"),
        "spark.shuffle_read_mb": (total("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (total("shuffle_write_mb"), "MB"),
        "spark.spill_mb": (total("spill_mb"), "MB"),
        "spark.gc_s": (total("gc_s"), "s"),
        "streaming.drain_s": (total("drain_s"), "s"),
        "streaming.microbatches": (med(lambda rs: sum(
            len(r.get("microbatch_ms", [])) for r in rs)), "count"),
        "streaming.add_batch_ms": (total("add_batch_ms"), "ms"),
        "streaming.query_planning_ms": (total("query_planning_ms"), "ms"),
        "streaming.log_commit_ms": (total("log_commit_ms"), "ms"),
        "streaming.offset_ms": (total("offset_ms"), "ms"),
        "streaming.input_rows": (total("stream_input_rows"), "count"),
        "streaming.state_rows": (total("state_rows"), "count"),
        "streaming.state_mem_mb": (total("state_mem_mb"), "MB"),
    })
    batches = [b for r in measured for b in r.get("microbatch_ms", [])]
    m["streaming.microbatch_p50_ms"] = (statistics.median(batches) if batches else 0.0, "ms")
    m["streaming.microbatch_p90_ms"] = (quantile(batches, 0.9) if batches else 0.0, "ms")
    m["sinks.output_rows"] = (total("output_rows"), "count")
    m["sinks.output_mb"] = (total("output_mb"), "MB")
    m["sinks.call_s"] = (total("sinks_call_s"), "s")
    m["oracle.check_s"] = (total("check_s"), "s")
    m["trace.wall_s"] = (typical_pass(measured), "s")
    return m


def run_record_base(spark, args) -> dict:
    jvm = spark.sparkContext._jvm
    conf = {**dict(spark.sparkContext.getConf().getAll()), **spark.conf.getAll}
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "load_avg": list(os.getloadavg()),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "spark_conf": dict(sorted(conf.items())),
        "spark_version": spark.version,
    }


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Refused(Exception):
    """The benchmark cannot run here; nothing is measured."""


def as_metrics(pairs: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in pairs.items()}


def bench(argv=None, expected_override: dict | None = None) -> dict:
    """One run; returns its run record (also written to disk)."""
    args = parse(argv)
    hla = sorted(k for k in os.environ if k.startswith("HLA_"))
    if hla:
        raise Refused(f"HLA_* knobs are set ({', '.join(hla)}); the benchmark "
                      "measures the program's defaults, unset them")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        raise Refused(f"package {PKG} not found next to perfbench/")
    wl = WORKLOADS[args.workload]
    prepare_env()
    sys.path.insert(0, ROOT)
    clear_caches()
    prep = make_inputs(wl, args.seed)
    sf_dir = prep["sf_dir"]
    expected = {**prep["expected"], **(expected_override or {})}

    cpu0 = cpu_times()
    if args.trace:
        import tracing

        tracing.install()
    t0 = time.perf_counter()
    from hadoop_log_analysis_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from hadoop_log_analysis_spark.queries import load_registry

    registry = load_registry()
    t2 = time.perf_counter()
    runner = Runner(spark, registry, sf_dir, expected, bool(args.trace))
    try:
        for _ in range(WARM_PASSES):
            for name in wl.queries:
                runner.run(name, 0)
        setup_s = time.perf_counter() - t0
        passes: list[float] = []
        pass_steal: list[float] = []
        loop0 = time.perf_counter()
        # a pass starts only if one as long as the last still fits
        while not passes or time.perf_counter() - loop0 + passes[-1] <= args.seconds:
            c0 = cpu_times()
            recs = [runner.run(name, len(passes) + 1) for name in wl.queries]
            passes.append(sum(r["seconds"] for r in recs))
            pass_steal.append(steal_share(c0, cpu_times()))
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = {"python": vm_hwm_mib("self"), "jvm": vm_hwm_mib(jvm_pid)}
        record = run_record_base(spark, args)
    finally:
        app_id = spark.sparkContext.applicationId
        stop(spark)
        tmp = os.path.join(ROOT, ".tmp")
        for d in os.listdir(tmp) if os.path.isdir(tmp) else ():
            if app_id in d:
                shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)

    measured = [r for r in runner.records if r["pass"] > 0]
    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    record.update(
        sf_dir=os.path.relpath(sf_dir, ROOT), gen_s=prep["gen_s"],
        oracle_s=prep["oracle_s"], passes=passes, attempted=attempted,
        failed=failed, failed_ratio=failed / attempted,
        cpu_steal_share=steal_share(cpu0, cpu_times()), pass_steal_share=pass_steal,
        peak_rss_mb=rss["python"] + rss["jvm"], peak_rss_parts_mb=rss,
        end_to_end=as_metrics(end_to_end(setup_s, measured)))
    if args.trace:
        setup = {"start_s": t1 - t0, "registry_load_s": t2 - t1,
                 "peak_rss_mb": record["peak_rss_mb"]}
        record["per_layer"] = as_metrics(per_layer(setup, measured, nproc()))
    record["queries"] = runner.records
    os.makedirs(RUNS, exist_ok=True)
    stem = os.path.join(RUNS, f"{args.workload}_s{args.seed}_t{args.trace}_{time.time_ns()}")
    record["path"] = stem + ".json"
    with open(record["path"], "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(stem + "_spans.jsonl", "w") as f:
            for s in runner.tracer.spans:
                f.write(json.dumps(s) + "\n")
    return record


def main() -> int:
    try:
        record = bench()
    except Refused as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for r in record["queries"]:
        if not r["ok"]:
            print(f"FAILED {r['query']} pass {r['pass']}: {r['error']}", file=sys.stderr)
    metrics = record["per_layer" if record["trace"] else "end_to_end"]
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"trace={record['trace']} passes={len(record['passes'])} "
          f"executions={record['attempted']} failed_ratio={record['failed_ratio']:.4f} "
          f"peak_rss_mb={record['peak_rss_mb']:.0f} "
          f"record={os.path.relpath(record['path'], ROOT)}")
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
