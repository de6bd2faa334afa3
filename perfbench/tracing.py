"""Per-layer instrumentation, installed from outside the program.

Three sources, none of which needs a change to the package:

* timing wrappers around the public functions of ``sources``,
  ``operators``, ``streaming`` and ``sources.sinks``. They must be
  installed before ``load_registry()``: the query modules bind these
  names at import time (``from ..operators.dedup import ...``).
* a diff of Spark's status store (stages and jobs) around each query;
  it works with ``spark.ui.enabled=false``. The runner tags every job
  of a query execution with the execution's id (``SparkContext.addJobTag``,
  inherited by the threads a streaming query starts), so a stage that
  is booked to the wrong execution shows up in ``foreign_stages``.
* a ``StreamingQueryListener`` that keeps every microbatch's progress.

Spans are kept in memory (name, layer, start, end, parent, query id)
and written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import time

PKG = "hadoop_log_analysis_spark"
# package -> layer; sources.sinks is its own layer
WRAPPED = {
    f"{PKG}.sources": "sources",
    f"{PKG}.operators": "operators",
    f"{PKG}.streaming": "streaming",
}
SINKS_MODULE = f"{PKG}.sources.sinks"
# operator modules timed on their own: the ones the workloads call
OPERATOR_MODULES = ("clustering", "partitioning")
MB = 1e6

TRACER: "Tracer | None" = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.qid: str | None = None

    def call(self, layer: str, name: str, fn, args, kwargs):
        idx = len(self.spans)
        span = {"id": idx, "name": name, "layer": layer, "qid": self.qid,
                "parent": self.stack[-1] if self.stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self.stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stack.pop()
            span["end"] = time.perf_counter()


def _wrap(layer: str, name: str, fn):
    driver = os.getpid()

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        # Python workers may unpickle a wrapped function: trace on the
        # driver only, and look the tracer up late so nothing
        # unpicklable is captured.
        tracer = sys.modules[__name__].TRACER if os.getpid() == driver else None
        if tracer is None:
            return fn(*args, **kwargs)
        return tracer.call(layer, name, fn, args, kwargs)

    return wrapper


def install() -> Tracer:
    """Wrap every public function of the traced layers. Call before
    anything imports ``hadoop_log_analysis_spark.queries``."""
    global TRACER
    if any(m.startswith(f"{PKG}.queries") for m in sys.modules):
        raise RuntimeError("install tracing before the query modules are imported")
    TRACER = Tracer()
    for pkg_name, layer in WRAPPED.items():
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            mod_layer = "sinks" if mod.__name__ == SINKS_MODULE else layer
            for attr, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                        and not attr.startswith("_")):
                    setattr(mod, attr, _wrap(mod_layer, f"{info.name}.{attr}", obj))
    return TRACER


def outermost(spans: list[dict], layer: str, prefix: str = "") -> list[dict]:
    """Spans of ``layer`` (name starting with ``prefix``) not nested in
    another span of the same layer, so their durations add up."""
    every = TRACER.spans
    out = []
    for s in spans:
        if s["layer"] != layer or not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and every[p]["layer"] != layer:
            p = every[p]["parent"]
        if p is None:
            out.append(s)
    return out


def span_seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["end"] is not None)


class StatusStore:
    """Stage and job diffs of Spark's status store around one query."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.store = sc.statusStore()
        self.bus = sc.listenerBus()

    def _settle(self) -> None:
        self.bus.waitUntilEmpty()

    def stage_keys(self) -> set[tuple[int, int]]:
        self._settle()
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def job_ids(self) -> set[int]:
        self._settle()
        jobs = self.store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def foreign_stages(self, keys, jobs0: set[int], tag: str) -> list:
        """The stage keys of ``keys`` that no job tagged ``tag`` ran,
        looking only at jobs submitted since ``jobs0`` was taken."""
        self._settle()
        jobs = self.store.jobsList(None)
        ours: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() in jobs0:
                continue
            tags = job.jobTags()
            if any(tags.apply(k) == tag for k in range(tags.size())):
                ids = job.stageIds()
                ours.update(ids.apply(k) for k in range(ids.size()))
        return [k for k in keys if k[0] not in ours]

    def _stages(self):
        j = self.jvm
        seq = self.store.stageList(
            j.java.util.ArrayList(), False, False,
            self.spark.sparkContext._gateway.new_array(j.double, 0),
            j.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def stage_metrics(self, since: set[tuple[int, int]]) -> dict:
        """Summed metrics of the stages not in ``since``."""
        self._settle()
        m = dict.fromkeys((
            "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
            "input_rows", "input_mb", "output_rows", "output_mb",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s"), 0.0)
        keys = []
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in since or s.status().toString() == "SKIPPED":
                continue
            keys.append(key)
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["failed_tasks"] += s.numFailedTasks()
            m["task_run_s"] += s.executorRunTime() / 1e3
            m["task_cpu_s"] += s.executorCpuTime() / 1e9
            m["input_rows"] += s.inputRecords()
            m["input_mb"] += s.inputBytes() / MB
            m["output_rows"] += s.outputRecords()
            m["output_mb"] += s.outputBytes() / MB
            m["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            m["gc_s"] += s.jvmGcTime() / 1e3
        m["stage_keys"] = sorted(keys)
        return m


def progress_listener(spark, sink: list):
    """Register a listener appending each microbatch progress to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "name": p.name,
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "state_mem_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
