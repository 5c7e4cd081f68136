"""Tracing for the benchmark, from outside the package.

* ``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
  writes them out once, at the end of a traced run.
* ``Tracer.wrap_layer`` patches a public function of a program module with a
  span-recording wrapper. Registry modules bind operators with
  ``from ..operators.x import f`` (at import time or inside the query body),
  so the wrapper replaces the function under every name that refers to it in
  every loaded module of the package, not only in its defining module.
* ``SparkProbe`` reads Spark's own status store (works with
  ``spark.ui.enabled=false``): jobs launched in a time window, their stages'
  run/CPU/GC time, input, shuffle and spill bytes, and the wall time during
  which no stage was running. A ``QueryExecutionListener`` registered over
  py4j records Catalyst phase times and Python-worker bytes of every query
  execution.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

PACKAGE = "dockerized_data_pipeline_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack = threading.local()
        self.op_id: str | None = None
        self.job_count = None  # callable -> jobs launched so far, when set
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span; spans opened inside it (on the same thread) name it
        as parent. With ``job_count`` set the span also counts Spark jobs."""
        parents = self._stack.__dict__.setdefault("ids", [])
        rec = {"name": name, "op": self.op_id, "parent": parents[-1] if parents else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        parents.append(len(self.spans) - 1)
        jobs0 = self.job_count() if self.job_count is not None else None
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if jobs0 is not None:
                rec["jobs"] = self.job_count() - jobs0
            parents.pop()

    def layer_spans(self, name: str) -> list[dict]:
        """Closed spans called ``name`` with no ``name`` span among their
        ancestors (outermost calls only: nesting is not double counted)."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.layer_spans(name))

    def wrap_layer(self, module_name: str, func_name: str, span_name: str) -> None:
        module = sys.modules.get(module_name)
        if module is None:
            __import__(module_name)
            module = sys.modules[module_name]
        original = getattr(module, func_name)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                result = original(*args, **kwargs)
                if isinstance(result, list):
                    rec["result_len"] = len(result)
                return result

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt_s(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks")


class SparkProbe:
    """Job/stage accounting from the SparkContext's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = self.jsc.statusStore()

    def job_count(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs_since(self, first_job: int) -> list[int]:
        self.drain()
        return list(range(first_job, self.job_count()))

    def window(self, first_job: int, t0: float, t1: float) -> dict:
        """Totals over the jobs launched since ``first_job``; ``no_stage_s``
        is the part of [t0, t1] covered by no running stage."""
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        totals.update(jobs=0, stages=0)
        intervals = []
        for jid in self.jobs_since(first_job):
            totals["jobs"] += 1
            try:
                stage_ids = _seq(self.jvm, self.store.job(jid).stageIds())
            except Py4JJavaError:  # evicted from the store (spark.ui.retainedJobs)
                continue
            for sid in stage_ids:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                totals["stages"] += 1
                totals["tasks"] += sd.numTasks()
                totals["executor_run_s"] += sd.executorRunTime() / 1e3
                totals["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                totals["gc_s"] += sd.jvmGcTime() / 1e3
                totals["input_mb"] += sd.inputBytes() / 2**20
                totals["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                totals["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                totals["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                a, b = _opt_s(sd.submissionTime()), _opt_s(sd.completionTime())
                if a is not None and b is not None:
                    intervals.append((max(a, t0), min(b, t1)))
        covered, end = 0.0, t0
        for a, b in sorted(intervals):
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        totals["no_stage_s"] = max(0.0, (t1 - t0) - covered)
        return totals


class QueryListener:
    """py4j-implemented ``QueryExecutionListener``: sums Catalyst phase times
    (analysis, optimization, planning) and Python-worker bytes of every
    successful query execution."""

    PY_METRICS = ("pythonDataSent", "pythonDataReceived")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.lock = threading.Lock()
        self.catalyst_ms = 0.0
        self.python_bytes = 0.0
        spark._jsparkSession.listenerManager().register(self)

    def unregister(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    def _python_bytes(self, plan) -> float:
        total, stack = 0.0, [plan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name.startswith("AdaptiveSparkPlan"):
                stack.append(node.executedPlan())
                continue
            if "QueryStage" in name:
                stack.append(node.plan())
                continue
            metrics = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
            for key in self.PY_METRICS:
                if metrics.containsKey(key):
                    total += metrics.get(key).value()
            stack.extend(_seq(self.jvm, node.children()))
        return total

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        try:
            phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                qe.tracker().phases())
            ms = sum(phases.get(k).durationMs() for k in phases.keySet())
            py = self._python_bytes(qe.executedPlan())
        except Exception:  # noqa: BLE001
            # a JVM callback must not raise: this execution is left out of the totals
            return
        with self.lock:
            self.catalyst_ms += ms
            self.python_bytes += py

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
