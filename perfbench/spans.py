"""Spans and counters recorded from outside the program.

The benchmark never edits the package: a traced run replaces selected
public functions with timing wrappers (``Tracer.wrap``), in every
package module that imported them by name, and reads the counters
Spark and Postgres already keep. Spans live in memory and are written
as JSON lines when the run ends.

Jobs are attributed to spans by time window. The benchmark is one
sequential client, so a job submitted inside a span's interval belongs
to that span, including jobs launched from the package's own
thread pools (which do not inherit job-group properties).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "etl_property_rumah123_spark"


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute
    check per span and record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self.trace_id = 0  # current closed-loop operation

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            span_id = self._next_id
        rec = {
            "id": span_id,
            "parent": stack[-1] if stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.time(),
            "attrs": attrs,
        }
        stack.append(span_id)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as span ``name``: the
        wrapper replaces the function in ``module`` and in every loaded
        package module that bound the same object by name."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)

    def timed(self, name: str) -> list[dict]:
        """Spans called ``name`` recorded in timed operations (trace > 0;
        trace 0 is set-up and warm-up)."""
        return [s for s in self.spans if s["name"] == name and s["trace"] > 0]

    def total_in(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.timed(name))

    def windows_in(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.timed(name)]

    def dump(self, path: str, extra: list[dict]) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")
            for rec in extra:
                fh.write(json.dumps(rec, default=str) + "\n")


def _epoch_s(opt) -> float | None:
    """Scala Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStats:
    """Job and stage records from the driver's status store (the data
    behind the Spark UI), read once through py4j after the listener
    bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    def load(self) -> None:
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        self.jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            self.jobs.append(
                {
                    "job": j.jobId(),
                    "submitted": _epoch_s(j.submissionTime()),
                    "completed": _epoch_s(j.completionTime()),
                }
            )
        stages = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        self.stages = []
        for i in range(stages.size()):
            s = stages.apply(i)
            self.stages.append(
                {
                    "stage": s.stageId(),
                    "submitted": _epoch_s(s.submissionTime()),
                    "completed": _epoch_s(s.completionTime()),
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
                    "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
                }
            )

    @staticmethod
    def _inside(rec: dict, windows) -> bool:
        t = rec["submitted"]
        return t is not None and any(a <= t <= b for a, b in windows)

    def jobs_in(self, windows) -> list[dict]:
        return [j for j in self.jobs if self._inside(j, windows)]

    def stages_in(self, windows) -> list[dict]:
        return [s for s in self.stages if self._inside(s, windows)]

    def summary(self, windows, per: float) -> dict[str, float]:
        """The ``spark.*`` layer metrics over ``windows``, divided by
        ``per`` (operations traced)."""
        jobs = self.jobs_in(windows)
        stages = self.stages_in(windows)
        agg = defaultdict(float)
        for s in stages:
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb"):
                agg[k] += s[k]
        exec_s = sum(
            j["completed"] - j["submitted"] for j in jobs if j["completed"] is not None
        )
        return {
            "spark.exec_s": exec_s / per,
            "spark.jobs": len(jobs) / per,
            "spark.stages": len(stages) / per,
            "spark.tasks": agg["tasks"] / per,
            "spark.task_run_s": agg["run_s"] / per,
            "spark.task_cpu_s": agg["cpu_s"] / per,
            "spark.gc_s": agg["gc_s"] / per,
            "spark.shuffle_read_mb": agg["shuffle_read_mb"] / per,
            "spark.shuffle_write_mb": agg["shuffle_write_mb"] / per,
            "spark.spill_mb": agg["spill_mb"] / per,
            "spark.cpu_ratio": agg["cpu_s"] / agg["run_s"] if agg["run_s"] else 0.0,
        }


def timed_plan(df) -> float:
    """Seconds spent in physical planning of ``df``
    (``queryExecution().executedPlan()``, a lazy value forced here)."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t0


def python_udf_seconds(spark) -> float:
    """Total time recorded by Spark's Python UDF perf profiler
    (``spark.sql.pyspark.udf.profiler=perf``) so far in this session."""
    collector = getattr(spark, "_profiler_collector", None)
    results = getattr(collector, "_perf_profile_results", None) or {}
    return sum(st.total_tt for st in results.values() if st is not None)
