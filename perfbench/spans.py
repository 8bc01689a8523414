"""Spans and Spark counters, recorded from the benchmark's own files.

Every operation the benchmark times is a span (name, start, end,
parent). Without counting, a span costs two ``perf_counter`` reads; that
is all the end-to-end run does. With counting (the traced run) each span
also:

- runs its Spark jobs under a job group of its own, and on exit reads
  the group's jobs, stages and completed tasks from ``statusTracker``;
- snapshots JVM GC time (GC MXBeans), JVM CPU time (``/proc/<pid>/stat``
  of the driver JVM), driver Python CPU time, and Janino compile count
  and time (``CodegenMetrics``, ``CodeGenerator.compileTime``).

``layer_patches`` wraps the engine's layer functions in spans by
rebinding the names its callers look up; nothing in the engine changes.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark, counting: bool):
        self.counting = counting
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        if counting:
            jvm = self._sc._jvm
            self._status = self._sc.statusTracker()
            self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            mf = jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
            self._jvm_stat = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/stat"

    def _counters(self) -> dict:
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return {
            "gc_ms": sum(b.getCollectionTime() for b in self._gc_beans),
            "jvm_cpu_s": (int(fields[11]) + int(fields[12])) / _CLK,
            "python_cpu_s": time.process_time(),
            "codegen_n": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "codegen_ms": self._cg.compileTime() / 1e6,
        }

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None, "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.counting:
            sp["group"] = f"perfbench-{sp['id']}"
            self._set_group(sp)
            sp["c0"] = self._counters()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.counting:
                sp["c1"] = self._counters()
                self._jobs(sp)
                self._set_group(parent)

    def _jobs(self, sp: dict) -> None:
        jobs = tasks = 0
        for jid in self._status.getJobIdsForGroup(sp["group"]):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self._status.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        sp["own_jobs"], sp["own_tasks"] = jobs, tasks

    # ---------------------------------------------------------- queries
    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def total(self, sp: dict, key: str) -> int:
        """A span's own job/task count plus all of its descendants'."""
        return sp.get(key, 0) + sum(self.total(c, key) for c in self.children(sp))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration_ms(sp: dict) -> float:
    return (sp["end"] - sp["start"]) * 1e3


def counter_delta(sp: dict, key: str) -> float:
    return sp["c1"][key] - sp["c0"][key]


#: (module, attribute) -> span name. The attribute is rebound where the
#: engine looks it up at call time: module globals that the manager
#: imported by name are patched on the manager, call-time imports on
#: their home module.
LAYER_FUNCTIONS = {
    ("grafeo_memory_spark.manager", "load_store"): "store.load_store",
    ("grafeo_memory_spark.store", "load_store"): "store.load_store",
    ("grafeo_memory_spark.store", "save_store"): "store.save_store",
    ("grafeo_memory_spark.manager", "execute_decisions"): "lifecycle.execute_decisions",
    ("grafeo_memory_spark.manager", "search_pipeline"): "plans.search_pipeline.build",
    ("grafeo_memory_spark.functions.vector", "mmr_select"): "functions.vector.mmr_select",
    ("grafeo_memory_spark.graph.metrics", "compute_metrics"): "graph.metrics.compute_metrics",
    ("grafeo_memory_spark.graph.metrics", "apply_metrics"): "graph.metrics.apply_metrics",
    ("grafeo_memory_spark.graph.algorithms", "louvain"): "graph.algorithms.louvain",
    ("grafeo_memory_spark.communities", "materialize_communities"): "communities.materialize_communities",
}


@contextlib.contextmanager
def layer_patches(tracer: Tracer):
    """Wrap every LAYER_FUNCTIONS entry in a span; restore on exit."""
    saved = []
    try:
        for (mod_name, attr), span_name in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def wrapped(*a, __fn=fn, __name=span_name, **kw):
                with tracer.span(__name):
                    return __fn(*a, **kw)

            setattr(mod, attr, functools.wraps(fn)(wrapped))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
