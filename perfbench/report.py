"""Turn recorded operations and spans into the metrics the run prints.

End-to-end metrics describe every timed engine call of the run, so the
same names apply to both workloads. Per-layer metrics come from the
traced run's spans; a layer a workload never calls reads 0 there.
"""

from __future__ import annotations

import resource
import statistics

from spans import counter_delta, duration_ms

SHAPES = ("plain", "anchored", "diverse")
LOOPS = ("pagerank", "label_propagation", "betweenness_centrality",
         "connected_components")
#: op span name -> short kind used in the per-op-kind resource metrics
OP_KINDS = {
    "manager.open": "open",
    "manager.add": "add",
    "manager.search": "search",
    "store.save": "save",
    "manager.refresh_metrics": "refresh",
    "manager.detect_communities": "communities",
    **{f"graph.algorithms.{name}": "loops" for name in LOOPS},
}


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def end_to_end(wl, ready_s: float, warm_ops: int) -> dict:
    timed = [dt for _, dt in wl.ops[warm_ops:]]
    out = {
        # session start + the warm-up round's engine calls
        "setup_s": _m(ready_s + sum(dt for _, dt in wl.ops[:warm_ops]), "s"),
        "peak_rss_mb": _m(wl.peak_mb, "MiB"),
    }
    if timed:  # else every timed call failed, and the counts say so
        out["ops_per_s"] = _m(len(timed) / sum(timed), "1/s")
        # every call weighs the same, whatever its length; a median
        # over calls of different kinds jumps between kinds
        out["op_geomean_ms"] = _m(statistics.geometric_mean(timed) * 1e3, "ms")
    return out


def per_layer(wl, tracer, warm_ops: int, warm_spans: int) -> dict:
    spans = tracer.spans[warm_spans:]
    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)

    def ms(name):
        return [duration_ms(s) for s in by_name.get(name, [])]

    def per_op(name, key):
        return _mean(tracer.total(s, key) for s in by_name.get(name, []))

    def codegen(name, key):
        return _mean(counter_delta(s, key) for s in by_name.get(name, []))

    stats = wl.round_stats  # the warm-up round records none
    out = {}
    for op in ("manager.add", "manager.search"):
        out[f"{op}.p50_ms"] = _m(_median(ms(op)), "ms")
        out[f"{op}.spark_jobs"] = _m(per_op(op, "own_jobs"), "count")
        out[f"{op}.spark_tasks"] = _m(per_op(op, "own_tasks"), "count")
        out[f"{op}.codegen_compiles"] = _m(codegen(op, "codegen_n"), "count")
    out["manager.add.growth"] = _m(_median(s["growth"] for s in stats
                                           if "growth" in s), "ratio")
    out["manager.search.codegen_ms"] = _m(codegen("manager.search", "codegen_ms"), "ms")
    out["lifecycle.execute_decisions_ms"] = _m(
        _mean(ms("lifecycle.execute_decisions")), "ms")
    out["store.memories_plan_nodes"] = _m(
        _median(s["plan_nodes"] for s in stats if "plan_nodes" in s), "count")
    out["store.save.p50_ms"] = _m(_median(ms("store.save")), "ms")
    out["store.save_bytes"] = _m(
        _median(s["save_bytes"] for s in stats if "save_bytes" in s), "bytes")
    out["store.load_ms"] = _m(_median(ms("store.load_store")), "ms")

    # search shapes: build = search_pipeline call, exec = the rest of the
    # search op (the collect, and MMR's own collects for diverse)
    for shape in SHAPES:
        build, exe = [], []
        for sp in by_name.get("manager.search", []):
            if sp["attrs"].get("shape") != shape:
                continue
            b = sum(duration_ms(c) for c in tracer.children(sp)
                    if c["name"] == "plans.search_pipeline.build")
            build.append(b)
            exe.append(duration_ms(sp) - b)
        out[f"plans.search_pipeline.{shape}.build_ms"] = _m(_median(build), "ms")
        out[f"plans.search_pipeline.{shape}.exec_ms"] = _m(_median(exe), "ms")
    out["functions.vector.mmr_select_ms"] = _m(
        _median(ms("functions.vector.mmr_select")), "ms")

    out["manager.refresh_metrics.p50_ms"] = _m(
        _median(ms("manager.refresh_metrics")), "ms")
    out["graph.metrics.compute_ms"] = _m(
        _median(ms("graph.metrics.compute_metrics")), "ms")
    apply = [a + b for a, b in zip(ms("graph.metrics.apply_metrics"),
                                   ms("graph.metrics.apply.collect"))]
    out["graph.metrics.apply_ms"] = _m(_median(apply), "ms")
    out["manager.detect_communities.p50_ms"] = _m(
        _median(ms("manager.detect_communities")), "ms")
    out["graph.algorithms.louvain.exec_ms"] = _m(
        _median(ms("graph.algorithms.louvain")), "ms")
    out["communities.materialize_ms"] = _m(
        _median(ms("communities.materialize_communities")), "ms")
    loop_rounds = [sum(x) for x in zip(*(ms(f"graph.algorithms.{n}") for n in LOOPS))]
    out["graph.algorithms.loops.p50_ms"] = _m(_median(loop_rounds), "ms")
    for name in LOOPS:
        base = f"graph.algorithms.{name}"
        out[f"{base}.build_ms"] = _m(_median(ms(f"{base}.build")), "ms")
        out[f"{base}.exec_ms"] = _m(_median(ms(f"{base}.exec")), "ms")
        out[f"{base}.spark_jobs"] = _m(per_op(base, "own_jobs"), "count")

    # JVM work vs Python driver work, per op of each kind
    kinds = sorted(set(OP_KINDS.values()))
    for kind in kinds:
        ops = [s for s in spans if OP_KINDS.get(s["name"]) == kind]
        out[f"spark.gc_ms.{kind}"] = _m(_mean(counter_delta(s, "gc_ms") for s in ops), "ms")
        out[f"spark.jvm_cpu_s.{kind}"] = _m(_mean(counter_delta(s, "jvm_cpu_s") for s in ops), "s")
        out[f"driver.python_cpu_s.{kind}"] = _m(
            _mean(counter_delta(s, "python_cpu_s") for s in ops), "s")
    return out
