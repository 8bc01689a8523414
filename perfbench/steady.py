#!/usr/bin/env python3
"""Steadiness of the benchmark: run every workload repeatedly, with a
new seed each time, alternating the workload order, and print the
median, quartiles and relative spreads of every end-to-end metric.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --runs 3 --overhead    # tracing overhead

Run from the root of a checkout. ``--sets 2`` repeats the whole
procedure with fresh seeds and reports, per metric, how far the second
median moved from the first; the bounds in BENCHMARK.json are set from
these figures. ``--overhead`` pairs an untraced and a traced run of the
same seed and reports how much longer the traced run's timed engine
calls took.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list]:
    """One benchmark process; returns (result JSON, [(timed op, ms)])."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    ops = [(line.split()[1], float(line.split()[2]))
           for line in p.stderr.splitlines() if line.startswith("timed ")]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res, ops


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med,
            "range_share": (max(values) - min(values)) / med}


def one_set(workloads, runs, seconds, seed0) -> dict:
    values: dict = {w: {} for w in workloads}
    failed_share: dict = {w: set() for w in workloads}
    walls: dict = {w: [] for w in workloads}
    for r in range(runs):
        order = workloads if r % 2 == 0 else workloads[::-1]
        for w in order:
            res, _ = run_once(w, seed0 + r, seconds, 0)
            if not res["correct"]:
                raise SystemExit(f"{w} seed {seed0 + r}: a check failed")
            failed_share[w].add(res["failed"] / res["attempted"])
            for name, m in res["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
            walls[w].append(res["wall_s"])
            print(f"  {w} seed {seed0 + r} ({res['wall_s']:.0f} s): " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                file=sys.stderr, flush=True)
    return {w: {"failed_share": sorted(failed_share[w]),
                "wall_s": walls[w],
                "metrics": {k: {"values": v, **spread(v)}
                            for k, v in values[w].items()}}
            for w in workloads}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    if args.overhead:
        for w in workloads:
            ratios = []
            for r in range(args.runs):
                _, plain = run_once(w, args.seed0 + r, seconds, 0)
                _, traced = run_once(w, args.seed0 + r, seconds, 1)
                ratios.append(sum(ms for _, ms in traced)
                              / sum(ms for _, ms in plain) - 1)
            print(f"{w}: tracing adds {statistics.median(ratios):+.1%} to the timed "
                  f"engine calls (median of {len(ratios)} pairs)")
    else:
        sets = [one_set(workloads, args.runs, seconds,
                        args.seed0 + 1000 * k) for k in range(args.sets)]
        for w in workloads:
            walls = [x for s in sets for x in s[w]["wall_s"]]
            print(f"\n{w}  (failed share per set: "
                  f"{[s[w]['failed_share'] for s in sets]}; "
                  f"mean process wall {statistics.fmean(walls):.1f} s)")
            print(f"  {'metric':<14}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}"
                  f"{'iqr/med':>9}{'range/med':>10}{'bound':>7}")
            for name in sets[0][w]["metrics"]:
                for k, s in enumerate(sets):
                    m = s[w]["metrics"][name]
                    print(f"  {name:<14}{k + 1:>4}{m['median']:>12.5g}{m['q1']:>12.5g}"
                          f"{m['q3']:>12.5g}{m['iqr_share']:>9.3f}"
                          f"{m['range_share']:>10.3f}{bounds.get(name, 0):>7}")
                if len(sets) > 1:
                    a = sets[0][w]["metrics"][name]["median"]
                    b = sets[1][w]["metrics"][name]["median"]
                    print(f"  {name:<14} median moved {(b - a) / a:+.3f} from set 1 to set 2")
    return 0


if __name__ == "__main__":
    sys.exit(main())
