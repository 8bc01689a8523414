#!/usr/bin/env python3
"""Benchmark of the memory engine's product path.

    python3 perfbench/run.py --workload agent_turns --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One single-client, closed-loop
workload runs against the engine's public API (see workloads.py and
README.md); the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

The process pins its own session: ``local[nproc]``, nproc shuffle
partitions, a 1 GiB driver heap, PYTHONHASHSEED=0, a logical clock, and
every scratch file under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
PR_SET_CHILD_SUBREAPER = 36


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _layout_error() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, "grafeo_memory_spark")):
        return "the engine package grafeo_memory_spark/ is not in this checkout"
    for sf in ("sf0.001", "sf0.01"):
        if not os.path.isfile(os.path.join(ROOT, "fixtures", sf, "memories.parquet")):
            return f"fixtures/{sf} is not in this checkout"
    return None


def _start_spark(work: str):
    cores = len(os.sched_getaffinity(0))
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # no engine switch leaks in from the caller
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM, the launcher's included, leaves files outside the checkout
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # a fixed-size heap: the driver's resident size then depends on the
    # work done, not on when the JVM chose to grow the heap
    jvm_opts += f" -Xms{DRIVER_MEM}"
    from grafeo_memory_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it leaves when
    its stdin pipe from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _adopt_orphans() -> None:
    """Make this process the reaper of every process started under it,
    so that one whose parent ends first (a pyspark worker daemon when
    the JVM exits, the launcher's helper shell) is still waited for by
    _reap."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            with contextlib.suppress(OSError):
                with open(f"/proc/{name}/stat") as f:
                    # pid (comm) state ppid ...; comm may hold spaces
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(name))
    return out


def _reap(timeout: float = 60.0) -> None:
    """Wait until every process started under this one has ended; kill
    any still running after ``timeout`` seconds and wait for it too."""
    from multiprocessing import resource_tracker

    # the process pool's resource tracker leaves when its pipe closes
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _attempt(wl, i: int, warm: bool = False) -> tuple[int, bool]:
    """Run round i; returns (failed ops, checks passed). An engine call
    that raises fails the rest of its round; an error raised after the
    round's last call came from a check, and fails the checks."""
    from checks import CheckFailed

    before = len(wl.ops)
    try:
        wl.round(i, warm)
    except CheckFailed as exc:
        print(f"round {i}: check failed: {exc}", file=sys.stderr)
        return 0, False
    except Exception:
        traceback.print_exc()
        done = len(wl.ops) - before
        return wl.ops_per_round - done, done < wl.ops_per_round
    return 0, True


def main() -> int:
    args = _parse()
    err = _layout_error()
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    t0 = time.perf_counter()
    _adopt_orphans()
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = oracle = None
    try:
        import report
        from spans import Tracer, layer_patches

        spark = _start_spark(work)
        # set-up counts the session start and the warm-up round's engine
        # calls, not the fixture copy and oracles the benchmark prepares
        ready_s = time.perf_counter() - t0
        oracle = ProcessPoolExecutor(1, mp_context=get_context("spawn"))
        tracer = Tracer(spark, counting=bool(args.trace))
        with layer_patches(tracer) if args.trace else contextlib.nullcontext():
            wl = WORKLOADS[args.workload](spark, tracer, oracle, args.seed, ROOT, work)
            _, correct = _attempt(wl, 0, warm=True)
            failed = 0
            warm_ops, warm_spans = len(wl.ops), len(tracer.spans)
            rounds = 0
            start = time.perf_counter()
            while time.perf_counter() - start < args.seconds:
                rounds += 1
                f, ok = _attempt(wl, rounds)
                failed += f
                correct = correct and ok
        if wl.peak_mb is None:  # no timed round got to its end
            wl.mark_peak()
        for n, (kind, dt) in enumerate(wl.ops):
            tag = "warm-up" if n < warm_ops else "timed"
            print(f"{tag} {kind} {dt * 1e3:.1f} ms", file=sys.stderr)
        if args.trace:
            metrics = report.per_layer(wl, tracer, warm_ops, warm_spans)
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = report.end_to_end(wl, ready_s, warm_ops)
        result = {
            "correct": correct,
            "attempted": rounds * wl.ops_per_round,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        try:
            if oracle is not None:
                oracle.shutdown(wait=True)
            if spark is not None:
                _stop(spark)
        finally:
            _reap()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
