"""The timed process: one workload, one fresh JVM, a closed loop of one client.

Started by ``run.py`` after the inputs exist.  It imports the program,
starts the session, runs the workload's untimed warm-up and checks, then
repeats the workload's unit of work until ``--seconds`` have passed, and
writes one JSON record to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import proctree  # noqa: E402
from spans import Tracer  # noqa: E402


def host_counters() -> tuple[int, int, int]:
    from bench import read_psi_total, read_steal_jiffies

    return read_steal_jiffies(), read_psi_total("cpu"), read_psi_total("io")


def host_noise(before, after, dt: float) -> dict[str, float]:
    """Steal % of all CPUs and PSI 'some' stall % for cpu and io over dt."""
    ncpu = os.cpu_count() or 1
    return {
        "steal_pct": (after[0] - before[0]) / (dt * ncpu * proctree.CLK_TCK) * 100,
        "psi_cpu_pct": (after[1] - before[1]) / (dt * 1e6) * 100,
        "psi_io_pct": (after[2] - before[2]) / (dt * 1e6) * 100,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="JSON from workloads.prepare")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True,
                    help="wall time at which the launcher started this process")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    tracer = Tracer(enabled=bool(a.trace))
    with tracer.span("session.start"):
        from dggstools_spark.session import get_spark
        spark = get_spark("perfbench")
    tracer.attach(spark)

    from workloads import WORKLOADS, Ops

    ops = Ops()
    wl = WORKLOADS[a.workload](spark, json.loads(a.inputs), tracer, ops, a.work)
    with tracer.span("setup"):
        wl.setup()
        for _ in range(wl.WARMUP):
            for _, step in wl.steps():
                step()
    setup_s = time.time() - a.launched

    me = os.getpid()
    iterations = []
    deadline = time.perf_counter() + a.seconds
    while True:
        i = len(iterations)
        # a traced run traces iterations in an untraced-traced-traced-
        # untraced pattern: the untraced ones give the tracing overhead from
        # the same process, balanced against the JVM's warm-up trend
        tracer.enabled = bool(a.trace) and i % 4 in (1, 2)
        tracer.iteration = i
        it = {"i": i, "traced": tracer.enabled, "wall_s": 0.0, "cpu_s": 0.0,
              "cpu_by_role_s": {}, "steps_s": {}}
        h0, r0 = host_counters(), time.perf_counter()
        for name, step in wl.steps():
            c0 = proctree.cpu_seconds(me)
            t0 = time.perf_counter()
            with tracer.span("iteration"):
                step()
            dt = time.perf_counter() - t0
            c1 = proctree.cpu_seconds(me)
            it["steps_s"][name] = dt
            it["wall_s"] += dt
            it["cpu_s"] += c1["total"] - c0["total"]
            for k in ("driver", "jvm", "pyworkers"):
                it["cpu_by_role_s"][k] = it["cpu_by_role_s"].get(k, 0.0) + c1[k] - c0[k]
        it.update(host_noise(h0, host_counters(), time.perf_counter() - r0))
        iterations.append(it)
        if (time.perf_counter() >= deadline
                and len(iterations) >= max(wl.MIN_TIMED, 4 if a.trace else 1)):
            break
    # the launcher's memory peak covers the run up to here, not shutdown
    open(a.out + ".measured", "w").close()
    tracer.enabled = bool(a.trace)
    tracer.iteration = None
    kernel = {}
    if a.trace:
        with tracer.span("kernel"):
            kernel = wl.kernel_probe()
    spark.stop()

    untraced = [it for it in iterations if not it["traced"]] or iterations
    record = {
        "workload": a.workload,
        "setup_s": setup_s,
        "iter_s": statistics.median(it["wall_s"] for it in untraced),
        "cpu_s": statistics.median(it["cpu_s"] for it in untraced),
        "iterations": iterations,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "errors": ops.errors[:20],
        "kernel": kernel,
        "spans": tracer.spans,
        "self_s": tracer.self_times(),
    }
    with open(a.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
