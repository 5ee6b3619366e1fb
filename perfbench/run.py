"""Benchmark command: one workload, one seed, one fresh timed process.

    python3 perfbench/run.py --workload points --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The launcher generates the seeded inputs
first (not timed), then starts ``worker.py`` in a new process group,
samples the resident memory of that process tree until it exits, stops
whatever the tree left behind, and prints two JSON lines: the full record
(every iteration, host noise, fail_frac, spans summary), then the result
line with the metrics of ``BENCHMARK.json`` (end_to_end with ``--trace 0``,
per_layer with ``--trace 1``).  ``--smoke`` runs every workload on tiny
inputs in both modes and checks that every declared metric is printed
with its declared unit; it is the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import proctree  # noqa: E402

CHILD_TIMEOUT_S = 165
SAMPLE_EVERY_S = 0.25
SCAN_EVERY_S = 2.0


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ launch
def stop_group(pgid: int) -> None:
    """Terminate every process left in the group and wait until none is."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def launch(workload: str, inputs: dict, seconds: float, trace: int,
           tag: str) -> dict:
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    out = os.path.join(WORK, f"record-{tag}.json")
    measured = out + ".measured"  # the worker's end of the timed loop
    for stale in (out, measured):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.update({
        # local[nproc]; every other session default is the program's own
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": ROOT,  # the Python workers import the package too
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--inputs", json.dumps(inputs),
           "--work", WORK, "--seconds", str(seconds), "--trace", str(trace),
           "--out", out]
    log = open(os.path.join(WORK, f"worker-{tag}.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd + ["--launched", repr(launched)], cwd=ROOT, env=env,
                            stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    peak, peak_at, roles, next_scan = {"total": 0}, 0.0, {}, 0.0
    try:
        while proc.poll() is None:
            # a full /proc scan finds new processes; between scans only the
            # known tree is read, which keeps the sampler's own CPU small
            if time.time() >= next_scan:
                roles = {pid: proctree.role(pid, proc.pid, comm)
                         for pid, (comm, _) in proctree.tree(proc.pid).items()}
                next_scan = time.time() + SCAN_EVERY_S
            rss = proctree.rss_bytes(roles)
            if rss["total"] > peak["total"] and not os.path.exists(measured):
                peak, peak_at = rss, time.time() - launched
            if time.time() - launched > CHILD_TIMEOUT_S:
                raise TimeoutError(f"{workload} ran past {CHILD_TIMEOUT_S} s")
            time.sleep(SAMPLE_EVERY_S)
    finally:
        stop_group(proc.pid)
        proc.wait()
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log.name) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    rec["peak_rss_mb"], rec["peak_rss_at_s"] = peak["total"] / 1e6, peak_at
    rec["peak_rss_by_role_mb"] = {k: v / 1e6 for k, v in peak.items() if k != "total"}
    return rec


# ----------------------------------------------------------------- metrics
def end_to_end(rec: dict) -> dict[str, float]:
    return {"setup_s": rec["setup_s"], "iter_s": rec["iter_s"], "cpu_s": rec["cpu_s"]}


def per_layer(rec: dict, leaves: list[str]) -> dict[str, float]:
    """Reduce the traced run's spans to the per_layer metrics: each is the
    median over traced iterations of that iteration's total."""
    spans = rec["spans"]
    own = {int(k): v for k, v in rec["self_s"].items()}
    its = rec["iterations"]
    traced = sorted({s["iter"] for s in spans if s["iter"] is not None})
    actions = ("exec", "store.write", "store.read")

    def dur(s):
        return s["end"] - s["start"]

    def per_iter(fn, names, leaf=None):
        vals = []
        for i in traced:
            vals.append(sum(fn(s) for s in spans if s["iter"] == i
                            and s["name"] in names
                            and (leaf is None or s.get("leaf") == leaf)))
        return statistics.median(vals) if vals else 0.0

    def stat(key):
        return lambda s: s.get("spark", {}).get(key, 0)

    def phase(key):
        return lambda s: s.get("phases", {}).get(key, 0.0)

    def first(name):
        return next((dur(s) for s in spans if s["name"] == name), 0.0)

    m = {"session.start_s": first("session.start"),
         "queries.import_s": first("queries.import"),
         "build.s": per_iter(dur, ("build",))}
    for k in ("jobs", "stages", "tasks"):
        m[f"build.{k}"] = per_iter(stat(k), ("build",))
    for k in ("analysis", "optimization", "planning"):
        m[f"plan.{k}_ms"] = per_iter(phase(k), ("plan",))
    m["plan.kb"] = per_iter(lambda s: s.get("plan_kb", 0.0), actions)
    m["exec.s"] = per_iter(dur, actions)
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "jvm_gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = per_iter(stat(k), actions)
    m["exec.max_task_s"] = max((s.get("spark", {}).get("max_task_s", 0.0)
                                for s in spans if s["iter"] is not None
                                and s["name"] in actions), default=0.0)
    for k in ("rows", "mb_to_py", "mb_from_py", "eval_ms"):
        m[f"udf.{k}"] = per_iter(lambda s, k=k: s.get("udf", {}).get(k, 0.0),
                                 ("build",) + actions)
    m["udf.worker_cpu_s"] = statistics.median(
        it["cpu_by_role_s"]["pyworkers"] for it in its)
    for k in ("cellkey_ns_pt", "cellid_ns_pt"):
        m[f"kernel.{k}"] = rec["kernel"].get(k, 0.0)
    m["store.write_s"] = per_iter(dur, ("store.write",))
    m["store.read_s"] = per_iter(dur, ("store.read",))
    m["store.files"] = per_iter(lambda s: s.get("files", 0), ("store.write",))
    m["store.mb"] = per_iter(lambda s: s.get("mb", 0.0), ("store.write",))
    for k in ("steal_pct", "psi_cpu_pct", "psi_io_pct"):
        m[f"host.{k}"] = statistics.median(it[k] for it in its)
    for name in ("setup", "iteration", "build", "plan", "exec", "store.write",
                 "store.read", "check"):
        if name == "setup":
            m["setup.self_s"] = sum(own[s["id"]] for s in spans if s["name"] == name)
        else:
            m[f"{name}.self_s"] = per_iter(lambda s: own[s["id"]], (name,))
    walls = {flag: [it["wall_s"] for it in its if it["traced"] == flag]
             for flag in (True, False)}
    m["trace.overhead_s"] = (statistics.median(walls[True]) - statistics.median(walls[False])
                             if walls[True] and walls[False] else 0.0)
    m["check.fail_frac"] = rec["failed"] / max(rec["attempted"], 1)
    m["mem.peak_rss_mb"] = rec["peak_rss_mb"]
    for role, mb in rec["peak_rss_by_role_mb"].items():
        m[f"mem.{role}_mb"] = mb
    for leaf in leaves:
        m[f"build.s.{leaf}"] = per_iter(dur, ("build",), leaf)
        m[f"build.jobs.{leaf}"] = per_iter(stat("jobs"), ("build",), leaf)
        m[f"plan.planning_ms.{leaf}"] = per_iter(phase("planning"), ("plan",), leaf)
        m[f"exec.s.{leaf}"] = per_iter(dur, ("exec",), leaf)
        m[f"exec.shuffle_write_mb.{leaf}"] = per_iter(stat("shuffle_write_mb"),
                                                      ("exec",), leaf)
    return m


# -------------------------------------------------------------------- run
def run(workload: str, seed: int, seconds: float, trace: int,
        smoke: bool = False) -> tuple[dict, dict]:
    from workloads import LEAVES, WORKLOADS, prepare

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {sorted(WORKLOADS)}")
    inputs = prepare(workload, seed, smoke, WORK)
    tag = f"{workload}-s{seed}-t{trace}"
    rec = launch(workload, inputs, seconds, trace, tag)
    if trace:
        with open(os.path.join(WORK, f"spans-{tag}.json"), "w") as f:
            json.dump(rec["spans"], f)
        values = per_layer(rec, LEAVES)
        declared = spec()["per_layer"]
    else:
        values = end_to_end(rec)
        declared = spec()["end_to_end"]
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
               for d in declared if d["name"] in values}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "fail_frac": {"value": rec["failed"] / max(rec["attempted"], 1), "unit": "ratio"},
        "samples": sum(1 for it in rec["iterations"] if not it["traced"]),
        "iterations": rec["iterations"],
        "errors": rec["errors"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "peak_rss_at_s": rec["peak_rss_at_s"],
        "peak_rss_by_role_mb": rec["peak_rss_by_role_mb"],
        "setup_s": rec["setup_s"],
        "values": values,
    }
    result = {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
              "failed": rec["failed"], "metrics": metrics}
    return detail, result


def smoke() -> int:
    """Every workload on tiny inputs, untraced and traced: the run must
    measure exactly the declared metrics, print each with its declared unit
    and a finite value, and pass every output check."""
    s = spec()
    problems = []
    for w in s["workloads"]:
        for trace, declared in ((0, s["end_to_end"]), (1, s["per_layer"])):
            detail, result = run(w["name"], seed=1, seconds=1, trace=trace, smoke=True)
            tag = f"{w['name']} trace={trace}"
            names = {d["name"] for d in declared}
            for name in sorted(names ^ set(detail["values"])):
                problems.append(f"{tag}: {name} measured but not declared, or declared "
                                "but not measured")
            for d in declared:
                m = result["metrics"].get(d["name"], {})
                if m.get("unit") != d["unit"] or not math.isfinite(m.get("value", math.nan)):
                    problems.append(f"{tag}: {d['name']} printed as {m}")
            if not result["correct"]:
                problems.append(f"{tag}: failed checks {detail['errors']}")
            print(json.dumps({"smoke": w["name"], "trace": trace,
                              "correct": result["correct"],
                              "metrics": len(result["metrics"])}), flush=True)
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # a terminated launcher still stops the worker's process group (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    detail, result = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
