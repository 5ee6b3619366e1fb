"""Benchmark entry point (driver-run per round).

Runs the registry queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on get_spark's local[N] session, plus the flagship spatial-join + tile-assignment
throughput job over N synthesized interleaved docs (BASELINE.json metric:
docs/sec).  Prints ONE JSON line.

Flags:
  --flagship-only   run only the throughput job (used by scripts/scaling.py
                    to measure local[8] vs local[32] scaling efficiency)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


BENCH_DOCS_PATH = "/tmp/dggs_bench_docs.parquet"


# --------------------------------------------------------------------------
# quiet-window gate (shared with scripts/scaling.py): this sandbox suffers
# minutes-long CPU-steal episodes; a calibrated single-thread numpy burn
# detects contention so timed runs only launch inside a quiet window —
# best-of-N alone left 2.1-15.9 s swings within one JVM (BENCH_r02).
# --------------------------------------------------------------------------

def burn_once() -> float:
    import numpy as np

    x = np.linspace(0.0, 1.0, 200_000)
    t0 = time.time()
    for _ in range(30):
        y = np.sin(x) * np.log1p(np.abs(x))
        y.sum()
    return time.time() - t0


def _burn_child(_):
    return burn_once()


def parallel_burn(n_workers: int = 8) -> float:
    """Wall time of ``n_workers`` concurrent burns.  A single-thread burn
    misses MULTI-core steal (measured: flagship runs swung 1.8-14.3 s while
    1-thread burns stayed flat at ~0.09 s); when the host under-delivers
    cores, the parallel wall time inflates even though each thread alone
    looks quiet."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.get_context("fork").Pool(n_workers) as pool:
        pool.map(_burn_child, range(n_workers))
    return time.time() - t0


def read_psi_total(resource: str) -> int:
    """Cumulative stall time (microseconds) from /proc/pressure/{cpu,io}
    ("some" line, total= field).  Steal jiffies alone missed one 11.8 s
    flagship run that carried only 0.8% steal (TODO_r5 #6) — host IO
    contention doesn't show up as steal.  PSI is recorded for ATTRIBUTION,
    not gating: identical-work runs generate their own cpu/io pressure
    (local[32] oversubscribes this ~16-real-core VM by design), so an
    absolute psi threshold would flag every healthy run.  The retry rule
    therefore stays steal-based; psi contamination is read CROSS-RUN — a
    run whose psi_io_pct is a multiple of the min across the best-of-N
    identical runs was hit by a host episode (the work is the same, so the
    pressure should be too)."""
    try:
        with open(f"/proc/pressure/{resource}") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except Exception:
        pass
    return 0


def read_steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies from /proc/stat (column 8) — this VM's
    host steals in minutes-long episodes (cumulative steal observed in the
    tens of thousands of seconds), and episodes can BEGIN mid-run where no
    pre-run gate can catch them.  Sampling before/after each timed run makes
    stolen runs self-identifying in the JSON."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except Exception:
        return 0


_BURN_BEST: list[float] = []


def wait_for_quiet(max_wait_s: int = 120, tol: float = 1.3) -> float:
    """Block until a PARALLEL calibration burn runs within ``tol`` of the
    best parallel burn observed this process; returns the last burn wall
    time (so callers can record residual contention).  Falls through after
    ``max_wait_s`` — a measurement under contention is still recorded, just
    flagged by its burn time."""
    if not _BURN_BEST:
        _BURN_BEST.append(min(parallel_burn() for _ in range(2)))
    deadline = time.time() + max_wait_s
    t = parallel_burn()
    while True:
        _BURN_BEST[0] = min(_BURN_BEST[0], t)
        if t < _BURN_BEST[0] * tol or time.time() > deadline:
            return t
        time.sleep(2.0)
        t = parallel_burn()


def codegen_totals(spark) -> "tuple[int, float]":
    """(classes janino compiled, their summed compile ms) in this JVM so
    far, from Spark's CodegenMetrics ``compilationTime`` histogram.  Read
    on the driver: no Spark job runs.  The histogram's reservoir keeps
    every sample until 1028 compiles, so the ms sum is exact up to there
    and a sample beyond."""
    h = (spark.sparkContext._jvm.org.apache.spark.metrics.source
         .CodegenMetrics.METRIC_COMPILATION_TIME())
    return int(h.getCount()), float(sum(h.getSnapshot().getValues()))


def materialize_docs(spark, n_docs: int) -> str:
    """Write the interleaved doc table once (the benchmark's stand-in for the
    10^12-doc Iceberg table); reused across runs with the same size."""
    import os

    marker = f"{BENCH_DOCS_PATH}/_n_{n_docs}_p128"
    if not os.path.exists(marker):
        from dggstools_spark.sources.synth import interleaved_docs

        # 128 input splits: several task waves at every parallelism level, so
        # scheduling overhead amortizes and stragglers don't serialize a wave
        interleaved_docs(spark, n_docs, partitions=128).write.mode("overwrite").parquet(BENCH_DOCS_PATH)
        open(marker, "w").write("ok")
    return BENCH_DOCS_PATH


def flagship(spark, n_docs: int) -> float:
    """Spatial-join + tile-assignment throughput; returns seconds.

    parquet scan -> Arrow pandas-UDF cell encode (res 8, packed int64 keys)
    -> tile key (res 4, integer arithmetic) -> per-tile aggregation with the
    span payload carried through.  The groupBy key is the cell prefix, the
    unit of partitioning/skew handling at cluster scale."""
    from pyspark.sql import functions as F

    from dggstools_spark.functions.encode import cellkey_from_lonlat_udf, tile_key_expr

    path = materialize_docs(spark, n_docs)
    docs = spark.read.parquet(path)
    enc = cellkey_from_lonlat_udf(8)
    # Scale-critical plan choices (see BENCH.md / SCALE.md):
    # 1. project narrow BEFORE the pandas UDF: every column alive across an
    #    ArrowEvalPython node rides its JVM row queue, so the nested spans
    #    payload is reduced to size(spans) first (5-10x on this job);
    # 2. exact per-tile distinct via two-level agg (tile,cell)->(tile):
    #    map-side partial aggs keep the shuffle at ~#cells rows, ~3x cheaper
    #    than countDistinct's expand;
    # 3. packed int64 cell keys instead of UTF8 cellid strings through the
    #    shuffle: 8-byte fixed-width keys, no Python string objects in the
    #    Arrow batches, no UTF8String copies in the hash aggregate
    #    (measured 4-5x on this job; display form is recoverable via
    #    dggs.cells.cellkey_to_cellid).
    narrow = docs.select("doc_id", "lon", "lat", F.size("spans").alias("n_spans"))

    def plan(src):
        return (
            src.withColumn("ck", enc("lon", "lat"))
            .withColumn("tile", tile_key_expr("ck", 8, 4))
            .groupBy("tile", "ck")
            .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
            .groupBy("tile")
            .agg(
                F.sum("n").alias("n_docs"),
                F.sum("s").alias("n_spans"),
                F.count("*").alias("n_cells"),
            )
        )

    # JIT warm-up: FULL-SIZE untimed runs — limit() slices warm the codegen
    # classes but not the full shuffle/agg paths, and steady state measured
    # ~4-6 full runs in (first full runs 20-28 s vs steady 1.9-4 s).  Two
    # full warm-ups put even the first timed run near steady state.
    if not getattr(flagship, "_warmed", False):
        plan(narrow.limit(500_000)).write.format("noop").mode("overwrite").save()
        for _ in range(2):
            plan(narrow).write.format("noop").mode("overwrite").save()
        flagship._warmed = True

    t0 = time.time()
    plan(narrow).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
    flagship_only = "--flagship-only" in sys.argv

    from dggstools_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    # warm the JVM + Python workers so per-query times reflect steady state
    # (incl. one Arrow pandas-UDF round trip — the first UDF query otherwise
    # pays worker spin-up: measured ~5 s on trivial data)
    from dggstools_spark.functions.encode import cellid_from_lonlat_udf
    from dggstools_spark.sources.synth import interleaved_docs
    warm = interleaved_docs(spark, 10000)
    warm.withColumn("c", cellid_from_lonlat_udf(4)("lon", "lat")).count()

    result: dict = {"sf": sf_dir.rstrip("/").split("sf")[-1], "cpus": cpus}

    queries = {}
    query_steal = {}
    query_retried = {}  # name -> first (stolen) attempt's timing, for
    # cross-round comparison: a retried entry's recorded time is the
    # second (JVM-warmer) attempt, systematically faster than
    # single-attempt peers (ADVICE r4) — keep the discarded first timing
    # so round-over-round deltas on retried rows are interpretable
    query_psi = {}
    query_psi_cpu = {}  # psi_cpu catches the sub-steal contention that
    # swung flagship runs 3->22% psi at steal 0.0 (VERDICT r5 #1)
    query_runs = {}  # heavy rows (>=3 s): all best-of-3 runs with their
    # own steal/psi stamps, so a committed artifact can attribute its own
    # variance (VERDICT r5 #1)

    # The flagship (the headline docs/sec metric) runs BEFORE the query
    # sweep: measured r5, running it after the 59-query sweep depressed
    # best-of-5 to 1.09-1.19 s in three separate clean sessions while a
    # fresh-JVM flagship-only run measured 0.868-0.883 s (steal 0) — the
    # sweep leaves JVM state (JIT profile pollution, heap/GC pressure)
    # that a long-running production job dedicated to this pipeline would
    # not carry.  The sweep, conversely, is insensitive to flagship
    # warm-up order (each query is single-run and shape-cold either way).
    #
    # best-of-N: the first run pays JVM JIT + Python worker spin-up, and
    # this sandbox has noisy neighbors — the best run approximates
    # uncontended steady state (what projects to a long-running cluster
    # job)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    runs, burns, steals, psis_cpu, psis_io = [], [], [], [], []

    def one_flagship_run():
        burns.append(round(wait_for_quiet(), 3))  # steal-filter the start
        s0, t0 = read_steal_jiffies(), time.time()
        pc0, pi0 = read_psi_total("cpu"), read_psi_total("io")
        runs.append(flagship(spark, n_docs))
        dt = time.time() - t0
        # % of this run's wall-clock CPU budget stolen by the host
        # (jiffies at 100 Hz across all host vCPUs)
        host_cpus = os.cpu_count() or 32
        steals.append(round(
            (read_steal_jiffies() - s0) / (dt * host_cpus * 100) * 100, 1))
        # PSI stall % of wall (see read_psi_total: attribution, not gating
        # — identical runs should show identical pressure, so an outlier
        # vs the min across runs marks a host episode steal can miss)
        psis_cpu.append(round((read_psi_total("cpu") - pc0) / (dt * 1e6) * 100, 1))
        psis_io.append(round((read_psi_total("io") - pi0) / (dt * 1e6) * 100, 1))

    # classes compiled over the flagship runs, the first call's untimed
    # warm-ups included: with the codegen cache sized to the working set
    # (CLAUDE.md constraint 24) the runs after the first add nothing
    compiles0, compile_ms0 = codegen_totals(spark)
    for _ in range(n_runs):
        one_flagship_run()
    # bounded clean-run seeking (TODO_r4 item 6): if EVERY counted run was
    # visibly stolen (steal >= 1%), the best-of-N is a lower bound on a
    # contended machine, not the steady state — retry up to n_runs extra
    # times until one clean run lands; min over all runs stays conservative
    # (steal only ever slows a run down)
    extra = 0
    while min(steals) >= 1.0 and extra < n_runs:
        one_flagship_run()
        extra += 1
    compiles1, compile_ms1 = codegen_totals(spark)
    result["codegen_compiles"] = compiles1 - compiles0
    result["codegen_compile_ms"] = round(compile_ms1 - compile_ms0, 1)
    t_flag = min(runs)
    queries["flagship_tile_assignment"] = round(t_flag, 3)
    result["flagship_cold_sec"] = round(runs[0], 3)
    result["flagship_runs"] = [round(t, 3) for t in runs]
    result["burn_sec"] = burns  # ~best burn on every run = quiet window held
    result["steal_pct"] = steals  # >0 marks runs hit by a mid-run episode
    result["psi_cpu_pct"] = psis_cpu  # per-run PSI stall % (attribution —
    result["psi_io_pct"] = psis_io  # read vs min across runs, not absolute)

    if not flagship_only:
        from dggstools_spark.queries import QUERIES

        wait_for_quiet()  # one gate for the whole single-run query sweep
        for name, fn in QUERIES.items():
            # steal arrives MID-SWEEP where the single entry gate can't see
            # it (CLAUDE.md constraint 11) — r3's sub-second "regressions"
            # (auid_roundtrip +50%, token_stats +36%) were unattributable
            # because per-query steal wasn't recorded.  Sample jiffies
            # around each query and retry ONCE after re-gating if the run
            # was visibly stolen; the JSON keeps the per-query steal% so a
            # residual uptick is self-identifying.
            def timed_run():
                """One noop-sink run -> (sec, steal%, psi_cpu%, psi_io%).
                /proc/stat steal is HOST-wide: normalize by host vCPUs,
                not SPARK_GRAFT_CPUS (a cpus=4 run would otherwise read
                8x-inflated steal and retry every query spuriously)."""
                host_cpus = os.cpu_count() or 32
                s0, t0 = read_steal_jiffies(), time.time()
                pc0, pi0 = read_psi_total("cpu"), read_psi_total("io")
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                return (dt,
                        (read_steal_jiffies() - s0) / (dt * host_cpus * 100) * 100,
                        (read_psi_total("cpu") - pc0) / (dt * 1e6) * 100,
                        (read_psi_total("io") - pi0) / (dt * 1e6) * 100)

            for attempt in range(2):
                dt, stl, psi_cpu, psi_io = timed_run()
                if stl < 1.0 or attempt == 1:
                    break
                query_retried[name] = {
                    "first_sec": round(dt, 3), "first_steal_pct": round(stl, 1)}
                wait_for_quiet()
            # Heavy rows get best-of-3 FRESH runs (VERDICT r5 #1): single-run
            # timings on >=3 s rows swung 2.7-4.9x round-over-round at
            # steal 0.0 — the host carries sub-steal contention the jiffies
            # can't see (flagship psi_cpu swung 3->22% at steal 0).  The min
            # is the steady-state estimate; ALL runs are kept in query_runs
            # with their own steal/psi stamps, so the artifact attributes
            # its own variance: identical back-to-back runs do identical
            # work, so a pressure outlier vs the run-set min marks a host
            # episode even when steal reads 0.
            if dt >= 3.0:
                reruns = [{"sec": round(dt, 3), "steal_pct": round(stl, 1),
                           "psi_cpu_pct": round(psi_cpu, 1),
                           "psi_io_pct": round(psi_io, 1)}]
                for _ in range(2):
                    dt2, stl2, pc2, pi2 = timed_run()
                    reruns.append({"sec": round(dt2, 3),
                                   "steal_pct": round(stl2, 1),
                                   "psi_cpu_pct": round(pc2, 1),
                                   "psi_io_pct": round(pi2, 1)})
                    if dt2 < dt:
                        dt, stl, psi_cpu, psi_io = dt2, stl2, pc2, pi2
                query_runs[name] = reruns
            queries[name] = round(dt, 3)
            query_steal[name] = round(stl, 1)
            query_psi[name] = round(psi_io, 1)
            query_psi_cpu[name] = round(psi_cpu, 1)

    result.update(
        {
            "metric": "flagship docs/sec (spatial-join + tile-assignment)",
            "value": round(n_docs / t_flag, 1),
            "unit": "docs/sec",
            "flagship_docs": n_docs,
            "flagship_sec": round(t_flag, 3),
            "total_query_sec": round(sum(queries.values()), 3),
            "queries": queries,
            "query_steal_pct": query_steal,
            "query_psi_io_pct": query_psi,
            "query_psi_cpu_pct": query_psi_cpu,
            "query_retried": query_retried,
            "query_runs": query_runs,
        }
    )
    # truncation-proofing (VERDICT r4 "What's wrong" #3): the driver
    # captures a bounded tail of stdout, and BENCH_r04's JSON line was cut
    # mid-line once query_steal_pct pushed it past the buffer — the first
    # ~15 per-query times were unrecoverable from the committed artifact.
    # Two mitigations: (1) the FULL result always lands in a committed
    # sibling file; (2) the printed line is a compacted view — per-query
    # steal/psi dicts keep only entries >= 0.5% (zeros dominate on clean
    # sweeps and carry no information), cutting the line roughly in half.
    # flagship-only runs (scripts/scaling.py's per-level legs) must NOT
    # clobber the committed full-sweep artifact — a partial 1-query file
    # overwrote the 94-entry sweep twice before this guard (r6).
    out_name = ("BENCH_flagship.json" if flagship_only
                else "BENCH_local.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           out_name), "w") as f:
        json.dump(result, f, indent=1)
    line = dict(result)
    line["query_steal_pct"] = {
        k: v for k, v in query_steal.items() if v >= 0.5}
    line["query_psi_io_pct"] = {
        k: v for k, v in query_psi.items() if v >= 0.5}
    # A filtered-to-empty dict is indistinguishable from "never recorded"
    # (VERDICT r5 read BENCH_r05's {} exactly that way) — stamp how many
    # entries WERE recorded and the max observed, so {} reads as "all clean".
    line["query_psi_recorded"] = len(query_psi)
    line["query_psi_max_pct"] = max(query_psi.values(), default=0.0)
    line["query_steal_recorded"] = len(query_steal)
    line["query_steal_max_pct"] = max(query_steal.values(), default=0.0)
    line["full_json"] = out_name
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
