"""SparkSession factory with the engine's scale-oriented defaults.

Single place where shuffle/AQE/Arrow policy lives so every entry point
(driver contract, bench, tests) runs the same way.  Designed for a real
multi-executor cluster (spark-submit --py-files dggstools_spark.zip); in this
sandbox it runs local[N]."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dggstools-spark") -> SparkSession:
    """local[N] session, N = $SPARK_GRAFT_CPUS or the CPUs this process may
    run on (its affinity mask, not the host's core count)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # every hot Python path is Arrow-batched (north rule: no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # AQE: runtime coalescing + skew-join splitting for dense-tile skew
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # naive parquet timestamps are interpreted as UTC, matching DuckDB
        .config("spark.sql.session.timeZone", "UTC")
        # Align Spark's whole-stage-codegen size cutoff with HotSpot's JIT
        # limit (-XX:HugeMethodLimit=8000 bytecode): a generated stage
        # method in (8000, 65535] bytes compiles under janino but HotSpot
        # REFUSES to JIT it, so the stage runs in the bytecode interpreter
        # — silently, with no CompileException for the strict-codegen guard
        # to catch.  Measured on embed_pairs.count() at sf1 (the flat cos
        # fold lands in the BroadcastHashJoin condition; adding the count's
        # HashAggregate to that stage pushed the method past 8000 bytes):
        # 185-191 s at the 65535 default vs 24-26 s with 8000, fully
        # reversible by flipping the conf back (CLAUDE.md constraint 16).
        # With 8000, Spark skips whole-stage codegen for exactly those
        # stages and runs the volcano operators, each of which stays
        # JIT-compiled.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Spark reuses a compiled class only while its source text is in
        # this cache, and the default holds 100.  One round of auid_optimize,
        # voronoi_territories and cell_counts_expr compiles 105 distinct
        # classes, so every warm round recompiled 53-61 of them (janino,
        # then a fresh JIT); here a warm round compiles none.  4096 holds
        # one pass over all 155 leaves at sf0.001 (2882 distinct classes;
        # at the default such a pass compiles 4637, and a second pass as
        # many again).  Cost of a full pass held: +28 MB metaspace, +3.4 MB
        # class space (CLAUDE.md constraint 24).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # local mode: the driver JVM hosts all executor threads — size the
        # heap for cpus concurrent hash-agg/shuffle tasks (measured: 8g
        # chokes local[32] into GC at ~16M-row aggregations)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        # Python workers fork from worker_daemon, which stops the per-task
        # re-read of pyspark.zip and the spark-core jar (0.12-0.19 s a task,
        # CLAUDE.md constraint 23); the package dir on the workers' path
        # makes that daemon, and the package's UDFs, importable from any
        # cwd.  Both are static confs.  Delete the daemon setting once the
        # interpreter is 3.13 or later (its zipimporter re-reads lazily).
        .config("spark.python.daemon.module", "dggstools_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
