"""Per-partition lineage + checkpointed, resumable batch writes (north rule:
"per-partition lineage rows and checkpointed resumability so any failed tile
batch replays deterministically").

Storage layout (plain parquet here; Iceberg tables on a real cluster):

    <root>/data/batch_key=<k>/...   cell rows, partitioned by batch key
    <root>/_lineage/                (batch_key, partition_id, n_rows,
                                     checksum, written_at)
    <root>/_batches/                (batch_key, n_rows, status)

``checkpointed_write`` is idempotent per batch key: completed batches are
skipped on replay, half-written batches are overwritten (dynamic partition
overwrite), so a failed run re-executed from the top converges to the same
table state deterministically."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def completed_batches(spark: SparkSession, root: str) -> set[str]:
    """Batch keys committed under ``root`` (a local path or any Hadoop-FS
    URI); empty only when no marker table exists yet.  Any other read
    error raises, so a corrupt marker never re-runs every batch."""
    path = f"{root}/_batches"
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return set()
    df = spark.read.parquet(path)
    return {r.batch_key for r in
            df.filter(F.col("status") == "done").select("batch_key").distinct().collect()}


def checkpointed_write(df: DataFrame, root: str, batch_key: str,
                       key_cols: list[str]) -> bool:
    """Idempotently write one batch; returns False if already complete.

    Order per batch: data (partition overwrite) -> lineage -> commit marker.
    A crash before the marker leaves the batch uncommitted; the replay
    overwrites the same partition and re-appends lineage (lineage rows carry
    written_at, so replays are auditable)."""
    spark = df.sparkSession
    if batch_key in completed_batches(spark, root):
        return False
    tagged = df.withColumn("batch_key", F.lit(batch_key))
    tagged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("batch_key").parquet(f"{root}/data")
    # lineage + marker from a read-back of the COMMITTED partition: the
    # (possibly expensive) upstream is evaluated exactly once, and
    # n_rows/checksum/partition_id describe what is actually on disk rather
    # than a separate re-evaluation of the pipeline
    written = spark.read.parquet(f"{root}/data") \
        .filter(F.col("batch_key") == batch_key)
    # dedup: 2 consumers (the _lineage append and the row total)
    lin = _lineage_agg(written, key_cols).localCheckpoint(eager=True)
    lin.write.mode("append").parquet(f"{root}/_lineage")
    n = lin.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).first()[0]
    spark.createDataFrame([(batch_key, int(n), "done")],
                          "batch_key string, n_rows long, status string") \
        .write.mode("append").parquet(f"{root}/_batches")
    return True


def _lineage_agg(tagged: DataFrame, key_cols: list[str]) -> DataFrame:
    """(batch_key, partition_id, n_rows, checksum, written_at) from a
    batch_key-tagged DataFrame (one row per physical partition).  The
    checksum is an xor-fold: order-insensitive and overflow-free (ANSI mode
    forbids a plain sum of 64-bit hashes)."""
    return tagged.withColumn("_pid", F.spark_partition_id()).groupBy(
        "batch_key", "_pid").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor(xxhash64({', '.join(key_cols)}))").alias("checksum"),
    ).withColumnRenamed("_pid", "partition_id") \
     .withColumn("written_at", F.lit(int(time.time())))


def run_batches(df: DataFrame, root: str, batch_col: str,
                key_cols: list[str]) -> dict[str, bool]:
    """Partition a DataFrame into batches by ``batch_col`` (e.g. the cell
    prefix) and checkpoint-write them; resumable from any point.

    ONE partitioned write job covers every pending batch (data partitioned
    by batch key, lineage + commit markers from single aggregations) — no
    per-batch driver loop, so 10^4 tile batches cost one shuffle, not 10^4
    jobs.  A crash mid-write leaves all pending batches uncommitted; the
    replay dynamic-partition-overwrites exactly those, so convergence is
    deterministic."""
    spark = df.sparkSession
    keys = sorted(str(r[0]) for r in df.select(batch_col).distinct().collect())
    done = completed_batches(spark, root)
    pending = [k for k in keys if k not in done]
    if pending:
        tagged = df.withColumn("batch_key", F.col(batch_col).cast("string")) \
                   .filter(F.col("batch_key").isin(pending))
        tagged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
            .partitionBy("batch_key").parquet(f"{root}/data")
        # one upstream evaluation total: lineage + markers come from a cheap
        # columnar read-back of the committed files (see checkpointed_write)
        written = spark.read.parquet(f"{root}/data") \
            .filter(F.col("batch_key").isin(pending))
        # dedup: 2 consumers (the _lineage append and the markers)
        lin = _lineage_agg(written, key_cols).localCheckpoint(eager=True)
        lin.write.mode("append").parquet(f"{root}/_lineage")
        markers = lin.groupBy("batch_key").agg(F.sum("n_rows").alias("n_rows")) \
            .withColumn("status", F.lit("done"))
        markers.write.mode("append").parquet(f"{root}/_batches")
    return {k: (k in pending) for k in keys}
