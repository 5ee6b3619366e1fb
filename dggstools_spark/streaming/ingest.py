"""Structured-Streaming ingest: continuous doc arrival -> cell assignment ->
per-tile windowed counts.

The reference is pure batch (SURVEY §2.8) and the north rule's resumability
story is batch-MERGE (plans/lineage.py); this module is the additive
streaming surface a training-data pipeline needs for continuous ingest:
file-source -> Arrow pandas-UDF encode (same kernel as batch, so streaming
and batch assignments are identical by construction) -> event-time windowed
per-tile aggregation with a watermark for late data -> parquet/console sink.
Checkpointing is Spark's own (streaming checkpointLocation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG
from ..functions.encode import cellid_from_lonlat_udf


def read_doc_stream(spark: SparkSession, path: str,
                    schema: str = ("doc_id string, lon double, lat double,"
                                   " event_time timestamp")) -> DataFrame:
    """File-based doc stream (each micro-batch = new files under ``path``)."""
    return spark.readStream.schema(schema).parquet(path)


def tile_counts_stream(docs: DataFrame, res: int = 8, tile_res: int = 4,
                       window: str = "1 minute",
                       cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Streaming per-tile windowed counts with a 2-minute late-data
    watermark."""
    enc = cellid_from_lonlat_udf(res, cfg)
    assigned = (
        docs.withColumn("cellid", enc("lon", "lat"))
        .withColumn("tile", F.substring("cellid", 1, tile_res + 1))
        .withWatermark("event_time", "2 minutes")
    )
    return assigned.groupBy(
        F.window("event_time", window).alias("win"), "tile"
    ).agg(F.count("*").alias("n_docs"))


def run_to_sink(counts: DataFrame, out_path: str, checkpoint: str):
    """Write the stream (append mode needs the watermark above) with the
    availableNow trigger: process everything currently available, then
    stop — the deterministic mode used in tests."""
    return (
        counts.writeStream.outputMode("append")
        .format("parquet").option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True).start()
    )


def dedup_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of the same (source, content
    hash) across micro-batches, then count survivors per source — the
    continuous-ingest form of exact whole-doc dedup.

    Uses ``dropDuplicatesWithinWatermark`` (Spark >= 3.5), whose state is
    genuinely watermark-bounded: a key's state is evicted once the
    watermark passes its event time plus the delay, so a re-arrival whose
    event time differs by MORE than the 10-minute watermark may survive —
    the standard streaming-dedup contract, and exactly what unbounded
    continuous ingest needs.  (Plain ``dropDuplicates`` on a subset that
    omits the event-time column keeps state forever — it only looked
    bounded in finite availableNow runs; ADVICE r3.)  Chained stateful ops
    (dedup -> agg) are fine on Spark >= 3.4 with the watermark set.  The
    dedup key includes the grouping key so per-source counts are
    deterministic even when identical content appears under two sources."""
    hashed = (docs.withColumn("_h", F.md5(F.col(text_col)))
              .withWatermark("event_time", "10 minutes")
              .dropDuplicatesWithinWatermark(["source", "_h"]))
    return hashed.groupBy("source").agg(F.count("*").alias("n_unique"))


def session_stream(events: DataFrame, key_col: str,
                   ts_col: str = "event_time") -> DataFrame:
    """Streaming SESSION-WINDOW aggregation (Spark's native session_window,
    the third windowing family next to tumbling ingest and
    applyInPandasWithState): events merge into a session while each
    arrives before the previous window's end (ts < prev + 5 minutes); a
    gap of inactivity >= 5 minutes closes the session.  Returns one row
    per (key, session): start/end, event count.

    Scale design: session windows are a keyed stateful aggregation —
    state is per-open-session (bounded by active keys), merged by Spark's
    session-window state store; the 30-minute watermark bounds how long a
    session can stay open to late data.  The deterministic test/oracle
    mode runs availableNow + complete output (same contract as
    tile_counts_stream)."""
    return (events
            .withWatermark(ts_col, "30 minutes")
            .groupBy(F.session_window(F.col(ts_col), "5 minutes")
                     .alias("win"), F.col(key_col))
            .agg(F.count("*").alias("n_events")))
