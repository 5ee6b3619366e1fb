"""Driver-contract queries, batch 17 (round 5): hotspot detection +
native session-window streaming.

- hotspots: Getis-Ord-style local density ratio over the DGGS cell
  lattice (3×3 window mean vs global mean, exact ppm), top-k — the
  "where is activity concentrated" query over batch-16's machinery;
- stream_sessions: Spark's NATIVE session_window streaming aggregation
  (third streaming-window family in the engine, next to tumbling
  ingest and applyInPandasWithState) — gap-based sessions per source,
  oracle-checked against relational lag/gap sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import CELL_RES, load
from .queries16 import _cells, _cells_sql
from .registry import register

HOT_K = 25


def q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import hotspots

    # dedup: 2 consumers (both sides of the neighbor join).  A/B at sf0.1,
    # local[4]: with the cut 0.88 s against 1.24 s without (median of 3
    # alternating pairs, the cut faster in 3 of 3)
    cells = _cells(spark, sf_dir).localCheckpoint(eager=True)
    return hotspots(cells, CELL_RES, HOT_K)


def _oracle_hotspots() -> str:
    from .operators.spatial_stats import hotspots_sql

    return hotspots_sql(_cells_sql(), CELL_RES, HOT_K)


register("hotspots", q_hotspots, _oracle_hotspots())


# --------------------------------------------------------------------------
# q_stream_sessions — deterministic event times: each source's docs land in
# bursts (60 s apart inside a burst, bursts 1 h apart), so gap=5 min yields
# one session per (source, burst).  The oracle replays gap sessionization
# relationally (new session when ts - prev >= 300 s).
# --------------------------------------------------------------------------

SESS_EPOCH = 1700000000
SESS_GAP_S = 300
#: ts = EPOCH + burst(doc_id) * 3600 + slot(doc_id) * 60
_SESS_TS = "({e} + (doc_id % 5) * 3600 + ((doc_id % 35) {idiv} 5) * 60)"


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries4 import _finish_stream, _stream_tmpdirs
    from .streaming.ingest import session_stream

    src, ckpt, cleanup = _stream_tmpdirs("stream_sessions")
    try:
        ts = _SESS_TS.format(e=SESS_EPOCH, idiv="div")
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "source",
            F.timestamp_seconds(F.expr(ts)).alias("event_time"))
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, source string, event_time timestamp"
        ).parquet(src)
        sessions = session_stream(stream, "source")
        try:
            spark.catalog.dropTempView("dggs_stream_sessions")
        except Exception:
            pass
        q = (sessions.writeStream.format("memory")
             .queryName("dggs_stream_sessions")
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _finish_stream(q)
        tbl = spark.table("dggs_stream_sessions")
        return tbl.select(
            "source",
            F.unix_timestamp(F.col("win.start")).alias("sess_start"),
            F.unix_timestamp(F.col("win.end")).alias("sess_end"),
            "n_events")
    finally:
        cleanup()


def _oracle_stream_sessions() -> str:
    ts = _SESS_TS.format(e=SESS_EPOCH, idiv="//")
    # every window below orders by (ts, doc_id) — a TOTAL order: with
    # duplicate timestamps and a ts-only sort, the brk-flag pass and the
    # running-sum pass may order ties differently and split a session
    # mid-tie (observed at sf0.01: one 25-event session became 3+22)
    return f"""
    WITH ev AS (SELECT source, doc_id, CAST({ts} AS BIGINT) AS ts
                FROM documents),
    marked AS (
        SELECT source, doc_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY source
                                            ORDER BY ts, doc_id)
                         >= {SESS_GAP_S} OR
                         lag(ts) OVER (PARTITION BY source
                                       ORDER BY ts, doc_id) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM ev),
    sess AS (
        SELECT source, ts,
               sum(brk) OVER (PARTITION BY source ORDER BY ts, doc_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
    SELECT source,
           CAST(min(ts) AS BIGINT) AS sess_start,
           CAST(max(ts) + {SESS_GAP_S} AS BIGINT) AS sess_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY source, sid
    """


register("stream_sessions", q_stream_sessions, _oracle_stream_sessions())


# --------------------------------------------------------------------------
# q_stream_sessions_append — the PRODUCTION output mode (VERDICT r5 #6 /
# TODO_r6 #11): append emits each session exactly once, when the watermark
# passes its end — the contract an unbounded pipeline needs (complete mode
# re-emits the whole result every batch and cannot scale).  With the
# deterministic burst layout, the final watermark = max event time - 30 min,
# so burst-4 sessions (ending within the last half hour) stay OPEN and are
# NOT emitted; the oracle is the same lag/gap sessionization filtered to
# sess_end <= watermark.  Late re-opens within the watermark are merged by
# Spark's session-window state store before emission (complete-mode twin
# `stream_sessions` pins the full session set; this pins the closed subset).
# --------------------------------------------------------------------------

SESS_WM_S = 1800  # session_stream's watermark: 30 minutes


def q_stream_sessions_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries4 import _finish_stream, _stream_tmpdirs
    from .streaming.ingest import session_stream

    src, ckpt, cleanup = _stream_tmpdirs("stream_sessions_append")
    try:
        ts = _SESS_TS.format(e=SESS_EPOCH, idiv="div")
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "source",
            F.timestamp_seconds(F.expr(ts)).alias("event_time"))
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, source string, event_time timestamp"
        ).parquet(src)
        sessions = session_stream(stream, "source")
        try:
            spark.catalog.dropTempView("dggs_stream_sessions_append")
        except Exception:
            pass
        q = (sessions.writeStream.format("memory")
             .queryName("dggs_stream_sessions_append")
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _finish_stream(q)
        tbl = spark.table("dggs_stream_sessions_append")
        return tbl.select(
            "source",
            F.unix_timestamp(F.col("win.start")).alias("sess_start"),
            F.unix_timestamp(F.col("win.end")).alias("sess_end"),
            "n_events")
    finally:
        cleanup()


def _oracle_stream_sessions_append() -> str:
    base = _oracle_stream_sessions()
    return f"""
    WITH all_sessions AS MATERIALIZED ({base}),
    wm AS (SELECT max(CAST({_SESS_TS.format(e=SESS_EPOCH, idiv='//')}
                        AS BIGINT)) - {SESS_WM_S} AS w FROM documents)
    SELECT source, sess_start, sess_end, n_events
    FROM all_sessions, wm WHERE sess_end <= w
    """


register("stream_sessions_append", q_stream_sessions_append,
         _oracle_stream_sessions_append())


# --------------------------------------------------------------------------
# q_local_moran — batch 18: the per-cell drill-down of morans_i (Anselin
# LISA, integer core), top-25 |lisa| cells with HH/LL/HL/LH quadrants.
# --------------------------------------------------------------------------

LISA_K = 25


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import local_moran

    return local_moran(_cells(spark, sf_dir), CELL_RES, LISA_K)


def _oracle_local_moran() -> str:
    from .operators.spatial_stats import local_moran_sql

    return local_moran_sql(_cells_sql(), CELL_RES, LISA_K)


register("local_moran", q_local_moran, _oracle_local_moran())
