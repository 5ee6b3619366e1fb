"""Driver-contract queries, batch 24 (round 6): movement + grid algebra +
the PQ scale path.

- ``cell_trends_dense``: densified emerging-hotspot ranking (TODO_r7 #6)
  — zero-filled buckets in CLOSED FORM (global constants, no cells × days
  cross join), so decaying cells rank below never-active ones.
- ``od_flows``: origin–destination flow matrix over per-user event
  sequences — the trajectory-aggregation primitive (lag window on the
  total (ts, event_id) order per user, one (o, d) hash agg, top-k).
- ``cell_nbrs``: the `rhealpixdggs` Cell.neighbors surface as relational
  algebra — queen neighbors of every cell, CROSS-FACE correct via the
  kernel-derived cube gluing; corner cells get 7, everything else 8.
- ``semantic_pq``: SemDeDup with the PQ/ADC assignment stage (TODO_r7
  #4) — the scale lever replacing the exact BNLJ assign; the
  within-cluster drop rule stays exact-cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .queries20 import SD_DIM, SD_THR, TREND_K, TREND_RES
from .registry import register


def q_cell_trends_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.trend import trend_topk_dense
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", TREND_RES)
           .select("cellid",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))"
                          " div 86400000").alias("day"),
                   F.lit(1).cast("bigint").alias("y")))
    return trend_topk_dense(obs, "cellid", "day", "y", TREND_K)


def _oracle_cell_trends_dense() -> str:
    from .functions import encode_sql
    from .operators.trend import trend_topk_dense_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "ts"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          TREND_RES, ["ts"])
    obs = (f"SELECT cellid, epoch_ms(ts) // 86400000 AS day,"
           f" CAST(1 AS BIGINT) AS y FROM ({enc})")
    return trend_topk_dense_sql(obs, "cellid", "day", "y", TREND_K)


register("cell_trends_dense", q_cell_trends_dense, _oracle_cell_trends_dense())


# --------------------------------------------------------------------------
# q_od_flows — OD corridor matrix (events → res-2 cells → per-user lag
# moves → top corridors).  The encode feeds a lag window partitioned by
# user; the (ts, event_id) order is TOTAL per user (constraint-5 tie
# discipline).
# --------------------------------------------------------------------------

FLOWS_RES = 2
FLOWS_K = 30


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.flows import od_flows
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", FLOWS_RES)
           .select("cellid", "user_id", "event_id",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                   .alias("tms")))
    return od_flows(obs, "user_id", "tms", "event_id", "cellid", FLOWS_K)


def _oracle_od_flows() -> str:
    from .functions import encode_sql
    from .operators.flows import od_flows_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "ts", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          FLOWS_RES,
                                          ["event_id", "ts", "user_id"])
    obs = (f"SELECT cellid, user_id, event_id,"
           f" epoch_ms(ts) AS tms FROM ({enc})")
    return od_flows_sql(obs, "user_id", "tms", "event_id", "cellid",
                        FLOWS_K)


register("od_flows", q_od_flows, _oracle_od_flows())


# --------------------------------------------------------------------------
# q_cell_nbrs — Cell.neighbors over the cells the data actually occupies
# (distinct res-2 cells of the encoded events): every queen neighbor,
# cross-face correct.
# --------------------------------------------------------------------------

NBRS_RES = 2


def q_cell_nbrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_stats import cell_neighbors
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    cells = (encode_sql.spark_encode(ev, "lon", "lat", NBRS_RES)
             .select("cellid").distinct())
    return cell_neighbors(cells, NBRS_RES, cross_face=True)


def _oracle_cell_nbrs() -> str:
    from .functions import encode_sql
    from .operators.spatial_stats import cell_neighbors_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id", ["event_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          NBRS_RES, [])
    cells = f"(SELECT DISTINCT cellid FROM ({enc}))"
    return cell_neighbors_sql(cells, NBRS_RES, cross_face=True)


register("cell_nbrs", q_cell_nbrs, _oracle_cell_nbrs())


# --------------------------------------------------------------------------
# q_semantic_pq — SemDeDup with PQ/ADC assignment (same threshold/dim as
# semantic_dedup so the two keep rules are directly comparable; clusters
# differ only where the quantized argmin disagrees with exact cosine).
# --------------------------------------------------------------------------


def q_semantic_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.semdedup import semantic_dedup_pq

    return semantic_dedup_pq(load(spark, sf_dir, "embeddings"), SD_THR,
                             dim=SD_DIM)


def _oracle_semantic_pq() -> str:
    from .operators.semdedup import semantic_dedup_pq_sql

    return semantic_dedup_pq_sql("embeddings", SD_THR)


register("semantic_pq", q_semantic_pq, _oracle_semantic_pq())
