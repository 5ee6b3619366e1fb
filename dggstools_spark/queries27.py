"""Driver-contract queries, batches 30-31 (round 6).

- ``ann_ivfpq`` (batch 30): the fourth ANN family — faiss-IndexIVFPQ
  shape (non-residual): IVF inverted-list pruning + PQ/ADC ranking of
  probed lists only.  pq_topk's whole-corpus ADC scan becomes one hash
  equi-join on the list id; the 100-TB ANN architecture (TODO_r7 #4
  family).
- ``route_heat`` (batch 31): long-haul great-circle route corridors —
  the complement of path_cells' bounded-segment contract (TODO_r7 #10):
  each long jump is slerp-sampled every RT_STEP_M meters along the
  geodesic (operators/route.py), each short sub-segment supercovered,
  and cells ranked by the number of DISTINCT routes crossing them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.encode_sql import double_sql
from .queries3 import load
from .registry import register

IVFPQ_K = 3
IVFPQ_MOD = 23
IVFPQ_RES = 3
IVFPQ_NPROBE = 3
_IVFPQ_Q_PRED = "vec_id % 50 = 0"


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.expr(_IVFPQ_Q_PRED)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return ivfpq_topk(emb, qs, IVFPQ_K, mod=IVFPQ_MOD, residue=IVFPQ_RES,
                      nprobe=IVFPQ_NPROBE)


def _oracle_ann_ivfpq() -> str:
    from .operators.pq import ivfpq_topk_sql

    return ivfpq_topk_sql("embeddings", IVFPQ_K, _IVFPQ_Q_PRED,
                          mod=IVFPQ_MOD, residue=IVFPQ_RES,
                          nprobe=IVFPQ_NPROBE)


register("ann_ivfpq", q_ann_ivfpq, _oracle_ann_ivfpq())


# --------------------------------------------------------------------------
# q_route_heat — great-circle corridors for the long-haul jumps that
# path_cells' planar-length guard excludes.  Sub-segments after the slerp
# split are <= RT_STEP_M on the sphere; the planar sub-segment guard
# (shared snippet) drops projection-seam crossers (a straight planar
# chord across the unfolded cube is not the corridor — same planar-metric
# contract as path_cells), bounding the supercover at O((step/w)²) per
# sub-segment regardless of route length.
# --------------------------------------------------------------------------

RT_RES = 3
RT_STEP_M = 1_000_000.0
RT_MAX_N = 64
RT_K = 40
_RT_USER_PRED = "user_id % 97 = 0"
_RT_SUB_PRED = (f"(x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)"
                f" <= {double_sql((3.0 * RT_STEP_M) ** 2)}")


def q_route_heat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .functions import encode_sql
    from .operators.route import geodesic_samples
    from .operators.spatial_join import segment_cells
    from .sources import synth

    ev = synth.with_lonlat(
        load(spark, sf_dir, "events").filter(F.expr(_RT_USER_PRED)),
        "event_id")
    pts = ev.select("user_id", "event_id",
                    F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                    .alias("tms"), "lon", "lat")
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    segs = (pts
            .withColumn("lon1", F.lag("lon").over(w))
            .withColumn("lat1", F.lag("lat").over(w))
            .filter(F.col("lon1").isNotNull())
            .select(F.col("event_id").alias("seg_id"), "lon1", "lat1",
                    F.col("lon").alias("lon2"), F.col("lat").alias("lat2")))
    samples = geodesic_samples(segs, RT_STEP_M, RT_MAX_N)
    enc = (encode_sql.spark_encode(samples, "lon", "lat", RT_RES,
                                   with_planar=True)
           .select("seg_id", "i",
                   F.col("px_m").alias("x2"), F.col("py_m").alias("y2")))
    sw = Window.partitionBy("seg_id").orderBy("i")
    sub = (enc
           .withColumn("x1", F.lag("x2").over(sw))
           .withColumn("y1", F.lag("y2").over(sw))
           .filter(F.col("x1").isNotNull())
           .filter(F.expr(_RT_SUB_PRED))
           .select("seg_id", "x1", "y1", "x2", "y2"))
    rc = segment_cells(sub, RT_RES).select("seg_id", "cellid").distinct()
    rw = Window.orderBy(F.desc("n_routes"), F.asc("cellid"))
    return (rc.groupBy("cellid").agg(F.count("*").alias("n_routes"))
            .withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= RT_K)
            .select("cellid", "n_routes", "rank"))


def _oracle_route_heat() -> str:
    from .functions import encode_sql
    from .operators.route import geodesic_samples_sql
    from .operators.spatial_join import segment_cells_ctes
    from .sources import synth

    src = synth.duckdb_lonlat_select(
        f"(SELECT * FROM events WHERE {_RT_USER_PRED})",
        "event_id", ["event_id", "ts", "user_id"])
    segs = f"""
        SELECT event_id AS seg_id, lon1, lat1,
               lon AS lon2, lat AS lat2 FROM (
            SELECT event_id, lon, lat,
                   lag(lon) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS lon1,
                   lag(lat) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS lat1
            FROM ({src}))
        WHERE lon1 IS NOT NULL"""
    samples = geodesic_samples_sql(segs, RT_STEP_M, RT_MAX_N)
    enc = encode_sql.duckdb_encode_select(f"({samples})", "lon", "lat",
                                          RT_RES, ["seg_id", "i"],
                                          with_planar=True)
    subsegs = f"""
        SELECT seg_id, x1, y1, x2, y2 FROM (
            SELECT seg_id, i, px_m AS x2, py_m AS y2,
                   lag(px_m) OVER (PARTITION BY seg_id ORDER BY i) AS x1,
                   lag(py_m) OVER (PARTITION BY seg_id ORDER BY i) AS y1
            FROM ({enc}))
        WHERE x1 IS NOT NULL AND {_RT_SUB_PRED}"""
    cells = encode_sql.duckdb_planar_encode_select("scand", "px", "py",
                                                   RT_RES, ["seg_id"])
    return f"""
    WITH {segment_cells_ctes(subsegs, RT_RES)},
    rc AS (SELECT DISTINCT seg_id, cellid FROM ({cells})
           WHERE cellid IS NOT NULL),
    hc AS (SELECT cellid, CAST(count(*) AS BIGINT) AS n_routes
           FROM rc GROUP BY cellid)
    SELECT cellid, n_routes, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_routes DESC, cellid) AS rank FROM hc)
    WHERE rank <= {RT_K}
    """


register("route_heat", q_route_heat, _oracle_route_heat())
