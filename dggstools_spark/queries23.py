"""Driver-contract queries, batch 26 (round 6): graph centrality over the
flow network + distance-threshold spatial self-join.

- ``cell_rank``: integer PageRank over the OD corridor graph (events →
  res-2 cells → per-user moves → weighted edges → 5 power iterations in
  exact ppb arithmetic) — the "hub cells" of the movement corpus; the
  third iterative-algorithm family next to pointer-jumping CC and Lloyd
  refinement, oracle-checked via unrolled AS MATERIALIZED CTEs.
- ``near_pairs``: all document pairs within 75 km (planar contract) via
  the cell-block lattice — the spatial self-join primitive (cluster
  detection, duplicate-site finding) with a pruning guarantee proven
  against brute force in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.encode_sql import double_sql
from .queries3 import load
from .queries22 import _flow_obs, _flow_obs_sql
from .registry import register

RANK_ITERS = 5
RANK_K = 30


def q_cell_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.flows import od_flows
    from .operators.graph import page_rank

    # corridors without the top-k cut: the graph wants every edge, so k
    # is set to cover all pairs (res-2 cell count squared is the bound)
    # dedup: 2 consumers (page_rank's edge table and node list).  A/B at
    # sf0.1, local[4]: with the cut 4.19 s against 5.47 s without (median
    # of 3 alternating pairs, the cut faster in 3 of 3)
    flows = od_flows(_flow_obs(spark, sf_dir), "user_id", "tms",
                     "event_id", "cellid", k=10_000_000) \
        .localCheckpoint(eager=True)
    return page_rank(flows.select("o_cell", "d_cell", "n_moves"),
                     "o_cell", "d_cell", "n_moves",
                     iters=RANK_ITERS, k=RANK_K)


def _oracle_cell_rank() -> str:
    from .operators.flows import od_flows_sql
    from .operators.graph import page_rank_sql

    flows = od_flows_sql(_flow_obs_sql(), "user_id", "tms", "event_id",
                         "cellid", k=10_000_000)
    return page_rank_sql(f"SELECT o_cell, d_cell, n_moves FROM ({flows})",
                         "o_cell", "d_cell", "n_moves",
                         iters=RANK_ITERS, k=RANK_K)


register("cell_rank", q_cell_rank, _oracle_cell_rank())


# --------------------------------------------------------------------------
# q_near_pairs — closest document pairs within NEAR_D_M planar meters.
# res 2 gives block width ~1.11e6 m >= the 75 km threshold; the planar
# point coordinates ride the with_planar encode (identical expression
# text on both engines).
# --------------------------------------------------------------------------

NEAR_D_M = 75_000.0
NEAR_RES = 2
NEAR_K = 50


def q_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_join import near_pairs
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    pts = (encode_sql.spark_encode(docs, "lon", "lat", NEAR_RES,
                                   with_planar=True)
           .select("doc_id", F.col("px_m").alias("px"),
                   F.col("py_m").alias("py")))
    return near_pairs(pts, NEAR_D_M, NEAR_RES, id_col="doc_id",
                      k=NEAR_K)


def _oracle_near_pairs() -> str:
    from .functions import encode_sql
    from .operators.spatial_join import near_pairs_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          NEAR_RES, ["doc_id"],
                                          with_planar=True)
    pts = f"SELECT doc_id, px_m AS px, py_m AS py FROM ({enc})"
    return near_pairs_sql(pts, NEAR_D_M, NEAR_RES, id_col="doc_id",
                          k=NEAR_K)


register("near_pairs", q_near_pairs, _oracle_near_pairs())


# --------------------------------------------------------------------------
# q_hll_count — deterministic HLL cardinality estimate per source, with
# the exact count-distinct yardstick + signed err_ppm next to it (the
# production caller drops the yardstick; here it IS the point: the oracle
# value-checks estimate AND error bit-for-bit).
# --------------------------------------------------------------------------


def q_hll_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketch import hll_distinct

    docs = load(spark, sf_dir, "documents")
    est = hll_distinct(docs, "source", "text")
    ex = (docs.groupBy("source")
          .agg(F.count("*").alias("n_docs"),
               F.countDistinct("text").alias("exact_distinct")))
    return (ex.join(est, "source")
            .withColumn("err_ppm", F.expr(
                "((hll_est - exact_distinct) * 1000000)"
                " div exact_distinct"))
            .select("source", "n_docs", "exact_distinct", "hll_est",
                    "err_ppm"))


def _oracle_hll_count() -> str:
    from .operators.sketch import hll_distinct_sql

    est = hll_distinct_sql("documents", "source", "text")
    return f"""
    WITH est AS MATERIALIZED ({est}),
    ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct
           FROM documents GROUP BY source)
    SELECT source, n_docs, exact_distinct, hll_est,
           CAST(((hll_est - exact_distinct) * 1000000)
                // exact_distinct AS BIGINT) AS err_ppm
    FROM ex JOIN est USING (source)
    """


register("hll_count", q_hll_count, _oracle_hll_count())


# --------------------------------------------------------------------------
# q_path_cells — trajectory corridor heat: consecutive same-user events
# within PATH_MAX_SEG_M (long-haul jumps are not corridors at this res —
# and the supercover cost is O(bbox) per segment, so the bound is also
# the scale guard) -> segment_cells supercover at PATH_RES -> cells
# ranked by crossing count.  The planar points ride the with_planar
# encode; the segment predicate is ONE shared snippet on both engines.
# --------------------------------------------------------------------------

PATH_RES = 4
PATH_MAX_SEG_M = 1_500_000.0
PATH_K = 40

_SEG_PRED = (f"(x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)"
             f" <= {double_sql(PATH_MAX_SEG_M ** 2)}")


def q_path_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .functions import encode_sql
    from .operators.spatial_join import segment_cells
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    pts = (encode_sql.spark_encode(ev, "lon", "lat", 1, with_planar=True)
           .select("user_id", "event_id",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                   .alias("tms"),
                   F.col("px_m").alias("x2"), F.col("py_m").alias("y2")))
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    segs = (pts
            .withColumn("x1", F.lag("x2").over(w))
            .withColumn("y1", F.lag("y2").over(w))
            .filter(F.col("x1").isNotNull())
            .filter(F.expr(_SEG_PRED))
            .select(F.col("event_id").alias("seg_id"),
                    "x1", "y1", "x2", "y2"))
    heat = (segment_cells(segs, PATH_RES)
            .groupBy("cellid").agg(F.count("*").alias("n_segs")))
    rw = Window.orderBy(F.desc("n_segs"), F.asc("cellid"))
    return (heat.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= PATH_K)
            .select("cellid", "n_segs", "rank"))


def _oracle_path_cells() -> str:
    from .functions import encode_sql
    from .operators.spatial_join import segment_cells_ctes
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "ts", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 1,
                                          ["event_id", "ts", "user_id"],
                                          with_planar=True)
    segs = f"""
        SELECT seg_id, x1, y1, x2, y2 FROM (
            SELECT event_id AS seg_id,
                   lag(px_m) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS x1,
                   lag(py_m) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS y1,
                   px_m AS x2, py_m AS y2
            FROM ({enc}))
        WHERE x1 IS NOT NULL AND {_SEG_PRED}"""
    cells = encode_sql.duckdb_planar_encode_select("scand", "px", "py",
                                                   PATH_RES, ["seg_id"])
    return f"""
    WITH {segment_cells_ctes(segs, PATH_RES)},
    hc AS (SELECT cellid, CAST(count(*) AS BIGINT) AS n_segs
           FROM ({cells}) WHERE cellid IS NOT NULL GROUP BY cellid)
    SELECT cellid, n_segs, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_segs DESC, cellid) AS rank FROM hc)
    WHERE rank <= {PATH_K}
    """


register("path_cells", q_path_cells, _oracle_path_cells())
