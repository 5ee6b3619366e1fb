"""Driver-contract queries, batch 33 (round 6): Mann-Kendall trend,
G-function nearest-neighbor distribution, and flow accumulation.

- ``mk_trend``: per-cell Mann-Kendall S over daily event counts — the
  rank-based sibling of cell_trends' OLS slope (robust to outliers /
  monotone-nonlinear growth); exact integer S, tie-corrected 18·Var and
  tau-a ppm (operators/trend.mk_trend).
- ``g_function``: nearest-occupied-neighbor ring-distance CDF over the
  document cells — the cheap point-pattern statistic next to ripley_k's
  pair counts (operators/pointpat.g_function; censoring observable).
- ``flow_accum``: upstream drainage counts of the batch-32 terrain via
  transitive-closure squaring of the D8 flow pointer, ranked top-k — the
  stream-network statistic (operators/hydro.flow_accum).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import encode_sql
from .queries3 import load
from .queries28 import WS_RES, _terrain, _terrain_sql
from .registry import register
from .sources import synth

MK_RES = 2
MK_K = 20
GF_RES = 3
GF_KMAX = 3
FA_K = 30


def q_mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.trend import mk_trend

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", MK_RES)
           .select("cellid",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))"
                          " div 86400000").alias("day"),
                   F.lit(1).cast("bigint").alias("y")))
    return mk_trend(obs, "cellid", "day", "y", MK_K)


def _oracle_mk_trend() -> str:
    from .operators.trend import mk_trend_sql

    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          MK_RES, ["ts"])
    obs = (f"SELECT cellid, epoch_ms(ts) // 86400000 AS day,"
           f" CAST(1 AS BIGINT) AS y FROM ({enc})")
    return mk_trend_sql(obs, "cellid", "day", "y", MK_K)


register("mk_trend", q_mk_trend, _oracle_mk_trend())


def q_g_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pointpat import g_function

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = (encode_sql.spark_encode(docs, "lon", "lat", GF_RES)
             .select("cellid").distinct())
    return g_function(cells, GF_RES, GF_KMAX)


def _oracle_g_function() -> str:
    from .operators.pointpat import g_function_sql

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          GF_RES, ["doc_id"])
    occ = f"SELECT DISTINCT cellid FROM ({enc})"
    return g_function_sql(occ, GF_RES, GF_KMAX)


register("g_function", q_g_function, _oracle_g_function())


def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.hydro import elev_range, flow_accum

    d = max(1, math.ceil(math.log2(elev_range(WS_RES) + 1)))
    acc = flow_accum(_terrain(spark, sf_dir), WS_RES, d)
    rw = Window.orderBy(F.desc("acc"), F.asc("cellid"))
    return (acc.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= FA_K)
            .select("cellid", "acc", "rank"))


def _oracle_flow_accum() -> str:
    from .operators.hydro import elev_range, flow_accum_ctes

    d = max(1, math.ceil(math.log2(elev_range(WS_RES) + 1)))
    return f"""
    WITH {flow_accum_ctes(_terrain_sql(), WS_RES, d)}
    SELECT cellid, acc, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY acc DESC, cellid) AS rank FROM faccum)
    WHERE rank <= {FA_K}
    """


register("flow_accum", q_flow_accum, _oracle_flow_accum())


# --------------------------------------------------------------------------
# q_emerging_hotspots (batch 36): space-time Getis-Ord trajectory
# classification — per-day Gi ratios over event cells, Mann-Kendall
# trend of each cell's ratio series, ESRI-style integer-exact category
# labels (operators/spacetime.py).
# --------------------------------------------------------------------------

EH_RES = 2
EH_K = 25


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spacetime import emerging_hotspots

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", EH_RES)
           .select("cellid",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))"
                          " div 86400000").alias("day"))
           .groupBy("cellid", "day")
           .agg(F.count("*").cast("bigint").alias("v")))
    return emerging_hotspots(obs, EH_RES, EH_K)


def _oracle_emerging_hotspots() -> str:
    from .operators.spacetime import emerging_hotspots_sql

    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          EH_RES, ["ts"])
    obs = (f"SELECT cellid, epoch_ms(ts) // 86400000 AS day,"
           f" CAST(count(*) AS BIGINT) AS v FROM ({enc})"
           f" GROUP BY cellid, epoch_ms(ts) // 86400000")
    return emerging_hotspots_sql(obs, EH_RES, EH_K)


register("emerging_hotspots", q_emerging_hotspots, _oracle_emerging_hotspots())


# --------------------------------------------------------------------------
# q_flow_communities (batch 37): movement communities — synchronous
# deterministic label propagation over the OD flow BACKBONE (each
# cell's top-LPA_M outgoing corridors by weight; the full synthetic
# flow graph is near-complete — degree ~50 — and any community method
# rightly collapses it, so the backbone sparsification is part of the
# operator contract, the classic "keep each node's strongest ties"
# reduction), communities ranked by member count
# (operators/graph.lpa_communities).
# --------------------------------------------------------------------------

LPA_RES = 3
LPA_ITERS = 4
LPA_M = 3
LPA_K = 20


def _flow_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", LPA_RES)
           .select("cellid", "user_id", "event_id",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                   .alias("tms")))
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    return (obs.withColumn("o_cell", F.lag("cellid").over(w))
            .filter(F.col("o_cell").isNotNull()
                    & (F.col("o_cell") != F.col("cellid")))
            .groupBy("o_cell", F.col("cellid").alias("d_cell"))
            .agg(F.count("*").alias("n_moves"))
            .withColumn("_r", F.row_number().over(
                Window.partitionBy("o_cell").orderBy(
                    F.desc("n_moves"), F.asc("d_cell"))))
            .filter(F.col("_r") <= LPA_M)
            .drop("_r"))


def _flow_edges_sql() -> str:
    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          LPA_RES,
                                          ["event_id", "ts", "user_id"])
    return f"""
    SELECT o_cell, d_cell, n_moves
    FROM (SELECT o_cell, d_cell, n_moves,
                 row_number() OVER (PARTITION BY o_cell
                     ORDER BY n_moves DESC, d_cell) AS _r
          FROM (SELECT o_cell, d_cell,
                       CAST(count(*) AS BIGINT) AS n_moves
                FROM (SELECT lag(cellid) OVER (PARTITION BY user_id
                           ORDER BY epoch_ms(ts), event_id) AS o_cell,
                             cellid AS d_cell
                      FROM ({enc}))
                WHERE o_cell IS NOT NULL AND o_cell <> d_cell
                GROUP BY o_cell, d_cell))
    WHERE _r <= {LPA_M}"""


def q_flow_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.graph import lpa_communities

    labels = lpa_communities(_flow_edges(spark, sf_dir),
                             "o_cell", "d_cell", "n_moves", LPA_ITERS)
    comm = labels.groupBy("label").agg(F.count("*").alias("n_nodes"))
    rw = Window.orderBy(F.desc("n_nodes"), F.asc("label"))
    return (comm.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= LPA_K)
            .select("label", "n_nodes", "rank"))


def _oracle_flow_communities() -> str:
    from .operators.graph import lpa_communities_ctes

    ctes = lpa_communities_ctes(_flow_edges_sql(), "o_cell", "d_cell",
                                "n_moves", LPA_ITERS)
    return f"""
    WITH {ctes},
    _c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
           FROM lab{LPA_ITERS} GROUP BY label)
    SELECT label, n_nodes, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_nodes DESC, label) AS rank FROM _c)
    WHERE rank <= {LPA_K}
    """


register("flow_communities", q_flow_communities, _oracle_flow_communities())


# --------------------------------------------------------------------------
# q_access_2sfca (batch 38): two-step floating catchment accessibility —
# suppliers as facilities (deterministic capacity s_suppkey % 50 + 1),
# document cells as demand, queen-graph catchments of radius AC_KMAX
# (operators/access.py; exact quantized ratios, no floats).  Demand
# cells with no facility in reach are absent from the output (inner
# catchment join — documented).
# --------------------------------------------------------------------------

AC_RES = 2
AC_KMAX = 2
AC_K = 25


def q_access_2sfca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.access import access_2sfca

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    pop = (encode_sql.spark_encode(docs, "lon", "lat", AC_RES)
           .groupBy("cellid")
           .agg(F.count("*").cast("bigint").alias("pop"))
           # dedup: 3 consumers (the k-ring seeds and both catchment
           # steps).  A/B at sf0.1, local[4], median of 3 alternating
           # pairs: with this cut 3.27 s against 3.42 s without, the cut
           # faster in 3 of 3 (one-leaf processes); a like cut on fac
           # added nothing (3.52 s with both, faster in 1 of 3)
           .localCheckpoint(eager=True))
    sup = synth.with_lonlat(load(spark, sf_dir, "supplier"), "s_suppkey")
    fac = (encode_sql.spark_encode(sup, "lon", "lat", AC_RES)
           .select(F.col("s_suppkey").alias("fac_id"), "cellid",
                   F.expr("CAST(s_suppkey % 50 + 1 AS BIGINT)")
                   .alias("cap")))
    acc = access_2sfca(pop, fac, AC_RES, AC_KMAX)
    rw = Window.orderBy(F.desc("access_q9"), F.asc("cellid"))
    return (acc.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= AC_K)
            .select("cellid", "access_q9", "n_fac", "rank"))


def _oracle_access_2sfca() -> str:
    from .operators.access import access_2sfca_ctes

    dsrc = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    denc = encode_sql.duckdb_encode_select(f"({dsrc})", "lon", "lat",
                                           AC_RES, ["doc_id"])
    pop = (f"SELECT cellid, CAST(count(*) AS BIGINT) AS pop"
           f" FROM ({denc}) GROUP BY cellid")
    ssrc = synth.duckdb_lonlat_select("supplier", "s_suppkey",
                                      ["s_suppkey"])
    senc = encode_sql.duckdb_encode_select(f"({ssrc})", "lon", "lat",
                                           AC_RES, ["s_suppkey"])
    fac = (f"SELECT s_suppkey AS fac_id, cellid,"
           f" CAST(s_suppkey % 50 + 1 AS BIGINT) AS cap FROM ({senc})")
    return f"""
    WITH {access_2sfca_ctes(pop, fac, AC_RES, AC_KMAX)}
    SELECT cellid, access_q9, n_fac, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY access_q9 DESC, cellid) AS rank FROM acc)
    WHERE rank <= {AC_K}
    """


register("access_2sfca", q_access_2sfca, _oracle_access_2sfca())


# --------------------------------------------------------------------------
# q_cross_k (batch 39): bivariate colocation — are suppliers sited near
# customers?  Cross-Ripley K between the customer and supplier point
# sets, binned to XK_RES cells, exact ordered-pair counts by queen-graph
# ring (operators/pointpat.cross_k).
# --------------------------------------------------------------------------

XK_RES = 2
XK_KMAX = 3


def _pts_counts(spark: SparkSession, sf_dir: str, table: str,
                id_col: str) -> DataFrame:
    pts = synth.with_lonlat(load(spark, sf_dir, table), id_col)
    return (encode_sql.spark_encode(pts, "lon", "lat", XK_RES)
            .groupBy("cellid")
            .agg(F.count("*").cast("bigint").alias("n")))


def _pts_counts_sql(table: str, id_col: str) -> str:
    src = synth.duckdb_lonlat_select(table, id_col, [id_col])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          XK_RES, [id_col])
    return (f"SELECT cellid, CAST(count(*) AS BIGINT) AS n"
            f" FROM ({enc}) GROUP BY cellid")


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pointpat import cross_k

    cust = _pts_counts(spark, sf_dir, "customer", "c_custkey")
    supp = _pts_counts(spark, sf_dir, "supplier", "s_suppkey")
    return cross_k(cust, supp, XK_RES, XK_KMAX)


def _oracle_cross_k() -> str:
    from .operators.pointpat import cross_k_sql

    return cross_k_sql(_pts_counts_sql("customer", "c_custkey"),
                       _pts_counts_sql("supplier", "s_suppkey"),
                       XK_RES, XK_KMAX)


register("cross_k", q_cross_k, _oracle_cross_k())


# --------------------------------------------------------------------------
# q_kcenter_sample (batch 40): greedy k-center coreset over the
# embeddings table — the maximally-diverse sample for curation
# (operators/coreset.py; Gonzalez 2-approximation, deterministic seed +
# ties, quantized engine-exact cosine distances).
# --------------------------------------------------------------------------

KC_ROUNDS = 6
KC_DIM = 64


def q_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.coreset import kcenter_select

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kcenter_select(emb, "vec_id", "embedding", KC_ROUNDS, KC_DIM)


def _oracle_kcenter_sample() -> str:
    from .operators.coreset import kcenter_select_sql

    return kcenter_select_sql("SELECT * FROM embeddings", "vec_id",
                              "embedding", KC_ROUNDS)


register("kcenter_sample", q_kcenter_sample, _oracle_kcenter_sample())


# --------------------------------------------------------------------------
# q_trip_balance (batch 41): doubly-constrained trip distribution — the
# classic transport-planning IPF: seed the OD matrix with EVEN-day
# moves, rake it to ODD-day origin/destination margins
# (operators/ipf.py; quantized q6 integers, truncation observable).
# Top corridors of the balanced matrix.
# --------------------------------------------------------------------------

IPF_RES = 2
IPF_ROUNDS = 4
IPF_K = 20


def _moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", IPF_RES)
           .select("cellid", "user_id", "event_id",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                   .alias("tms")))
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    return (obs.withColumn("o", F.lag("cellid").over(w))
            .filter(F.col("o").isNotNull()
                    & (F.col("o") != F.col("cellid")))
            .select("o", F.col("cellid").alias("d"),
                    F.expr("(tms div 86400000) % 2").alias("_half")))


def _moves_sql() -> str:
    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          IPF_RES,
                                          ["event_id", "ts", "user_id"])
    return f"""
    SELECT o, cellid AS d, (tms // 86400000) % 2 AS _half
    FROM (SELECT cellid, epoch_ms(ts) AS tms,
                 lag(cellid) OVER (PARTITION BY user_id
                     ORDER BY epoch_ms(ts), event_id) AS o
          FROM ({enc}))
    WHERE o IS NOT NULL AND o <> cellid"""


def q_trip_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.ipf import ipf_balance

    # dedup: 3 consumers (the seed and the row and column targets)
    mv = _moves(spark, sf_dir).localCheckpoint(eager=True)
    seed = (mv.filter("_half = 0").groupBy("o", "d")
            .agg(F.count("*").cast("bigint").alias("t")))
    rt = (mv.filter("_half = 1").groupBy("o")
          .agg(F.count("*").cast("bigint").alias("tgt")))
    ct = (mv.filter("_half = 1").groupBy(F.col("d"))
          .agg(F.count("*").cast("bigint").alias("tgt")))
    bal = ipf_balance(seed, rt, ct, IPF_ROUNDS)
    rw = Window.orderBy(F.desc("t_q6"), F.asc("o"), F.asc("d"))
    return (bal.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= IPF_K)
            .select("o", "d", "t_q6", "rank"))


def _oracle_trip_balance() -> str:
    from .operators.ipf import ipf_balance_ctes

    mv = _moves_sql()
    seed = (f"SELECT o, d, CAST(count(*) AS BIGINT) AS t"
            f" FROM _mv WHERE _half = 0 GROUP BY o, d")
    rt = (f"SELECT o, CAST(count(*) AS BIGINT) AS tgt"
          f" FROM _mv WHERE _half = 1 GROUP BY o")
    ct = (f"SELECT d, CAST(count(*) AS BIGINT) AS tgt"
          f" FROM _mv WHERE _half = 1 GROUP BY d")
    return f"""
    WITH _mv AS MATERIALIZED ({mv}),
    {ipf_balance_ctes(seed, rt, ct, IPF_ROUNDS)}
    SELECT o, d, t_q6, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY t_q6 DESC, o, d) AS rank FROM ipf)
    WHERE rank <= {IPF_K}
    """


register("trip_balance", q_trip_balance, _oracle_trip_balance())


# --------------------------------------------------------------------------
# q_region_shape (batch 42): shape metrics of the document-footprint
# regions — region_group's cross-face CC labeling extended with area /
# rook perimeter / square-normalized isoperimetric compactness
# (operators/shape.py; within-face perimeter contract).  Top regions by
# size.
# --------------------------------------------------------------------------

RS_RES = 2
RS_K = 15


def q_region_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.dedup import dedup_clusters
    from .operators.shape import region_shape
    from .operators.spatial_stats import cell_neighbors

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    mask = (encode_sql.spark_encode(docs, "lon", "lat", RS_RES)
            .select("cellid").distinct())
    pairs = (cell_neighbors(mask, RS_RES, cross_face=True)
             .join(mask.select(F.col("cellid").alias("nbr")), "nbr")
             .select(F.col("cellid").alias("a_id"),
                     F.col("nbr").alias("b_id")))
    cc = dedup_clusters(pairs, node_col="cellid", cluster_col="region")
    labeled = (mask.join(cc, "cellid", "left")
               .select("cellid",
                       F.coalesce("region", F.col("cellid"))
                       .alias("region"))
               # dedup: 2 consumers (region_shape's cell and neighbor sides)
               .localCheckpoint(eager=True))
    shp = region_shape(labeled, RS_RES)
    rw = Window.orderBy(F.desc("n_cells"), F.asc("region"))
    return (shp.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= RS_K)
            .select("region", "n_cells", "perimeter", "iq_ppm", "rank"))


def _oracle_region_shape() -> str:
    from .operators.shape import region_shape_sql
    from .operators.spatial_stats import cell_neighbors_sql

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          RS_RES, [])
    nbr = cell_neighbors_sql("SELECT cellid FROM _mask", RS_RES,
                             cross_face=True)
    labeled = f"""
    WITH RECURSIVE _mask AS MATERIALIZED (
        SELECT DISTINCT cellid FROM ({enc})),
    edges AS MATERIALIZED (
        SELECT n.cellid AS x, n.nbr AS y
        FROM ({nbr}) n JOIN _mask m ON m.cellid = n.nbr),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y),
    cc AS MATERIALIZED (
        SELECT n AS cellid, min(lab) AS region FROM reach GROUP BY n)
    SELECT m.cellid, coalesce(c.region, m.cellid) AS region
    FROM _mask m LEFT JOIN cc c USING (cellid)"""
    shp = region_shape_sql(f"({labeled})", RS_RES)
    return f"""
    SELECT region, n_cells, perimeter, iq_ppm, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_cells DESC, region) AS rank
          FROM ({shp}))
    WHERE rank <= {RS_K}
    """


register("region_shape", q_region_shape, _oracle_region_shape())


# --------------------------------------------------------------------------
# q_stream_topk (batch 43): streaming heavy hitters — SpaceSaving state
# crossing micro-batches (streaming/stateful.heavy_hitters_stream), per
# source, final top words.  Driver gate runs the EXACT regime (capacity
# >> vocabulary, err = 0, batch-split-independent — the stream_hll
# gating pattern); the bounded-capacity eviction guarantees ride
# tests/test_batch43.py.
# --------------------------------------------------------------------------

HH_CAPACITY = 1 << 20
HH_K = 10


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .queries4 import _finish_stream, _stream_tmpdirs
    from .streaming.stateful import heavy_hitters_stream

    src, ckpt, cleanup = _stream_tmpdirs("stream_topk")
    try:
        docs = (load(spark, sf_dir, "documents")
                .filter(F.col("text").isNotNull())
                .select("doc_id", "source", "text"))
        # two files split by id parity -> state genuinely crosses batches
        docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
        docs.filter("doc_id % 2 = 1").coalesce(1) \
            .write.mode("append").parquet(src)
        stream = (spark.readStream
                  .schema("doc_id bigint, source string, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        toks = (stream
                .select("source", F.explode(
                    F.split(F.lower("text"), " ")).alias("token"))
                .filter(F.col("token") != ""))
        hh = heavy_hitters_stream(toks, "source", "token", HH_CAPACITY)
        try:
            spark.catalog.dropTempView("dggs_stream_topk")
        except Exception:
            pass
        q = (hh.writeStream.format("memory").queryName("dggs_stream_topk")
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _finish_stream(q)
        tbl = spark.table("dggs_stream_topk")
        # rename before the self-join: both sides read the same
        # MemoryPlan and unaliased attributes conflict
        last = (tbl.groupBy("skey").agg(F.max("version").alias("_mv"))
                .withColumnRenamed("skey", "_k"))
        rw = Window.partitionBy("skey").orderBy(
            F.desc("cnt"), F.asc("token"))
        return (tbl.join(last, (tbl["skey"] == last["_k"])
                         & (tbl["version"] == last["_mv"]))
                .withColumn("rank", F.row_number().over(rw))
                .filter(F.col("rank") <= HH_K)
                .select(F.col("skey").alias("source"), "token",
                        "cnt", "err", "rank"))
    finally:
        cleanup()


def _oracle_stream_topk() -> str:
    return f"""
    WITH _t AS MATERIALIZED (
        SELECT source, word AS token, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source,
                     unnest(string_split(lower(text), ' ')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE word <> '' GROUP BY source, word)
    SELECT source, token, cnt, CAST(0 AS BIGINT) AS err,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY cnt DESC, token) AS rank FROM _t)
    WHERE rank <= {HH_K}
    """


register("stream_topk", q_stream_topk, _oracle_stream_topk())


# --------------------------------------------------------------------------
# q_areal_interp (batch 44): incompatible-zones value transfer — a
# deterministic "population" on the region-diamond layer is moved onto
# the nation-diamond layer by shared-cell weighting
# (operators/interp.areal_transfer; the DGGS grid is the areal operator,
# overlay_counts contract).
# --------------------------------------------------------------------------

AI_RES = 4


def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.interp import areal_transfer
    from .operators.spatial_join import rasterize_polygons
    from .queries3 import _safe_diamonds
    from .queries22 import _b_diamonds

    polys_a = _safe_diamonds(spark, sf_dir) \
        .withColumnRenamed("poly_id", "a_id")
    polys_b = _b_diamonds(spark, sf_dir)
    ca = rasterize_polygons(polys_a, AI_RES, poly_id="a_id")
    cb = rasterize_polygons(polys_b, AI_RES, poly_id="b_id")
    overlap = (ca.join(cb, "cellid")
               .groupBy("a_id", "b_id")
               .agg(F.count("*").alias("n_ov")))
    sizes = ca.groupBy("a_id").agg(F.count("*").alias("n_src_cells"))
    vals = polys_a.select(
        "a_id", F.expr("CAST((a_id % 7 + 1) * 100 AS BIGINT)").alias("v"))
    return (areal_transfer(overlap, sizes, vals)
            .select("b_id", "est_q6", F.col("n_src").cast("bigint")
                    .alias("n_src")))


def _oracle_areal_interp() -> str:
    from .operators.interp import areal_transfer_sql
    from .queries3 import _oracle_diamond_ctes
    from .queries22 import _b_diamond_sql

    a = _oracle_diamond_ctes(AI_RES, p="a")
    b = _oracle_diamond_ctes(AI_RES, table="nation", key="n_nationkey",
                             triple=_b_diamond_sql, p="b")
    core = areal_transfer_sql(
        "SELECT a.poly_id AS a_id, b.poly_id AS b_id,"
        " CAST(count(*) AS BIGINT) AS n_ov"
        " FROM ainside a JOIN binside b ON a.px = b.px AND a.py = b.py"
        " GROUP BY 1, 2",
        "SELECT poly_id AS a_id, CAST(count(*) AS BIGINT)"
        " AS n_src_cells FROM ainside GROUP BY 1",
        "SELECT DISTINCT poly_id AS a_id,"
        " CAST((poly_id % 7 + 1) * 100 AS BIGINT) AS v FROM ainside")
    return f"""
    WITH {a},
    {b}
    SELECT b_id, est_q6, n_src FROM ({core})
    """


register("areal_interp", q_areal_interp, _oracle_areal_interp())


# --------------------------------------------------------------------------
# q_viewshed (batch 45): 8-ray line-of-sight over the batch-32 terrain
# from its three highest cells (operators/hydro.viewshed; integer
# quantized-slope compares, transparent-absent contract).
# --------------------------------------------------------------------------

VS_RADIUS = 26  # whole res-3 face span
VS_TOWERS = 3


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.hydro import viewshed

    # dedup: 2 consumers (the tower pick and viewshed's lattice)
    terr = _terrain(spark, sf_dir).localCheckpoint(eager=True)
    rw = Window.orderBy(F.desc("z"), F.asc("cellid"))
    towers = (terr.withColumn("_r", F.row_number().over(rw))
              .filter(F.col("_r") <= VS_TOWERS).select("cellid"))
    return viewshed(terr, WS_RES, towers, VS_RADIUS)


def _oracle_viewshed() -> str:
    from .operators.hydro import viewshed_sql

    pred = (f"cellid IN (SELECT cellid FROM"
            f" (SELECT cellid, row_number() OVER"
            f" (ORDER BY z DESC, cellid) AS _r FROM _terr)"
            f" WHERE _r <= {VS_TOWERS})")
    body = viewshed_sql("SELECT cellid, z FROM _terr", WS_RES, pred,
                        VS_RADIUS)
    return f"""
    WITH _terr AS MATERIALIZED ({_terrain_sql()}),
    _vs AS MATERIALIZED ({body})
    SELECT tower, ray, n_cells, n_visible FROM _vs
    """


register("viewshed", q_viewshed, _oracle_viewshed())


# --------------------------------------------------------------------------
# q_theilsen_trend (batch 46): robust trend MAGNITUDE — Theil-Sen
# median-of-pairwise-slopes per cell over the same daily event counts
# mk_trend tests for direction (operators/trend.theilsen; exact
# rational median selection).  Top cells by slope.
# --------------------------------------------------------------------------

TS_K = 20


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.trend import theilsen

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", MK_RES)
           .select("cellid",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))"
                          " div 86400000").alias("day"),
                   F.lit(1).cast("bigint").alias("y")))
    ts = theilsen(obs, "cellid", "day", "y")
    rw = Window.orderBy(F.desc("slope_q6"), F.asc("cellid"))
    return (ts.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= TS_K)
            .select("cellid", "n_pairs", "med_num", "med_den",
                    "slope_q6", "rank"))


def _oracle_theilsen_trend() -> str:
    from .operators.trend import theilsen_sql

    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          MK_RES, ["ts"])
    obs = (f"SELECT cellid, epoch_ms(ts) // 86400000 AS day,"
           f" CAST(1 AS BIGINT) AS y FROM ({enc})")
    core = theilsen_sql(obs, "cellid", "day", "y")
    return f"""
    SELECT cellid, n_pairs, med_num, med_den, slope_q6,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY slope_q6 DESC, cellid) AS rank FROM ({core}))
    WHERE rank <= {TS_K}
    """


register("theilsen_trend", q_theilsen_trend, _oracle_theilsen_trend())


# --------------------------------------------------------------------------
# q_fj_function (batch 47): the F (empty-space) and J point-pattern
# functions over the document cells — with ripley_k / g_function /
# cross_k this completes the classic K/G/F/J quartet
# (operators/pointpat.fj_function; deterministic whole-face reference
# set, exact rational J).
# --------------------------------------------------------------------------

FJ_RES = 2
FJ_KMAX = 3


def _fj_occupied_faces() -> "list[str]":
    # both engines derive the SAME face list: every face is occupied at
    # res 2 for the synthetic lon/lat spread (asserted by the oracle
    # parity itself — a mismatch would change f_tot)
    return ["N", "O", "P", "Q", "R", "S"]


def q_fj_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pointpat import fj_function

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = (encode_sql.spark_encode(docs, "lon", "lat", FJ_RES)
             .select("cellid").distinct())
    return fj_function(cells, FJ_RES, FJ_KMAX)


def _oracle_fj_function() -> str:
    from .operators.pointpat import fj_function_sql

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          FJ_RES, ["doc_id"])
    occ = f"SELECT DISTINCT cellid FROM ({enc})"
    return fj_function_sql(occ, _fj_occupied_faces(), FJ_RES, FJ_KMAX)


register("fj_function", q_fj_function, _oracle_fj_function())


# --------------------------------------------------------------------------
# q_voronoi_territories (batch 48): service territories — every document
# cell labeled with its nearest supplier facility by queen-graph
# distance (operators/access.voronoi_assign), territories rolled up to
# (facility, n_cells, sum_ring) and ranked by size.  Unreachable cells
# (no facility within VT_KMAX) are excluded by the bounded-search
# contract; coverage is visible as Σ n_cells vs the demand cell count.
# --------------------------------------------------------------------------

VT_RES = 2
VT_KMAX = 3
VT_K = 25


def q_voronoi_territories(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.access import voronoi_assign

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    dem = (encode_sql.spark_encode(docs, "lon", "lat", VT_RES)
           .select("cellid").distinct())
    sup = synth.with_lonlat(load(spark, sf_dir, "supplier"), "s_suppkey")
    fac = (encode_sql.spark_encode(sup, "lon", "lat", VT_RES)
           .select(F.col("s_suppkey").alias("fac_id"), "cellid"))
    vor = voronoi_assign(dem, fac, VT_RES, VT_KMAX)
    terr = (vor.groupBy("fac_id")
            .agg(F.count("*").cast("bigint").alias("n_cells"),
                 F.sum("ring").cast("bigint").alias("sum_ring")))
    rw = Window.orderBy(F.desc("n_cells"), F.asc("fac_id"))
    return (terr.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= VT_K)
            .select("fac_id", "n_cells", "sum_ring", "rank"))


def _oracle_voronoi_territories() -> str:
    from .operators.access import voronoi_assign_ctes

    dsrc = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    denc = encode_sql.duckdb_encode_select(f"({dsrc})", "lon", "lat",
                                           VT_RES, ["doc_id"])
    dem = f"SELECT DISTINCT cellid FROM ({denc})"
    ssrc = synth.duckdb_lonlat_select("supplier", "s_suppkey",
                                      ["s_suppkey"])
    senc = encode_sql.duckdb_encode_select(f"({ssrc})", "lon", "lat",
                                           VT_RES, ["s_suppkey"])
    fac = f"SELECT s_suppkey AS fac_id, cellid FROM ({senc})"
    return f"""
    WITH {voronoi_assign_ctes(dem, fac, VT_RES, VT_KMAX)},
    _terr AS (SELECT fac_id, CAST(count(*) AS BIGINT) AS n_cells,
                     CAST(sum(ring) AS BIGINT) AS sum_ring
              FROM vor GROUP BY fac_id)
    SELECT fac_id, n_cells, sum_ring, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_cells DESC, fac_id) AS rank FROM _terr)
    WHERE rank <= {VT_K}
    """


register("voronoi_territories", q_voronoi_territories,
         _oracle_voronoi_territories())


# --------------------------------------------------------------------------
# q_segregation / q_location_quotient (batch 49): Duncan dissimilarity
# index and per-cell location quotients between the customer and
# supplier distributions — exact-rational segregation statistics
# (operators/diversity.dissimilarity / location_quotient), reusing the
# cross_k count tables.
# --------------------------------------------------------------------------

LQ_K = 20


def q_segregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diversity import dissimilarity

    cust = _pts_counts(spark, sf_dir, "customer", "c_custkey")
    supp = _pts_counts(spark, sf_dir, "supplier", "s_suppkey")
    return dissimilarity(cust, supp)


def _oracle_segregation() -> str:
    from .operators.diversity import dissimilarity_sql

    return dissimilarity_sql(_pts_counts_sql("customer", "c_custkey"),
                             _pts_counts_sql("supplier", "s_suppkey"))


register("segregation", q_segregation, _oracle_segregation())


def q_location_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diversity import location_quotient

    cust = _pts_counts(spark, sf_dir, "customer", "c_custkey")
    supp = _pts_counts(spark, sf_dir, "supplier", "s_suppkey")
    return location_quotient(cust, supp, LQ_K)


def _oracle_location_quotient() -> str:
    from .operators.diversity import location_quotient_sql

    return location_quotient_sql(
        _pts_counts_sql("customer", "c_custkey"),
        _pts_counts_sql("supplier", "s_suppkey"), LQ_K)


register("location_quotient", q_location_quotient, _oracle_location_quotient())
