"""Driver-contract query registry.

Each entry pairs a Spark query (fn(spark, sf_dir) -> DataFrame) with an
independent DuckDB oracle SQL over the same parquet tables (pre-registered
views: region nation customer supplier part orders lineitem events documents
embeddings).  Column names/aliases match exactly on both sides; float outputs
are quantized to integers so cross-engine value hashing is deterministic.

The geospatial queries derive deterministic skewed lon/lat from integer keys
(sources/synth.py) and encode rHEALPix cells two ways:
- the Arrow pandas-UDF path (functions/encode.py; north-rule mandated), and
- the pure-expression whole-stage-codegen path (functions/encode_sql.py),
both verified against the DuckDB closed-form oracle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dggs.config import DEFAULT_CONFIG, MEAN_AREAL_DISTORTION
from .functions import encode_sql, text as T
from .functions.encode import cellid_from_lonlat_udf
from .queries3 import CELL_RES, load
from .registry import REGISTERED, register
from .sources import synth

# each batch module registers its leaves on import
from . import (  # noqa: F401
    queries2, queries3, queries4, queries5, queries6, queries7, queries8,
    queries9, queries10, queries11, queries12, queries13, queries14,
    queries15, queries16, queries17, queries18, queries19, queries20,
    queries21, queries22, queries23, queries24, queries25, queries26,
    queries27, queries28, queries29, queries30)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# --------------------------------------------------------------------------
# q_cell_counts — flagship: point->cell spatial assignment + tile histogram
# (SURVEY J1/C2; pandas-UDF Arrow path)
# --------------------------------------------------------------------------

def q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    enc = cellid_from_lonlat_udf(CELL_RES)
    return (
        docs.withColumn("cellid", enc("lon", "lat"))
        .groupBy("cellid")
        .agg(F.count("*").alias("n_docs"))
    )


def _oracle_cell_counts() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", CELL_RES, ["doc_id"])
    return f"SELECT cellid, count(*) AS n_docs FROM ({enc}) GROUP BY cellid"


# --------------------------------------------------------------------------
# q_cell_counts_expr — same logical query, pure-expression JVM path
# --------------------------------------------------------------------------

def q_cell_counts_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    return (
        encode_sql.spark_encode(docs, "lon", "lat", CELL_RES)
        .groupBy("cellid")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# q_pricing_summary — relational agg surface (TPC-H Q1 style)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity") * 100).cast("bigint").alias("sum_qty_c"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("bigint").alias("sum_disc_price_c"),
            F.round(F.avg("l_discount") * 1000000).cast("bigint").alias("avg_disc_ppm"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_c,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_price_c,
       CAST(round(avg(l_discount) * 1000000) AS BIGINT) AS avg_disc_ppm
FROM lineitem WHERE l_quantity < 50
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q_cells_by_revenue — broadcast join + expr encode + agg (J1 + dimension join)
# --------------------------------------------------------------------------

def q_cells_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = synth.with_lonlat(load(spark, sf_dir, "customer"), "c_custkey")
    cust = encode_sql.spark_encode(cust, "lon", "lat", 3)
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return joined.groupBy("cellid").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("revenue_c"),
    )


def _oracle_cells_by_revenue() -> str:
    src = synth.duckdb_lonlat_select("customer", "c_custkey", ["c_custkey"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 3, ["c_custkey"])
    return f"""
    SELECT cellid, count(*) AS n_orders,
           CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS revenue_c
    FROM orders JOIN ({enc}) c ON o_custkey = c.c_custkey
    GROUP BY cellid
    """


# --------------------------------------------------------------------------
# q_cellid_algebra — parent/children/ascendant string algebra (SURVEY C1)
# --------------------------------------------------------------------------

def q_cellid_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = synth.with_lonlat(load(spark, sf_dir, "orders"), "o_orderkey")
    cells = encode_sql.spark_encode(orders, "lon", "lat", 4).select("cellid").distinct()
    k = DEFAULT_CONFIG.n_side ** 2 - 1
    exploded = cells.withColumn("child", F.expr(
        f"explode(transform(sequence(0, {k}), d -> concat(cellid, CAST(d AS STRING))))"))
    return exploded.groupBy("cellid").agg(
        F.count("*").alias("n_children"),
        F.min("child").alias("first_child"),
    ).select(
        "cellid",
        F.expr("substring(cellid, 1, length(cellid) - 1)").alias("parent"),
        (F.length("cellid") - 1).alias("res_idx"),
        F.substring("cellid", 1, 2).alias("anc_r1"),
        "n_children",
        "first_child",
    )


def _oracle_cellid_algebra() -> str:
    src = synth.duckdb_lonlat_select("orders", "o_orderkey", ["o_orderkey"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 4, [])
    k = DEFAULT_CONFIG.n_side ** 2
    return f"""
    WITH cells AS (SELECT DISTINCT cellid FROM ({enc})),
    ch AS (SELECT cellid, concat(cellid, CAST(d AS VARCHAR)) AS child
           FROM cells, range({k}) t(d))
    SELECT cellid,
           substring(cellid, 1, length(cellid) - 1) AS parent,
           length(cellid) - 1 AS res_idx,
           substring(cellid, 1, 2) AS anc_r1,
           count(*) AS n_children,
           min(child) AS first_child
    FROM ch GROUP BY cellid
    """


# --------------------------------------------------------------------------
# q_dedup_exact — exact dedup by content fingerprint (training-data op)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = T.fingerprint("text")
    return (
        docs.withColumn("fp", F.expr(fp))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


_ORACLE_DEDUP = f"""
SELECT {T.fingerprint('text')} AS fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# q_lang_quality — language-ID + quality scoring + token stats (text ops)
# --------------------------------------------------------------------------

def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc quality is the EXACT-INTEGER q20 form and the group mean is
    # an integer-ratio ppm: round(avg(round(q,6))*1e6) straddled engine
    # rounding at .xxxxxx5 boundaries (CLAUDE.md constraint 17 — 210 of
    # 50k sf1 docs differed by 1e-6 per doc, so the avg moved too)
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_guess", F.expr(T.lang_id("text")))
        .withColumn("toks", F.expr(T.token_count("text")))
        .withColumn("q20", F.expr(T.quality_q20_spark("text")))
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.sum("q20").alias("_sq"),
        )
        .withColumn("avg_quality_ppm",
                    F.expr(f"(_sq * 1000000) div (n_docs * {1 << 20})"))
        .drop("_sq")
    )


_ORACLE_LANG = f"""
SELECT lang_guess, n_docs, total_tokens,
       CAST((_sq * 1000000) // (n_docs * {1 << 20}) AS BIGINT)
           AS avg_quality_ppm
FROM (
    SELECT {T.lang_id('text')} AS lang_guess,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({T.token_count('text')}) AS BIGINT) AS total_tokens,
           CAST(sum({T.quality_q20_duckdb('text')}) AS BIGINT) AS _sq
    FROM documents GROUP BY 1)
"""


# --------------------------------------------------------------------------
# q_prefix_rollup — hierarchical cell rollup via prefix groupBy (SURVEY R2/A11)
# --------------------------------------------------------------------------

def q_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = encode_sql.spark_encode(docs, "lon", "lat", 6).select("cellid")
    outs = []
    for lvl in (2, 4):
        outs.append(
            cells.groupBy(F.substring("cellid", 1, lvl + 1).alias("prefix"))
            .agg(F.count("*").alias("n_docs"))
            .withColumn("level", F.lit(lvl))
        )
    return outs[0].unionByName(outs[1]).select("prefix", "level", "n_docs")


def _oracle_prefix_rollup() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 6, [])
    return f"""
    WITH cells AS ({enc})
    SELECT substring(cellid, 1, 3) AS prefix, 2 AS level, count(*) AS n_docs FROM cells GROUP BY 1
    UNION ALL
    SELECT substring(cellid, 1, 5) AS prefix, 4 AS level, count(*) AS n_docs FROM cells GROUP BY 1
    """


# --------------------------------------------------------------------------
# q_raster_roundtrip — integer row/col -> cellid digits -> row/col (SURVEY R4/R6)
# --------------------------------------------------------------------------

RASTER_RES = 5


def q_raster_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    df = part.select(
        F.col("p_partkey"),
        (F.lit(100) + (F.col("p_partkey") % 81)).alias("row"),
        (F.lit(50) + F.floor(F.col("p_partkey") / 81).cast("bigint")).alias("col"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("val_cents"),
    )
    df = df.withColumn("cellid", F.expr(encode_sql.rowcol_cellid_sql("'Q'", "row", "col", RASTER_RES)))
    row_dec, col_dec = encode_sql.decode_rowcol_sql("cellid", RASTER_RES)
    return df.select(
        "cellid",
        F.expr(row_dec).alias("row_dec"),
        F.expr(col_dec).alias("col_dec"),
        "row", "col", "val_cents",
    )


def _oracle_raster_roundtrip() -> str:
    row_dec, col_dec = encode_sql.decode_rowcol_sql("cellid", RASTER_RES)
    cellid = encode_sql.rowcol_cellid_sql("'Q'", "row", "col", RASTER_RES)
    return f"""
    WITH grid AS (
      SELECT p_partkey,
             100 + (p_partkey % 81) AS row,
             50 + CAST(floor(p_partkey / 81.0) AS BIGINT) AS col,
             CAST(round(p_retailprice * 100) AS BIGINT) AS val_cents
      FROM part),
    enc AS (SELECT *, {cellid} AS cellid FROM grid)
    SELECT cellid, {row_dec} AS row_dec, {col_dec} AS col_dec, row, col, val_cents FROM enc
    """


# --------------------------------------------------------------------------
# q_embed_knn — brute-force cosine top-k over embeddings (similarity search)
# --------------------------------------------------------------------------

KNN_K = 3


def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.similarity import dot_spark, nrm_spark

    emb = load(spark, sf_dir, "embeddings")
    # norms once per vector on each side of the brute-force BNLJ; the pair
    # stage folds only the HOF dot (flat sums fall out of codegen in BNLJ
    # stages — similarity.ivf_assign docstring)
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.expr(nrm_spark("embedding")).alias("_nq"))
    cands = emb.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("c_emb"),
                       F.expr(nrm_spark("embedding")).alias("_nc"))
    dot = dot_spark("q_emb", "c_emb")
    pairs = (
        cands.join(F.broadcast(qs), F.col("cand_id") != F.col("q_id"))
        .withColumn("sim", F.expr(f"round(({dot}) / (_nq * _nc), 9)"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", "cand_id", "rank")
    )


_ORACLE_EMBED_KNN = f"""
WITH qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % 50 = 0),
pairs AS (
  SELECT q_id, e.vec_id AS cand_id,
         round(
           list_sum(list_transform(list_zip(q_emb, e.embedding),
                                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q_emb, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 9) AS sim
  FROM embeddings e, qs WHERE e.vec_id != q_id)
SELECT q_id, cand_id, rank FROM (
  SELECT q_id, cand_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS rank
  FROM pairs) WHERE rank <= {KNN_K}
"""


# --------------------------------------------------------------------------
# q_event_sessions — sessionization via window functions (events table)
# --------------------------------------------------------------------------

SESSION_GAP_MS = 30 * 60 * 1000


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # ts is TIMESTAMP_NTZ in the parquet; session tz is pinned to UTC so the
    # cast matches DuckDB's UTC interpretation of naive timestamps
    ev = load(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    ev = ev.withColumn("prev_ms", F.lag("ts_ms").over(w))
    ev = ev.withColumn(
        "new_session",
        (F.col("prev_ms").isNull() | (F.col("ts_ms") - F.col("prev_ms") > SESSION_GAP_MS)).cast("int"),
    )
    return ev.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


_ORACLE_SESSIONS = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {SESSION_GAP_MS} THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM ev GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q_area_per_class — per-class cell count & true area (SURVEY A1)
# --------------------------------------------------------------------------

AREA_RES = 4


def q_area_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = encode_sql.spark_encode(docs, "lon", "lat", AREA_RES).select("source", "cellid")
    area_m2 = DEFAULT_CONFIG.cell_area(AREA_RES)
    return cells.groupBy("source").agg(
        F.countDistinct("cellid").alias("n_cells"),
        F.round(F.countDistinct("cellid") * F.lit(area_m2) / 1e6).cast("bigint").alias("area_km2"),
    )


def _oracle_area_per_class() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id", "source"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", AREA_RES, ["source"])
    area_m2 = DEFAULT_CONFIG.cell_area(AREA_RES)
    return f"""
    SELECT source, count(DISTINCT cellid) AS n_cells,
           CAST(round(count(DISTINCT cellid) * {area_m2!r} / 1e6) AS BIGINT) AS area_km2
    FROM ({enc}) GROUP BY source
    """


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

register("cell_counts", q_cell_counts, _oracle_cell_counts())
register("cell_counts_expr", q_cell_counts_expr, _oracle_cell_counts())
register("pricing_summary", q_pricing_summary, _ORACLE_PRICING)
register("cells_by_revenue", q_cells_by_revenue, _oracle_cells_by_revenue())
register("cellid_algebra", q_cellid_algebra, _oracle_cellid_algebra())
register("dedup_exact", q_dedup_exact, _ORACLE_DEDUP)
register("lang_quality", q_lang_quality, _ORACLE_LANG)
register("prefix_rollup", q_prefix_rollup, _oracle_prefix_rollup())
register("raster_roundtrip", q_raster_roundtrip, _oracle_raster_roundtrip())
register("embed_knn", q_embed_knn, _ORACLE_EMBED_KNN)
register("event_sessions", q_event_sessions, _ORACLE_SESSIONS)
register("area_per_class", q_area_per_class, _oracle_area_per_class())

# The order QUERIES is served in.  The driver checks only the first 50 names
# against their oracles, so this order is frozen: a new query is appended
# after position 50, and moving a name across the marker changes which
# queries get an independent driver check.
ORDER: tuple[str, ...] = (
    "cell_counts", "pricing_summary", "prefix_rollup", "raster_roundtrip",
    "area_per_class", "knn_cells", "media_features", "span_cells", "cells_io",
    "merge_resume", "stream_dedup", "passage_dedup", "html_extract",
    "epoch_shuffle", "dsir_select", "oov_rate", "hybrid_rerank",
    "embed_clusters", "mixture_plan", "lang_confusion", "len_histogram",
    "corpus_diff", "local_moran", "bbox_cells", "zonal_stats",
    "dedup_pipeline", "stream_sessions_append", "lm_score_sink",
    "focal_xface", "morans_xface", "url_dedup", "semantic_dedup",
    "cell_trends", "cell_trends_dense", "od_flows", "cell_nbrs",
    "semantic_pq", "overlay_area", "user_trips", "mean_center", "cell_rank",
    "near_pairs", "hll_count", "path_cells", "change_matrix", "hll_overlap",
    "resample_bilinear", "ann_topk", "auid_roundtrip", "auid_optimize",
    # ---- end of the driver's 50-name correctness window ----
    "hotspots_xface", "lisa_xface", "cell_visitors", "stream_hll",
    "cost_distance", "bloom_prefilter", "cm_topk", "morph_close",
    "region_group", "idw_interp", "buffer_cells", "asof_status",
    "range_events", "cell_diversity", "kring_xface", "join_counts",
    "ann_ivfpq", "route_heat", "watershed", "slope_aspect", "ripley_k",
    "mk_trend", "g_function", "flow_accum", "emerging_hotspots",
    "flow_communities", "access_2sfca", "cross_k", "kcenter_sample",
    "trip_balance", "region_shape", "stream_topk", "areal_interp", "viewshed",
    "theilsen_trend", "fj_function", "voronoi_territories", "segregation",
    "location_quotient", "bpe_merges", "bpe_stats", "bpe_tokenize", "minhash",
    "salted_topk", "stratified_sample", "class_encode", "line_error",
    "gopher_quality", "pack_stats", "cross_dedup", "corpus_stats",
    "decontaminate", "hash_sample", "bm25_topk", "vocab_topk",
    "weighted_mixture", "ngram_sampled", "pii_scrub", "dedup_exact",
    "lang_quality", "cell_counts_expr", "resample_cubic", "cells_json",
    "embed_knn", "media_codecs", "rescale_modes", "auid_groups",
    "resample_area", "all_touched", "tile_arrays", "res_policy",
    "ivf_refined", "geodesic_area", "cells_by_revenue", "token_stats",
    "is_optimal", "winnow_pairs", "stream_ingest", "rmse", "simhash", "grid",
    "event_sessions", "extent", "subarea", "nodata_stride", "stream_stateful",
    "ivf_topk", "dup_profile", "fertility", "text_normalize", "novelty_score",
    "embed_pairs", "stream_sessions", "focal_mean", "morans_i",
    "tile_pyramid", "area_error", "cellid_algebra", "hotspots",
    "pip_polygons", "dedup_clusters", "lm_score", "pq_topk", "ngram_pairs",
    "cluster_keep",
)

if sorted(ORDER) != sorted(REGISTERED):
    raise RuntimeError(
        "ORDER and the registered queries differ: "
        f"{sorted(set(ORDER) ^ set(REGISTERED))} "
        f"(duplicates in ORDER: {len(ORDER) - len(set(ORDER))})")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: REGISTERED[name][0] for name in ORDER}
ORACLES: dict[str, str] = {name: REGISTERED[name][1] for name in ORDER}
