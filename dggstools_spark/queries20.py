"""Driver-contract queries, batch 23 (round 6): URL-level dedup — the
cheap first stage of every web-corpus pipeline (C4/CCNet/RefinedWeb dedup
at the URL tier before any content pass).

The documents table carries no URL column, so the query synthesizes one
DETERMINISTICALLY from doc_id via a shared SQL snippet (identical text on
both engines): four scheme/www spellings, optional trailing slash,
optional tracking-vs-real query params, optional fragment — exactly the
crawl-noise variants canonicalization must collapse.  The oracle runs the
identical synthesis + the identical canonicalization chain
(operators/urls.URL_RULES, Java∩RE2 subset per the scrub.py convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register


def synth_url_sql(id_col: str) -> str:
    """Deterministic raw-URL expression over ``id_col`` — engine-shared
    text (CASE/%/||/CAST(.. AS STRING) behave identically on Spark and
    DuckDB for non-negative BIGINT ids)."""
    return (
        f"(CASE {id_col} % 4 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'"
        f" WHEN 2 THEN 'https://www.' ELSE 'HTTP://WWW.' END"
        f" || 'site' || CAST({id_col} % 97 AS STRING)"
        f" || '.com/page/' || CAST({id_col} % 31 AS STRING)"
        f" || CASE WHEN {id_col} % 3 = 0 THEN '/' ELSE '' END"
        f" || CASE {id_col} % 5 WHEN 0 THEN"
        f" '?utm_source=feed&utm_medium=rss'"
        f" WHEN 1 THEN '?ref=4&utm_campaign=x' ELSE '' END"
        f" || CASE WHEN {id_col} % 7 = 0 THEN '#section-2' ELSE '' END)")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.urls import url_dedup

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.expr(synth_url_sql("doc_id")).alias("url")))
    return url_dedup(docs, "url", "doc_id")


def _oracle_url_dedup() -> str:
    from .operators.urls import url_dedup_sql

    return url_dedup_sql("documents", synth_url_sql("doc_id"), "doc_id")


register("url_dedup", q_url_dedup, _oracle_url_dedup())


# --------------------------------------------------------------------------
# q_semantic_dedup — SemDeDup (batch 23): embedding-space dedup — residue
# centroids, nearest-centroid clusters, drop any vector with a smaller-id
# in-cluster neighbor at cosine >= SD_THR; per-cluster keep-set audit via
# an order-insensitive exact id sum.  Threshold 0.30 sits inside the
# observed within-cluster sim tail at sf0.01 (max 0.474), so drops are
# non-trivial and the rule is genuinely exercised.
# --------------------------------------------------------------------------

SD_THR = 0.30
SD_DIM = 64


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.semdedup import semantic_dedup

    return semantic_dedup(load(spark, sf_dir, "embeddings"), SD_THR,
                          dim=SD_DIM)


def _oracle_semantic_dedup() -> str:
    from .operators.semdedup import semantic_dedup_sql

    return semantic_dedup_sql("embeddings", SD_THR)


register("semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup())


# --------------------------------------------------------------------------
# q_cell_trends — emerging spatio-temporal hotspots (batch 23): events get
# deterministic lon/lat from event_id (sources/synth), encode to res-2
# cells, bucket ts into UTC days (unix_millis/epoch_ms parity idiom,
# CLAUDE.md constraint 5), then rank cells by EXACT integer OLS slope of
# daily counts (operators/trend) — the cells whose activity is growing
# fastest.  The time axis the reference's raster stack never had.
# --------------------------------------------------------------------------

TREND_RES = 2
TREND_K = 20


def q_cell_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.trend import trend_topk
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", TREND_RES)
           .select("cellid",
                   F.expr("unix_millis(CAST(ts AS TIMESTAMP))"
                          " div 86400000").alias("day"),
                   F.lit(1).cast("bigint").alias("y")))
    return trend_topk(obs, "cellid", "day", "y", TREND_K)


def _oracle_cell_trends() -> str:
    from .functions import encode_sql
    from .operators.trend import trend_topk_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                     ["event_id", "ts"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          TREND_RES, ["ts"])
    obs = (f"SELECT cellid, epoch_ms(ts) // 86400000 AS day,"
           f" CAST(1 AS BIGINT) AS y FROM ({enc})")
    return trend_topk_sql(obs, "cellid", "day", "y", TREND_K)


register("cell_trends", q_cell_trends, _oracle_cell_trends())
