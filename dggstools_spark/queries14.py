"""Driver-contract queries, batch 14 (round 5): post-dedup curation —

- novelty_score: per-doc corpus-wide n-gram novelty ppm (the
  memorization/boilerplate burden metric — cross-document repetition,
  complementing gopher_quality's within-doc and decontaminate's
  vs-benchmark measures);
- lang_confusion: declared-language vs n-gram lang-ID confusion matrix
  with row ppm — the label-QA step before per-language mixture planning;
- cluster_keep: quality-aware keep rule over near-dup clusters
  (argmax quality, tie → min id, via one min-struct agg) — what
  production dedup actually drops, composing dedup_clusters with the
  quality scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries5
from .functions import text as T
from .queries3 import load
from .registry import register


# --------------------------------------------------------------------------
# q_novelty_score
# --------------------------------------------------------------------------

NOV_N = 8


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.novelty import novelty_score

    docs = load(spark, sf_dir, "documents")
    return novelty_score(docs, "text", "doc_id", n=NOV_N)


def _oracle_novelty_score() -> str:
    from .operators.novelty import novelty_score_sql

    return novelty_score_sql("documents", "text", "doc_id", n=NOV_N)


register("novelty_score", q_novelty_score, _oracle_novelty_score())


# --------------------------------------------------------------------------
# q_lang_confusion — declared `lang` label vs functions.text.lang_id guess.
# Row ppm uses exact integer arithmetic over the per-label window total.
# --------------------------------------------------------------------------


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    cm = (docs.filter(F.col("text").isNotNull())
          .select("lang", F.expr(T.lang_id("text")).alias("guess"))
          .groupBy("lang", "guess").agg(F.count("*").alias("n_docs")))
    w = Window.partitionBy("lang")
    return (cm.withColumn("_tot", F.sum("n_docs").over(w))
            .withColumn("row_ppm", F.expr("(n_docs * 1000000) div _tot"))
            .select("lang", "guess", "n_docs", "row_ppm"))


def _oracle_lang_confusion() -> str:
    return f"""
    WITH cm AS (
        SELECT lang, {T.lang_id('text')} AS guess, count(*) AS n_docs
        FROM documents WHERE text IS NOT NULL GROUP BY 1, 2)
    SELECT lang, guess,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((n_docs * 1000000)
                // (sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT)
               AS row_ppm
    FROM cm
    """


register("lang_confusion", q_lang_confusion, _oracle_lang_confusion())


# --------------------------------------------------------------------------
# q_cluster_keep — clusters from the ngram near-dup graph (same
# construction as q_dedup_clusters), keep rule by quality_q20.
# --------------------------------------------------------------------------


def q_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from .operators.novelty import cluster_keep

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                threshold=queries5.NG_THRESHOLD,
                                max_doc_freq=queries5.NG_MAX_DF)
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    return cluster_keep(clusters, docs, "text", "doc_id",
                        T.quality_q20_spark("text"))


def _oracle_cluster_keep() -> str:
    from .operators.novelty import cluster_keep_sql

    reach = f"""
    WITH RECURSIVE np AS MATERIALIZED ({queries5._oracle_ngram_pairs()}),
    edges AS MATERIALIZED (
        SELECT a_id AS x, b_id AS y FROM np
        UNION
        SELECT b_id, a_id FROM np),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y)
    SELECT n AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY n
    """
    return cluster_keep_sql(reach, "documents", "text", "doc_id",
                            T.quality_q20_duckdb("text"))


register("cluster_keep", q_cluster_keep, _oracle_cluster_keep())
