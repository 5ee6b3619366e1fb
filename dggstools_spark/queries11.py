"""Driver-contract queries, batch 11 (round 5): corpus quality + data
selection + the third ANN family —

- lm_score: bigram language-model quality scoring (the CCNet/KenLM-style
  perplexity filter) in exact integer ppm — add-one-smoothed conditional
  bigram probabilities, run-stable and engine-exact;
- dsir_select: DSIR-style hashed-n-gram importance selection against a
  target slice (lang = 'en'), top-k by integer salience score;
- pq_topk: product-quantization ANN (faiss IndexPQ semantics) — codebook,
  codes, per-query ADC lookup tables and top-k rank, all oracle-checked.

All three pure built-in SQL with bit-exact DuckDB oracles (integer scores
and quantized distances — CLAUDE.md constraint 13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import _run_dir, load
from .registry import register


# --------------------------------------------------------------------------
# q_lm_score
# --------------------------------------------------------------------------


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lm import lm_score

    docs = load(spark, sf_dir, "documents")
    return lm_score(docs, "text", "doc_id")


def _oracle_lm_score() -> str:
    from .operators.lm import lm_score_sql

    return lm_score_sql("documents", "text", "doc_id")


register("lm_score", q_lm_score, _oracle_lm_score())


def q_lm_score_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm_score through the parquet model sink (VERDICT r5 #5): the c12
    count table is written to parquet and scanned back instead of
    localCheckpointed — the vocab²-heavy-corpus path.  Values identical
    to lm_score (the sink only cuts lineage), so the oracle is shared."""
    from .operators.lm import lm_score

    docs = load(spark, sf_dir, "documents")
    return lm_score(docs, "text", "doc_id",
                    model_path=_run_dir("q_lm_score_sink"))


register("lm_score_sink", q_lm_score_sink, _oracle_lm_score())


# --------------------------------------------------------------------------
# q_dsir_select — target slice: English documents; keep the DSIR_K most
# target-like documents from the whole pool.
# --------------------------------------------------------------------------

DSIR_K = 100


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dsir import dsir_scores

    docs = load(spark, sf_dir, "documents")
    return dsir_scores(docs, "text", "doc_id",
                       target=F.col("lang") == "en", k=DSIR_K)


def _oracle_dsir_select() -> str:
    from .operators.dsir import dsir_scores_sql

    return dsir_scores_sql("documents", "text", "doc_id",
                           target_sql="lang = 'en'", k=DSIR_K)


register("dsir_select", q_dsir_select, _oracle_dsir_select())


# --------------------------------------------------------------------------
# q_pq_topk — same query convention as ivf_topk/ann_topk (vec_id % 50 = 0).
# --------------------------------------------------------------------------

PQ_TOPK_K = 5


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return pq_topk(emb, qs, PQ_TOPK_K)


def _oracle_pq_topk() -> str:
    from .operators.pq import pq_topk_sql

    return pq_topk_sql("embeddings", PQ_TOPK_K, "vec_id % 50 = 0")


register("pq_topk", q_pq_topk, _oracle_pq_topk())
