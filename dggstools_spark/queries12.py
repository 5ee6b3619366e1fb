"""Driver-contract queries, batch 12 (round 5): vocabulary application +
two-stage retrieval + embedding cluster resolution —

- oov_rate: per-document out-of-vocabulary rate against the corpus top-V
  vocabulary (the induction's dual — the filter/QA signal);
- hybrid_rerank: BM25 recall top-N + embedding-cosine rerank (the
  canonical RAG/curation two-stage retrieval), composing text_rank +
  similarity with the established flat-fold parity;
- embed_clusters: embedding near-dup pairs -> connected components — the
  dense-vector twin of dedup_clusters (pair generation to transitive
  keep/drop sets), oracle-checked against a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import EMB_DIM, EP_PLANES, EP_THRESHOLD, load
from .queries6 import BM_TERMS
from .registry import register


# --------------------------------------------------------------------------
# q_oov_rate
# --------------------------------------------------------------------------

OOV_V = 150


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.vocab import oov_rate

    docs = load(spark, sf_dir, "documents")
    return oov_rate(docs, "text", "doc_id", v=OOV_V)


def _oracle_oov_rate() -> str:
    from .operators.vocab import oov_rate_sql

    return oov_rate_sql("documents", "text", "doc_id", v=OOV_V)


register("oov_rate", q_oov_rate, _oracle_oov_rate())


# --------------------------------------------------------------------------
# q_hybrid_rerank — recall with the bm25_topk term set, rerank against the
# embedding of vec_id 0 (documents and embeddings share the id space).
# --------------------------------------------------------------------------

HY_RECALL = 50
HY_K = 10


def q_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hybrid import hybrid_rerank

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("q_vec"))
    return hybrid_rerank(docs, emb, BM_TERMS, qv, HY_RECALL, HY_K,
                         dim=EMB_DIM)


def _oracle_hybrid_rerank() -> str:
    from .operators.hybrid import hybrid_rerank_sql

    return hybrid_rerank_sql("documents", "embeddings", BM_TERMS,
                             "vec_id = 0", HY_RECALL, HY_K)


register("hybrid_rerank", q_hybrid_rerank, _oracle_hybrid_rerank())


# --------------------------------------------------------------------------
# q_embed_clusters — same pair construction as q_embed_pairs (unguarded,
# oracle equivalence), then transitive cluster resolution.
# --------------------------------------------------------------------------


def q_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_clusters, embedding_cosine_pairs

    emb = load(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(emb, "embedding", "vec_id",
                                   threshold=EP_THRESHOLD,
                                   n_planes=EP_PLANES,
                                   max_bucket=None, dim=EMB_DIM)
    return dedup_clusters(pairs, node_col="vec_id") \
        .select("vec_id", "cluster_id")


def _oracle_embed_clusters() -> str:
    from .queries3 import _oracle_embed_pairs

    return f"""
    WITH RECURSIVE ep AS MATERIALIZED ({_oracle_embed_pairs()}),
    edges AS MATERIALIZED (
        SELECT a_id AS x, b_id AS y FROM ep
        UNION
        SELECT b_id, a_id FROM ep),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y)
    SELECT n AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY n
    """


register("embed_clusters", q_embed_clusters, _oracle_embed_clusters())
