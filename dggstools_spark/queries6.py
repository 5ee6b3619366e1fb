"""Driver-contract queries, batch 6 (round 5): deterministic sampling.

operators/sampling.py is the engine's content-keyed sampling layer (see
its module docstring for why `df.sample()` is unusable at 100 TB: Spark's
Bernoulli sample is partition-seed-dependent, so retries/repartitioning
silently change the selected corpus).  All three operators are pure SQL
over md5, so each is value-checked against DuckDB on the identical
preimage strings — the strongest available evidence that the "same sample
on any engine, any partitioning, any run" contract actually holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.sampling import (_HEX_DIGITS, _threshold_hex, hash_sample,
                                 stratified_sample, weighted_mixture)
from .queries3 import load
from .registry import register


def _md5_prefix_sql(salt: str) -> str:
    """DuckDB twin of sampling._hash_prefix — identical preimage text."""
    return (f"substr(md5(concat('{salt}:', CAST(doc_id AS VARCHAR))),"
            f" 1, {_HEX_DIGITS})")


# --------------------------------------------------------------------------
# q_hash_sample — deterministic Bernoulli sample (no shuffle, scan-stage
# predicate); the oracle re-derives the exact member set from content
# --------------------------------------------------------------------------

HS_RATE = 0.35
HS_SALT = "s0"


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", HS_RATE, salt=HS_SALT) \
        .select("doc_id", "source")


def _oracle_hash_sample() -> str:
    return f"""
    SELECT doc_id, source FROM documents
    WHERE {_md5_prefix_sql(HS_SALT)} < '{_threshold_hex(HS_RATE)}'
    """


register("hash_sample", q_hash_sample, _oracle_hash_sample())


# --------------------------------------------------------------------------
# q_stratified_sample — exact per-source quota by hash rank; the partial
# WindowGroupLimit below the shuffle is the scale story (constraint 9)
# --------------------------------------------------------------------------

SS_QUOTA = 10
SS_SALT = "s1"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", "doc_id", SS_QUOTA,
                             salt=SS_SALT).select("doc_id", "source")


def _oracle_stratified_sample() -> str:
    return f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_md5_prefix_sql(SS_SALT)}, doc_id)
               AS rn
      FROM documents)
    WHERE rn <= {SS_QUOTA}
    """


register("stratified_sample", q_stratified_sample, _oracle_stratified_sample())


# --------------------------------------------------------------------------
# q_weighted_mixture — deterministic corpus recipe: per-source keep-rates
# proportional to weights (largest weight kept at total_rate)
# --------------------------------------------------------------------------

WM_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
WM_TOTAL = 0.8
WM_SALT = "s2"


def q_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return weighted_mixture(docs, "source", "doc_id", WM_WEIGHTS,
                            total_rate=WM_TOTAL, salt=WM_SALT) \
        .select("doc_id", "source")


def _oracle_weighted_mixture() -> str:
    wmax = max(WM_WEIGHTS.values())
    cases = " ".join(
        f"WHEN '{s}' THEN '{_threshold_hex(WM_TOTAL * w / wmax)}'"
        for s, w in WM_WEIGHTS.items())
    return f"""
    SELECT doc_id, source FROM documents
    WHERE source IN ({", ".join(f"'{s}'" for s in WM_WEIGHTS)})
      AND {_md5_prefix_sql(WM_SALT)} < (CASE source {cases} END)
    """


register("weighted_mixture", q_weighted_mixture, _oracle_weighted_mixture())


# --------------------------------------------------------------------------
# q_bm25_topk — lexical relevance ranking (operators/text_rank.py): the
# retrieval half of a RAG/curation pipeline, next to the embedding-based
# ANN queries.  Scores are quantized-integer sums (constraint 13) so the
# per-doc total is run-stable and the DuckDB twin reproduces it exactly.
# --------------------------------------------------------------------------

BM_TERMS = ["hash", "join", "vector", "stream"]
BM_K = 25


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_rank import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", BM_TERMS, BM_K)


def _oracle_bm25_topk() -> str:
    from .operators.text_rank import bm25_oracle_sql

    return bm25_oracle_sql("documents", "text", "doc_id", BM_TERMS, BM_K)


register("bm25_topk", q_bm25_topk, _oracle_bm25_topk())
