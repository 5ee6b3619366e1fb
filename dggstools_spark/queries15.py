"""Driver-contract queries, batch 15 (round 5): corpus profiling —

- len_histogram: power-of-2 sequence-length histogram + padding-waste
  curve over candidate max_len values (the pre-packing config pick);
- corpus_diff: snapshot A vs B added/removed/changed/unchanged report
  (B derived deterministically from A via shared snippets so both
  engines diff the identical pair);
- fertility: per-language BPE-ish subword inflation (tokenizer QA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register


def q_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import len_histogram

    docs = load(spark, sf_dir, "documents")
    return len_histogram(docs, "text")


def _oracle_len_histogram() -> str:
    from .operators.profile import len_histogram_sql

    return len_histogram_sql("documents", "text")


register("len_histogram", q_len_histogram, _oracle_len_histogram())


# --------------------------------------------------------------------------
# q_corpus_diff — snapshot B is derived from A (the parquet `documents`)
# with deterministic edits: drop doc_id % 5 = 0 (removed), append ' v2'
# where doc_id % 3 = 0 (changed), and add shifted copies of doc_id % 11
# = 0 (added).  The same snippet text builds B on both engines.
# --------------------------------------------------------------------------

_DIFF_EDIT = "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' v2') ELSE text END"
_DIFF_ADD_SHIFT = 10_000_000


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import corpus_diff

    a = load(spark, sf_dir, "documents")
    kept = (a.filter("doc_id % 5 != 0")
            .select("doc_id", F.expr(_DIFF_EDIT).alias("text")))
    added = (a.filter("doc_id % 11 = 0")
             .select((F.col("doc_id") + _DIFF_ADD_SHIFT).alias("doc_id"),
                     "text"))
    return corpus_diff(a, kept.unionAll(added), "text", "doc_id")


def _oracle_corpus_diff() -> str:
    from .operators.profile import corpus_diff_sql

    b = f"""(SELECT doc_id, {_DIFF_EDIT} AS text
             FROM documents WHERE doc_id % 5 != 0
             UNION ALL
             SELECT doc_id + {_DIFF_ADD_SHIFT} AS doc_id, text
             FROM documents WHERE doc_id % 11 = 0)"""
    return corpus_diff_sql("documents", b, "text", "doc_id")


register("corpus_diff", q_corpus_diff, _oracle_corpus_diff())


def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import fertility

    docs = load(spark, sf_dir, "documents")
    return fertility(docs, "text", "lang")


def _oracle_fertility() -> str:
    from .operators.profile import fertility_sql

    return fertility_sql("documents", "text", "lang")


register("fertility", q_fertility, _oracle_fertility())
