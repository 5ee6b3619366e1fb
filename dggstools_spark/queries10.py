"""Driver-contract queries, batch 10 (round 5): the bookends of the
training-data pipeline —

- html_extract: web-crawl boilerplate removal (the FIRST pipeline step;
  deterministic synthetic HTML planted around each document, per-doc
  extracted-text md5 value-checked bit-exactly, scrub.py's planted-PII
  pattern);
- vocab_topk: tokenizer-vocabulary induction (global top-V token table
  with exact cumulative-coverage ppm; TakeOrderedAndProject cut, never a
  corpus-wide sort);
- epoch_shuffle: deterministic sharded training order (the LAST pipeline
  step; per-shard order digest pins shard assignment AND sequence
  byte-exactly across engines/runs/retries).

All three pure built-in SQL with bit-exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register


# --------------------------------------------------------------------------
# q_html_extract — the synthetic corpus is plain text, so the query plants
# deterministic HTML (script block + two doc-derived links + markup) via a
# shared SQL snippet; the oracle re-derives the identical page and the
# extraction md5 must match bit-exactly.
# --------------------------------------------------------------------------


def _page_sql(cast_t: str) -> str:
    """Planted-HTML snippet; identical text modulo the cast keyword."""
    c = cast_t
    return (
        "concat('<html><head><script type=\"text/javascript\">var doc=',"
        " CAST(doc_id AS {c}),"
        " ';track();</script><style>p{margin:0}</style></head>',"
        " '<body><div class=\"nav\"><a href=\"/home\">home</a>"
        " <a href=\"/doc/', CAST(doc_id AS {c}), '\">doc ',"
        " CAST(doc_id AS {c}), '</a></div><p>', text,"
        " '</p></body></html>')"
    ).replace("{c}", c)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.boiler import html_extract

    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.expr(_page_sql("STRING")).alias("html"))
    return html_extract(docs, "html", "doc_id").drop("extracted")


def _oracle_html_extract() -> str:
    from .operators.boiler import (anchor_chars_sql, count_sql, extract_sql,
                                   _LINK_PAT, _TAG_PAT)

    page = _page_sql("VARCHAR")
    ext = extract_sql("html")
    return f"""
    WITH a AS (SELECT doc_id, {page} AS html FROM documents),
    e AS (SELECT doc_id, html, {ext} AS extracted FROM a)
    SELECT doc_id,
           {count_sql('html', _TAG_PAT)} AS n_tags,
           {count_sql('html', _LINK_PAT)} AS n_links,
           {anchor_chars_sql('html')} AS anchor_chars,
           CAST(length(extracted) AS BIGINT) AS text_chars,
           CASE WHEN length(extracted) > 0
                THEN CAST(round(({anchor_chars_sql('html')}) * 1000000.0
                                / length(extracted)) AS BIGINT)
                ELSE 0 END AS link_ppm,
           md5(extracted) AS extracted_md5
    FROM e
    """


register("html_extract", q_html_extract, _oracle_html_extract())


# --------------------------------------------------------------------------
# q_vocab_topk
# --------------------------------------------------------------------------

VOCAB_V = 200


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.vocab import vocab_topk

    docs = load(spark, sf_dir, "documents")
    return vocab_topk(docs, "text", v=VOCAB_V)


def _oracle_vocab_topk() -> str:
    from .operators.vocab import vocab_topk_sql

    return vocab_topk_sql("documents", "text", v=VOCAB_V)


register("vocab_topk", q_vocab_topk, _oracle_vocab_topk())


# --------------------------------------------------------------------------
# q_epoch_shuffle
# --------------------------------------------------------------------------

EPOCH_SEED = "epoch1"
EPOCH_SHARDS = 16


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordering import epoch_shuffle_stats

    docs = load(spark, sf_dir, "documents")
    return epoch_shuffle_stats(docs, "doc_id", seed=EPOCH_SEED,
                               n_shards=EPOCH_SHARDS)


def _oracle_epoch_shuffle() -> str:
    from .operators.ordering import epoch_shuffle_stats_sql

    return epoch_shuffle_stats_sql("documents", "doc_id", seed=EPOCH_SEED,
                                   n_shards=EPOCH_SHARDS)


register("epoch_shuffle", q_epoch_shuffle, _oracle_epoch_shuffle())
