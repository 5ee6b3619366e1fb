"""Driver-contract queries, batch 8 (round 5): sequence packing + PII
scrubbing — the remaining batch-construction / privacy steps of the
training-data pipeline.  Both are pure built-in-SQL constructions, so both
are value-checked bit-exactly against DuckDB (the scrub check hashes the
actual redacted text, not just the counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import token_count
from .queries3 import load
from .registry import register


# --------------------------------------------------------------------------
# q_pack_stats — sharded greedy sequence packing (operators/pack.py)
# --------------------------------------------------------------------------

PK_BUDGET = 512
PK_SALT = "pack"
PK_HEX = 1  # 16 shards — sized so sf0.01's 500 docs still fill bins


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pack import pack_stats

    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.expr(token_count("text")).alias("n_tok"))
    return pack_stats(docs, "doc_id", "n_tok", PK_BUDGET,
                      salt=PK_SALT, n_shard_hex=PK_HEX)


def _oracle_pack_stats() -> str:
    return f"""
    WITH base AS (SELECT doc_id, {token_count('text')} AS n_tok,
                         md5(concat('{PK_SALT}:',
                                    CAST(doc_id AS VARCHAR))) AS h
                  FROM documents),
    sh AS (SELECT *, substr(h, 1, {PK_HEX}) AS shard FROM base),
    c AS (SELECT shard, n_tok,
                 sum(n_tok) OVER (PARTITION BY shard ORDER BY h) AS cum
          FROM sh),
    bins AS (SELECT shard,
                    CAST(floor((cum - n_tok) / {PK_BUDGET}) AS BIGINT)
                        AS bin_id,
                    n_tok
             FROM c)
    SELECT shard, bin_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(round(sum(n_tok) * 1000000.0 / {PK_BUDGET}) AS BIGINT)
               AS fill_ppm
    FROM bins GROUP BY shard, bin_id
    """


register("pack_stats", q_pack_stats, _oracle_pack_stats())


# --------------------------------------------------------------------------
# q_pii_scrub — regex redaction with value-checked scrubbed-text hashes.
# The synthetic corpus carries no PII, so the query plants deterministic
# synthetic PII (email/IP/phone derived from doc_id) via a SHARED SQL
# snippet, then scrubs it — the oracle re-derives the identical augmented
# text and the md5 of the scrubbed result must match bit-exactly.
# --------------------------------------------------------------------------


def _aug_sql(cast_t: str) -> str:
    """Augmented-text snippet; identical text modulo the cast keyword
    (STRING on Spark, VARCHAR on DuckDB)."""
    c = cast_t
    return ("concat(text, ' contact user', CAST(doc_id AS {c}),"
            " '@example.com from 10.', CAST(doc_id % 256 AS {c}),"
            " '.0.', CAST(doc_id % 100 AS {c}),"
            " ' call 555 123 ', CAST(1000000 + doc_id AS {c}))"
            ).replace("{c}", c)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scrub import scrub_pii

    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.expr(_aug_sql("STRING")).alias("text"))
    return scrub_pii(docs, "text", "doc_id").drop("scrubbed")


def _oracle_pii_scrub() -> str:
    from .operators.scrub import count_sql, scrub_sql

    aug = _aug_sql("VARCHAR")
    return f"""
    WITH a AS (SELECT doc_id, {aug} AS text FROM documents)
    SELECT doc_id,
           {count_sql('text', 'email')} AS n_email,
           {count_sql('text', 'ipv4')} AS n_ipv4,
           {count_sql('text', 'digits')} AS n_digits,
           md5({scrub_sql('text')}) AS scrubbed_md5
    FROM a
    """


register("pii_scrub", q_pii_scrub, _oracle_pii_scrub())
