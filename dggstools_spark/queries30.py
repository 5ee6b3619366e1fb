"""Driver-contract queries, batch 34 (round 6): BPE tokenizer training.

- ``bpe_merges``: the learned merge table — BPE_ROUNDS rounds of
  most-frequent-adjacent-pair induction over the documents corpus
  (operators/bpe.py; Sennrich 2016 semantics, vocabulary-sized state,
  one corpus pass).
- ``bpe_stats``: the corpus-level payoff of those merges — words, total
  occurrences, initial symbol count (chars + '</w>'), final token count
  under the learned merges, and the exact compression ratio in ppm.

Both are ALL-INTEGER/string outputs (hash-exact); the oracle unrolls the
identical rounds as MATERIALIZED CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register

BPE_ROUNDS = 6


def _bpe(spark: SparkSession, sf_dir: str):
    from .operators.bpe import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), "text",
                     BPE_ROUNDS)


def _bpe_sql_with() -> str:
    from .operators.bpe import bpe_ctes, word_table_sql

    return bpe_ctes(word_table_sql("documents", "text"), BPE_ROUNDS)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe(spark, sf_dir)
    return merges


def _oracle_bpe_merges() -> str:
    return (f"WITH {_bpe_sql_with()}\n"
            f'SELECT round, "left", "right", pair_count FROM mrg')


register("bpe_merges", q_bpe_merges, _oracle_bpe_merges())


def q_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, seq = _bpe(spark, sf_dir)
    words = seq.select("word", "freq").distinct()
    init = words.agg(
        F.count("*").alias("n_words"),
        F.sum("freq").alias("total_freq"),
        F.sum(F.expr("freq * (char_length(word) + 1)")).alias(
            "init_syms"))
    fin = seq.agg(F.sum("freq").alias("final_tokens"))
    return (init.crossJoin(F.broadcast(fin))
            .select(F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("total_freq").cast("bigint").alias(
                        "total_freq"),
                    F.col("init_syms").cast("bigint").alias("init_syms"),
                    F.col("final_tokens").cast("bigint").alias(
                        "final_tokens"),
                    F.expr("(final_tokens * 1000000) div init_syms")
                    .cast("bigint").alias("compression_ppm")))


def _oracle_bpe_stats() -> str:
    return f"""
    WITH {_bpe_sql_with()},
    _init AS (
        SELECT CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(freq) AS BIGINT) AS total_freq,
               CAST(sum(freq * (length(word) + 1)) AS BIGINT)
                   AS init_syms
        FROM _w),
    _fin AS (SELECT CAST(sum(freq) AS BIGINT) AS final_tokens
             FROM seq{BPE_ROUNDS})
    SELECT n_words, total_freq, init_syms, final_tokens,
           CAST((final_tokens * 1000000) // init_syms AS BIGINT)
               AS compression_ppm
    FROM _init CROSS JOIN _fin
    """


register("bpe_stats", q_bpe_stats, _oracle_bpe_stats())


# --------------------------------------------------------------------------
# q_bpe_tokenize (batch 35): the runtime tokenizer — train BPE_ROUNDS
# merges on the 80% train split (doc_id % 5 != 0), apply them with the
# identical greedy rewrite to the HELD-OUT 20%, and rank the resulting
# subword tokens by weighted occurrence.  Exercises cross-corpus
# application: held-out words unseen in training still decompose under
# the learned merges (the whole point of subword tokenization).
# --------------------------------------------------------------------------

BPE_TOK_K = 15


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.bpe import bpe_apply, bpe_train

    docs = load(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs.filter("doc_id % 5 != 0"), "text",
                          BPE_ROUNDS)
    seq = bpe_apply(docs.filter("doc_id % 5 = 0"), "text", merges)
    w = Window.orderBy(F.desc("occ"), F.asc("token"))
    return (seq.groupBy(F.col("sym").alias("token"))
            .agg(F.sum("freq").cast("bigint").alias("occ"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= BPE_TOK_K)
            .select("token", "occ", "rank"))


def _oracle_bpe_tokenize() -> str:
    from .operators.bpe import bpe_apply_ctes, bpe_ctes, word_table_sql

    train_w = word_table_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 != 0)", "text")
    new_w = word_table_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)", "text")
    return f"""
    WITH {bpe_ctes(train_w, BPE_ROUNDS)},
    {bpe_apply_ctes(new_w, BPE_ROUNDS)},
    _occ AS (
        SELECT sym AS token, CAST(sum(freq) AS BIGINT) AS occ
        FROM app{BPE_ROUNDS} GROUP BY sym)
    SELECT token, occ, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY occ DESC, token)
              AS rank FROM _occ)
    WHERE rank <= {BPE_TOK_K}
    """


register("bpe_tokenize", q_bpe_tokenize, _oracle_bpe_tokenize())
