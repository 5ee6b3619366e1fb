"""Gopher-style repetition / quality signals, fully relational.

The repetition filters from the Gopher dataset paper (Rae et al. 2021,
"Scaling Language Models: ... Gopher", table A1 — public) adapted to this
engine's whitespace-token corpus: per-document fractions of repeated
n-grams and the mass of the single most frequent bigram, plus cheap
lexical stats (mean word length, stopword fraction).  A document failing
any threshold is flagged low-quality.  No counterpart in the reference
engine; LLM-pipeline layer, sits next to functions/text.py's lang-ID and
quality_q20 (which are single-pass scalar signals — this operator covers
the *distributional* signals that need explode + aggregate).

Scale design (100 TB):

- Everything is built-in SQL expressions over exploded tokens/shingles —
  whole-stage codegen, zero Python.  Three aggregations, all keyed on the
  document id (map-side partial agg), joined back id-to-id so AQE can
  reuse the partitioning; no window wider than one document.
- The top-bigram pick is a rank-1 window (partitionBy doc, orderBy count
  desc) — Catalyst inserts a partial WindowGroupLimit below the shuffle
  (CLAUDE.md constraint 9), so only each map task's leaders shuffle.
- All ratios are exact integer arithmetic quantized to ppm (constraint 13:
  no float aggregation order-dependence; results are run- and
  partitioning-stable, and oracle-checkable bit-exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import shingles, tokens

#: stopwords present in the synthetic corpus vocabulary
STOPWORDS = ("the", "a", "of", "and", "in", "to")


def gopher_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition/quality report.

    Returns one row per document:
      (id_col, n_toks, mean_len_ppm, stop_ppm, rep3_ppm, top2_ppm,
       quality_ok)
    where mean_len_ppm = round(1e6 * sum(len(tok)) / n_toks),
    stop_ppm     = round(1e6 * n_stopword_toks / n_toks), stopwords
                   from STOPWORDS,
    rep3_ppm     = round(1e6 * (1 - distinct_trigrams / trigrams))
                   (fraction of word trigrams that are repeats),
    top2_ppm     = round(1e6 * chars_in_most_frequent_bigram / chars)
                   (count * len(bigram) over the doc's total characters;
                   ties broken lexicographically for determinism),
    quality_ok   = 1 iff rep3_ppm <= 180000 AND top2_ppm <= 200000
                   AND stop_ppm >= 10000.

    Scan shape: the three signal families need three different explodes
    (tokens / trigrams / bigrams), so the plan reads the (id, text)
    projection three times — three column-pruned parquet scans.  For a
    one-scan plan over a 100 TB corpus, point ``df`` at an
    already-cached/projected table.
    """
    base = df.select(id_col, text_col)
    tok = tokens(base, text_col).select(
        id_col, F.col("tok"), F.length(text_col).alias("_chars"))

    tok_stats = tok.groupBy(id_col).agg(
        F.count("*").alias("n_toks"),
        F.sum(F.length("tok")).alias("_sum_len"),
        F.sum(F.col("tok").isin(*STOPWORDS).cast("long")).alias("_n_stop"),
        F.first("_chars").alias("_chars"),
    )

    tri = shingles(base, text_col, 3, out="g3").groupBy(id_col).agg(
        F.count("g3").alias("_n3"),
        F.countDistinct("g3").alias("_n3d"),
    )

    big = (
        shingles(base, text_col, 2, out="g2")
        .groupBy(id_col, "g2").agg(F.count("*").alias("_c"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("g2"))
    top2 = (
        big.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col,
                (F.col("_c") * F.length("g2")).alias("_top2_chars"))
    )

    out = (
        tok_stats.join(tri, id_col).join(top2, id_col)
        .select(
            id_col,
            F.col("n_toks"),
            F.round(F.col("_sum_len") * 1000000.0 / F.col("n_toks"))
            .cast("long").alias("mean_len_ppm"),
            F.round(F.col("_n_stop") * 1000000.0 / F.col("n_toks"))
            .cast("long").alias("stop_ppm"),
            F.round((F.col("_n3") - F.col("_n3d")) * 1000000.0
                    / F.col("_n3")).cast("long").alias("rep3_ppm"),
            F.round(F.col("_top2_chars") * 1000000.0 / F.col("_chars"))
            .cast("long").alias("top2_ppm"),
        )
    )
    return out.withColumn(
        "quality_ok",
        ((F.col("rep3_ppm") <= 180000)
         & (F.col("top2_ppm") <= 200000)
         & (F.col("stop_ppm") >= 10000)).cast("int"))
