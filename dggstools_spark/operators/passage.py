"""Corpus-wide passage-level deduplication (the C4 / MassiveText "remove
repeated spans" hygiene step).

Documents are chunked into fixed-size non-overlapping token windows
("passages"); any passage whose exact text occurs more than once in the
corpus is removed from every document EXCEPT its first occurrence (first =
lexicographically smallest (doc_id, chunk_idx) — a deterministic keep rule
that survives repartitioning and retries, unlike "whichever task saw it
first").  Each document is then rebuilt from its kept passages in original
order.

Reference framing: the reference engine (IAAA-Lab/dggstools) has no corpus
hygiene; this extends the engine for LLM training-data pipelines, next to
query dedup_exact (whole-doc) and dedup.winnow_pairs (passage FINGERPRINT
pairs).  winnow_pairs *reports* copied passages between doc pairs;
passage_dedup *rewrites* the corpus, which is the production step.

Scale design (100 TB):
- chunking is one narrow projection (split + slice, whole-stage codegen);
- the first-occurrence decision is ONE shuffle: a window row_number over
  hash(passage) — no self-join, no collect.  Passage-hash groups are
  naturally small (a passage repeated 10^6 times is boilerplate; the
  window still only sorts within each hash group);
- the rebuild is one groupBy(doc_id) with a sort_array(collect_list)
  bounded by document length — the same bound any per-doc op carries.
Three shuffles total (hash window, doc rebuild, plus the explode's input
scan); all hash-partitioned, no skew beyond passage-frequency itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def passages(df: DataFrame, text_col: str, id_col: str,
             chunk_tokens: int = 8) -> DataFrame:
    """(id_col, chunk_idx, passage) — non-overlapping ``chunk_tokens``-word
    windows; the final chunk may be shorter (slice past the end yields a
    short list on both Spark and DuckDB, so oracles match bit-exactly)."""
    k = int(chunk_tokens)
    return (
        df.select(id_col, text_col)
        .withColumn("_toks", F.split(F.col(text_col), " "))
        .select(
            id_col,
            F.posexplode(F.expr(
                # greatest(...,1): an empty text still yields one (empty)
                # chunk instead of a DESCENDING sequence(0,-1)
                f"transform(sequence(0, greatest(CAST(ceil(size(_toks) / {k}.0) AS INT), 1) - 1),"
                f" i -> array_join(slice(_toks, i * {k} + 1, {k}), ' '))"
            )).alias("chunk_idx", "passage"),
        )
    )


def passage_dedup(df: DataFrame, text_col: str, id_col: str,
                  chunk_tokens: int = 8) -> DataFrame:
    """Per-document rebuild stats after corpus-wide passage dedup.

    Output: (id_col, n_chunks, n_kept, n_dropped, kept_tokens,
    rebuilt_md5) where rebuilt_md5 hashes the document rebuilt from its
    kept passages joined by single spaces ('' when every passage was a
    repeat) — value-checkable bit-exactly against an independent engine.
    """
    ch = passages(df, text_col, id_col, chunk_tokens) \
        .withColumn("ph", F.md5("passage"))
    w = Window.partitionBy("ph").orderBy(id_col, "chunk_idx")
    flagged = ch.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("keep").alias("n_kept"),
            (F.count("*") - F.sum("keep")).alias("n_dropped"),
            F.sum(F.when(F.col("keep") == 1,
                         F.size(F.split("passage", " ")))
                  .otherwise(F.lit(0))).alias("kept_tokens"),
            F.md5(F.array_join(F.transform(
                F.sort_array(F.collect_list(F.when(
                    F.col("keep") == 1,
                    F.struct(F.col("chunk_idx"), F.col("passage"))))),
                lambda s: s.passage), " ")).alias("rebuilt_md5"),
        )
    )
