"""Driver-contract queries, batch 9 (round 5): the remaining production
dedup/profiling steps of the training-data pipeline —

- passage_dedup: corpus-wide duplicate-passage REMOVAL with per-doc rebuild
  (the C4/MassiveText hygiene step; value-checked via the md5 of the
  rebuilt text, so the keep rule and reassembly order are bit-pinned);
- cross_dedup: incremental dedup of an incoming batch against an existing
  snapshot (exact fp semi-join + MinHash-LSH candidate join + exact
  Jaccard verify — the "dedup the new crawl against the training set"
  step; neither side self-joins);
- corpus_stats: exact per-language token-length percentiles computed over
  the value DISTRIBUTION (|distinct| rows) instead of a per-group row sort
  — exactness at sketch cost, run-stable unlike approx_percentile.

All three are pure built-in-SQL constructions with bit-exact DuckDB
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import fingerprint, token_count
from .queries3 import load
from .registry import register


# --------------------------------------------------------------------------
# q_passage_dedup
# --------------------------------------------------------------------------

PD_CHUNK = 8  # tokens per passage


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.passage import passage_dedup

    docs = load(spark, sf_dir, "documents")
    return passage_dedup(docs, "text", "doc_id", chunk_tokens=PD_CHUNK) \
        .select("doc_id",
                F.col("n_chunks").cast("bigint").alias("n_chunks"),
                F.col("n_kept").cast("bigint").alias("n_kept"),
                F.col("n_dropped").cast("bigint").alias("n_dropped"),
                F.col("kept_tokens").cast("bigint").alias("kept_tokens"),
                "rebuilt_md5")


def _oracle_passage_dedup() -> str:
    k = PD_CHUNK
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ch0 AS (SELECT doc_id,
                   unnest(list_transform(
                       range(greatest(CAST(ceil(len(t) / {k}.0) AS INT), 1)),
                       i -> struct_pack(chunk_idx := i,
                                        passage := array_to_string(
                                            list_slice(t, i * {k} + 1,
                                                       i * {k} + {k}), ' '))))
                       AS c
            FROM toks),
    ch AS (SELECT doc_id, c.chunk_idx AS chunk_idx, c.passage AS passage,
                  md5(c.passage) AS ph
           FROM ch0),
    flagged AS (SELECT doc_id, chunk_idx, passage,
                       CASE WHEN row_number() OVER
                            (PARTITION BY ph ORDER BY doc_id, chunk_idx) = 1
                            THEN 1 ELSE 0 END AS keep
                FROM ch)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN keep = 1
                         THEN len(string_split(passage, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens,
           md5(coalesce(string_agg(passage, ' ' ORDER BY chunk_idx)
                            FILTER (WHERE keep = 1), '')) AS rebuilt_md5
    FROM flagged GROUP BY doc_id
    """


register("passage_dedup", q_passage_dedup, _oracle_passage_dedup())


# --------------------------------------------------------------------------
# q_cross_dedup — incoming = doc_id % 10 >= 8 (20%), snapshot = the rest.
# MinHash params match q_minhash (4 hashes, 2 bands of 2, 3-gram shingles)
# so the signature construction stays the one oracle-pinned dialect.
# --------------------------------------------------------------------------

XC_HASHES = 4
XC_BAND = 2
XC_THR = 0.5
XC_CAP = 200


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cross_corpus_dedup

    docs = load(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = docs.filter(F.col("doc_id") % 10 >= 8)
    return cross_corpus_dedup(existing, incoming, "text", "doc_id",
                              n_hashes=XC_HASHES, band_size=XC_BAND,
                              threshold=XC_THR, max_bucket=XC_CAP) \
        .select("doc_id",
                F.col("exact_dup").cast("bigint").alias("exact_dup"),
                F.col("near_dup").cast("bigint").alias("near_dup"),
                F.col("kept").cast("bigint").alias("kept"))


def _oracle_cross_dedup() -> str:
    mins = ", ".join(
        f"min(md5(concat('{i}:', shingle))) AS h{i}" for i in range(XC_HASHES))
    band_list = ("ARRAY[concat('b0:', h0, h1), concat('b1:', h2, h3)]")
    thr_ppm = int(XC_THR * 1e6)
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    -- distinct word 3-gram shingles (same short-doc slice rule as the
    -- minhash oracle); min over distinct == min over the multiset, so one
    -- CTE serves both the signatures and the Jaccard verify
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(greatest(len(t) - 2, 1)),
                      i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
                   AS shingle
        FROM toks),
    sig AS MATERIALIZED (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS MATERIALIZED (
        SELECT doc_id, unnest({band_list}) AS band_key FROM sig),
    ex_bands AS (SELECT doc_id AS ex_id, band_key FROM bands
                 WHERE doc_id % 10 < 8
                 QUALIFY count(*) OVER (PARTITION BY band_key) <= {XC_CAP}),
    in_bands AS (SELECT doc_id AS in_id, band_key FROM bands
                 WHERE doc_id % 10 >= 8),
    cand AS MATERIALIZED (
        SELECT DISTINCT in_id, ex_id
        FROM in_bands JOIN ex_bands USING (band_key)),
    sizes AS MATERIALIZED (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT c.in_id, c.ex_id, count(*) AS n_int
              FROM cand c
              JOIN sh a ON a.doc_id = c.in_id
              JOIN sh b ON b.doc_id = c.ex_id AND b.shingle = a.shingle
              GROUP BY c.in_id, c.ex_id),
    near AS (SELECT DISTINCT i.in_id
             FROM inter i
             JOIN sizes sa ON sa.doc_id = i.in_id
             JOIN sizes sb ON sb.doc_id = i.ex_id
             WHERE i.n_int * 1000000
                   >= {thr_ppm} * (sa.n_sh + sb.n_sh - i.n_int)),
    fps AS MATERIALIZED (
        SELECT doc_id, {fingerprint('text')} AS fp FROM documents),
    exact AS (SELECT DISTINCT a.doc_id
              FROM fps a JOIN fps b ON a.fp = b.fp
              WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8)
    SELECT d.doc_id,
           CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS exact_dup,
           CAST(CASE WHEN n.in_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS near_dup,
           CAST(CASE WHEN e.doc_id IS NULL AND n.in_id IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM documents d
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near n ON n.in_id = d.doc_id
    WHERE d.doc_id % 10 >= 8
    """


register("cross_dedup", q_cross_dedup, _oracle_cross_dedup())


# --------------------------------------------------------------------------
# q_corpus_stats — exact per-language token-count percentile profile
# --------------------------------------------------------------------------

CS_QUANTS = (0.5, 0.9, 0.99)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import distribution_percentiles

    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"CAST({token_count('text')} AS BIGINT)").alias("n_tok"))
    return distribution_percentiles(docs, "lang", "n_tok",
                                    quantiles=CS_QUANTS)


def _oracle_corpus_stats() -> str:
    from .operators.stats import percentile_sql

    return percentile_sql(
        "documents", "lang", f"CAST({token_count('text')} AS BIGINT)",
        "n_tok", quantiles=CS_QUANTS)


register("corpus_stats", q_corpus_stats, _oracle_corpus_stats())
