"""Hashed n-gram importance selection (DSIR-style), fully relational.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023)
selects pretraining documents that look like a small TARGET corpus: hash
every token into B buckets, estimate the bucket distribution of the target
and of the raw pool, and score each raw document by how much its buckets
favour the target distribution; keep the top-scoring documents.

Determinism contract (CLAUDE.md constraint 13): the paper's per-feature
log-ratio ln(p_t/p_r) is a float whose libm rounding is not bit-portable,
and its per-doc sum is not run-stable under partial aggregation.  Scores
here stay in INTEGER space: each bucket b carries a weight

    w(b) = ((t_b + 1) * 1_000_000) div (T + B)      -- target ppm
         - ((r_b + 1) * 1_000_000) div (R + B)      -- raw ppm

(Laplace-smoothed linear-space salience rather than log-space ratio —
overflow-safe in BIGINT at any corpus size, monotone in target-ness per
bucket), and a document scores the sum of its tokens' bucket weights —
integer, associative, run-stable, engine-exact.  The log-space variant is
a one-line swap where bit-exactness is not required.

Scale design (100 TB):
- TWO corpus passes (one to build the B-row bucket stats — materialized
  via localCheckpoint so the scan+explode subtree is never re-derived —
  and one to score): explode tokens, bucket via built-in md5 (JVM-side,
  codegen), and aggregate target/raw counts in the same map-side-combining
  hash aggregate (conditional sum — no extra pass for the target slice);
- the bucket table is B rows (4096 default): weights are computed on it
  driver-free and BROADCAST back to the token stream, so scoring adds no
  shuffle beyond the per-doc rollup;
- top-k selection is a rank window with no partition — Catalyst plans a
  PARTIAL WindowGroupLimit before the single-partition merge (CLAUDE.md
  constraint 9), so only k rows per task reach the exchange.

Reference parity: no counterpart in the reference engine; LLM-pipeline
extension batch (SURVEY.md §2 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import tokens

DSIR_BUCKETS = 4096
DSIR_PPM = 1_000_000


def _bucket(tok: str | Column) -> Column:
    """Stable 32-bit token hash (md5 hex prefix — the engine-portable token
    hash, same family as dedup._md5_halves) for bucket assignment."""
    col = F.col(tok) if isinstance(tok, str) else tok
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def dsir_scores(df: DataFrame, text_col: str, id_col: str,
                target: Column, n_buckets: int = DSIR_BUCKETS,
                k: int | None = None) -> DataFrame:
    """(id, is_target, n_toks, score[, rank]) — hashed-unigram importance
    score per document; ``target`` is a boolean Column marking the target
    slice (e.g. ``F.col('lang') == 'en'``).  With ``k``, returns only the
    top-k raw documents by (score desc, id) with their rank.

    Contract: ``id_col`` must be unique and non-null — duplicate ids merge
    token multisets in the per-doc rollup (same contract as
    dedup.simhash_ids)."""
    toks = (tokens(df.filter(F.col(text_col).isNotNull())
                   .select(id_col, target.cast("int").alias("tgt"), text_col),
                   text_col)
            .select(id_col, "tgt",
                    F.pmod(_bucket("tok"), F.lit(n_buckets)).alias("b")))
    # Materialize the B-row bucket stats (ADVICE r5): without the lineage
    # cut, `tot` and the weights join each re-derive stats from the full
    # scan+explode subtree — 3 corpus passes where 2 suffice (the same
    # re-scan disease lm_score's c12 checkpoint fixes).  stats is n_buckets
    # rows, so the checkpoint is ~free; after it, weight derivation is
    # driver-free arithmetic on a materialized 4096-row table.
    stats = toks.groupBy("b").agg(
        F.count("*").alias("r_cnt"), F.sum("tgt").alias("t_cnt"))
    stats = stats.localCheckpoint(eager=True)  # dedup: 2 consumers
    tot = stats.agg(F.sum("r_cnt").alias("R"), F.sum("t_cnt").alias("T"))
    weights = (stats.crossJoin(F.broadcast(tot))
               .withColumn("w", F.expr(
                   f"((t_cnt + 1) * {DSIR_PPM}) div (T + {n_buckets})"
                   f" - ((r_cnt + 1) * {DSIR_PPM}) div (R + {n_buckets})"))
               .select("b", "w"))
    doc = (toks.join(F.broadcast(weights), "b")
           .groupBy(id_col)
           .agg(F.max("tgt").cast("bigint").alias("is_target"),
                F.count("*").alias("n_toks"),
                F.sum("w").alias("score")))
    if k is None:
        return doc
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (doc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def dsir_scores_sql(table: str, text_col: str, id_col: str,
                    target_sql: str, k: int | None = None) -> str:
    """DuckDB twin at DSIR_BUCKETS buckets: same bucket hash (md5 hex prefix
    parsed portably), same integer weights; ``target_sql`` is the boolean
    SQL predicate."""
    hex32 = " + ".join(
        f"(instr('0123456789abcdef', substring(m, {1 + i}, 1)) - 1)"
        f" * {16 ** (7 - i)}" for i in range(8))
    body = f"""
    WITH toks AS MATERIALIZED (
        SELECT {id_col}, CASE WHEN {target_sql} THEN 1 ELSE 0 END AS tgt,
               unnest(string_split({text_col}, ' ')) AS tok
        FROM {table} WHERE {text_col} IS NOT NULL),
    tb AS MATERIALIZED (
        SELECT {id_col}, tgt, CAST({hex32} AS BIGINT) % {DSIR_BUCKETS} AS b
        FROM (SELECT {id_col}, tgt, md5(tok) AS m FROM toks)),
    stats AS MATERIALIZED (
        SELECT b, count(*) AS r_cnt, sum(tgt) AS t_cnt FROM tb GROUP BY b),
    tot AS (SELECT sum(r_cnt) AS R, sum(t_cnt) AS T FROM stats),
    weights AS MATERIALIZED (
        SELECT b, CAST(((t_cnt + 1) * {DSIR_PPM}) // (T + {DSIR_BUCKETS})
                       - ((r_cnt + 1) * {DSIR_PPM}) // (R + {DSIR_BUCKETS})
                  AS BIGINT) AS w
        FROM stats, tot),
    doc AS (
        SELECT {id_col},
               CAST(max(tgt) AS BIGINT) AS is_target,
               CAST(count(*) AS BIGINT) AS n_toks,
               CAST(sum(w) AS BIGINT) AS score
        FROM tb JOIN weights USING (b) GROUP BY {id_col})
    """
    if k is None:
        return body + f"SELECT {id_col}, is_target, n_toks, score FROM doc"
    return body + f"""
    SELECT {id_col}, is_target, n_toks, score, rank FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY score DESC, {id_col}) AS INT) AS rank FROM doc)
    WHERE rank <= {k}
    """
