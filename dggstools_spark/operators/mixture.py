"""Corpus mixture planning: temperature-sampled source weights + per-source
duplication profile, fully relational.

Two QA/planning steps every multi-source pretraining pipeline runs before
sampling (sampling itself is operators/sampling.py):

- ``mixture_plan``: temperature-based source reweighting (T5/mT5/XLM-R
  multilingual sampling, α-smoothed): a source with corpus token share p
  gets sampling weight ∝ p^α, boosting low-resource sources.  α is pinned
  to 1/2 because sqrt is CORRECTLY ROUNDED under IEEE-754 (unlike pow/ln),
  so the weights are bit-identical across engines: share_ppm is exact
  integer arithmetic, q = round(sqrt(share) · 1e6) is one correctly-
  rounded double op, and the final normalization is integer division
  (CLAUDE.md constraint 13 — no float aggregation anywhere).
- ``dup_profile``: per-source exact-duplicate ratio (docs vs distinct
  normalized fingerprints) — the dashboard metric that decides which
  source needs the dedup pass first.

Scale design (100 TB): both are single map-side-combining hash aggregates
on `source` (dup_profile's count-distinct is the standard two-level
(source, fp) partial agg); the mixture normalization runs on a
|sources|-row frame where a single-partition window is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import text as T

MIX_PPM = 1_000_000


def mixture_plan(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """(group, n_docs, n_toks, share_ppm, weight_ppm): corpus token share
    and α=1/2 temperature-sampling weight per source, both exact integer
    ppm (weights sum to ≤ 1e6; the remainder is floor-division dust)."""
    per = (df.filter(F.col(text_col).isNotNull())
           .groupBy(group_col)
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.size(F.split(F.col(text_col), " ")))
                .alias("n_toks")))
    tot = per.agg(F.sum("n_toks").alias("_total"))
    shares = (per.crossJoin(F.broadcast(tot))
              .withColumn("share_ppm", F.expr(
                  f"(n_toks * {MIX_PPM}) div _total"))
              .withColumn("_q", F.expr(
                  f"CAST(round(sqrt(CAST(share_ppm AS DOUBLE)"
                  f" / {float(MIX_PPM)}) * {float(MIX_PPM)}) AS BIGINT)")))
    w = Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return (shares
            .withColumn("_qtot", F.sum("_q").over(w))
            .withColumn("weight_ppm", F.expr(f"(_q * {MIX_PPM}) div _qtot"))
            .select(group_col, "n_docs", "n_toks", "share_ppm",
                    "weight_ppm"))


def mixture_plan_sql(table: str, text_col: str, group_col: str) -> str:
    """DuckDB twin: identical integer arithmetic and the same single
    correctly-rounded sqrt."""
    return f"""
    WITH per AS (
        SELECT {group_col}, count(*) AS n_docs,
               CAST(sum(len(string_split({text_col}, ' '))) AS BIGINT)
                   AS n_toks
        FROM {table} WHERE {text_col} IS NOT NULL GROUP BY {group_col}),
    tot AS (SELECT sum(n_toks) AS _total FROM per),
    shares AS (
        SELECT {group_col}, n_docs, n_toks,
               CAST((n_toks * {MIX_PPM}) // _total AS BIGINT) AS share_ppm,
               CAST(round(sqrt(CAST((n_toks * {MIX_PPM}) // _total AS DOUBLE)
                               / {float(MIX_PPM)}) * {float(MIX_PPM)})
                    AS BIGINT) AS _q
        FROM per, tot)
    SELECT {group_col},
           CAST(n_docs AS BIGINT) AS n_docs,
           n_toks,
           share_ppm,
           CAST((_q * {MIX_PPM}) // (sum(_q) OVER ()) AS BIGINT)
               AS weight_ppm
    FROM shares
    """


def dup_profile(df: DataFrame, text_col: str, id_col: str,
                group_col: str) -> DataFrame:
    """(group, n_docs, n_distinct, dup_ppm): exact-duplicate mass per
    source over normalized fingerprints (text.fingerprint's rule)."""
    fp = (df.filter(F.col(text_col).isNotNull())
          .select(group_col,
                  F.expr(T.fingerprint(text_col)).alias("fp")))
    return (fp.groupBy(group_col)
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("fp").alias("n_distinct"))
            .withColumn("dup_ppm", F.expr(
                f"((n_docs - n_distinct) * {MIX_PPM}) div n_docs")))


def dup_profile_sql(table: str, text_col: str, group_col: str) -> str:
    """DuckDB twin of dup_profile."""
    return f"""
    WITH fp AS (SELECT {group_col}, {T.fingerprint(text_col)} AS fp
                FROM {table} WHERE {text_col} IS NOT NULL)
    SELECT {group_col},
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(((count(*) - count(DISTINCT fp)) * {MIX_PPM}) // count(*)
                AS BIGINT) AS dup_ppm
    FROM fp GROUP BY {group_col}
    """
