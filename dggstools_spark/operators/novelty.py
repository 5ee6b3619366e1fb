"""Cross-document novelty scoring + quality-aware cluster keep rule.

Two post-dedup curation steps:

- ``novelty_score``: per-document fraction of word n-grams that are UNIQUE
  to the document corpus-wide — the memorization/boilerplate burden metric
  (Lee et al. 2022's duplicated-span analysis, reduced to a per-doc ppm).
  Distinct from gopher_quality (WITHIN-doc repetition) and decontaminate
  (overlap vs a benchmark probe set): this measures repetition ACROSS the
  corpus.
- ``cluster_keep``: the production keep rule for near-dup clusters.
  dedup_clusters canonicalizes by MIN id (stable, cheap); real pipelines
  keep the HIGHEST-QUALITY member.  This joins a per-doc quality score
  onto the cluster table and picks argmax(quality, tie → min id) per
  cluster via one min-struct hash aggregate — no window shuffle.

Determinism: novelty is exact integer ppm; the keep rule quantizes the
quality score to q20 BIGINT before the argmax (CLAUDE.md constraint 13)
so ties and ordering are engine-exact.

Scale design (100 TB):
- novelty: one explode to DISTINCT per-doc shingles (the DISTINCT rides
  the same (doc, shingle) hash agg), one shingle-df hash agg
  (vocab-bounded output), one equi-join back + per-doc rollup — the
  ngram_pairs front half without the self-join;
- cluster_keep: cluster table (output-sized, ≪ corpus) joins doc scores
  on id, then ONE map-side-combining min-struct agg per cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingles

NOV_PPM = 1_000_000
KEEP_QUANT = 1 << 20


def novelty_score(df: DataFrame, text_col: str, id_col: str,
                  n: int = 8) -> DataFrame:
    """(id, n_shingles, n_shared, novelty_ppm): distinct word n-grams per
    doc, how many also occur in ANOTHER document, and the novel fraction
    novelty_ppm = (n_shingles - n_shared) * 1e6 div n_shingles."""
    sh = (shingles(df.filter(F.col(text_col).isNotNull())
                   .select(id_col, text_col), text_col, n)
          .select(id_col, "shingle").distinct())
    df_counts = sh.groupBy("shingle").agg(
        F.countDistinct(id_col).alias("_df"))
    return (sh.join(df_counts, "shingle")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
                 .alias("n_shared"))
            .withColumn("novelty_ppm", F.expr(
                f"((n_shingles - n_shared) * {NOV_PPM}) div n_shingles")))


def novelty_score_sql(table: str, text_col: str, id_col: str,
                      n: int = 8) -> str:
    """DuckDB twin: same short-doc slice rule as the minhash/ngram oracles
    (list_slice truncates, sequence floor at 1 shingle)."""
    return f"""
    WITH toks AS (SELECT {id_col}, string_split({text_col}, ' ') AS t
                  FROM {table} WHERE {text_col} IS NOT NULL),
    sh AS MATERIALIZED (
        SELECT DISTINCT {id_col},
               unnest(list_transform(range(greatest(len(t) - {n - 1}, 1)),
                      i -> array_to_string(list_slice(t, i + 1, i + {n}),
                                           ' '))) AS shingle
        FROM toks),
    dfc AS MATERIALIZED (
        SELECT shingle, count(DISTINCT {id_col}) AS _df
        FROM sh GROUP BY shingle)
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN _df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST(((count(*) - sum(CASE WHEN _df >= 2 THEN 1 ELSE 0 END))
                 * {NOV_PPM}) // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN dfc USING (shingle) GROUP BY {id_col}
    """


def cluster_keep(clusters: DataFrame, docs: DataFrame, text_col: str,
                 id_col: str, quality_sql: str) -> DataFrame:
    """(cluster_id, keep_id, n_members, best_q20): per near-dup cluster,
    the member with the highest quality score (ties → lowest id).
    ``clusters`` is dedup_clusters output (id, cluster_id);
    ``quality_sql`` is a scalar snippet over ``text_col`` that MUST
    evaluate to an INTEGER score (e.g. functions.text.quality_q20_spark)
    — float scores quantized via round() are not engine-portable at .5
    boundaries (CLAUDE.md constraint 17; the sf1 gate caught exactly
    that with a round(x, 6) float score)."""
    scored = docs.select(
        id_col,
        F.expr(f"CAST(({quality_sql}) AS BIGINT)").alias("_q20"))
    return (clusters.join(scored, id_col)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n_members"),
                 F.max("_q20").alias("best_q20"),
                 # argmax(quality, tie -> min id): min over (-q, id)
                 F.min(F.struct((-F.col("_q20")).alias("nq"),
                                F.col(id_col).alias("i")))
                 .getField("i").alias("keep_id"))
            .select("cluster_id", "keep_id", "n_members", "best_q20"))


def cluster_keep_sql(clusters_cte: str, table: str, text_col: str,
                     id_col: str, quality_sql: str) -> str:
    """DuckDB twin: ``clusters_cte`` is SQL producing (id, cluster_id);
    ``quality_sql`` must evaluate to an INTEGER score (see cluster_keep)."""
    return f"""
    WITH cl AS MATERIALIZED ({clusters_cte}),
    scored AS (SELECT {id_col},
                      CAST(({quality_sql}) AS BIGINT) AS _q20
               FROM {table}),
    j AS (SELECT cl.cluster_id, cl.{id_col}, scored._q20
          FROM cl JOIN scored USING ({id_col}))
    SELECT cluster_id,
           min({id_col}) FILTER (WHERE _q20 = best) AS keep_id,
           n_members, best AS best_q20
    FROM (SELECT cluster_id, {id_col}, _q20,
                 max(_q20) OVER (PARTITION BY cluster_id) AS best,
                 count(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j)
    GROUP BY cluster_id, n_members, best
    """
