"""Driver-contract queries, batch 20 (round 5): the dedup-pipeline
capstone — the COMPLETE production dedup story in one oracle-checked
query:

    raw docs
      → exact dedup (md5(lower(trim)) fingerprint, keep min id)
      → near-dup pairs over the survivors (exact n-gram Jaccard)
      → transitive cluster resolution (pointer-jumping CC)
      → quality-aware keep (argmax quality_q20, tie → min id)
      → audited report

One row out: stage-by-stage counts plus ``kept_hash`` — a COMMUTATIVE
set hash: sum over kept ids of the 56-bit md5-prefix integer of the id
(VERDICT r5 #4: the previous md5-of-sorted-collect_list was a
single-task reduction at 100 TB; the sum is a map-side-combining
aggregate, order-insensitive by construction, and still pins the exact
end-to-end keep SET — a changed/extra/missing id moves the sum except
with ~2^-56 collision odds).  Exact integers on both engines
(DECIMAL(38,0) / HUGEINT), emitted as a string.  Every stage reuses the
already-gated operator (text.fingerprint rule / ngram_jaccard_pairs /
dedup_clusters / cluster_keep) and the oracle composes the same shared
SQL generators over the survivors CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries5
from .functions import text as T
from .queries3 import load
from .registry import register


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from .operators.novelty import cluster_keep

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # stage 1: exact dedup — keep the min id of every fingerprint group
    fp = docs.withColumn("_fp", F.expr(T.fingerprint("text")))
    canon = fp.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    surv = (fp.join(canon.select("doc_id"), "doc_id")
            .drop("_fp")
            # dedup: 3 consumers (pair gen, cluster_keep, the kept-set join)
            .localCheckpoint(eager=True))
    # stage 2-4: near-dup pairs -> clusters -> quality keep
    pairs = ngram_jaccard_pairs(surv, "text", "doc_id",
                                threshold=queries5.NG_THRESHOLD,
                                max_doc_freq=queries5.NG_MAX_DF)
    # dedup: 2 consumers (cluster_keep and the drop_near anti-join)
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id") \
        .localCheckpoint(eager=True)
    keeps = cluster_keep(clusters, surv, "text", "doc_id",
                         T.quality_q20_spark("text"))
    # final kept set = survivors minus (cluster members - keep winners)
    drop_near = clusters.join(
        keeps.select(F.col("keep_id").alias("doc_id")), "doc_id",
        "left_anti")
    kept = surv.select("doc_id").join(drop_near.select("doc_id"),
                                      "doc_id", "left_anti")
    n_docs = docs.count()
    n_surv = surv.count()
    stats = (clusters.agg(F.count("*").alias("_members"),
                          F.countDistinct("cluster_id").alias("n_clusters")))
    report = (kept.agg(
        F.count("*").alias("n_kept"),
        # commutative set hash (see module docstring): per-id 56-bit
        # md5-prefix int, summed exactly — map-side combine, no
        # single-task collect_list reduction
        F.sum(F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 14), 16, 10)
            .cast("decimal(38,0)")).cast("string").alias("kept_hash"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            F.lit(n_docs - n_surv).cast("bigint").alias("n_exact_dropped"),
            F.col("n_clusters").cast("bigint"),
            (F.col("_members") - F.col("n_clusters")).cast("bigint")
            .alias("n_near_dropped"),
            F.col("n_kept").cast("bigint"),
            "kept_hash"))
    return report


def _oracle_dedup_pipeline() -> str:
    np_sql = queries5._oracle_ngram_pairs("surv")
    q20 = T.quality_q20_duckdb("text")
    # 56-bit md5-prefix int of the id (portable hex parse, same family as
    # dsir_scores_sql's hex32 fold); 16^14 < 2^63 so each term is BIGINT,
    # the sum is HUGEINT-exact
    hex56 = " + ".join(
        f"(instr('0123456789abcdef', substring(m, {1 + i}, 1)) - 1)"
        f" * {16 ** (13 - i)}" for i in range(14))
    return f"""
    WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents
                           WHERE text IS NOT NULL),
    fp AS (SELECT doc_id, text, {T.fingerprint('text')} AS _fp FROM raw),
    surv AS MATERIALIZED (
        SELECT doc_id, text FROM fp
        WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY _fp)),
    np AS MATERIALIZED ({np_sql}),
    edges AS MATERIALIZED (
        SELECT a_id AS x, b_id AS y FROM np
        UNION
        SELECT b_id, a_id FROM np),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y),
    clusters AS MATERIALIZED (
        SELECT n AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY n),
    scored AS (SELECT doc_id, CAST(({q20}) AS BIGINT) AS _q20 FROM surv),
    j AS (SELECT c.cluster_id, c.doc_id, s._q20
          FROM clusters c JOIN scored s USING (doc_id)),
    keeps AS (
        SELECT cluster_id,
               min(doc_id) FILTER (WHERE _q20 = best) AS keep_id
        FROM (SELECT cluster_id, doc_id, _q20,
                     max(_q20) OVER (PARTITION BY cluster_id) AS best
              FROM j)
        GROUP BY cluster_id, best),
    drop_near AS (SELECT doc_id FROM clusters
                  WHERE doc_id NOT IN (SELECT keep_id FROM keeps)),
    kept AS (SELECT doc_id FROM surv
             WHERE doc_id NOT IN (SELECT doc_id FROM drop_near))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM raw)
             - (SELECT CAST(count(*) AS BIGINT) FROM surv)
             AS n_exact_dropped,
           (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT)
            FROM clusters) AS n_clusters,
           (SELECT CAST(count(*) AS BIGINT) FROM clusters)
             - (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT)
                FROM clusters) AS n_near_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
           (SELECT CAST(sum(CAST({hex56} AS HUGEINT)) AS VARCHAR)
            FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS m FROM kept))
               AS kept_hash
    """


register("dedup_pipeline", q_dedup_pipeline, _oracle_dedup_pipeline())
