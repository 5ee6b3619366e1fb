"""Driver-contract queries, batch 7 (round 5): training-data hygiene.

Three LLM-pipeline operators with no reference counterpart (the reference
is a DGGS toolbox): benchmark decontamination (operators/contamination.py),
Gopher-style repetition/quality filters (operators/quality.py), and the
bottom-k sketch Jaccard estimator (operators/dedup.bottomk_jaccard_pairs —
the recall-preserving scale lever for ngram_pairs' superlinear tail,
TODO_r6 #6).  Every ratio is quantized to ppm with exact integer
arithmetic, so all three are value-checked bit-exactly against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register


def _sh_sql(n: int, out: str, src: str = "tl") -> str:
    """DuckDB twin of operators.dedup.shingles over a (doc_id, t) token-list
    CTE — identical short-doc slice rule (greatest(len-n+1, 1) grams)."""
    return (f"SELECT doc_id, unnest(list_transform("
            f"range(greatest(len(t) - {n - 1}, 1)),"
            f" i -> array_to_string(list_slice(t, i + 1, i + {n}), ' ')))"
            f" AS {out} FROM {src}")


_TL = "tl AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"


# --------------------------------------------------------------------------
# q_decontaminate — benchmark n-gram contamination flags.  The benchmark
# set is carved deterministically from the same table (doc_id % 19 = 0)
# so the query is self-contained on driver data; in production bench would
# be the external eval-suite table.
# --------------------------------------------------------------------------

DC_N = 5
DC_MOD = 19
DC_MIN_HITS = 1


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.contamination import decontaminate

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % DC_MOD != 0)
    bench = docs.filter(F.col("doc_id") % DC_MOD == 0)
    return decontaminate(corpus, bench, "text", "doc_id",
                         n=DC_N, min_hits=DC_MIN_HITS)


def _oracle_decontaminate() -> str:
    return f"""
    WITH {_TL},
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, gram FROM ({_sh_sql(DC_N, "gram")})),
    bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % {DC_MOD} = 0),
    corpus AS (SELECT doc_id, gram FROM sh WHERE doc_id % {DC_MOD} <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
    hits AS (SELECT doc_id, count(*) AS n_hits FROM corpus
             WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id)
    SELECT s.doc_id, s.n_grams, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(round(COALESCE(h.n_hits, 0) * 1000000.0 / s.n_grams)
                AS BIGINT) AS contam_ppm,
           CASE WHEN COALESCE(h.n_hits, 0) >= {DC_MIN_HITS}
                THEN 1 ELSE 0 END AS flagged
    FROM sizes s LEFT JOIN hits h USING (doc_id)
    """


register("decontaminate", q_decontaminate, _oracle_decontaminate())


# --------------------------------------------------------------------------
# q_gopher_quality — repetition/quality fractions per doc, ppm-quantized
# --------------------------------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import gopher_quality

    docs = load(spark, sf_dir, "documents")
    return gopher_quality(docs, "text", "doc_id")


def _oracle_gopher_quality() -> str:
    from .operators.quality import STOPWORDS
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH {_TL},
    toks AS (SELECT doc_id, length(text) AS chars,
                    unnest(string_split(text, ' ')) AS tok FROM documents),
    tok_stats AS (SELECT doc_id, count(*) AS n_toks,
                         sum(length(tok)) AS sum_len,
                         sum(CASE WHEN tok IN ({stops}) THEN 1 ELSE 0 END)
                             AS n_stop,
                         any_value(chars) AS chars
                  FROM toks GROUP BY doc_id),
    t3 AS ({_sh_sql(3, "g3")}),
    tri AS (SELECT doc_id, count(*) AS n3, count(DISTINCT g3) AS n3d
            FROM t3 GROUP BY doc_id),
    b2 AS ({_sh_sql(2, "g2")}),
    bc AS (SELECT doc_id, g2, count(*) AS c FROM b2 GROUP BY doc_id, g2),
    top2 AS (SELECT doc_id, c * length(g2) AS top2_chars
             FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, g2 ASC) AS rn FROM bc)
             WHERE rn = 1),
    m AS (SELECT ts.doc_id, ts.n_toks,
                 CAST(round(ts.sum_len * 1000000.0 / ts.n_toks) AS BIGINT)
                     AS mean_len_ppm,
                 CAST(round(ts.n_stop * 1000000.0 / ts.n_toks) AS BIGINT)
                     AS stop_ppm,
                 CAST(round((tri.n3 - tri.n3d) * 1000000.0 / tri.n3)
                      AS BIGINT) AS rep3_ppm,
                 CAST(round(top2.top2_chars * 1000000.0 / ts.chars)
                      AS BIGINT) AS top2_ppm
          FROM tok_stats ts
          JOIN tri ON tri.doc_id = ts.doc_id
          JOIN top2 ON top2.doc_id = ts.doc_id)
    SELECT *, CASE WHEN rep3_ppm <= 180000 AND top2_ppm <= 200000
                        AND stop_ppm >= 10000
              THEN 1 ELSE 0 END AS quality_ok
    FROM m
    """


register("gopher_quality", q_gopher_quality, _oracle_gopher_quality())


# --------------------------------------------------------------------------
# q_ngram_sampled — bottom-k sketch Jaccard estimate, the recall-preserving
# lever for ngram_pairs (whole construction replicated relationally:
# sketches, hash-df guard, candidate join, union-bottom-k estimator)
# --------------------------------------------------------------------------

NS_K = 16
NS_THRESHOLD = 0.5
NS_MAX_DF = 200


def q_ngram_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import bottomk_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return bottomk_jaccard_pairs(docs, "text", "doc_id", shingle_n=3,
                                 k=NS_K, threshold=NS_THRESHOLD,
                                 max_hash_df=NS_MAX_DF)


def _oracle_ngram_sampled() -> str:
    thr_ppm = int(round(NS_THRESHOLD * 1e6))
    return f"""
    WITH {_TL},
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle FROM ({_sh_sql(3, "shingle")})),
    -- idf-like trim BEFORE sketching (bottomk_sketches max_hash_df):
    -- hashes held by > cap docs leave the universe; singletons stay
    hashed AS MATERIALIZED (
        SELECT doc_id, h FROM (
            SELECT doc_id, md5(shingle) AS h,
                   count(*) OVER (PARTITION BY md5(shingle)) AS df
            FROM sh)
        WHERE df <= {NS_MAX_DF}),
    sk AS MATERIALIZED (
        SELECT doc_id, h FROM (SELECT doc_id, h, row_number() OVER
                               (PARTITION BY doc_id ORDER BY h) AS rn
                               FROM hashed)
        WHERE rn <= {NS_K}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sk GROUP BY doc_id),
    skc AS (SELECT doc_id, h FROM sk
            WHERE h IN (SELECT h FROM sk GROUP BY h HAVING count(*) >= 2)),
    shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                      count(*) AS n_shared
               FROM skc a JOIN skc b USING (h) WHERE a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    -- exact prune: numerator <= n_shared, denominator =
    -- min(k, sza + szb - n_shared); -1 absorbs the round-half boundary
    cand AS (SELECT a_id, b_id FROM shared
             JOIN sizes sa ON sa.doc_id = a_id
             JOIN sizes sb ON sb.doc_id = b_id
             WHERE n_shared * 1000000
                   >= ({thr_ppm} - 1)
                      * least({NS_K}, sa.sz + sb.sz - n_shared)),
    u AS (SELECT a_id, b_id, h, max(in_a) AS in_a, max(in_b) AS in_b
          FROM (SELECT c.a_id, c.b_id, s.h, 1 AS in_a, 0 AS in_b
                FROM cand c JOIN sk s ON s.doc_id = c.a_id
                UNION ALL
                SELECT c.a_id, c.b_id, s.h, 0 AS in_a, 1 AS in_b
                FROM cand c JOIN sk s ON s.doc_id = c.b_id)
          GROUP BY a_id, b_id, h),
    bott AS (SELECT * FROM (SELECT *, row_number() OVER
                            (PARTITION BY a_id, b_id ORDER BY h) AS rn
                            FROM u)
             WHERE rn <= {NS_K})
    SELECT a_id, b_id,
           CAST(round(sum(in_a * in_b) * 1000000.0 / count(*)) AS BIGINT)
               AS jac_est_ppm
    FROM bott GROUP BY a_id, b_id
    HAVING jac_est_ppm >= {thr_ppm}
    """


register("ngram_sampled", q_ngram_sampled, _oracle_ngram_sampled())
