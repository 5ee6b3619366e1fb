"""Novelty score + lang confusion + cluster keep (round 5, batch 14)."""

from pyspark.sql import functions as F

from dggstools_spark.operators.novelty import cluster_keep, novelty_score

PPM = 1_000_000


def _docs(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------- novelty

def test_novelty_score_hand_computed(spark):
    # n=2 bigram shingles; doc1 and doc2 share "a b"; doc1's "b c" unique
    df = _docs(spark, [(1, "a b c"), (2, "a b")])
    out = {r.doc_id: r
           for r in novelty_score(df, "text", "doc_id", n=2).collect()}
    assert out[1].n_shingles == 2 and out[1].n_shared == 1
    assert out[1].novelty_ppm == 1 * PPM // 2
    assert out[2].n_shingles == 1 and out[2].n_shared == 1
    assert out[2].novelty_ppm == 0


def test_novelty_counts_distinct_shingles_once(spark):
    # repeated shingle WITHIN one doc is not "shared" across the corpus
    df = _docs(spark, [(1, "x y x y"), (2, "zz ww")])
    r = {r.doc_id: r
         for r in novelty_score(df, "text", "doc_id", n=2).collect()}
    # doc1 distinct bigrams: "x y", "y x" — both unique corpus-wide
    assert r[1].n_shingles == 2 and r[1].n_shared == 0
    assert r[1].novelty_ppm == PPM


# ------------------------------------------------------------ cluster_keep

def test_cluster_keep_argmax_quality_tie_min_id(spark):
    clusters = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (7, 7), (8, 7)],
        "doc_id long, cluster_id long")
    docs = _docs(spark, [(1, "low"), (2, "high"), (3, "high"),
                         (7, "same"), (8, "same")])
    # quality snippet: doc text length (integer, portable, deterministic)
    out = {r.cluster_id: r for r in
           cluster_keep(clusters, docs, "text", "doc_id",
                        "length(text)").collect()}
    # cluster 0: docs 2 and 3 tie on 'high' (len 4) -> keep min id 2
    assert out[0].keep_id == 2 and out[0].n_members == 3
    assert out[0].best_q20 == 4
    # cluster 7: exact tie -> min id 7
    assert out[7].keep_id == 7 and out[7].n_members == 2


def test_cluster_keep_prefers_quality_over_id(spark):
    clusters = spark.createDataFrame([(5, 5), (9, 5)],
                                     "doc_id long, cluster_id long")
    docs = _docs(spark, [(5, "xx"), (9, "xxxxxx")])
    r = cluster_keep(clusters, docs, "text", "doc_id",
                     "length(text)").collect()[0]
    assert r.keep_id == 9  # higher quality beats lower id


# ---------------------------------------------------------- lang_confusion

def test_lang_confusion_query_rows(spark, tmp_path):
    # route through the driver query against a tiny parquet dir
    import os
    from dggstools_spark.queries14 import q_lang_confusion

    df = spark.createDataFrame(
        [(1, " the cat and the dog is here ", "en", "s", 10),
         (2, " el gato que la casa ", "es", "s", 10),
         (3, " nothing matching here! ", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long")
    df.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    rows = {(r.lang, r.guess): r
            for r in q_lang_confusion(spark, str(tmp_path)).collect()}
    assert rows[("en", "en")].n_docs == 1
    assert rows[("es", "es")].n_docs == 1
    assert rows[("en", "und")].n_docs == 1
    assert rows[("en", "en")].row_ppm == PPM // 2


# ------------------------------------------- constraint-17 regression pin

def test_quality_q20_cross_engine_exact(spark):
    """quality_q20 must be bit-identical Spark vs DuckDB — the integer
    replacement for a round(x, 6) float score, whose .xxxxxx5-boundary
    divergence the sf1 cluster_keep gate caught (CLAUDE.md c17)."""
    import duckdb
    from dggstools_spark.functions.text import (quality_q20_duckdb,
                                                quality_q20_spark)

    texts = []
    for t in (1, 2, 7, 33, 64, 65, 128):
        base = " ".join(["w"] * t)
        texts.append(base)
        texts.append(base + " the and of a in . , ! ? ;")
        texts.append((base + " .") * 2)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.q for r in df.selectExpr(
        "doc_id", f"{quality_q20_spark('text')} AS q").collect()}
    con = duckdb.connect()
    con.register("docs", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]))
    exp = dict(con.sql(
        f"SELECT doc_id, {quality_q20_duckdb('text')} FROM docs").fetchall())
    assert got == exp
