"""HTML extraction + vocab induction + epoch shuffle (round 5, batch 10)."""

import hashlib

from dggstools_spark.operators.boiler import html_extract
from dggstools_spark.operators.ordering import epoch_shuffle_stats
from dggstools_spark.operators.vocab import vocab_topk


def _docs(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


# ------------------------------------------------------------- html_extract

def test_html_extract_strips_markup(spark):
    page = ('<html><head><script>var x=1;</script>'
            '<style>p{color:red}</style></head>'
            '<body><p>hello</p> <a href="/x">link text</a></body></html>')
    df = _docs(spark, [(1, page)], "doc_id long, html string")
    r = html_extract(df, "html", "doc_id").collect()[0]
    assert r.extracted == "hello link text"
    assert r.extracted_md5 == hashlib.md5(b"hello link text").hexdigest()
    assert r.n_links == 1
    assert r.anchor_chars == len("link text")
    # script/style payloads must not leak into the extraction
    assert "var x" not in r.extracted and "color" not in r.extracted


def test_html_extract_multiline_script(spark):
    page = '<body>a<script>\nline1\nline2\n</script>b</body>'
    df = _docs(spark, [(1, page)], "doc_id long, html string")
    r = html_extract(df, "html", "doc_id").collect()[0]
    assert r.extracted == "a b"


def test_html_extract_empty_after_strip(spark):
    df = _docs(spark, [(1, "<script>only();</script>")],
               "doc_id long, html string")
    r = html_extract(df, "html", "doc_id").collect()[0]
    assert r.text_chars == 0 and r.link_ppm == 0
    assert r.extracted_md5 == hashlib.md5(b"").hexdigest()


# --------------------------------------------------------------- vocab_topk

def test_vocab_topk_rank_and_coverage(spark):
    df = _docs(spark, [(1, "a a a b b c"), (2, "a b d")])
    rows = vocab_topk(df, "text", v=3).collect()
    assert [(r.rank, r.tok, r.cnt) for r in rows] == [
        (1, "a", 4), (2, "b", 3), (3, "c", 1)]
    # total tokens = 9; coverage = floor-ppm of 4/9, 7/9, 8/9
    assert [r.cum_ppm for r in rows] == [
        4 * 1000000 // 9, 7 * 1000000 // 9, 8 * 1000000 // 9]


def test_vocab_topk_tie_break_lexicographic(spark):
    df = _docs(spark, [(1, "z y z y")])
    rows = vocab_topk(df, "text", v=2).collect()
    assert [r.tok for r in rows] == ["y", "z"]


# ------------------------------------------------------------ epoch shuffle

def test_epoch_shuffle_deterministic_and_seed_sensitive(spark):
    df = _docs(spark, [(i, "t") for i in range(200)])
    a = {r.shard: r.order_md5 for r in
         epoch_shuffle_stats(df, "doc_id", seed="e1").collect()}
    b = {r.shard: r.order_md5 for r in
         epoch_shuffle_stats(df.repartition(7), "doc_id", seed="e1")
         .collect()}
    assert a == b, "order must survive repartitioning"
    c = {r.shard: r.order_md5 for r in
         epoch_shuffle_stats(df, "doc_id", seed="e2").collect()}
    assert a != c, "different seeds must give different orders"


def test_epoch_shuffle_stats_cover_all_rows(spark):
    n = 500
    df = _docs(spark, [(i, "t") for i in range(n)])
    rows = epoch_shuffle_stats(df, "doc_id", n_shards=8).collect()
    assert sum(r.n_docs for r in rows) == n
    assert len(rows) == 8  # 500 rows over 8 shards: every shard hit
