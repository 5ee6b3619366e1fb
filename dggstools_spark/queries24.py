"""Driver-contract queries, batch 27 (round 6): change detection +
corpus-overlap estimation.

- ``change_matrix``: land-cover change cross-tab between two raster
  epochs (full-outer cellid join, −1 = absent, transition areas) — the
  remote-sensing change-detection op the raster family lacked.
- ``hll_overlap``: snapshot-overlap estimate from the deterministic HLL
  sketch (|A|, |B|, |A∪B| estimated; |A∩B| by inclusion–exclusion) next
  to the exact intersection yardstick — the bounded-memory alternative
  to corpus_diff when only sizes are needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register


# --------------------------------------------------------------------------
# q_change_matrix — epochs derived deterministically from the part table
# (the raster_roundtrip fixture lattice): epoch B drops p % 17 = 0 cells
# (disappeared), adds a shifted band of p % 13 = 0 cells (appeared), and
# advances the class where p % 5 = 0.  One shared snippet per epoch.
# --------------------------------------------------------------------------

CM_RES = 5
CM_CLASSES = 7


def _epoch_a_sql(cellid: str) -> str:
    return (f"SELECT {cellid} AS cellid,"
            f" CAST(p_partkey % {CM_CLASSES} AS BIGINT) AS band1"
            f" FROM part")


def _epoch_b_sql(cellid: str, cellid_shift: str) -> str:
    return (f"SELECT {cellid} AS cellid,"
            f" CAST((p_partkey % {CM_CLASSES}"
            f" + CASE WHEN p_partkey % 5 = 0 THEN 1 ELSE 0 END)"
            f" % {CM_CLASSES} AS BIGINT) AS band1"
            f" FROM part WHERE p_partkey % 17 <> 0"
            f" UNION ALL"
            f" SELECT {cellid_shift} AS cellid,"
            f" CAST(p_partkey % {CM_CLASSES} AS BIGINT) AS band1"
            f" FROM part WHERE p_partkey % 13 = 0")


def _cm_cellids() -> "tuple[str, str, str]":
    from .functions import encode_sql

    row = "100 + (p_partkey % 81)"
    col = "50 + CAST(floor(p_partkey / 81.0) AS BIGINT)"
    cellid = encode_sql.rowcol_cellid_sql("'Q'", f"({row})", f"({col})",
                                          CM_RES)
    # appeared band: shifted 120 rows down — disjoint from epoch A's rows
    cellid_shift = encode_sql.rowcol_cellid_sql("'Q'", f"({row} + 120)",
                                                f"({col})", CM_RES)
    return cellid, cellid_shift, row


def q_change_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.raster import change_matrix

    cellid, cellid_shift, _ = _cm_cellids()
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    a = spark.sql(_epoch_a_sql(cellid))
    b = spark.sql(_epoch_b_sql(cellid, cellid_shift))
    return change_matrix(a, b, CM_RES)


def _oracle_change_matrix() -> str:
    from .operators.raster import change_matrix_sql

    cellid, cellid_shift, _ = _cm_cellids()
    return change_matrix_sql(_epoch_a_sql(cellid),
                             _epoch_b_sql(cellid, cellid_shift), CM_RES)


register("change_matrix", q_change_matrix, _oracle_change_matrix())


# --------------------------------------------------------------------------
# q_hll_overlap — snapshot B shares the corpus_diff edit family: text
# edited where doc_id % 3 = 0, docs dropped where doc_id % 5 = 0.  The
# union estimate runs the SAME hll construction over the tagged union
# frame (register-merge is the incremental production path; one-scan
# union is its batch equivalent).  err vs the exact intersection is the
# yardstick column.
# --------------------------------------------------------------------------

_OV_B_TEXT = "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' v2') ELSE text END"
_OV_B_PRED = "doc_id % 5 <> 0"


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketch import hll_distinct

    docs = load(spark, sf_dir, "documents")
    a = docs.select(F.lit("a").alias("snap"), F.col("text").alias("k"))
    b = (docs.filter(F.expr(_OV_B_PRED))
         .select(F.lit("b").alias("snap"),
                 F.expr(_OV_B_TEXT).alias("k")))
    u = a.unionByName(b).select(F.lit("u").alias("snap"), "k")
    est = (hll_distinct(a.unionByName(b).unionByName(u), "snap", "k")
           .groupBy()
           .pivot("snap", ["a", "b", "u"]).sum("hll_est"))
    exact = (docs.select(F.col("text").alias("k")).distinct()
             .join(docs.filter(F.expr(_OV_B_PRED))
                   .select(F.expr(_OV_B_TEXT).alias("k")).distinct(), "k")
             .agg(F.count("*").alias("exact_inter")))
    return (est.crossJoin(exact)
            .select(F.col("a").alias("est_a"), F.col("b").alias("est_b"),
                    F.col("u").alias("est_union"),
                    F.expr("a + b - u").alias("est_inter"),
                    "exact_inter"))


def _oracle_hll_overlap() -> str:
    from .operators.sketch import hll_distinct_sql

    src = f"""(
        SELECT 'a' AS snap, text AS k FROM documents
        UNION ALL
        SELECT 'b', {_OV_B_TEXT} FROM documents WHERE {_OV_B_PRED}
        UNION ALL
        SELECT 'u', k FROM (
            SELECT text AS k FROM documents
            UNION ALL
            SELECT {_OV_B_TEXT} FROM documents WHERE {_OV_B_PRED}))"""
    est = hll_distinct_sql(src, "snap", "k")
    return f"""
    WITH est AS MATERIALIZED ({est}),
    p AS (SELECT
            max(CASE WHEN snap = 'a' THEN hll_est END) AS est_a,
            max(CASE WHEN snap = 'b' THEN hll_est END) AS est_b,
            max(CASE WHEN snap = 'u' THEN hll_est END) AS est_union
          FROM est),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
            SELECT DISTINCT text AS k FROM documents) a
           JOIN (SELECT DISTINCT {_OV_B_TEXT} AS k FROM documents
                 WHERE {_OV_B_PRED}) b USING (k))
    SELECT est_a, est_b, est_union,
           CAST(est_a + est_b - est_union AS BIGINT) AS est_inter,
           exact_inter
    FROM p, ex
    """


register("hll_overlap", q_hll_overlap, _oracle_hll_overlap())


# --------------------------------------------------------------------------
# q_cell_visitors — geo × sketch composition: per-cell DISTINCT-USER
# estimation (the unique-visitor map) — HLL registers keyed by cellid
# next to the exact count-distinct yardstick + signed err_ppm.  The
# encode feeds two aggregates (registers + exact).  At 100 TB the exact
# column is dropped and the register frames persist per epoch
# (sketch.hll_registers merge path).
# --------------------------------------------------------------------------

CV_RES = 2


def q_cell_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.sketch import hll_distinct
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", CV_RES)
           .select("cellid",
                   F.expr("CAST(user_id AS STRING)").alias("uid"))
           # dedup: 2 consumers (the HLL registers and the exact counts).
           # Without the cut the encoder fuses into both aggregate stages
           # and one more generated method passes 8000 B (codegen audit:
           # 9671 B against 9648 and 10027 B)
           .localCheckpoint(eager=True))
    est = hll_distinct(obs, "cellid", "uid")
    ex = (obs.groupBy("cellid")
          .agg(F.count("*").alias("n_events"),
               F.countDistinct("uid").alias("exact_users")))
    return (ex.join(est, "cellid")
            .withColumn("err_ppm", F.expr(
                "((hll_est - exact_users) * 1000000) div exact_users"))
            .select("cellid", "n_events", "exact_users", "hll_est",
                    "err_ppm"))


def _oracle_cell_visitors() -> str:
    from .functions import encode_sql
    from .operators.sketch import hll_distinct_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          CV_RES, ["user_id"])
    obs = (f"(SELECT cellid, CAST(user_id AS STRING) AS uid"
           f" FROM ({enc}))")
    est = hll_distinct_sql(obs, "cellid", "uid")
    return f"""
    WITH est AS MATERIALIZED ({est}),
    ex AS (SELECT cellid, CAST(count(*) AS BIGINT) AS n_events,
                  CAST(count(DISTINCT uid) AS BIGINT) AS exact_users
           FROM {obs} GROUP BY cellid)
    SELECT cellid, n_events, exact_users, hll_est,
           CAST(((hll_est - exact_users) * 1000000)
                // exact_users AS BIGINT) AS err_ppm
    FROM ex JOIN est USING (cellid)
    """


register("cell_visitors", q_cell_visitors, _oracle_cell_visitors())


# --------------------------------------------------------------------------
# q_stream_hll — sketch-in-streaming: the register max-aggregate IS the
# streaming-friendly form of HLL (bounded state: m rows per class, no
# watermark needed, duplicates free).  The stream maintains registers in
# complete mode across micro-batches (the second file repeats every text
# under shifted ids — registers provably ignore the re-arrivals without
# any dedup state); the batch finisher applies the shared estimator to
# the tiny register table.  Oracle = the batch HLL over the same corpus.
# --------------------------------------------------------------------------


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries4 import _finish_stream, _stream_tmpdirs
    from .operators.sketch import hll_merge_estimate, hll_registers

    src, ckpt, cleanup = _stream_tmpdirs("stream_hll")
    try:
        docs = (load(spark, sf_dir, "documents")
                .filter(F.col("text").isNotNull())
                .select("doc_id", "source", "text"))
        docs.write.mode("overwrite").parquet(src)
        docs.withColumn("doc_id", F.col("doc_id") + 1000000) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, source string, text string"
        ).option("maxFilesPerTrigger", 2).parquet(src)
        regs = hll_registers(stream, "source", "text")
        try:
            spark.catalog.dropTempView("dggs_stream_hll")
        except Exception:
            pass
        q = (regs.writeStream.format("memory")
             .queryName("dggs_stream_hll")
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _finish_stream(q)
        return hll_merge_estimate(spark.table("dggs_stream_hll"),
                                  "source")
    finally:
        cleanup()


def _oracle_stream_hll() -> str:
    from .operators.sketch import hll_distinct_sql

    return hll_distinct_sql(
        "(SELECT source, text FROM documents WHERE text IS NOT NULL)",
        "source", "text")


register("stream_hll", q_stream_hll, _oracle_stream_hll())


# --------------------------------------------------------------------------
# q_cost_distance — least-cost surface over the full face-Q res-2 lattice
# (81 cells, enumerated identically on both engines via the rowcol digit
# emitter), enter-costs derived from the cellid digits (shared snippet),
# two corner sources, T=16 relaxations (lattice diameter 8 + zigzag
# allowance for cheap-detour paths).
# --------------------------------------------------------------------------

CD_RES = 2
CD_ITERS = 16
_CD_W = ("1 + ((CAST(substring(cellid, 2, 1) AS INT) * 3"
         " + CAST(substring(cellid, 3, 1) AS INT)) % 7)")
_CD_SRC = "cellid IN ('Q00', 'Q88')"


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.graph import cost_distance

    cellid = encode_sql.rowcol_cellid_sql(
        "'Q'", "CAST(id / 9 AS BIGINT)", "CAST(id % 9 AS BIGINT)", CD_RES)
    cells = (spark.range(81)
             .select(F.expr(cellid).alias("cellid"))
             .withColumn("w", F.expr(_CD_W)))
    srcs = cells.filter(F.expr(_CD_SRC)).select("cellid")
    return cost_distance(cells, CD_RES, srcs, CD_ITERS)


def _oracle_cost_distance() -> str:
    from .functions import encode_sql
    from .operators.graph import cost_distance_sql

    cellid = encode_sql.rowcol_cellid_sql(
        "'Q'", "CAST(id / 9 AS BIGINT)", "CAST(id % 9 AS BIGINT)", CD_RES)
    cells = (f"SELECT cellid, {_CD_W} AS w FROM"
             f" (SELECT {cellid} AS cellid FROM range(81) t(id))")
    return cost_distance_sql(cells, CD_RES, _CD_SRC, CD_ITERS)


register("cost_distance", q_cost_distance, _oracle_cost_distance())


# --------------------------------------------------------------------------
# q_bloom_prefilter — the broadcast anti-join reducer: build a 128-Kbit
# filter from corpus A's distinct texts, probe snapshot B's (corpus_diff
# edit family), report pass/true/false-positive mass.  One-sided error
# verified in the report itself: every true member passes, so false_pos
# = n_pass - n_true >= 0 and fpr_ppm is the measured overshoot the exact
# join downstream would filter.
# --------------------------------------------------------------------------


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketch import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    a = docs.select(F.col("text").alias("key")).distinct()
    b = (docs.filter(F.expr(_OV_B_PRED))
         .select(F.expr(_OV_B_TEXT).alias("key")).distinct())
    filt = bloom_build(a, "key")
    probed = bloom_probe(b, filt, "key")
    tru = b.join(a, "key").select("key").withColumn("_t", F.lit(1))
    return (probed.join(tru, "key", "left")
            .agg(F.count("*").alias("n_probes"),
                 F.sum("maybe").alias("n_pass"),
                 F.count("_t").alias("n_true"))
            .withColumn("false_pos", F.expr("n_pass - n_true"))
            .withColumn("fpr_ppm", F.expr(
                "((n_pass - n_true) * 1000000) div n_probes"))
            .select("n_probes", "n_pass", "n_true", "false_pos",
                    "fpr_ppm"))


def _oracle_bloom_prefilter() -> str:
    from .operators.sketch import bloom_report_sql

    a = "SELECT DISTINCT text AS key FROM documents"
    b = (f"SELECT DISTINCT {_OV_B_TEXT} AS key FROM documents"
         f" WHERE {_OV_B_PRED}")
    return bloom_report_sql(a, b)


register("bloom_prefilter", q_bloom_prefilter, _oracle_bloom_prefilter())


# --------------------------------------------------------------------------
# q_cm_topk — count-min frequency estimation for the exact top-20 tokens
# (the yardstick the sketch would replace at scale): cm_est >= true by
# construction (one-sided collisions), over_ppm measures the overshoot.
# --------------------------------------------------------------------------

CM_TOPK = 20


def q_cm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.dedup import tokens
    from .operators.sketch import cm_build, cm_estimate

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = tokens(docs, "text").select(F.col("tok").alias("key"))
    sketch = cm_build(toks, "key")
    w = Window.orderBy(F.desc("true_cnt"), F.asc("key"))
    top = (toks.groupBy("key").agg(F.count("*").alias("true_cnt"))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= CM_TOPK))
    return (cm_estimate(top, sketch, "key")
            .withColumn("over_ppm", F.expr(
                "((cm_est - true_cnt) * 1000000) div true_cnt"))
            .select("key", "true_cnt", "cm_est", "over_ppm", "rank"))


def _oracle_cm_topk() -> str:
    from .operators.sketch import cm_report_sql

    toks = ("SELECT unnest(string_split(text, ' ')) AS key"
            " FROM documents WHERE text IS NOT NULL")
    cm = cm_report_sql("SELECT key FROM toks", "SELECT key FROM top")
    return f"""
    WITH toks AS MATERIALIZED ({toks}),
    top AS MATERIALIZED (
        SELECT key, true_cnt, rank FROM (
            SELECT key, CAST(count(*) AS BIGINT) AS true_cnt,
                   row_number() OVER (ORDER BY count(*) DESC, key)
                       AS rank
            FROM toks GROUP BY key)
        WHERE rank <= {CM_TOPK}),
    {cm}
    SELECT t.key, t.true_cnt, e.cm_est,
           CAST(((e.cm_est - t.true_cnt) * 1000000)
                // t.true_cnt AS BIGINT) AS over_ppm,
           CAST(t.rank AS INT) AS rank
    FROM top t JOIN cme e USING (key)
    """


register("cm_topk", q_cm_topk, _oracle_cm_topk())


# --------------------------------------------------------------------------
# q_morph_close — morphological CLOSING (dilate -> erode) of the
# occupied-cell mask of the document corpus at res 2: fills holes and
# channels narrower than one ring, keeping cluster interiors — the
# raster-mask hygiene op, cross-face correct.  (Opening on this sparse
# mask erodes to the empty set — no doc cell has a full neighborhood at
# sf0.01 — so closing is the semantically exercised direction; both
# primitives are pytest-covered.)
# --------------------------------------------------------------------------

MO_RES = 2


def q_morph_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_stats import dilate_cells, erode_cells
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    # dedup: 2 consumers each (dilate and erode read their input twice).
    # A/B at sf0.1, local[4]: with both cuts 1.56 s against 2.09 s
    # without (median of 3 alternating pairs, the cuts faster in 3 of 3)
    mask = (encode_sql.spark_encode(docs, "lon", "lat", MO_RES)
            .select("cellid").distinct().localCheckpoint(eager=True))
    dl = dilate_cells(mask, MO_RES).localCheckpoint(eager=True)
    return erode_cells(dl, MO_RES)


def _oracle_morph_close() -> str:
    from .functions import encode_sql
    from .operators.spatial_stats import (cell_neighbors_sql,
                                          erode_cells_sql)
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          MO_RES, [])
    dl_nbr = cell_neighbors_sql("SELECT cellid FROM _mask", MO_RES)
    er = erode_cells_sql("SELECT cellid FROM _dl", MO_RES)
    return f"""
    WITH _mask AS MATERIALIZED (
        SELECT DISTINCT cellid FROM ({enc})),
    _dl AS MATERIALIZED (
        SELECT cellid FROM _mask
        UNION
        SELECT nbr AS cellid FROM ({dl_nbr}))
    SELECT cellid FROM ({er}) _x
    """


register("morph_close", q_morph_close, _oracle_morph_close())


# --------------------------------------------------------------------------
# q_region_group — raster "clump"/region-group: connected components of
# the occupied-cell mask under queen adjacency (cross-face correct),
# labels = min member cellid (the dedup_clusters pointer-jumping kernel
# on lattice edges), isolated cells self-labeled; report region sizes.
# Oracle = recursive-CTE reachability over the same edges (the
# embed_clusters oracle family).
# --------------------------------------------------------------------------

RG_RES = 2


def q_region_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.dedup import dedup_clusters
    from .operators.spatial_stats import cell_neighbors
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    mask = (encode_sql.spark_encode(docs, "lon", "lat", RG_RES)
            .select("cellid").distinct())
    pairs = (cell_neighbors(mask, RG_RES, cross_face=True)
             .join(mask.select(F.col("cellid").alias("nbr")), "nbr")
             .select(F.col("cellid").alias("a_id"),
                     F.col("nbr").alias("b_id")))
    cc = dedup_clusters(pairs, node_col="cellid", cluster_col="region")
    labeled = (mask.join(cc, "cellid", "left")
               .select("cellid",
                       F.coalesce("region", F.col("cellid"))
                       .alias("region")))
    return (labeled.groupBy("region")
            .agg(F.count("*").alias("n_cells")))


def _oracle_region_group() -> str:
    from .functions import encode_sql
    from .operators.spatial_stats import cell_neighbors_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          RG_RES, [])
    nbr = cell_neighbors_sql("SELECT cellid FROM _mask", RG_RES,
                             cross_face=True)
    return f"""
    WITH RECURSIVE _mask AS MATERIALIZED (
        SELECT DISTINCT cellid FROM ({enc})),
    edges AS MATERIALIZED (
        SELECT n.cellid AS x, n.nbr AS y
        FROM ({nbr}) n JOIN _mask m ON m.cellid = n.nbr),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y),
    cc AS MATERIALIZED (
        SELECT n AS cellid, min(lab) AS region FROM reach GROUP BY n)
    SELECT coalesce(c.region, m.cellid) AS region,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM _mask m LEFT JOIN cc c USING (cellid)
    GROUP BY 1
    """


register("region_group", q_region_group, _oracle_region_group())
