"""Driver-contract queries, batch 2: polygon PIP join, cell-keyed kNN,
MinHash signatures, first-seen class encoding, RMSE, and real-codec
multimodal features — all oracle-checked.  (AUID queries live in
queries5.py, also oracle-checked.)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dggs.cells import HALF_SIDE
from .functions import encode_sql
from .operators import spatial_join
from .queries3 import load
from .registry import register
from .sources import synth

_S = float(HALF_SIDE)


# --------------------------------------------------------------------------
# q_pip_polygons — J2 with a polygon TABLE: rasterize + doc equi-join
# --------------------------------------------------------------------------

PIP_RES = 5


def _poly_vertex_sql(pid: str) -> tuple[str, str, str]:
    """Portable SQL deriving a diamond polygon center/radius (planar meters)
    from an integer key — identical text on both engines."""
    cx = (f"(-2.0 * {_S!r} + ((CAST({pid} AS BIGINT) * 7919) % 40000)"
          f" / 40000.0 * 4.0 * {_S!r})")
    cy = (f"(-0.45 * {_S!r} + ((CAST({pid} AS BIGINT) * 104729) % 9000)"
          f" / 9000.0 * 0.9 * {_S!r})")
    rad = f"((0.12 + (CAST({pid} AS BIGINT) % 5) * 0.05) * {_S!r})"
    return cx, cy, rad


def _spark_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diamond per region row: ring = 4 planar-meter vertices."""
    cx, cy, rad = _poly_vertex_sql("r_regionkey")
    return load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("poly_id"),
        F.expr(
            f"array(named_struct('x', {cx} + {rad}, 'y', {cy}),"
            f" named_struct('x', {cx}, 'y', {cy} + {rad}),"
            f" named_struct('x', {cx} - {rad}, 'y', {cy}),"
            f" named_struct('x', {cx}, 'y', {cy} - {rad}))"
        ).alias("ring"),
    )


def q_pip_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    polys = _spark_polygons(spark, sf_dir)
    joined = spatial_join.pip_join(docs, polys, PIP_RES)
    return joined.groupBy("poly_id").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cellid").alias("n_cells"),
    )


def _oracle_pip_polygons() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", PIP_RES,
                                          ["doc_id"], with_planar=True)
    cx, cy, rad = _poly_vertex_sql("r_regionkey")
    # the 4 diamond edges, exploded via UNION ALL; crossing parity on the
    # doc's CELL CENTROID (cx_m, cy_m) — center-burn semantics
    edges = " UNION ALL ".join([
        f"SELECT r_regionkey AS poly_id, {cx} + {rad} AS x1, {cy} AS y1, {cx} AS x2, {cy} + {rad} AS y2 FROM region",
        f"SELECT r_regionkey, {cx}, {cy} + {rad}, {cx} - {rad}, {cy} FROM region",
        f"SELECT r_regionkey, {cx} - {rad}, {cy}, {cx}, {cy} - {rad} FROM region",
        f"SELECT r_regionkey, {cx}, {cy} - {rad}, {cx} + {rad}, {cy} FROM region",
    ])
    return f"""
    WITH pts AS ({enc}), edges AS ({edges}),
    crossings AS (
      SELECT p.doc_id, p.cellid, e.poly_id
      FROM pts p JOIN edges e
        ON ((e.y1 > p.cy_m) != (e.y2 > p.cy_m))
       AND (p.cx_m < (e.x2 - e.x1) * (p.cy_m - e.y1) / (e.y2 - e.y1) + e.x1)),
    inside AS (
      SELECT doc_id, cellid, poly_id FROM crossings
      GROUP BY doc_id, cellid, poly_id HAVING count(*) % 2 = 1)
    SELECT poly_id, count(*) AS n_docs, count(DISTINCT cellid) AS n_cells
    FROM inside GROUP BY poly_id
    """


# --------------------------------------------------------------------------
# q_knn_cells — J5: cell-keyed kNN (pruned + exact-fallback operator)
# --------------------------------------------------------------------------

KNN_CELLS_K = 5


def _query_points_sql(key: str) -> tuple[str, str]:
    qx = (f"(-2.0 * {_S!r} + ((CAST({key} AS BIGINT) * 6151) % 10007)"
          f" / 10007.0 * 4.0 * {_S!r})")
    qy = (f"(-0.4 * {_S!r} + ((CAST({key} AS BIGINT) * 3571) % 8009)"
          f" / 8009.0 * 0.8 * {_S!r})")
    return qx, qy


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    pts = encode_sql.spark_encode(docs, "lon", "lat", 6, with_planar=True) \
        .select("doc_id", F.col("px_m").alias("px"), F.col("py_m").alias("py"))
    # dedup: the density pre-pass and every level's candidate join read
    # pts.  A/B at sf0.1, local[4]: with the cut 3.07 s against 3.43 s
    # without (median of 3 alternating pairs, the cut faster in 3 of 3;
    # 2 of 3 in a first set that overlapped another job)
    pts = pts.localCheckpoint(eager=False)
    qx, qy = _query_points_sql("n_nationkey")
    qs = load(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10).select(
        F.col("n_nationkey").alias("q_id"),
        F.expr(qx).alias("qx"), F.expr(qy).alias("qy"))
    # block_res chosen adaptively from the point-density pre-pass
    topk = spatial_join.knn_join_pruned(pts, qs, KNN_CELLS_K)
    return topk.select("q_id", "doc_id", F.col("rank").alias("rank_k"))


def _oracle_knn_cells() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 6,
                                          ["doc_id"], with_planar=True)
    qx, qy = _query_points_sql("n_nationkey")
    return f"""
    WITH pts AS (SELECT doc_id, px_m AS px, py_m AS py FROM ({enc})),
    qs AS (SELECT n_nationkey AS q_id, {qx} AS qx, {qy} AS qy
           FROM nation WHERE n_nationkey < 10),
    pairs AS (
      SELECT q_id, doc_id,
             sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy)) AS dist_m,
             px, py
      FROM pts, qs)
    SELECT q_id, doc_id, rank_k FROM (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id ORDER BY dist_m, px, py) AS rank_k
      FROM pairs) WHERE rank_k <= {KNN_CELLS_K}
    """


# --------------------------------------------------------------------------
# q_minhash — MinHash signature (training-data near-dup primitive)
# --------------------------------------------------------------------------

N_MH = 4


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signatures

    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "text", "doc_id", n_hashes=N_MH, shingle_n=3)
    return sig.select(
        "doc_id", F.md5(F.concat(*[F.col(f"h{i}") for i in range(N_MH)])).alias("sig"))


def _oracle_minhash() -> str:
    mins = ", ".join(
        f"min(md5(concat('{i}:', shingle))) AS h{i}" for i in range(N_MH))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    -- list_slice matches Spark's slice() short-doc rule: a slice past the
    -- end yields a SHORTER list (no trailing separator), so docs with fewer
    -- than shingle_n tokens hash identically on both engines
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(greatest(len(t) - 2, 1)),
                         i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS shingle
           FROM toks),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
    SELECT doc_id, md5(concat({', '.join(f'h{i}' for i in range(N_MH))})) AS sig
    FROM sig
    """


# --------------------------------------------------------------------------
# q_class_encode — J4: first-seen-ordered class dictionary
# --------------------------------------------------------------------------

def q_class_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    firsts = docs.groupBy("source").agg(
        F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
    w = Window.orderBy("first_doc")
    return firsts.withColumn("class_id", F.dense_rank().over(w)) \
        .select("source", "class_id", "n_docs")


_ORACLE_CLASS_ENCODE = """
SELECT source,
       CAST(dense_rank() OVER (ORDER BY first_doc) AS INT) AS class_id,
       n_docs
FROM (SELECT source, min(doc_id) AS first_doc, count(*) AS n_docs
      FROM documents GROUP BY source)
"""


# --------------------------------------------------------------------------
# q_rmse — A3: RMSE/bias between two derived cell tables
# --------------------------------------------------------------------------

def q_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # control/test come from ONE aggregation pass instead of two aggs +
    # metrics.rmse_bias join: one encode and one shuffle, not two of each
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = encode_sql.spark_encode(docs, "lon", "lat", 6).select(
        "doc_id", "cellid",
        ((F.col("doc_id") * 31) % 97).cast("double").alias("v1"),
        (((F.col("doc_id") * 31) % 97) + ((F.col("doc_id") * 17) % 7) - 3)
        .cast("double").alias("v2"),
    )
    per_cell = cells.groupBy("cellid").agg(
        F.avg("v1").alias("c"), F.avg("v2").alias("t"))
    return per_cell.agg(
        F.round(F.sqrt(F.avg((F.col("t") - F.col("c")) * (F.col("t") - F.col("c"))))
                * 1e6).cast("bigint").alias("rmse_um"),
        F.round(F.avg(F.col("t") - F.col("c")) * 1e6).cast("bigint").alias("bias_um"),
        F.count("*").alias("n"),
    )


def _oracle_rmse() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 6, ["doc_id"])
    return f"""
    WITH cells AS (
      SELECT doc_id, cellid,
             CAST((doc_id * 31) % 97 AS DOUBLE) AS v1,
             CAST((doc_id * 31) % 97 + (doc_id * 17) % 7 - 3 AS DOUBLE) AS v2
      FROM ({enc})),
    control AS (SELECT cellid, avg(v1) AS c FROM cells GROUP BY cellid),
    test AS (SELECT cellid, avg(v2) AS t FROM cells GROUP BY cellid)
    SELECT CAST(round(sqrt(avg((t - c) * (t - c))) * 1e6) AS BIGINT) AS rmse_um,
           CAST(round(avg(t - c) * 1e6) AS BIGINT) AS bias_um,
           count(*) AS n
    FROM control JOIN test USING (cellid)
    """


# --------------------------------------------------------------------------
# q_media_features — multimodal features, REAL codecs + observable fallback
# (auid_groups/auid_optimize moved to queries5.py with value-level oracles)
# --------------------------------------------------------------------------

#: quantization scale for media features: 255 * 32768.  Every oracle value
#: becomes integer-exact — PGM pixels k/255 * Q = k*32768, WAV samples
#: v/32768 * Q = v*255, fake-fallback bytes (b-127.5)/127.5 * Q =
#: (2b-255)*32768 — so engine rounding-mode differences can never flip a bit.
MEDIA_Q = 8355840.0


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal features over REAL codec blobs: even docs get a P5 PGM,
    odd docs a 16-bit WAV (closed forms from media.synth_blob_udf), and
    every 10th doc an opaque blob that exercises the fake-decode fallback —
    observably, via the per-row fake_decoded flag the oracle pins to 1."""
    from .functions.media import extract_features, synth_blob_udf

    synth_blob = synth_blob_udf()
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(F.lit("blob://"), F.md5("text")).alias("media_ref"),
        F.when(F.col("doc_id") % 10 == 0, F.encode(F.md5("text"), "utf-8"))
         .otherwise(synth_blob(F.col("doc_id"))).alias("blob"),
    )
    feats = extract_features(docs, dtype="float64")
    return feats.select(
        "doc_id", "kind", "fake_decoded", "feat_dim",
        F.expr(f"CAST(round(feature[0] * {MEDIA_Q!r}D) AS BIGINT)").alias("f0_q"),
        F.expr(f"aggregate(feature, 0L,"
               f" (a, x) -> a + CAST(round(x * {MEDIA_Q!r}D) AS BIGINT))").alias("fsum_q"),
    )


def _oracle_media_features() -> str:
    q = repr(MEDIA_Q)
    img_v = f"CAST(round((CAST((31 * d.doc_id + 7 * t.j) % 251 AS DOUBLE) / 255.0) * {q}) AS BIGINT)"
    wav_v = (f"CAST(round(((CAST((13 * d.doc_id + 3 * t.j) % 2003 AS DOUBLE) - 1001.0)"
             f" / 32768.0) * {q}) AS BIGINT)")
    opq_v = (f"CAST(round(((CAST(unicode(substring(d.h, CAST(t.j AS INT) + 1, 1)) AS DOUBLE)"
             f" - 127.5) / 127.5) * {q}) AS BIGINT)")
    return f"""
    WITH docs AS (SELECT doc_id, md5(text) AS h FROM documents),
    img AS (
      SELECT d.doc_id, 'image' AS kind, 0 AS fake_decoded,
             max(CASE WHEN t.j = 0 THEN {img_v} END) AS f0_q,
             CAST(sum({img_v}) AS BIGINT) AS fsum_q
      FROM docs d, range(64) t(j)
      WHERE d.doc_id % 2 = 0 AND d.doc_id % 10 <> 0
      GROUP BY d.doc_id),
    -- WAV: 32 samples pooled to 64 slots -> slot 0 is an empty segment (0),
    -- each sample lands in exactly one odd slot
    wav AS (
      SELECT d.doc_id, 'audio' AS kind, 0 AS fake_decoded,
             CAST(0 AS BIGINT) AS f0_q,
             CAST(sum({wav_v}) AS BIGINT) AS fsum_q
      FROM docs d, range(32) t(j)
      WHERE d.doc_id % 2 = 1
      GROUP BY d.doc_id),
    -- fake fallback: 32 md5-hex bytes tiled twice to 64
    opq AS (
      SELECT d.doc_id, 'opaque' AS kind, 1 AS fake_decoded,
             max(CASE WHEN t.j = 0 THEN {opq_v} END) AS f0_q,
             CAST(2 * sum({opq_v}) AS BIGINT) AS fsum_q
      FROM docs d, range(32) t(j)
      WHERE d.doc_id % 10 = 0
      GROUP BY d.doc_id)
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, kind,
           CAST(fake_decoded AS INT) AS fake_decoded,
           CAST(64 AS INT) AS feat_dim, f0_q, fsum_q
    FROM (SELECT * FROM img UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM opq)
    """


register("pip_polygons", q_pip_polygons, _oracle_pip_polygons())
register("knn_cells", q_knn_cells, _oracle_knn_cells())
register("minhash", q_minhash, _oracle_minhash())
register("class_encode", q_class_encode, _ORACLE_CLASS_ENCODE)
register("rmse", q_rmse, _oracle_rmse())
register("media_features", q_media_features, _oracle_media_features())


# --------------------------------------------------------------------------
# q_span_cells — the north-star operation: span-level cell assignment
# (media/text spans of interleaved docs -> DGGS cells; span positions jitter
# around the doc point; fully oracle-checked)
# --------------------------------------------------------------------------

SPAN_RES = 6
_MIX = synth.MIX


def q_span_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    spans = docs.select(
        "doc_id", "lon", "lat",
        F.expr(f"CAST((doc_id * {_MIX}) % 1000000007 % 8 + 1 AS INT)").alias("n_spans"),
    ).withColumn("j", F.explode(F.expr("sequence(0, n_spans - 1)")))
    spans = spans.select(
        "doc_id", "j",
        F.expr("CASE CAST((doc_id * 7 + j) % 3 AS INT) WHEN 0 THEN 'text'"
               " WHEN 1 THEN 'image' ELSE 'audio' END").alias("kind"),
        (F.col("lon") + F.expr(f"((doc_id * 13 + j * 7) % 1000) / 1000.0 * 0.02 - 0.01")).alias("slon"),
        (F.col("lat") + F.expr(f"((doc_id * 29 + j * 11) % 1000) / 1000.0 * 0.02 - 0.01")).alias("slat"),
    )
    enc = encode_sql.spark_encode(spans, "slon", "slat", SPAN_RES)
    return enc.groupBy("cellid", "kind").agg(F.count("*").alias("n_spans"))


def _oracle_span_cells() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    spans = f"""
    SELECT doc_id, j,
           CASE CAST((doc_id * 7 + j) % 3 AS INT) WHEN 0 THEN 'text'
                WHEN 1 THEN 'image' ELSE 'audio' END AS kind,
           lon + ((doc_id * 13 + j * 7) % 1000) / 1000.0 * 0.02 - 0.01 AS slon,
           lat + ((doc_id * 29 + j * 11) % 1000) / 1000.0 * 0.02 - 0.01 AS slat
    FROM ({src}) d, range(8) t(j)
    WHERE j < CAST((doc_id * {_MIX}) % 1000000007 % 8 + 1 AS INT)
    """
    enc = encode_sql.duckdb_encode_select(f"({spans})", "slon", "slat",
                                          SPAN_RES, ["kind"])
    return f"SELECT cellid, kind, count(*) AS n_spans FROM ({enc}) GROUP BY cellid, kind"


register("span_cells", q_span_cells, _oracle_span_cells())
