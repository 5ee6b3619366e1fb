"""Spark-side invariants:

1. pandas-UDF encode path == pure-expression encode path (bit-identical
   cellids) on the skewed synthetic points.
2. span-sequence pass-through: the interleaved docs' span column survives the
   full encode+join+agg pipeline byte-identical (BASELINE input_hint
   per-row invariant).
3. centroid UDF roundtrip through the planar UDFs, and its decode of a
   batch mixing resolutions and nulls.
"""

import pytest
from pyspark.sql import functions as F

from dggstools_spark.functions import encode_sql
from dggstools_spark.functions.encode import (
    cellid_from_lonlat_udf,
    cell_centroid_udf,
    cellid_from_planar_udf,
    planar_from_lonlat_udf,
)
from dggstools_spark.sources import synth


@pytest.fixture(scope="module")
def docs(spark):
    return synth.interleaved_docs(spark, 3000, 8).cache()


def test_udf_and_expr_paths_agree(spark, docs):
    enc = cellid_from_lonlat_udf(6)
    via_udf = docs.select("doc_id", enc("lon", "lat").alias("cell_udf"))
    via_expr = encode_sql.spark_encode(docs, "lon", "lat", 6, out="cell_expr").select(
        "doc_id", "cell_expr")
    joined = via_udf.join(via_expr, "doc_id")
    n_bad = joined.filter(~F.col("cell_udf").eqNullSafe(F.col("cell_expr"))).count()
    assert n_bad == 0
    assert joined.count() == 3000


def test_span_sequence_invariant(spark, docs):
    before = synth.span_signature(docs).withColumnRenamed("span_sig", "sig_before")
    enc = cellid_from_lonlat_udf(5)
    # pipeline: encode -> prefix -> shuffle (repartition) -> join back a per-cell agg
    pipeline = (
        docs.withColumn("cellid", enc("lon", "lat"))
        .withColumn("prefix", F.substring("cellid", 1, 3))
        .repartition(5, "prefix")
    )
    per_cell = pipeline.groupBy("cellid").agg(F.count("*").alias("n"))
    pipeline = pipeline.join(per_cell, "cellid", "left")
    after = synth.span_signature(pipeline.select("doc_id", "spans")) \
        .withColumnRenamed("span_sig", "sig_after")
    joined = before.join(after, "doc_id")
    assert joined.count() == 3000
    assert joined.filter(F.col("sig_before") != F.col("sig_after")).count() == 0


def test_centroid_udf_roundtrip(spark, docs):
    enc = cellid_from_lonlat_udf(4)
    cent = cell_centroid_udf()
    reenc = cellid_from_planar_udf(4)
    df = (
        docs.withColumn("cellid", enc("lon", "lat"))
        .withColumn("c", cent("cellid"))
        .withColumn("cell2", reenc(F.col("c.x"), F.col("c.y")))
    )
    assert df.filter(F.col("cellid") != F.col("cell2")).count() == 0


@pytest.mark.parametrize("geodetic", [False, True])
def test_centroid_udf_mixed_resolution_batch(spark, geodetic):
    """One Arrow batch mixing resolutions 0-5, an empty cellid and a null
    decodes each cell exactly as a one-cell kernel call does; the empty
    and null cells give no coordinates."""
    import math

    from dggstools_spark.dggs import cells

    ids = ["N", "S8", "Q301", None, "O00000", "", "P1", "R12345", "N", None, "Q888"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(ids)],
                               "i int, cellid string").coalesce(1)
    got = {r.i: (r.c[0], r.c[1]) for r in
           df.select("i", cell_centroid_udf(geodetic=geodetic)("cellid").alias("c")).collect()}
    decode = cells.cellid_to_lonlat_centroid if geodetic else cells.cellid_to_planar_centroid
    for i, c in enumerate(ids):
        if not c:
            assert all(v is None or math.isnan(v) for v in got[i]), (c, got[i])
            continue
        x, y = decode([c])
        assert got[i] == (float(x[0]), float(y[0])), c


def test_planar_udf_matches_expr(spark, docs):
    fwd = planar_from_lonlat_udf()
    via_udf = docs.select("doc_id", fwd("lon", "lat").alias("p"))
    via_expr = encode_sql.spark_encode(docs, "lon", "lat", 2, with_planar=True)
    joined = via_udf.join(via_expr, "doc_id").select(
        (F.abs(F.col("p.x") - F.col("px_m")) + F.abs(F.col("p.y") - F.col("py_m"))).alias("err"))
    assert joined.agg(F.max("err")).first()[0] < 1e-6


def test_interleaved_docs_shape(docs):
    row = docs.first()
    assert row.doc_id.startswith("doc")
    assert 1 <= len(row.spans) <= 8
    offsets = [s.offset for s in row.spans]
    assert offsets == sorted(offsets)
    kinds = {s.kind for s in row.spans}
    assert kinds <= {"text", "image", "audio"}
