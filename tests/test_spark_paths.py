"""Spark-side invariants:

1. pandas-UDF encode path == pure-expression encode path (bit-identical
   cellids) on the skewed synthetic points.
2. span-sequence pass-through: the interleaved docs' span column survives the
   full encode+join+agg pipeline byte-identical (BASELINE input_hint
   per-row invariant).
3. centroid UDF roundtrip through the planar UDFs, and its decode of a
   batch mixing resolutions and nulls.
4. the kernel, the Spark expression encoder and DuckDB give the same cells
   and bit-equal planar outputs on points at cell edges, res 0-15.
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


def _boundary_points(seed: int = 15) -> "pd.DataFrame":
    """Points on cell edges at every resolution 0-15 (upper-left vertices
    and left/top edge midpoints of random cells, mapped back to lon/lat),
    each also moved by one ulp in lon and in lat; the lon/lat grid lines
    where the encoder's cap and face decisions switch; random points."""
    import numpy as np
    import pandas as pd

    from dggstools_spark.dggs import projection
    from dggstools_spark.dggs.cells import (HALF_SIDE, cellid_to_ul_vertex,
                                            lonlat_to_cellid)

    rng = np.random.default_rng(seed)
    lons, lats = [], []
    for res in range(16):
        lon = rng.uniform(-180, 180, 40)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 40)))
        x, y = cellid_to_ul_vertex(lonlat_to_cellid(lon, lat, res))
        w = HALF_SIDE / 3**res
        for ex, ey in ((x, y), (x, y - w / 2), (x + w / 2, y)):
            elon, elat = projection.inverse(ex, ey)
            lons.append(elon)
            lats.append(elat)
    glon, glat = np.meshgrid(np.arange(-180.0, 181.0, 45.0),
                             [-90.0, -41.9, 0.0, 41.9, 90.0])
    lons += [glon.ravel(), rng.uniform(-180, 180, 2000)]
    lats += [glat.ravel(), np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))]
    lon, lat = np.concatenate(lons), np.concatenate(lats)
    up, down = np.inf, -np.inf
    lon = np.concatenate([lon, np.nextafter(lon, up), np.nextafter(lon, down),
                          lon, lon])
    lat = np.concatenate([lat, lat, lat, np.nextafter(lat, up),
                          np.nextafter(lat, down)])
    lat = np.clip(lat, -90.0, 90.0)
    return pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat})


def _bits(col) -> "np.ndarray":
    import numpy as np

    return col.to_numpy(dtype=np.float64).view(np.int64)


def test_spark_and_duckdb_encoders_agree_on_cell_edges(spark):
    """The one cell-assignment formula gives the same cells on all three
    engines — the numpy kernel (cellid and packed key), Spark (plain and
    ``with_planar``) and DuckDB — at every resolution, on points exactly
    on and one ulp either side of cell edges (this module's edge set and
    the exact-lattice fixture of test_adversarial_encode), with no point
    excluded: the steps hold no math-library call, so ``_rhp_sinb`` and
    the planar outputs are bit-equal too."""
    import duckdb
    import numpy as np
    import pandas as pd

    from dggstools_spark.dggs import cells, projection
    from dggstools_spark.dggs.config import DEFAULT_CONFIG
    from dggstools_spark.dggs.expr import evaluate
    from tests.test_adversarial_encode import _lattice_points

    edges = _boundary_points()
    llon, llat = _lattice_points()
    pdf = pd.DataFrame({"id": np.arange(len(edges) + len(llon)),
                        "lon": np.concatenate([edges["lon"], llon]),
                        "lat": np.concatenate([edges["lat"], llat])})
    lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    pts = spark.createDataFrame(pdf).cache()
    con = duckdb.connect()
    con.register("pts", pdf)

    front = [s for s in encode_sql.encode_steps("lon", "lat", 0)
             if s[0] in ("_rhp_lam", "_rhp_z", "_rhp_sinb")]
    inner, sdf = "SELECT * FROM pts", pts
    for name, expr in front:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
        sdf = sdf.withColumn(name, F.expr(expr))
    duck_sinb = con.execute(f"SELECT _rhp_sinb FROM ({inner}) ORDER BY id").fetchdf()
    spark_sinb = sdf.select("id", "_rhp_sinb").toPandas().sort_values("id")
    kernel_sinb = evaluate(projection.forward_steps("lon", "lat", DEFAULT_CONFIG),
                           {"lon": lon, "lat": lat})["_rhp_sinb"]
    assert np.array_equal(_bits(duck_sinb["_rhp_sinb"]), kernel_sinb.view(np.int64))
    assert np.array_equal(_bits(spark_sinb["_rhp_sinb"]), kernel_sinb.view(np.int64))

    planar = ["px_m", "py_m", "cx_m", "cy_m"]
    kx, ky = projection.forward(lon, lat)
    for res in range(16):
        duck = con.execute(encode_sql.duckdb_encode_select(
            "pts", "lon", "lat", res, ["id"], with_planar=True)).fetchdf()
        full = (encode_sql.spark_encode(pts, "lon", "lat", res, with_planar=True)
                .select("id", "cellid", *planar).toPandas())
        plain = (encode_sql.spark_encode(pts, "lon", "lat", res)
                 .select("id", "cellid").toPandas())
        duck, full, plain = (d.sort_values("id").reset_index(drop=True)
                             for d in (duck, full, plain))
        assert len(duck) == len(full) == len(plain) == len(pdf)
        kernel = pd.Series(cells.lonlat_to_cellid(lon, lat, res))
        keyed = pd.Series(cells.cellkey_to_cellid(
            cells.lonlat_to_cellkey(lon, lat, res), res))
        for got in (full["cellid"], plain["cellid"], kernel, keyed):
            bad = (got != duck["cellid"]).to_numpy()
            assert not bad.any(), (res, pdf[bad].head(3).to_dict("records"),
                                   got[bad].head(3).tolist())
        for c in planar:
            assert np.array_equal(_bits(full[c]), _bits(duck[c])), (res, c)
        assert np.array_equal(_bits(duck["px_m"]), kx.view(np.int64)), res
        assert np.array_equal(_bits(duck["py_m"]), ky.view(np.int64)), res
    pts.unpersist()
