"""Tests for lineage/checkpointed writes, metrics, cell IO, media features,
run directories."""

import os
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from dggstools_spark.operators import metrics
from dggstools_spark.plans import lineage
from dggstools_spark.sources import cells_io
from dggstools_spark.functions import media


def test_checkpointed_write_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(f"Q{i % 3}{i % 9}", float(i)) for i in range(90)],
        "cellid string, band1 double",
    ).withColumn("prefix", F.substring("cellid", 1, 2))
    res = lineage.run_batches(df, root, "prefix", ["cellid"])
    assert all(res.values()) and len(res) == 3
    # resume: nothing re-runs
    res2 = lineage.run_batches(df, root, "prefix", ["cellid"])
    assert not any(res2.values())
    # data is complete and deduplicated per batch
    data = spark.read.parquet(f"{root}/data")
    assert data.count() == 90
    lin = spark.read.parquet(f"{root}/_lineage")
    assert lin.agg(F.sum("n_rows")).first()[0] == 90
    # replay after losing a commit marker overwrites deterministically
    batches = spark.read.parquet(f"{root}/_batches").filter(F.col("batch_key") != "Q0")
    batches.write.mode("overwrite").parquet(f"{root}/_batches_new")
    os.system(f"rm -rf {root}/_batches && mv {root}/_batches_new {root}/_batches")
    res3 = lineage.run_batches(df, root, "prefix", ["cellid"])
    assert res3 == {"Q0": True, "Q1": False, "Q2": False}
    assert spark.read.parquet(f"{root}/data").count() == 90


def test_completed_batches_absent_vs_unreadable(spark, tmp_path):
    """No marker table means no batch is done; a marker table that cannot
    be read raises instead of re-running every batch."""
    assert lineage.completed_batches(spark, str(tmp_path / "fresh")) == set()
    assert lineage.completed_batches(spark, (tmp_path / "fresh").as_uri()) == set()
    bad = tmp_path / "bad" / "_batches"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        lineage.completed_batches(spark, str(tmp_path / "bad"))


def test_lineage_writes_leave_session_overwrite_mode(spark, tmp_path):
    """checkpointed_write and run_batches overwrite their batch partitions
    dynamically per write; the session's partitionOverwriteMode is left
    as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = spark.createDataFrame([("Q10", 1.0), ("Q21", 2.0)], "cellid string, band1 double")
        assert lineage.checkpointed_write(df, str(tmp_path / "one"), "b0", ["cellid"])
        assert spark.conf.get(key) == "static"
        res = lineage.run_batches(df.withColumn("prefix", F.substring("cellid", 1, 2)),
                                  str(tmp_path / "many"), "prefix", ["cellid"])
        assert res == {"Q1": True, "Q2": True}
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def test_rmse_bias_zero_on_identity(spark):
    cells = spark.createDataFrame(
        [(f"Q{i}", float(i)) for i in range(9)], "cellid string, band1 double")
    row = metrics.rmse_bias(cells, cells).first()
    assert row.rmse == 0.0 and row.bias == 0.0 and row.n == 9


def test_rmse_known_offset(spark):
    c = spark.createDataFrame([(f"Q{i}", 1.0) for i in range(9)], "cellid string, band1 double")
    t = spark.createDataFrame([(f"Q{i}", 3.0) for i in range(9)], "cellid string, band1 double")
    row = metrics.rmse_bias(c, t).first()
    assert row.rmse == pytest.approx(2.0) and row.bias == pytest.approx(2.0)


def test_class_cell_areas(spark):
    from dggstools_spark.dggs.config import DEFAULT_CONFIG

    cells = spark.createDataFrame(
        [("Q0", 1), ("Q1", 1), ("Q2", 2)], "cellid string, band1 int")
    rows = {r.band1: r for r in metrics.class_cell_areas(cells, 1).collect()}
    assert rows[1].n_cells == 2
    assert rows[1].area_m2 == pytest.approx(2 * DEFAULT_CONFIG.cell_area(1))


def test_class_polygon_areas_matches_kernel(spark):
    from dggstools_spark.dggs import geodesy

    ring = [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 1.0, "y": 1.0},
            {"x": 0.0, "y": 1.0}]
    polys = spark.createDataFrame([("a", ring)], "class string, ring array<struct<x double, y double>>")
    got = metrics.class_polygon_areas(polys).first()
    want = geodesy.geodesic_polygon_area([0, 1, 1, 0], [0, 0, 1, 1])
    assert got.area_m2 == pytest.approx(want, rel=1e-12)


def test_extent(spark):
    # 3x3 block on face Q at res 1 = the whole face
    cells = spark.createDataFrame([(f"Q{i}",) for i in range(9)], "cellid string")
    row = metrics.extent(cells, 1).first()
    from dggstools_spark.dggs.cells import HALF_SIDE

    assert row.width == 3 and row.height == 3
    assert row.left == pytest.approx(0.0)
    assert row.right == pytest.approx(HALF_SIDE)


def test_line_error_zero_for_centroids(spark):
    from dggstools_spark.dggs.cells import cellid_to_lonlat_centroid

    ids = ["Q34", "P12", "O77"]
    lon, lat = cellid_to_lonlat_centroid(ids)
    nodes = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lon, lat)], "lon double, lat double")
    cells = spark.createDataFrame([(c,) for c in ids], "cellid string")
    row = metrics.line_error(nodes, cells, 2).first()
    assert row.mean_node_error_m == pytest.approx(0.0, abs=1e-3)
    # missing cells get the one-cell-width penalty
    row2 = metrics.line_error(nodes, cells.limit(0), 2).first()
    from dggstools_spark.dggs.config import DEFAULT_CONFIG

    assert row2.mean_node_error_m == pytest.approx(DEFAULT_CONFIG.cell_width(2))


def test_cells_io_roundtrip(spark, tmp_path):
    path = str(tmp_path / "celltable")
    df = spark.createDataFrame(
        [(f"Q{i % 9}{i % 3}", float(i)) for i in range(27)], "cellid string, band1 double")
    attrs = cells_io.build_attrs(res_idx=2, nbands=1, nodata=-9999.0)
    cells_io.write_cells(df, path, attrs)
    back, attrs2 = cells_io.read_cells(spark, path)
    assert sorted(back.collect()) == sorted(df.collect())
    assert attrs2["res_idx"] == 2
    assert attrs2["rhealpixdggs"]["n_side"] == 3
    pruned, _ = cells_io.read_cells(spark, path, prefix="Q1")
    assert sorted(pruned.collect()) == sorted(
        df.filter(F.col("cellid").startswith("Q1")).collect())
    assert cells_io.read_attrs(path)["nbands"] == 1


def _all_prefix_table(spark, tmp_path, n=54):
    """A cell table covering the first ``n`` res-1 prefixes (all 54 by
    default: more than Spark's 32-path parallel-listing threshold),
    written from 4 input partitions that each hold every prefix."""
    prefixes = [f + str(d) for f in "NOPQRS" for d in range(9)][:n]
    rows = [(prefixes[i % n] + str(i // n), float(i)) for i in range(4 * n)]
    df = spark.sparkContext.parallelize(rows, 4).toDF("cellid string, band1 double")
    path = str(tmp_path / f"cells{n}")
    cells_io.write_cells(df, path, cells_io.build_attrs(2, 1, None), prefix_len=2)
    return df, path


def test_write_cells_one_file_per_prefix(spark, tmp_path):
    """The rebalance by cell_prefix puts each prefix in one task, so the
    partitioned write leaves one parquet file per prefix, not one per
    (input task, prefix) pair."""
    _, path = _all_prefix_table(spark, tmp_path)
    per_dir = {}
    for d in os.listdir(f"{path}/data"):
        if d.startswith("cell_prefix="):
            per_dir[d] = sum(n.endswith(".parquet")
                             for n in os.listdir(f"{path}/data/{d}"))
    assert len(per_dir) == 54
    assert set(per_dir.values()) == {1}


def _jobs_while(spark, group, fn):
    """Run ``fn()`` inside job group ``group``; return (its result, the
    number of Spark jobs it fired)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", ["prefix", "full"])
def test_read_cells_prefix_fires_no_job(spark, tmp_path, case):
    """A prefix read takes its schema from the sidecar and opens only the
    matching prefix directories, which it lists itself: building it runs
    no schema-inference or listing job.  A full read is the same path
    matching every directory: of a 10-prefix table it fires no job
    either."""
    if case == "prefix":
        df, path = _all_prefix_table(spark, tmp_path)
        prefix, want = "Q1", df.filter(F.col("cellid").startswith("Q1"))
    else:
        df, path = _all_prefix_table(spark, tmp_path, 10)
        prefix, want = None, df
    (got, _), jobs = _jobs_while(
        spark, f"read_cells_{case}",
        lambda: cells_io.read_cells(spark, path, prefix=prefix))
    assert jobs == 0
    assert sorted(got.collect()) == sorted(want.collect())
    assert len(want.collect()) == (4 if case == "prefix" else 40)


@pytest.mark.parametrize("case", ["prefix", "full"])
def test_read_cells_prefix_over_32_dirs_fires_listing_job(spark, tmp_path, case):
    """The no-job prefix read holds up to 32 directories: prefix 'N' at
    prefix_len 3 opens 81, and Spark lists those in one parallel job
    (still no schema-inference job).  A full read of the 54-prefix
    table opens 54 the same way and fires the same one job."""
    if case == "prefix":
        rows = [(f"N{a}{b}{c}", float(c))
                for a in range(9) for b in range(9) for c in range(2)]
        df = spark.createDataFrame(rows, "cellid string, band1 double")
        path = str(tmp_path / "cells81")
        cells_io.write_cells(df, path, cells_io.build_attrs(3, 1, None), prefix_len=3)
        prefix = "N"
    else:
        df, path = _all_prefix_table(spark, tmp_path)
        prefix = None
    (back, _), jobs = _jobs_while(
        spark, f"read_cells_listing_{case}",
        lambda: cells_io.read_cells(spark, path, prefix=prefix))
    assert jobs == 1
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_cells_overwrite_is_static(spark, tmp_path):
    """A rewrite with fewer prefixes replaces the whole table even when
    the session's partitionOverwriteMode is dynamic (a caller may set
    it): no prefix directory of the older table survives."""
    _, path = _all_prefix_table(spark, tmp_path)
    small = spark.createDataFrame([("Q10", 1.0), ("Q11", 2.0)], "cellid string, band1 double")
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        cells_io.write_cells(small, path, cells_io.build_attrs(2, 1, None), prefix_len=2)
    finally:
        spark.conf.set(key, before)
    dirs = [d for d in os.listdir(f"{path}/data") if d.startswith("cell_prefix=")]
    assert dirs == ["cell_prefix=Q1"]
    back, _ = cells_io.read_cells(spark, path)
    assert sorted(back.collect()) == sorted(small.collect())


def test_read_cells_unmatched_prefix_is_empty(spark, tmp_path):
    _, path = _all_prefix_table(spark, tmp_path)
    for prefix in ("Q9", "Q91"):
        none, _ = cells_io.read_cells(spark, path, prefix=prefix)
        assert none.columns == ["cellid", "band1"]
        assert none.count() == 0


def test_read_cells_sidecar_without_schema(spark, tmp_path):
    """A table whose sidecar records no schema (written before the schema
    was recorded) still reads, by inference."""
    import json

    df, path = _all_prefix_table(spark, tmp_path)
    with open(f"{path}/_meta.json") as f:
        meta = json.load(f)
    meta.pop("schema", None)
    with open(f"{path}/_meta.json", "w") as f:
        json.dump(meta, f)
    back, attrs = cells_io.read_cells(spark, path)
    assert attrs["res_idx"] == 2
    assert sorted(back.collect()) == sorted(df.collect())
    for prefix in ("Q", "Q1", "Q10"):
        pruned, _ = cells_io.read_cells(spark, path, prefix=prefix)
        assert sorted(pruned.collect()) == sorted(
            df.filter(F.col("cellid").startswith(prefix)).collect()), prefix


def test_media_feature_extraction(spark):
    df = spark.createDataFrame(
        [("d1", "blob://a", b"hello world"), ("d2", "blob://b", b""),
         ("d3", "blob://c", b"hello world")],
        "doc_id string, media_ref string, blob binary")
    feats = media.extract_features(df).collect()
    by_id = {r.doc_id: r for r in feats}
    assert by_id["d1"].feat_dim == 64 and len(by_id["d1"].feature) == 64
    assert by_id["d1"].feature == by_id["d3"].feature  # deterministic
    assert all(v == 0.0 for v in by_id["d2"].feature)  # empty blob -> zeros
    # non-media bytes take the fallback, and the flag says so
    assert all(r.fake_decoded == 1 and r.kind == "opaque" for r in feats)


def test_media_features_real_codec_path(spark):
    """PNM/WAV blobs run the REAL decoders inside extract_features:
    fake_decoded=0 and the pooled features carry the closed-form values."""
    from dggstools_spark.functions.media import synth_blob_udf

    ids = spark.createDataFrame([(2,), (3,)], "doc_id long")
    df = ids.select("doc_id", F.lit("r").alias("media_ref"),
                    synth_blob_udf()(F.col("doc_id")).alias("blob"))
    rows = {r.doc_id: r for r in media.extract_features(df, dtype="float64").collect()}
    img, wav = rows["2"], rows["3"]
    assert img.kind == "image" and img.fake_decoded == 0
    assert wav.kind == "audio" and wav.fake_decoded == 0
    assert abs(img.feature[0] - ((2 * 31) % 251) / 255.0) < 1e-12
    assert wav.feature[0] == 0.0  # 32 samples in 64 slots: slot 0 empty
    assert abs(wav.feature[1] - ((3 * 13) % 2003 - 1001) / 32768.0) < 1e-12


def test_pnm_wav_real_decoders_roundtrip():
    """The real codecs (no Spark): P5/P6 PNM and 16/8-bit WAV roundtrips."""
    import io
    import wave

    import numpy as np

    from dggstools_spark.functions.media import (decode_media, decode_pnm,
                                                 decode_wav)

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = b"P5\n# a comment\n8 8\n255\n" + px.tobytes()
    arr, meta = decode_pnm(blob)
    assert (arr == px).all() and meta["width"] == 8 and meta["height"] == 8

    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    blob6 = b"P6\n4 4\n255\n" + rgb.tobytes()
    arr6, meta6 = decode_pnm(blob6)
    assert (arr6 == rgb).all() and meta6["mime"].endswith("pixmap")

    s = (np.arange(-16, 16) * 100).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(s.tobytes())
    samples, wmeta = decode_wav(buf.getvalue())
    assert (samples == s).all() and wmeta["sample_rate"] == 8000

    kind, sig, _ = decode_media(blob)
    assert kind == "image" and abs(sig.max() - 63 / 255) < 1e-12
    kind2, sig2, _ = decode_media(buf.getvalue())
    assert kind2 == "audio" and len(sig2) == 32
    kind3, _, _ = decode_media(b"\x89PNG not actually decodable here")
    assert kind3 == "opaque"


def test_cli_roundtrip(spark, tmp_path):
    """CLI parity with the reference's 7 commands: burn a polygon table,
    print its metadata, vectorize to geodetic rings, re-rasterize, and run
    the area-error command — all through __main__.main(argv)."""
    import io as _io
    import json as _json
    from contextlib import redirect_stdout

    from dggstools_spark.__main__ import main
    from dggstools_spark.dggs.cells import HALF_SIDE

    w = HALF_SIDE / 9
    ring = [{"x": 1 * w, "y": HALF_SIDE / 2 - 5 * w},
            {"x": 4 * w, "y": HALF_SIDE / 2 - 5 * w},
            {"x": 4 * w, "y": HALF_SIDE / 2 - 2 * w},
            {"x": 1 * w, "y": HALF_SIDE / 2 - 2 * w}]
    polys = spark.createDataFrame(
        [(1, 7, ring)], "poly_id int, class int, ring array<struct<x double, y double>>")
    vec_in = str(tmp_path / "polys.parquet")
    polys.write.parquet(vec_in)

    burn = str(tmp_path / "cells")
    main(["vec-to-rhpx-ras", "--input", vec_in, "--output", burn, "--res", "2"])
    cells = spark.read.parquet(f"{burn}/data")
    assert cells.count() == 9  # the 3x3 aligned square
    assert {r.band1 for r in cells.collect()} == {7.0}

    buf = _io.StringIO()
    with redirect_stdout(buf):
        main(["print-ras-rhpx-metadata", "--input", burn])
    attrs = _json.loads(buf.getvalue())
    assert attrs["res_idx"] == 2 and attrs["rhealpixdggs"]["n_side"] == 3

    vec_out = str(tmp_path / "vec_rhpx")
    main(["ras-rhpx-to-vec-rhpx", "--input", burn, "--output", vec_out])
    rings = spark.read.parquet(vec_out)
    assert rings.count() == 9
    first = rings.select("ring").first()[0]
    assert len(first) == 4 and all(-180 <= v.x <= 180 and -90 <= v.y <= 90
                                   for v in first)

    ras2 = str(tmp_path / "cells2")
    main(["vec-rhpx-to-ras-rhpx", "--input", vec_out, "--output", ras2])
    back = spark.read.parquet(f"{ras2}/data")
    assert {r.cellid for r in back.collect()} == {r.cellid for r in cells.collect()}

    buf = _io.StringIO()
    with redirect_stdout(buf):
        main(["vec-ras-area-error", "--vector", vec_in, "--res", "2"])
    err = _json.loads(buf.getvalue())
    # aligned square: planar areas match; distortion correction shifts ras
    assert err["total_vector_area"] > 0 and err["total_cells_area"] > 0


def test_decode_media_malformed_falls_back():
    """One bad blob must never fail a task: malformed/truncated/unsupported
    P5/P6/RIFF blobs take the opaque fallback; 8-bit WAV normalizes by its
    own full scale (2^7), not 2^15."""
    import io
    import wave

    import numpy as np

    from dggstools_spark.functions.media import decode_media

    for blob in (b"P5 is a chess opening, not an image",
                 b"P5\n8 8\n255\n" + b"\x01" * 10,          # truncated raster
                 b"P5\n2 2\n65535\n" + b"\x00" * 8,          # 16-bit maxval
                 b"RIFFxxxxWAVEnot really a wav"):
        kind, sig, _ = decode_media(blob)
        assert kind == "opaque" and len(sig) == 64

    s8 = (np.arange(-128, 128, 8, dtype=np.int16) + 128).astype(np.uint8)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(s8.tobytes())
    kind, sig, meta = decode_media(buf.getvalue())
    assert kind == "audio" and meta["sampwidth"] == 1
    assert abs(sig.min() + 1.0) < 0.01  # full-scale 8-bit reaches ~-1.0


def test_read_cells_fine_prefix(spark, tmp_path):
    """A read prefix FINER than the stored partition prefix_len must
    row-filter on the cellid, not silently return nothing."""
    from dggstools_spark.sources import cells_io

    cells = spark.createDataFrame(
        [("N120", 1.0), ("N121", 2.0), ("N200", 3.0), ("Q000", 4.0)],
        "cellid string, band1 double")
    path = str(tmp_path / "cells")
    cells_io.write_cells(cells, path, cells_io.build_attrs(3, 1, None),
                         prefix_len=2)
    fine, _ = cells_io.read_cells(spark, path, prefix="N12")
    assert {r.cellid for r in fine.collect()} == {"N120", "N121"}
    coarse, _ = cells_io.read_cells(spark, path, prefix="N")
    assert coarse.count() == 3


RUN_DIR_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from dggstools_spark.queries import QUERIES
from dggstools_spark.session import get_spark
spark = get_spark("run-dirs")
for name in ("cells_io", "merge_resume", "lm_score_sink"):
    QUERIES[name](spark, {sf_dir!r}).collect()
print("COLLECTED")
"""


def test_run_dirs_removed_at_exit(sf_dir, tmp_path):
    """The leaves whose result lazily reads files they wrote (cells_io,
    merge_resume, lm_score_sink) leave no dggs_* directory behind once
    the process that built and collected them exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = RUN_DIR_CHILD.format(repo=repo, sf_dir=sf_dir)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2",
               SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.Popen([sys.executable, "-c", code], env=env, text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=300)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the JVM too
        proc.communicate()
        raise AssertionError("run-dir leaves did not finish within 300 s")
    assert "COLLECTED" in out, f"child exited {proc.returncode}: {err[-1000:]}"
    assert sorted(p.name for p in tmp_path.glob("dggs_*")) == []


def test_cells_to_tiles_empty_keeps_schema(spark):
    from dggstools_spark.operators.raster import cells_to_tiles

    empty = spark.createDataFrame([], "cellid string, band1 double")
    out = cells_to_tiles(empty)
    assert out.count() == 0
    assert set(out.columns) == {"tile", "face", "row", "col", "cellid", "band1"}


def test_deploy_zip_freshness_gate(tmp_path):
    """The py-files zip build is deterministic, and ensure_fresh detects +
    repairs any divergence from the source tree (the round-1/2 stale-deploy
    failure mode)."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    import make_pyfiles_zip as mz

    p = str(tmp_path / "a.zip")
    mz.build(p)
    b1 = open(p, "rb").read()
    mz.build(p)
    assert open(p, "rb").read() == b1          # deterministic bytes
    assert not mz.is_stale(p)
    with open(p, "ab") as fh:                  # corrupt => stale
        fh.write(b"x")
    assert mz.is_stale(p)
    assert mz.ensure_fresh(p)                  # repaired
    assert not mz.is_stale(p)


def test_jdbc_cells_roundtrip_and_gating(spark):
    """S5: real JDBC roundtrip (cells + attrs companion) against the Derby
    driver Spark ships; driver gating raises actionable errors for missing
    jars (the PostGIS path differs only by url/driver string)."""
    import pytest

    from dggstools_spark.sources import cells_io, external

    cells = spark.createDataFrame(
        [("N120", 1.5), ("N121", 2.5), ("Q003", 3.5)],
        "cellid string, band1 double")
    attrs = cells_io.build_attrs(3, 1, None)
    url = "jdbc:derby:memory:cellsdb;create=true"
    external.write_cells_jdbc(cells, attrs, url, "cells",
                              external.DERBY_DRIVER, mode="overwrite")
    back, attrs2 = external.read_cells_jdbc(spark, url, "cells",
                                            external.DERBY_DRIVER)
    assert {(r.cellid, r.band1) for r in back.collect()} == \
        {("N120", 1.5), ("N121", 2.5), ("Q003", 3.5)}
    assert attrs2["res_idx"] == 3 and attrs2["rhealpixdggs"]["n_side"] == 3

    with pytest.raises(RuntimeError, match="not on the Spark classpath"):
        external.require_jdbc_driver(spark, "org.postgresql.Driver")
    with pytest.raises(RuntimeError, match="s3a connector"):
        external.read_parquet_uri(spark, "s3a://bucket/key.parquet")


def test_json_bands_and_uuid(spark):
    """values_in_json + add_uid cell shapes (reference rhpx_gdf_helper
    :100-113): JSON key order = band order; uuid4 variant is RFC-4122 v4,
    deterministic variant is stable across calls."""
    import re

    from dggstools_spark.sources.cells_io import with_json_bands, with_uuid

    df = spark.createDataFrame([("N1", 3.0, 7.0)],
                               "cellid string, band1 double, band2 double")
    j = with_json_bands(df).first()
    assert j.all_bands == '{"band1":3.0,"band2":7.0}'
    assert "band1" not in with_json_bands(df).columns
    assert "band1" in with_json_bands(df, keep_bands=True).columns

    u4 = with_uuid(df).first().uuid
    assert re.fullmatch(r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}", u4)
    d1 = with_uuid(df, deterministic_from=["cellid"]).first().uuid
    d2 = with_uuid(df, deterministic_from=["cellid"]).first().uuid
    assert d1 == d2 and re.fullmatch(r"[0-9a-f-]{36}", d1)


def test_geopackage_roundtrip(spark, tmp_path):
    """Real GeoPackage sink/source (stdlib sqlite3): cells + bands + attrs
    roundtrip; the file carries valid GPKG system tables, centroid POINT
    blobs, and the reference-shaped gpkg_metadata attrs row."""
    import json
    import sqlite3
    import struct

    from dggstools_spark.dggs.cells import cellid_to_planar_centroid
    from dggstools_spark.sources import cells_io
    from dggstools_spark.sources.geopackage import (read_cells_geopackage,
                                                    write_cells_geopackage)

    cells = spark.createDataFrame(
        [("N120", 1.5, 9.0), ("Q003", 3.5, -2.0)],
        "cellid string, band1 double, band2 double")
    attrs = cells_io.build_attrs(3, 2, None)
    path = str(tmp_path / "cells.gpkg")
    n = write_cells_geopackage(cells, path, attrs)
    assert n == 2

    back, attrs2 = read_cells_geopackage(spark, path)
    assert {tuple(r) for r in back.collect()} == \
        {("N120", 1.5, 9.0), ("Q003", 3.5, -2.0)}
    assert attrs2["rhealpixdggs"]["n_side"] == 3 and attrs2["nbands"] == 2

    con = sqlite3.connect(path)
    app_id = con.execute("PRAGMA application_id").fetchone()[0]
    assert app_id == 0x47504B47  # "GPKG"
    assert con.execute("SELECT data_type FROM gpkg_contents").fetchone()[0] == "features"
    blob, cid = con.execute('SELECT geom, cellid FROM "data" LIMIT 1').fetchone()
    assert blob[:2] == b"GP"
    x, y = struct.unpack("<dd", blob[13:29])
    ex, ey = cellid_to_planar_centroid([cid])
    assert abs(x - float(ex[0])) < 1e-6 and abs(y - float(ey[0])) < 1e-6
    # reference get_gpkg_rhpx_metadata reads exactly this row
    meta = json.loads(con.execute(
        "SELECT metadata FROM gpkg_metadata WHERE id=1").fetchone()[0])
    assert meta == attrs


def test_cli_geopackage_roundtrip(spark, tmp_path):
    """CLI: rhealpix-to-geopackage then geopackage-to-rhealpix reproduces
    the cell table + attrs (the reference's two storage commands)."""
    from dggstools_spark.__main__ import main as cli_main
    from dggstools_spark.sources import cells_io

    cells = spark.createDataFrame(
        [("N120", 1.0), ("Q003", 2.0)], "cellid string, band1 double")
    src = str(tmp_path / "cells")
    gpkg = str(tmp_path / "out.gpkg")
    dst = str(tmp_path / "cells2")
    cells_io.write_cells(cells, src, cells_io.build_attrs(3, 1, None))
    cli_main(["rhealpix-to-geopackage", "--input", src, "--output", gpkg])
    cli_main(["geopackage-to-rhealpix", "--input", gpkg, "--output", dst])
    back, attrs = cells_io.read_cells(spark, dst)
    assert {(r.cellid, r.band1) for r in back.collect()} == {("N120", 1.0), ("Q003", 2.0)}
    assert attrs["rhealpixdggs"]["n_side"] == 3


def test_geopackage_polygon_geometry(spark, tmp_path):
    """geometry='polygon' writes WKB POLYGON cell boundaries (closed
    5-point ring matching the kernel's planar vertices)."""
    import sqlite3
    import struct

    from dggstools_spark.dggs.cells import cellid_to_vertices
    from dggstools_spark.sources import cells_io
    from dggstools_spark.sources.geopackage import write_cells_geopackage

    cells = spark.createDataFrame([("N120", 1.0)], "cellid string, band1 double")
    path = str(tmp_path / "poly.gpkg")
    write_cells_geopackage(cells, path, cells_io.build_attrs(3, 1, None),
                           geometry="polygon")
    con = sqlite3.connect(path)
    assert con.execute("SELECT geometry_type_name FROM gpkg_geometry_columns"
                       ).fetchone()[0] == "POLYGON"
    blob = con.execute('SELECT geom FROM "data"').fetchone()[0]
    assert blob[:2] == b"GP"
    wkb = blob[8:]
    assert struct.unpack("<BII", wkb[:9]) == (1, 3, 1)  # LE, POLYGON, 1 ring
    n_pts = struct.unpack("<I", wkb[9:13])[0]
    assert n_pts == 5
    pts = [struct.unpack("<dd", wkb[13 + 16 * i:29 + 16 * i]) for i in range(5)]
    exp = cellid_to_vertices(["N120"])[0]
    assert pts[0] == pts[4]
    for i in range(4):
        assert abs(pts[i][0] - exp[i][0]) < 1e-6
        assert abs(pts[i][1] - exp[i][1]) < 1e-6


def test_geopackage_streaming_write_and_cap(spark, tmp_path, monkeypatch):
    """The sink streams via toLocalIterator in chunks (no full collect):
    a multi-chunk write produces the same file contents + extent, and a
    table over max_rows raises mid-stream leaving NO file behind."""
    import os
    import sqlite3

    from dggstools_spark.dggs.cells import cellid_to_planar_centroid
    from dggstools_spark.sources import cells_io, geopackage
    from dggstools_spark.sources.geopackage import write_cells_geopackage

    monkeypatch.setattr(geopackage, "GPKG_CHUNK", 3)  # force several flushes
    ids = [f"N{i}" for i in range(9)] + ["Q1"]
    cells = spark.createDataFrame([(c, float(i)) for i, c in enumerate(ids)],
                                  "cellid string, band1 double")
    attrs = cells_io.build_attrs(3, 1, None)
    path = str(tmp_path / "chunked.gpkg")
    assert write_cells_geopackage(cells, path, attrs) == 10

    con = sqlite3.connect(path)
    rows = con.execute('SELECT cellid, band1 FROM "data" ORDER BY band1').fetchall()
    assert rows == [(c, float(i)) for i, c in enumerate(ids)]
    ext = con.execute("SELECT min_x, min_y, max_x, max_y FROM gpkg_contents"
                      ).fetchone()
    cx, cy = cellid_to_planar_centroid(ids)
    assert abs(ext[0] - min(float(v) for v in cx)) < 1e-6
    assert abs(ext[3] - max(float(v) for v in cy)) < 1e-6
    con.close()

    import pytest

    capped = str(tmp_path / "capped.gpkg")
    with pytest.raises(ValueError, match="max_rows"):
        write_cells_geopackage(cells, capped, attrs, max_rows=5)
    assert not os.path.exists(capped)

    # a failed re-export must not destroy the existing file (temp+rename)
    with pytest.raises(ValueError, match="max_rows"):
        write_cells_geopackage(cells, path, attrs, max_rows=5)
    con = sqlite3.connect(path)
    assert con.execute('SELECT count(*) FROM "data"').fetchone()[0] == 10
    con.close()
