"""Tile pyramid + bbox range query + zonal stats (round 5, batch 19)."""

from dggstools_spark.operators.spatial_stats import bbox_cells, with_lattice

import pytest


def _cells(spark, rows):
    return spark.createDataFrame(rows, "cellid string, v long")


def test_bbox_cells_inclusive_range(spark):
    # res-1 face N: corners N0 (0,0) and N8 (2,2) cover the whole face;
    # corners N0 and N4 (1,1) cover the top-left 2x2
    rows = [(f"N{d}", d + 1) for d in range(9)] + [("S4", 99)]
    df = _cells(spark, rows)
    full = bbox_cells(df, 1, "N0", "N8").collect()
    assert sorted(r.cellid for r in full) == [f"N{d}" for d in range(9)]
    tl = bbox_cells(df, 1, "N0", "N4").collect()
    assert sorted(r.cellid for r in tl) == ["N0", "N1", "N3", "N4"]
    # other-face cells never leak through the prefix filter
    assert all(r.cellid[0] == "N" for r in full)


def test_bbox_corner_order_irrelevant(spark):
    rows = [(f"N{d}", 1) for d in range(9)]
    df = _cells(spark, rows)
    a = sorted(r.cellid for r in bbox_cells(df, 1, "N4", "N0").collect())
    b = sorted(r.cellid for r in bbox_cells(df, 1, "N0", "N4").collect())
    assert a == b == ["N0", "N1", "N3", "N4"]


def test_bbox_cross_face_raises(spark):
    df = _cells(spark, [("N0", 1)])
    with pytest.raises(ValueError):
        bbox_cells(df, 1, "N0", "S8")


def test_lattice_roundtrip_via_bbox(spark):
    # a deeper-res single-cell box selects exactly that cell
    df = _cells(spark, [("Q41660", 7), ("Q41661", 8)])
    out = bbox_cells(df, 5, "Q41660", "Q41660").collect()
    assert [(r.cellid, r.v) for r in out] == [("Q41660", 7)]
    lat = {r.cellid: (r.row, r.col) for r in with_lattice(df, 5).collect()}
    assert lat["Q41660"] == (105, 108)
