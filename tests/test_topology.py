"""Cross-face cube topology (round 6): kernel-derived seam gluing +
seam-closed queen neighborhoods."""

from collections import Counter

import numpy as np
import pytest

from dggstools_spark.dggs.config import RHEALPixConfig
from dggstools_spark.dggs.topology import edge_table, edge_table_rows


def test_edge_table_symmetric_all_configs():
    # the gluing is an involution on directed edges for every cap config
    for nsq in range(4):
        for ssq in range(4):
            t = edge_table(RHEALPixConfig(north_square=nsq,
                                          south_square=ssq))
            assert len(t) == 24
            for (f, e), (f2, e2, flip) in t.items():
                assert t[(f2, e2)] == (f, e, flip), (nsq, ssq, f, e)


def test_edge_table_default_config_known_seams():
    # north_square=1: N sits above equatorial square index 1 (= face P),
    # so N's bottom edge glues to P's top edge with no flip; same for S
    # (south_square=0) under face O.  The equator wraps R->O unflipped.
    t = edge_table()
    assert t[(0, 2)] == (2, 0, 0)   # N bottom -> P top
    assert t[(5, 0)] == (1, 2, 0)   # S top    -> O bottom
    assert t[(4, 1)] == (1, 3, 0)   # R right  -> O left (equator wrap)
    # every face pairs with 4 DISTINCT faces (cube corners have 3 faces,
    # so no two edges of one face glue to the same neighbor)
    for f in range(6):
        nbrs = [t[(f, e)][0] for e in range(4)]
        assert len(set(nbrs)) == 4 and f not in nbrs


def test_edge_neighbors_geodesically_close():
    # every cross-face neighbor pair's centroids sit within ~2.2 planar
    # cell widths on the sphere (a queen diagonal is sqrt(2)*w planar;
    # rHEALPix areal distortion keeps true distances within ~20%)
    from dggstools_spark.dggs.cells import cellid_to_lonlat_centroid
    from dggstools_spark.dggs.config import DEFAULT_CONFIG
    from dggstools_spark.dggs.geodesy import AUTHALIC_RADIUS

    res, E = 2, 9
    w = DEFAULT_CONFIG.cell_width(res)
    rows = edge_table_rows()
    pairs = []
    for f, e, f2, e2, flip in rows:
        for t in range(E):
            t2 = E - 1 - t if flip else t
            def cell(face, edge, pos):
                if edge == 0:
                    r, c = 0, pos
                elif edge == 1:
                    r, c = pos, E - 1
                elif edge == 2:
                    r, c = E - 1, pos
                else:
                    r, c = pos, 0
                digs = []
                rr, cc = r, c
                for _ in range(res):
                    digs.append((rr % 3) * 3 + (cc % 3))
                    rr //= 3
                    cc //= 3
                return "NOPQRS"[face] + "".join(str(d) for d in digs[::-1])
            pairs.append((cell(f, e, t), cell(f2, e2, t2)))
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    lon_a, lat_a = cellid_to_lonlat_centroid(a)
    lon_b, lat_b = cellid_to_lonlat_centroid(b)
    la, lb = np.radians(lat_a), np.radians(lat_b)
    dlon = np.radians(lon_b - lon_a)
    central = np.arccos(np.clip(
        np.sin(la) * np.sin(lb) + np.cos(la) * np.cos(lb) * np.cos(dlon),
        -1, 1))
    dist = central * AUTHALIC_RADIUS
    # direct (edge-sharing) neighbors: centroids ~1 w apart
    assert float(np.max(dist)) < 2.2 * w
    assert float(np.min(dist)) > 0.3 * w


def test_xface_contrib_symmetric(spark):
    # the seam rows (a = 1) of the queen enumeration are symmetric: A
    # contributes to B's position iff B contributes to A's position
    from dggstools_spark.operators.spatial_stats import (_queen_explode,
                                                         with_lattice)

    res, E = 1, 3
    rows = [(f"{fc}{d}", i * 9 + d + 1)
            for i, fc in enumerate("NOPQRS") for d in range(9)]
    df = spark.createDataFrame(rows, "cellid string, v long")
    lat = with_lattice(df, res)
    contrib = (_queen_explode(lat.withColumnRenamed("v", "nv"), res, True,
                              False, "nv")
               .filter("a = 1"))
    # map nv back to its source cell (values are unique) to get pairs
    vmap = {v: c for c, v in rows}
    got = {(vmap[r.nv], f"{'NOPQRS'[r.face]}{r.row * 3 + r.col}")
           for r in contrib.collect()}
    assert got == {(b, a) for a, b in got}
    # every seam cell emits: 24 corner cells x2 edges x2 targets +
    # 24 edge-mid cells x1 edge x3 targets = 96 + 72 = 168 directed pairs
    assert len(got) == 168


def test_focal_mean_cross_face_full_sphere(spark):
    from dggstools_spark.operators.spatial_stats import focal_mean

    rows = [(f"{fc}{d}", (i * 7 + d * 3) % 50 + 1)
            for i, fc in enumerate("NOPQRS") for d in range(9)]
    df = spark.createDataFrame(rows, "cellid string, v long")
    out = focal_mean(df, 1, cross_face=True).collect()
    hist = Counter(r.n_window for r in out)
    # closed sphere: every cell sees the full queen window except the 24
    # cube-corner cells (the across-corner diagonal does not exist)
    assert hist == {9: 30, 8: 24}
    assert sum(r.n_window for r in out) == 54 + 408
    # global-sum conservation: every cell's value lands in its own window
    # plus each neighbor's => sum(focal_sum) == sum(v * n_window)
    nw = {r.cellid: r.n_window for r in out}
    assert (sum(r.focal_sum for r in out)
            == sum(v * nw[c] for c, v in rows))


@pytest.mark.parametrize("cross_face", [False, True])
@pytest.mark.parametrize("op", ["focal_mean", "morans_i", "local_moran",
                                "hotspots"])
def test_focal_family_engine_parity(spark, op, cross_face):
    """Every focal-family op equals its DuckDB twin on the full res-1
    sphere, which holds every seam and cube-corner cell; the top-k ops
    take k = 54, so every cell is compared."""
    import duckdb

    from dggstools_spark.operators import spatial_stats

    rows = [(f"{fc}{d}", (i * 13 + d * 5) % 37)
            for i, fc in enumerate("NOPQRS") for d in range(9)]
    df = spark.createDataFrame(rows, "cellid string, v long")
    k = (54,) if op in ("local_moran", "hotspots") else ()
    got = getattr(spatial_stats, op)(df, 1, *k,
                                     cross_face=cross_face).collect()
    if op == "morans_i" and cross_face:
        assert got[0].w_pairs == 408  # 54*8 - 24 missing corner diagonals
    con = duckdb.connect()
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES "
                + ",".join(f"('{c}', {v})" for c, v in rows)
                + ") t(cellid, v)")
    want = con.execute(getattr(spatial_stats, op + "_sql")(
        "SELECT cellid, v FROM c", 1, *k, cross_face=cross_face)).fetchall()
    assert len(got) == (1 if op == "morans_i" else 54)
    assert sorted(tuple(r) for r in got) == sorted(want)
