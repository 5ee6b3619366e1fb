"""Unit tests for the pure-numpy rHEALPix kernel.

Golden constants carried verbatim from the reference's own test files
(/root/reference/tests/unit_tests/tests_dggstools.py — they transfer without
running the reference, whose geo stack is absent from this sandbox)."""

import numpy as np
import pytest

from dggstools_spark.dggs import projection
from dggstools_spark.dggs.config import RHEALPixConfig, AUTHALIC_RADIUS, MEAN_AREAL_DISTORTION
from dggstools_spark.dggs.cells import (
    planar_to_cellid,
    lonlat_to_cellid,
    cellid_to_planar_centroid,
    cellid_to_ul_vertex,
    cellids_to_face_rowcol,
    HALF_SIDE,
)

CFG3 = RHEALPixConfig(n_side=3, north_square=1, south_square=0)
CFG2 = RHEALPixConfig(n_side=2, north_square=1, south_square=0)


class TestResolutionPolicy:
    # reference tests_dggstools.py:15-33
    def test_closest_resolution(self):
        idx, res = CFG3.get_closest_resolution(128)
        assert res == pytest.approx(169.4788172157132, abs=1e-7)
        assert idx == 10
        idx, res = CFG3.get_closest_resolution(100)
        assert res == pytest.approx(56.49293907190441, abs=1e-7)
        assert idx == 11

    def test_higher_lower(self):
        idx, res = CFG3.get_closest_higher_resolution(128)
        assert res == pytest.approx(56.49293907190441, abs=1e-7)
        idx, res = CFG3.get_closest_lower_resolution(128)
        assert res == pytest.approx(169.4788172157132, abs=1e-7)

    def test_cell_area_distortion_constant(self):
        # reference rhpxutils.py:19 + vector_to_rhpx.py:461-465
        w = CFG3.cell_width(5)
        assert CFG3.cell_area(5) == pytest.approx(w * w / MEAN_AREAL_DISTORTION)


class TestProjection:
    def test_equatorial_roundtrip(self):
        rng = np.random.default_rng(7)
        lon = rng.uniform(-179.9, 179.9, 2000)
        lat = rng.uniform(-41.0, 41.0, 2000)  # equatorial zone
        x, y = projection.forward(lon, lat)
        lon2, lat2 = projection.inverse(x, y)
        np.testing.assert_allclose(lon2, lon, atol=1e-9)
        np.testing.assert_allclose(lat2, lat, atol=1e-9)

    def test_polar_roundtrip(self):
        rng = np.random.default_rng(8)
        lon = rng.uniform(-179.9, 179.9, 2000)
        lat = np.concatenate([rng.uniform(42.5, 89.9, 1000), rng.uniform(-89.9, -42.5, 1000)])
        for ns in range(4):
            for ss in range(4):
                x, y = projection.forward(lon, lat, ns, ss)
                lon2, lat2 = projection.inverse(x, y, ns, ss)
                np.testing.assert_allclose(lon2, lon, atol=1e-8)
                np.testing.assert_allclose(lat2, lat, atol=1e-8)

    def test_planar_extent(self):
        # caps land inside their configured squares; equator inside the band
        rng = np.random.default_rng(9)
        lon = rng.uniform(-180, 180, 5000)
        lat = rng.uniform(45, 90, 5000)
        x, y = projection.forward(lon, lat, north_square=1, south_square=0)
        s = HALF_SIDE
        assert (y > 0.5 * s - 1e-6).all() and (y <= 1.5 * s + 1e-6).all()
        assert (x >= -s - 1e-6).all() and (x <= 0 + 1e-6).all()  # ns=1 -> [-s, 0]

        lat = rng.uniform(-90, -45, 5000)
        x, y = projection.forward(lon, lat, north_square=1, south_square=0)
        assert (y < -0.5 * s + 1e-6).all() and (y >= -1.5 * s - 1e-6).all()
        assert (x >= -2 * s - 1e-6).all() and (x <= -s + 1e-6).all()  # ss=0 -> [-2s, -s]

    def test_equal_area_property(self):
        # rHEALPix is equal-area: a uniform-on-sphere sample is uniform on the plane
        rng = np.random.default_rng(10)
        lon = rng.uniform(-180, 180, 50000)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 50000)))  # uniform on sphere
        cells = lonlat_to_cellid(lon, lat, 1, CFG3)
        assert all(c is not None for c in cells)
        _, counts = np.unique(cells.astype(str), return_counts=True)
        # 54 res-1 cells, expect ~926 each; loose 5-sigma style bound
        assert counts.min() > 700 and counts.max() < 1200


@pytest.mark.skipif(np.finfo(np.longdouble).eps > 1e-18,
                    reason="needs an extended-precision long double reference")
def test_sinb_polynomial_within_5e16_of_long_double():
    """The frozen SINB_COEFFS, evaluated in float64 by the shared steps
    (Horner in lat**2, then the [-1, 1] clamp), stay within 5e-16 of
    sin(authalic latitude) = q(sin phi) / q_p computed in long double, on
    a dense latitude grid, its exact integers and the poles."""
    from dggstools_spark.dggs.expr import evaluate

    ld = np.longdouble
    pi = ld("3.14159265358979323846264338327950288")
    f = 1 / ld("298.257222101")
    e2 = 2 * f - f * f
    e = np.sqrt(e2)

    def q(s):
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - 1 / (2 * e) * np.log((1 - e * s) / (1 + e * s)))

    lat = np.concatenate([np.linspace(-90.0, 90.0, 1_000_001),
                          np.arange(-90.0, 91.0),
                          np.random.default_rng(5).uniform(-90, 90, 200_000)])
    want = q(np.sin(lat.astype(ld) * pi / 180)) / q(ld(1))
    got = evaluate(projection.forward_steps("lon", "lat", CFG3),
                   {"lon": np.zeros_like(lat), "lat": lat})["_rhp_sinb"]
    assert np.abs(got.astype(ld) - want).max() <= 5e-16


class TestCellEncoding:
    def test_origin_is_Q3(self):
        # reference rhpxutils.py:168-170: planar (0,0) falls on the Q3 cell
        assert planar_to_cellid(np.array([0.0]), np.array([0.0]), 1, CFG3)[0] == "Q3"

    def test_base_cells(self):
        s = HALF_SIDE
        xs = np.array([-1.5 * s, -0.5 * s, 0.5 * s, 1.5 * s, -0.5 * s, -1.5 * s])
        ys = np.array([0.0, 0.0, 0.0, 0.0, s, -s])
        got = planar_to_cellid(xs, ys, 0, CFG3)
        assert list(got) == ["O", "P", "Q", "R", "N", "S"]

    def test_outside_is_none(self):
        s = HALF_SIDE
        # above the O face (north cap is over P when ns=1)
        got = planar_to_cellid(np.array([-1.5 * s, 10 * s]), np.array([s, 0.0]), 3, CFG3)
        assert got[0] is None and got[1] is None

    def test_row_major_digit_order(self):
        # children of a face are row-major from its upper-left corner
        # (reference child ordering tests_dggstools.py:99-106)
        s = HALF_SIDE
        w = s / 3
        xs, ys = [], []
        for r in range(3):
            for c in range(3):
                xs.append(0 + (c + 0.5) * w)  # Q face: ul at (0, s/2)
                ys.append(0.5 * s - (r + 0.5) * w)
        got = planar_to_cellid(np.array(xs), np.array(ys), 1, CFG3)
        assert list(got) == [f"Q{d}" for d in range(9)]

    def test_encode_decode_roundtrip(self):
        rng = np.random.default_rng(11)
        lon = rng.uniform(-180, 180, 3000)
        lat = rng.uniform(-89.5, 89.5, 3000)
        for res in (0, 1, 3, 7):
            cells = lonlat_to_cellid(lon, lat, res, CFG3)
            cx, cy = cellid_to_planar_centroid(cells.astype(str), CFG3)
            again = planar_to_cellid(cx, cy, res, CFG3)
            assert list(again) == list(cells)

    def test_centroid_within_cell(self):
        cells = ["N0", "S8", "Q312", "O7", "R88", "P00001"]
        for cid in cells:
            res = len(cid) - 1
            cx, cy = cellid_to_planar_centroid([cid], CFG3)
            ulx, uly = cellid_to_ul_vertex([cid], CFG3)
            w = HALF_SIDE / 3**res
            assert ulx[0] < cx[0] < ulx[0] + w
            assert uly[0] - w < cy[0] < uly[0]

    def test_face_rowcol_roundtrip(self):
        res, face, row, col = cellids_to_face_rowcol(["Q301", "Q345", "Q888"], CFG3)
        assert res == 3
        assert face.tolist() == [3, 3, 3]

    @pytest.mark.parametrize("ids", [["N1", "N12"], ["", ""], ["N1", "", "N"]])
    def test_face_rowcol_rejects_mixed_or_empty(self, ids):
        with pytest.raises(ValueError, match="share one resolution"):
            cellids_to_face_rowcol(ids, CFG3)

    def test_nside2(self):
        s = HALF_SIDE
        w = s / 2
        xs = np.array([0 + 0.5 * w, 0 + 1.5 * w, 0 + 0.5 * w, 0 + 1.5 * w])
        ys = np.array([0.5 * s - 0.5 * w, 0.5 * s - 0.5 * w, 0.5 * s - 1.5 * w, 0.5 * s - 1.5 * w])
        got = planar_to_cellid(xs, ys, 1, CFG2)
        assert list(got) == ["Q0", "Q1", "Q2", "Q3"]

    def test_caps_raster_shape_contract(self):
        # reference tests_data.py:646-680: with n_side=3, ns=1, ss=0 the N+S
        # cell set spans 6 cells wide x 9 cells high at res 1
        cells = [f"N{i}" for i in range(9)] + [f"S{i}" for i in range(9)]
        ulx, uly = cellid_to_ul_vertex(cells, CFG3)
        w = HALF_SIDE / 3
        width = (max(ulx) + w - min(ulx)) / w
        height = (max(uly) - (min(uly) - w)) / w
        assert round(width) == 6
        assert round(height) == 9

    def test_poles(self):
        n = lonlat_to_cellid(np.array([0.0]), np.array([90.0]), 2, CFG3)
        s = lonlat_to_cellid(np.array([0.0]), np.array([-90.0]), 2, CFG3)
        assert n[0].startswith("N") and s[0].startswith("S")
        # the pole is the center of the cap square -> central child chain "4"
        assert n[0] == "N44" and s[0] == "S44"


def test_geodetic_vertices_whole_earth_contract():
    """Geodetic cell polygons (Cell.vertices(plane=False) analogue;
    reference builds EPSG:4326 geometry from it, rhpx_gdf_helper.py:358-365,
    and generates the whole-earth grid in tests_data.py:400-434):
    every res-1/2 cell ring is a valid 4-vertex lon/lat polygon, equatorial
    rings roundtrip through the forward projection, and the N-face center
    cell contains the pole.  With n_side=3 no cell corner can sit on the
    cap-face center, so trim_dart is a documented no-op (it guards the
    even-n_side dart case)."""
    import itertools

    from dggstools_spark.dggs import projection
    from dggstools_spark.dggs.cells import (cellid_to_geodetic_vertices,
                                            cellid_to_lonlat_centroid,
                                            cellid_to_vertices)

    for res in (1, 2):
        n = 3**res
        ids = [f + "".join(str((r // 3**(res-k) % 3) * 3 + (c // 3**(res-k) % 3))
                           for k in range(1, res + 1))
               for f in "NOPQRS" for r, c in itertools.product(range(n), range(n))]
        rings = cellid_to_geodetic_vertices(ids)
        untrimmed = cellid_to_geodetic_vertices(ids, trim_dart=False)
        assert all(len(r) == 4 for r in rings)
        assert rings == untrimmed  # no darts with odd n_side
        for ring in rings:
            for lo, la in ring:
                assert -180.0001 <= lo <= 180.0001 and -90.0001 <= la <= 90.0001

    # equatorial rings roundtrip: inverse then forward returns the planar vertex
    eq_ids = ["O4", "P0", "Q8", "R3"]
    planar = cellid_to_vertices(eq_ids)
    rings = cellid_to_geodetic_vertices(eq_ids)
    for i, ring in enumerate(rings):
        lon = np.array([v[0] for v in ring])
        lat = np.array([v[1] for v in ring])
        x, y = projection.forward(lon, lat)
        np.testing.assert_allclose(x, planar[i, :, 0], atol=1e-6)
        np.testing.assert_allclose(y, planar[i, :, 1], atol=1e-6)

    # the N-face center cell holds the pole: its centroid is lat 90
    lon_c, lat_c = cellid_to_lonlat_centroid(["N4"])
    assert abs(lat_c[0] - 90.0) < 1e-9
