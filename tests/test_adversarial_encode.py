"""Adversarial cross-engine encode fuzz (no Spark needed, runs in ~1 s):
the numpy kernel and the portable-SQL formula (evaluated by DuckDB) must
assign identical cellids for points deliberately placed near every seam —
cap/equator transition latitude, the poles, the antimeridian, face edges,
and epsilon-offset cell boundaries — and for points exactly ON cell edges
and one ulp either side.  Both engines evaluate the one step list of
dggs/projection.py in the same operation order, so even exact ties
agree."""

import functools

import duckdb
import numpy as np
import pandas as pd
import pytest

from dggstools_spark.dggs import cells as kcells
from dggstools_spark.functions import encode_sql

EPS = 1e-7  # degrees


def _duckdb_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> list[str]:
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"i": np.arange(len(lon)), "lon": lon,
                                      "lat": lat}))
    sql = encode_sql.duckdb_encode_select("pts", "lon", "lat", res, ["i"])
    rows = con.execute(f"SELECT i, cellid FROM ({sql}) ORDER BY i").fetchall()
    return [r[1] for r in rows]


def _adversarial_points(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    lons, lats = [], []
    # cap/equator transition latitude (sin(beta) = 2/3 boundary, ~41.87 deg)
    from dggstools_spark.dggs.projection import authalic_lat, geodetic_lat

    beta_edge = np.degrees(np.arcsin(2.0 / 3.0))
    phi_edge = float(np.degrees(geodetic_lat(np.radians(beta_edge))))
    for dlat in (-1e-3, -EPS, EPS, 1e-3):
        for lon in np.linspace(-179.5, 179.5, 25):
            lons.append(lon)
            lats.append(phi_edge + dlat)
            lons.append(lon)
            lats.append(-(phi_edge + dlat))
    # near the poles
    for lat in (89.0, 89.9, 89.999, -89.0, -89.9, -89.999):
        for lon in np.linspace(-179.5, 179.5, 17):
            lons.append(lon)
            lats.append(lat)
    # antimeridian / face-edge longitudes, epsilon both sides
    for lon0 in (-180.0, -90.0, 0.0, 90.0, 180.0):
        for dl in (-1e-3, -EPS, EPS, 1e-3):
            lon = lon0 + dl
            if lon < -180:
                lon += 360.0
            if lon > 180:
                lon -= 360.0
            for lat in np.linspace(-85, 85, 13):
                lons.append(lon)
                lats.append(lat)
    # epsilon off random res-5 cell boundaries: snap random points to the
    # planar lattice and jitter +-EPS around the inverse-projected corner
    from dggstools_spark.dggs.cells import HALF_SIDE
    from dggstools_spark.dggs.projection import inverse

    w = HALF_SIDE / 3**5
    gx = (rng.integers(-2 * 3**5, 2 * 3**5, 200) * w).astype(np.float64)
    gy = (rng.integers(-3**5 // 2, 3**5 // 2, 200) * w).astype(np.float64)
    lon_c, lat_c = inverse(gx, gy)
    for lo, la in zip(lon_c, lat_c):
        if not np.isfinite(lo) or not np.isfinite(la):
            continue
        for dlo, dla in ((-EPS, -EPS), (EPS, EPS), (-EPS, EPS), (EPS, -EPS)):
            lons.append(float(np.clip(lo + dlo, -180 + EPS, 180 - EPS)))
            lats.append(float(np.clip(la + dla, -90 + EPS, 90 - EPS)))
    return np.asarray(lons), np.asarray(lats)


@pytest.mark.parametrize("res", [1, 3, 5])
def test_kernel_matches_duckdb_formula_on_seams(res):
    rng = np.random.default_rng(42)
    lon, lat = _adversarial_points(rng)
    want = kcells.lonlat_to_cellid(lon, lat, res)
    got = _duckdb_encode(lon, lat, res)
    bad = [(float(lon[i]), float(lat[i]), want[i], got[i])
           for i in range(len(got)) if want[i] != got[i]]
    assert not bad, f"{len(bad)} seam disagreements, first 5: {bad[:5]}"


@functools.cache
def _lattice_points() -> tuple[np.ndarray, np.ndarray]:
    """Points exactly on cell edges at res 0-15, and one ulp either side:
    the equator lattice (lon on every column edge k * 90 / 3**res of the
    first rows of longitudes, lat 0 and a few equatorial latitudes, where a
    column edge is a meridian), random cells' upper-left vertices mapped
    back through the inverse projection, and sf0.1 event 51277 (lon 40.0
    exactly, a res-2 column edge)."""
    from dggstools_spark.dggs.cells import cellid_to_ul_vertex
    from dggstools_spark.dggs.projection import inverse

    rng = np.random.default_rng(16)
    lons, lats = [np.array([40.0])], [np.array([29.949])]
    for res in range(16):
        k = rng.integers(-2 * 3**res, 2 * 3**res + 1, 12)
        lon = np.repeat(k * 90.0 / 3**res, 4)
        lat = np.tile([0.0, 12.5, -30.0, 29.949], 12)
        lons.append(lon)
        lats.append(lat)
        rlon = rng.uniform(-180, 180, 24)
        rlat = np.degrees(np.arcsin(rng.uniform(-1, 1, 24)))
        x, y = cellid_to_ul_vertex(kcells.lonlat_to_cellid(rlon, rlat, res))
        vlon, vlat = inverse(x, y)
        lons.append(vlon)
        lats.append(vlat)
    lon, lat = np.concatenate(lons), np.concatenate(lats)
    up, down = np.inf, -np.inf
    lon = np.concatenate([lon, np.nextafter(lon, up), np.nextafter(lon, down),
                          lon, lon])
    lat = np.concatenate([lat, lat, lat, np.nextafter(lat, up),
                          np.nextafter(lat, down)])
    return lon, np.clip(lat, -90.0, 90.0)


@pytest.mark.parametrize("res", range(16))
def test_kernel_matches_duckdb_formula_on_exact_lattice(res):
    lon, lat = _lattice_points()
    want = kcells.lonlat_to_cellid(lon, lat, res)
    got = _duckdb_encode(lon, lat, res)
    bad = [(float(lon[i]), float(lat[i]), want[i], got[i])
           for i in range(len(got)) if want[i] != got[i]]
    assert not bad, f"{len(bad)} lattice disagreements, first 5: {bad[:5]}"

