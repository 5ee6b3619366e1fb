"""(r)HEALPix projection, vectorized numpy, and the one cell-assignment formula.

Forward chain:  lon/lat (deg, WGS84) -> sin(authalic latitude) -> HEALPix
planar (radian units on the unit sphere) -> rHEALPix cap rearrangement ->
face / row / col at a resolution.  It is written once, as the named
steps of :func:`forward_steps` and :func:`planar_suffix_steps` over the
:mod:`.expr` type: the numpy kernel evaluates them (:func:`forward`,
``cells.lonlat_to_cellid``) and ``functions/encode_sql`` renders the same
steps as the SQL that Spark and the DuckDB oracles run, so all three
engines compute the same bits.  No step calls a math library: sin of the
authalic latitude is the odd polynomial :data:`SINB_COEFFS` in latitude
degrees.  The inverse (:func:`inverse`) decides no cell and stays plain
numpy.

Equations from Calabretta & Roukema 2007 (HEALPix, H=4/K=3 case) and
Gibb/Raichev/Speth 2013 (rHEALPix cap squares).  The planar layout matches
the reference library's:  equatorial faces O,P,Q,R cover x in
[-pi,-pi/2),[-pi/2,0),[0,pi/2),[pi/2,pi] at |y|<=pi/4; the north cap square
sits at x in [-pi+ns*pi/2, -pi+(ns+1)*pi/2], y in [pi/4, 3pi/4] and the south
cap at the analogous x range, y in [-3pi/4, -pi/4] (verified against the
reference's expected 6x9-cell N+S raster extent for north_square=1,
south_square=0, /root/reference/tests/data_tests/tests_data.py:646-680).
"""

from __future__ import annotations

import numpy as np

from .config import AUTHALIC_RADIUS, WGS84_E, WGS84_E2, Q_P, RHEALPixConfig
from .expr import (Expr, abs_, case, cast, clamp, col, evaluate, floor, fmod,
                   greatest, sqrt)

PI = np.pi


# --------------------------------------------------------------------------
# authalic latitude
# --------------------------------------------------------------------------

def _q_vec(sin_phi: np.ndarray) -> np.ndarray:
    e, e2 = WGS84_E, WGS84_E2
    return (1.0 - e2) * (
        sin_phi / (1.0 - e2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * e)) * np.log((1.0 - e * sin_phi) / (1.0 + e * sin_phi))
    )


def authalic_lat(phi: np.ndarray) -> np.ndarray:
    """Geodetic latitude (rad) -> authalic latitude (rad)."""
    phi = np.asarray(phi, dtype=np.float64)
    ratio = np.clip(_q_vec(np.sin(phi)) / Q_P, -1.0, 1.0)
    return np.arcsin(ratio)


def geodetic_lat(beta: np.ndarray) -> np.ndarray:
    """Authalic latitude (rad) -> geodetic latitude (rad), by 6 Newton
    iterations on q(phi) = q_p * sin(beta).

    The iteration needs a pole guard: q is QUADRATICALLY flat at the poles
    (dq/dphi ~ cos phi), so within ~1e-8 rad of a pole both the residual
    and the derivative collapse into float noise and one Newton step is
    noise/noise — measured: geodetic_lat(-pi/2) walked to +pi/2 (the WRONG
    pole; S4's centroid decoded to lat=+90, caught by the r5 cap-config
    hypothesis test).  Where dq < 1e-9 the step is skipped; there
    |authalic - geodetic| < 1e-9 rad, so keeping phi = beta is exact to
    well under any consumer's tolerance (authalic and geodetic latitudes
    coincide AT the pole)."""
    beta = np.asarray(beta, dtype=np.float64)
    target = Q_P * np.sin(beta)
    phi = beta.copy()
    e2 = WGS84_E2
    for _ in range(6):
        s = np.clip(np.sin(phi), -1.0, 1.0)
        # dq/dphi = 2(1-e2) cos(phi) / (1 - e2 sin^2 phi)^2
        dq = 2.0 * (1.0 - e2) * np.cos(phi) / (1.0 - e2 * s * s) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            step = np.where(dq > 1e-9, (_q_vec(s) - target) / dq, 0.0)
        phi = phi - step
    return np.clip(phi, -PI / 2, PI / 2)


# --------------------------------------------------------------------------
# the forward formula: lon/lat degrees -> rHEALPix planar radians
# --------------------------------------------------------------------------

#: sin(authalic latitude) = q(sin phi) / q_p (Snyder 3-12) as the odd
#: polynomial sum_k SINB_COEFFS[k] * lat**(2k+1) in latitude DEGREES, degree
#: 23: the Chebyshev interpolant of the long-double function on [-90, 90],
#: converted to monomials in long double and rounded once.  Horner in
#: lat**2 in float64 stays within 4e-16 of the long-double function, and
#: needs no math library, whose last bit differs between engines;
#: tests/test_kernel.py holds the bound at 5e-16.
SINB_COEFFS = (
    0.01737527784550696,
    -8.585139862550317e-07,
    9.881297988681598e-12,
    1.290856940906235e-16,
    -7.38500160677434e-21,
    1.3745742179118886e-25,
    6.969243483111348e-32,
    -7.691191519979575e-35,
    2.177854946147798e-39,
    -2.375226184599126e-44,
    -2.255921236666266e-49,
    8.039033862544544e-54,
)


def forward_steps(lon: str, lat: str,
                  cfg: RHEALPixConfig) -> list[tuple[str, Expr]]:
    """Named steps from lon/lat degree columns to ``_rhp_px``/``_rhp_py``,
    the rHEALPix planar point in unit-sphere radians.  Intermediate names
    are prefixed with ``_rhp_``."""
    ns, ss = cfg.north_square, cfg.south_square
    lam, z, sinb, sigma, lamc = (col(n) for n in (
        "_rhp_lam", "_rhp_z", "_rhp_sinb", "_rhp_sigma", "_rhp_lamc"))
    hx, hy, i, j, dx, dy, rx, ry = (col(n) for n in (
        "_rhp_hx", "_rhp_hy", "_rhp_i", "_rhp_j", "_rhp_dx", "_rhp_dy",
        "_rhp_rx", "_rhp_ry"))
    phi = cast(col(lat), "DOUBLE")
    poly = SINB_COEFFS[-1]
    for c in SINB_COEFFS[-2::-1]:
        poly = c + z * poly
    polar = abs_(sinb) > 2.0 / 3.0
    north, south = hy > PI / 4, hy < -PI / 4
    return [
        # longitude wrapped to [-pi, pi); SQL % (fmod) keeps the dividend's
        # sign, so the double-mod form is needed for inputs below -180
        ("_rhp_lam", fmod(fmod(cast(col(lon), "DOUBLE") * (PI / 180) + PI, 2 * PI)
                          + 2 * PI, 2 * PI) - PI),
        ("_rhp_z", phi * phi),
        ("_rhp_sinb", clamp(phi * poly, -1.0, 1.0)),
        # HEALPix: equatorial zone (|sin beta| <= 2/3) or polar triangles
        ("_rhp_sigma", sqrt(greatest(3.0 * (1.0 - abs_(sinb)), 0.0))),
        ("_rhp_lamc", (-3 * PI / 4)
         + clamp(floor((lam + PI) / (PI / 2)), 0, 3) * (PI / 2)),
        ("_rhp_hx", case(polar, lamc + (lam - lamc) * sigma, lam)),
        ("_rhp_hy", case(polar, case(sinb >= 0, 1.0, -1.0) * (PI / 4) * (2.0 - sigma),
                         (3 * PI / 8) * sinb)),
        ("_rhp_i", cast(clamp(floor((hx + PI) / (PI / 2)), 0, 3), "INT")),
        # rHEALPix: each polar triangle i turns about the pole by j exact
        # 90-degree steps into the cap square: j = (i-ns) mod 4 in the north,
        # (ss-i) mod 4 in the south (i, ns, ss in 0..3: both dividends >= 0)
        ("_rhp_j", case(north, fmod(i + (4 - ns), 4), south, fmod((4 + ss) - i, 4), 0)),
        ("_rhp_dx", hx - ((-3 * PI / 4) + cast(i, "DOUBLE") * (PI / 2))),
        ("_rhp_dy", case(north, hy - PI / 2, south, hy + PI / 2, 0.0)),
        ("_rhp_rx", case(j == 0, dx, j == 1, -dy, j == 2, -dx, dy)),
        ("_rhp_ry", case(j == 0, dy, j == 1, dx, j == 2, -dy, -dx)),
        ("_rhp_px", case(north, (-3 * PI / 4 + ns * PI / 2) + rx,
                         south, (-3 * PI / 4 + ss * PI / 2) + rx, hx)),
        ("_rhp_py", case(north, PI / 2 + ry, south, -PI / 2 + ry, hy)),
    ]


def planar_meter_steps(x: str, y: str) -> list[tuple[str, Expr]]:
    """Planar meter columns -> ``_rhp_px``/``_rhp_py`` radians."""
    return [("_rhp_px", col(x) / AUTHALIC_RADIUS),
            ("_rhp_py", col(y) / AUTHALIC_RADIUS)]


def planar_suffix_steps(res: int, cfg: RHEALPixConfig) -> list[tuple[str, Expr]]:
    """Named steps from ``_rhp_px``/``_rhp_py`` (unfolded-cube planar
    radians, base side pi/2) to ``_rhp_face`` (0=N 1=O 2=P 3=Q 4=R 5=S,
    -1 outside the cube), the face's upper-left corner ``_rhp_ulx``/
    ``_rhp_uly`` and the lattice ``_rhp_row``/``_rhp_col`` at ``res``."""
    ns, ss = cfg.north_square, cfg.south_square
    px, py, face = col("_rhp_px"), col("_rhp_py"), col("_rhp_face")
    s0 = PI / 2
    n_lo, n_hi = -PI + ns * s0, -PI + (ns + 1) * s0
    s_lo, s_hi = -PI + ss * s0, -PI + (ss + 1) * s0
    n_cells = cfg.n_side**res
    w = s0 / n_cells
    return [
        ("_rhp_face", case(
            (py >= -PI / 4) & (py <= PI / 4) & (px >= -PI) & (px <= PI),
            1 + cast(clamp(floor((px + PI) / s0), 0, 3), "INT"),
            (py > PI / 4) & (py <= 3 * PI / 4) & (px >= n_lo) & (px <= n_hi), 0,
            (py < -PI / 4) & (py >= -3 * PI / 4) & (px >= s_lo) & (px <= s_hi), 5,
            -1)),
        ("_rhp_ulx", case(face == 0, n_lo, face == 1, -PI, face == 2, -PI / 2,
                          face == 3, 0.0, face == 4, PI / 2, s_lo)),
        ("_rhp_uly", case(face == 0, 3 * PI / 4, face == 5, -PI / 4, PI / 4)),
        ("_rhp_col", cast(clamp(floor((px - col("_rhp_ulx")) / w), 0, n_cells - 1),
                          "BIGINT")),
        ("_rhp_row", cast(clamp(floor((col("_rhp_uly") - py) / w), 0, n_cells - 1),
                          "BIGINT")),
    ]


def lonlat_face_rowcol(lon, lat, res: int, cfg: RHEALPixConfig):
    """lon/lat degrees -> (face 0..5 or -1, row, col) at ``res``: the
    forward steps and the planar suffix, evaluated on numpy."""
    env = evaluate(forward_steps("lon", "lat", cfg) + planar_suffix_steps(res, cfg),
                   {"lon": lon, "lat": lat})
    return env["_rhp_face"], env["_rhp_row"], env["_rhp_col"]


# --------------------------------------------------------------------------
# inverse: rHEALPix planar -> HEALPix planar -> lon/lat
# --------------------------------------------------------------------------

def _cap_center_lon(lam: np.ndarray) -> np.ndarray:
    """Center longitude of the polar facet containing lam in [-pi, pi]."""
    idx = np.clip(np.floor((lam + PI) / (PI / 2.0)), 0, 3)
    return -3.0 * PI / 4.0 + idx * (PI / 2.0)


def healpix_inverse(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """HEALPix planar (unit-sphere radians) -> (lon, authalic lat) radians."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    polar = np.abs(y) > PI / 4.0

    lam_eq = x
    beta_eq = np.arcsin(np.clip(8.0 * y / (3.0 * PI), -1.0, 1.0))

    sigma = 2.0 - 4.0 * np.abs(y) / PI
    lam_c = _cap_center_lon(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        lam_po = np.where(sigma > 0.0, lam_c + (x - lam_c) / np.where(sigma == 0, 1.0, sigma), lam_c)
    beta_po = np.sign(y) * np.arcsin(np.clip(1.0 - sigma * sigma / 3.0, -1.0, 1.0))

    lam = np.where(polar, lam_po, lam_eq)
    beta = np.where(polar, beta_po, beta_eq)
    return np.clip(lam, -PI, PI), beta


# The forward steps rotate the four HEALPix polar triangles of each
# hemisphere about the pole point into a single cap square.  Walking east
# around the north pole is counterclockwise seen from outside the globe, so
# triangle i of the north lands rotated by +(i-ns)*90deg; the south is the
# mirror image (clockwise), rotated by -(i-ss)*90deg.  uncombine_caps undoes
# the rotation.

def _apex_x(i: np.ndarray) -> np.ndarray:
    return -3.0 * PI / 4.0 + i * (PI / 2.0)


def _rot90(dx: np.ndarray, dy: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact CCW rotation by j*90deg (j integer array in 0..3)."""
    rx = np.select([j == 0, j == 1, j == 2], [dx, -dy, -dx], default=dy)
    ry = np.select([j == 0, j == 1, j == 2], [dy, dx, -dy], default=-dx)
    return rx, ry


def uncombine_caps(x: np.ndarray, y: np.ndarray, north_square: int, south_square: int) -> tuple[np.ndarray, np.ndarray]:
    """rHEALPix planar -> HEALPix planar (unit-sphere radians)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    out_x = x.copy()
    out_y = y.copy()

    for north in (True, False):
        mask = (y > PI / 4.0) if north else (y < -PI / 4.0)
        if not mask.any():
            continue
        sq = north_square if north else south_square
        pole_y = PI / 2.0 if north else -PI / 2.0
        cx = _apex_x(np.float64(sq))
        dx = x[mask] - cx
        dy = y[mask] - pole_y
        # which sub-triangle of the cap square: 0 = nearest the equator band,
        # then going around (CCW for north, CW for south)
        adx, ady = np.abs(dx), np.abs(dy)
        toward_eq = -dy if north else dy  # positive toward the equator side
        j = np.where(
            (toward_eq >= adx), 0,
            np.where(dx >= ady, 1,  # right triangle (both hemispheres)
                     np.where(toward_eq <= -adx, 2, 3)))
        # north: j follows CCW (bottom,right,top,left); south: CW (top,right,bottom,left)
        i = (sq + j) % 4
        # invert the forward CCW rotation count
        jf = j if north else (4 - j) % 4
        jb = (4 - jf) % 4
        rx, ry = _rot90(dx, dy, jb)
        out_x[mask] = _apex_x(i.astype(np.float64)) + rx
        out_y[mask] = pole_y + ry
    return out_x, out_y


# --------------------------------------------------------------------------
# full projection, meters
# --------------------------------------------------------------------------

def forward(lon_deg: np.ndarray, lat_deg: np.ndarray, north_square: int = 1,
            south_square: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat degrees (WGS84) -> rHEALPix planar meters: the shared
    forward steps, times the authalic radius (as the SQL ``px_m``/``py_m``)."""
    cfg = RHEALPixConfig(north_square=north_square, south_square=south_square)
    env = evaluate(forward_steps("lon", "lat", cfg), {"lon": lon_deg, "lat": lat_deg})
    return env["_rhp_px"] * AUTHALIC_RADIUS, env["_rhp_py"] * AUTHALIC_RADIUS


def inverse(x_m: np.ndarray, y_m: np.ndarray, north_square: int = 1,
            south_square: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """rHEALPix planar meters -> lon/lat degrees (WGS84)."""
    x = np.asarray(x_m, dtype=np.float64) / AUTHALIC_RADIUS
    y = np.asarray(y_m, dtype=np.float64) / AUTHALIC_RADIUS
    hx, hy = uncombine_caps(x, y, north_square, south_square)
    lam, beta = healpix_inverse(hx, hy)
    phi = geodetic_lat(beta)
    return np.degrees(lam), np.degrees(phi)
