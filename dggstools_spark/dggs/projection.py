"""(r)HEALPix projection, vectorized numpy.

Forward chain:  lon/lat (deg, WGS84) -> authalic latitude -> HEALPix planar
(radian units on the unit sphere) -> rHEALPix cap rearrangement -> scale by
the authalic radius to meters.

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

from .config import AUTHALIC_RADIUS, WGS84_E, WGS84_E2, Q_P

PI = np.pi
EQ_LAT = np.arcsin(2.0 / 3.0)  # |authalic lat| boundary between zones


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
# HEALPix on the unit sphere (radian planar units)
# --------------------------------------------------------------------------

def _cap_center_lon(lam: np.ndarray) -> np.ndarray:
    """Center longitude of the polar facet containing lam in [-pi, pi]."""
    idx = np.clip(np.floor((lam + PI) / (PI / 2.0)), 0, 3)
    return -3.0 * PI / 4.0 + idx * (PI / 2.0)


def healpix_forward(lam: np.ndarray, beta: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, authalic lat) in radians -> HEALPix planar (unit-sphere radians)."""
    lam = np.asarray(lam, dtype=np.float64)
    beta = np.asarray(beta, dtype=np.float64)
    sin_b = np.sin(beta)
    polar = np.abs(sin_b) > 2.0 / 3.0

    x_eq = lam
    y_eq = 3.0 * PI / 8.0 * sin_b

    sigma = np.sqrt(np.clip(3.0 * (1.0 - np.abs(sin_b)), 0.0, None))
    lam_c = _cap_center_lon(lam)
    x_po = lam_c + (lam - lam_c) * sigma
    y_po = np.sign(beta) * (PI / 4.0) * (2.0 - sigma)

    return np.where(polar, x_po, x_eq), np.where(polar, y_po, y_eq)


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


# --------------------------------------------------------------------------
# rHEALPix cap rearrangement
# --------------------------------------------------------------------------
# The four HEALPix polar triangles of each hemisphere are rotated about the
# pole point into a single cap square.  Walking east around the north pole is
# counterclockwise seen from outside the globe, so triangle i of the north
# lands rotated by +(i-ns)*90deg; the south is the mirror image (clockwise),
# rotated by -(i-ss)*90deg.

def _apex_x(i: np.ndarray) -> np.ndarray:
    return -3.0 * PI / 4.0 + i * (PI / 2.0)


def _rot90(dx: np.ndarray, dy: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact CCW rotation by j*90deg (j integer array in 0..3)."""
    rx = np.select([j == 0, j == 1, j == 2], [dx, -dy, -dx], default=dy)
    ry = np.select([j == 0, j == 1, j == 2], [dy, dx, -dy], default=-dx)
    return rx, ry


def combine_caps(x: np.ndarray, y: np.ndarray, north_square: int, south_square: int) -> tuple[np.ndarray, np.ndarray]:
    """HEALPix planar -> rHEALPix planar (unit-sphere radians)."""
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
        i = np.clip(np.floor((x[mask] + PI) / (PI / 2.0)), 0, 3).astype(np.int64)
        # CCW rotation count: north rotates +(i-sq)*90deg, south -(i-sq)*90deg
        j = (i - sq) % 4 if north else (4 - ((i - sq) % 4)) % 4
        dx = x[mask] - _apex_x(i.astype(np.float64))
        dy = y[mask] - pole_y
        rx, ry = _rot90(dx, dy, j)
        out_x[mask] = _apex_x(np.float64(sq)) + rx
        out_y[mask] = pole_y + ry
    return out_x, out_y


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
    """lon/lat degrees (WGS84) -> rHEALPix planar meters."""
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    # wrap into [-pi, pi)
    lam = (lam + PI) % (2.0 * PI) - PI
    beta = authalic_lat(np.radians(np.asarray(lat_deg, dtype=np.float64)))
    hx, hy = healpix_forward(lam, beta)
    rx, ry = combine_caps(hx, hy, north_square, south_square)
    return rx * AUTHALIC_RADIUS, ry * AUTHALIC_RADIUS


def inverse(x_m: np.ndarray, y_m: np.ndarray, north_square: int = 1,
            south_square: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """rHEALPix planar meters -> lon/lat degrees (WGS84)."""
    x = np.asarray(x_m, dtype=np.float64) / AUTHALIC_RADIUS
    y = np.asarray(y_m, dtype=np.float64) / AUTHALIC_RADIUS
    hx, hy = uncombine_caps(x, y, north_square, south_square)
    lam, beta = healpix_inverse(hx, hy)
    phi = geodetic_lat(beta)
    return np.degrees(lam), np.degrees(phi)
