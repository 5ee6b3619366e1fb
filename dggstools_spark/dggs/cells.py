"""Cell addressing: planar/geodetic point <-> rHEALPix cellid, cell geometry.

Replaces the reference's calls into ``rhealpixdggs`` (``cell_from_point`` at
rhpx_gdf_helper.py:93-95, ``Cell.centroid``/``ul_vertex``/``xy_range`` at
rhpx_gdf_helper.py:108,403-408 and rhpxutils.py:223,270) with vectorized
numpy.  A cellid is a base char in "NOPQRS" followed by one digit in
``0..n_side**2-1`` per level, row-major within the parent (verified against
the reference's child orderings, tests/unit_tests/tests_dggstools.py:99-147,
and the "planar (0,0) falls on Q3" note at rhpxutils.py:168-170).
"""

from __future__ import annotations

import numpy as np

from .config import AUTHALIC_RADIUS, RHEALPixConfig, DEFAULT_CONFIG
from . import projection
from .expr import evaluate

PI = np.pi
HALF_SIDE = (PI / 2.0) * AUTHALIC_RADIUS  # side length of a resolution-0 cell (m)

_FACE_ORD = {c: i for i, c in enumerate("NOPQRS")}


def _face_ul(cfg: RHEALPixConfig) -> np.ndarray:
    """(6,2) array of upper-left corners (meters) of the base cells N,O,P,Q,R,S."""
    s = HALF_SIDE
    return np.array(
        [
            [-2.0 * s + cfg.north_square * s, 1.5 * s],  # N
            [-2.0 * s, 0.5 * s],  # O
            [-1.0 * s, 0.5 * s],  # P
            [0.0, 0.5 * s],  # Q
            [1.0 * s, 0.5 * s],  # R
            [-2.0 * s + cfg.south_square * s, -0.5 * s],  # S
        ],
        dtype=np.float64,
    )


# --------------------------------------------------------------------------
# encode: point -> cellid
# --------------------------------------------------------------------------

def planar_to_face_rowcol(x: np.ndarray, y: np.ndarray, res: int,
                          cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """Planar meters -> (face index 0..5 or -1 if outside, row, col) at
    ``res``: meters / authalic radius, then the shared planar suffix steps
    (the text ``encode_sql.duckdb_planar_encode_select`` runs)."""
    env = evaluate(projection.planar_meter_steps("x", "y")
                   + projection.planar_suffix_steps(res, cfg),
                   {"x": np.asarray(x, dtype=np.float64),
                    "y": np.asarray(y, dtype=np.float64)})
    return env["_rhp_face"], env["_rhp_row"], env["_rhp_col"]


def _assemble_cellids(face: np.ndarray, row: np.ndarray, col: np.ndarray, res: int,
                      cfg: RHEALPixConfig) -> np.ndarray:
    """(face, row, col) -> cellid strings; '' where face < 0."""
    n = cfg.n_side
    m = face.shape[0]
    buf = np.empty((m, res + 1), dtype=np.uint8)
    face_chars = np.frombuffer(b"NOPQRS", dtype=np.uint8)
    buf[:, 0] = face_chars[np.where(face >= 0, face, 0)]
    r = row.copy()
    c = col.copy()
    for level in range(res, 0, -1):
        digit = (r % n) * n + (c % n)
        buf[:, level] = ord("0") + digit.astype(np.uint8)
        r //= n
        c //= n
    # bytes -> str fully vectorized (S -> U is a bulk ASCII decode); a
    # per-row .decode() loop here costs real CPU in every Arrow encode batch
    out = buf.view(f"S{res + 1}").ravel().astype(f"U{res + 1}").astype(object)
    out[face < 0] = None
    return out


def planar_to_cellid(x: np.ndarray, y: np.ndarray, res: int,
                     cfg: RHEALPixConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Planar meters -> cellid strings (None outside the unfolded cube).

    Vectorized replacement for ``rdggs.cell_from_point(res, (x, y))``
    (reference rhpx_gdf_helper.py:95)."""
    face, row, col = planar_to_face_rowcol(x, y, res, cfg)
    return _assemble_cellids(face, row, col, res, cfg)


def lonlat_to_cellid(lon: np.ndarray, lat: np.ndarray, res: int,
                     cfg: RHEALPixConfig = DEFAULT_CONFIG) -> np.ndarray:
    """lon/lat degrees -> cellid strings at resolution ``res``."""
    face, row, col = projection.lonlat_face_rowcol(lon, lat, res, cfg)
    return _assemble_cellids(face, row, col, res, cfg)


# --------------------------------------------------------------------------
# decode: cellid -> geometry
# --------------------------------------------------------------------------

def cellids_to_face_rowcol(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellid strings (must share one resolution) -> (res, face, row, col)."""
    arr = np.asarray(cellids, dtype=object)
    if arr.size == 0:
        return 0, np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    # one join with a NUL after each id; the NUL positions give every
    # row's length without per-row Python
    joined = np.frombuffer(("\0".join(arr.tolist()) + "\0").encode("ascii"), np.uint8)
    ends = np.flatnonzero(joined == 0)
    lengths = np.diff(ends, prepend=-1) - 1
    if len(ends) != len(arr) or lengths.min() != lengths.max() or lengths[0] == 0:
        raise ValueError(f"cellids must be non-empty, NUL-free and share one "
                         f"resolution, got lengths {np.unique(lengths).tolist()}")
    length = int(lengths[0])
    res = length - 1
    n = cfg.n_side
    buf = joined.reshape(len(arr), length + 1)
    face = np.searchsorted(np.frombuffer(b"NOPQRS", dtype=np.uint8), buf[:, 0])
    row = np.zeros(len(arr), dtype=np.int64)
    col = np.zeros(len(arr), dtype=np.int64)
    for level in range(1, length):
        digit = (buf[:, level] - ord("0")).astype(np.int64)
        row = row * n + digit // n
        col = col * n + digit % n
    return res, face, row, col


def cellid_to_ul_vertex(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellids -> planar upper-left vertex (x, y) in meters."""
    res, face, row, col = cellids_to_face_rowcol(cellids, cfg)
    w = HALF_SIDE / cfg.n_side**res
    uls = _face_ul(cfg)
    return uls[face, 0] + col * w, uls[face, 1] - row * w


def cellid_to_planar_centroid(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellids -> planar centroid (x, y) in meters (Cell.centroid(plane=True))."""
    res, face, row, col = cellids_to_face_rowcol(cellids, cfg)
    w = HALF_SIDE / cfg.n_side**res
    uls = _face_ul(cfg)
    return uls[face, 0] + (col + 0.5) * w, uls[face, 1] - (row + 0.5) * w


def cellid_to_bbox(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellids -> planar (left, top, right, bottom) in meters (Cell.xy_range)."""
    ulx, uly = cellid_to_ul_vertex(cellids, cfg)
    res = len(np.asarray(cellids, dtype=object)[0]) - 1 if len(cellids) else 0
    w = HALF_SIDE / cfg.n_side**res
    return ulx, uly, ulx + w, uly - w


def cellid_to_lonlat_centroid(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellids -> geodetic centroid (lon, lat) in degrees."""
    x, y = cellid_to_planar_centroid(cellids, cfg)
    return projection.inverse(x, y, cfg.north_square, cfg.south_square)


def cellid_to_vertices(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """cellids -> (n, 4, 2) planar vertices, clockwise from upper-left
    (Cell.vertices(plane=True))."""
    ulx, uly = cellid_to_ul_vertex(cellids, cfg)
    arr = np.asarray(cellids, dtype=object)
    res = len(arr[0]) - 1 if arr.size else 0
    w = HALF_SIDE / cfg.n_side**res
    out = np.empty((arr.size, 4, 2), dtype=np.float64)
    out[:, 0, 0], out[:, 0, 1] = ulx, uly
    out[:, 1, 0], out[:, 1, 1] = ulx + w, uly
    out[:, 2, 0], out[:, 2, 1] = ulx + w, uly - w
    out[:, 3, 0], out[:, 3, 1] = ulx, uly - w
    return out


def cellid_to_geodetic_vertices(cellids, cfg: RHEALPixConfig = DEFAULT_CONFIG,
                                trim_dart: bool = True) -> list:
    """cellids -> list of vertex rings [(lon, lat), ...] in degrees —
    Cell.vertices(plane=False, trim_dart=...) (reference uses it to build
    EPSG:4326 geometry, rhpx_gdf_helper.py:358-365).

    Cap cells with a corner at the face center project that corner TO the
    pole; the two planar corners nearest the center can collapse to the
    same geodetic point ("dart" cells).  ``trim_dart`` drops consecutive
    duplicate vertices (closing edge included), like the upstream flag, so
    rings stay valid polygons."""
    planar = cellid_to_vertices(cellids, cfg)
    n = planar.shape[0]
    lon, lat = projection.inverse(planar[:, :, 0].reshape(-1),
                                  planar[:, :, 1].reshape(-1),
                                  cfg.north_square, cfg.south_square)
    lon = lon.reshape(n, 4)
    lat = lat.reshape(n, 4)
    out = []
    for i in range(n):
        ring = list(zip(lon[i], lat[i]))
        if trim_dart:
            trimmed = []
            for j, (lo, la) in enumerate(ring):
                prev = trimmed[-1] if trimmed else ring[-1]
                # at the poles longitude is degenerate: same point iff same lat
                same = (abs(la - prev[1]) < 1e-9
                        and (abs(la) > 90 - 1e-9
                             or abs((lo - prev[0] + 180) % 360 - 180) < 1e-9))
                if not same:
                    trimmed.append((lo, la))
            ring = trimmed
        out.append(ring)
    return out


# --------------------------------------------------------------------------
# packed integer cell keys (shuffle-friendly: 8-byte longs instead of UTF8
# strings; no Python object creation in the Arrow path)
# --------------------------------------------------------------------------

def pack_cellkey(face: np.ndarray, row: np.ndarray, col: np.ndarray, res: int,
                 cfg: RHEALPixConfig = DEFAULT_CONFIG) -> np.ndarray:
    """(face, row, col) at ``res`` -> int64 key ((face*m + row)*m + col);
    -1 where face < 0.  m = n_side**res (fits int64 for res <= 19)."""
    m = np.int64(cfg.n_side**res)
    key = (face.astype(np.int64) * m + row) * m + col
    return np.where(face >= 0, key, np.int64(-1))


def unpack_cellkey(key: np.ndarray, res: int,
                   cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """int64 key -> (face, row, col)."""
    m = np.int64(cfg.n_side**res)
    key = np.asarray(key, dtype=np.int64)
    col = key % m
    rem = key // m
    row = rem % m
    face = rem // m
    return face, row, col


def lonlat_to_cellkey(lon: np.ndarray, lat: np.ndarray, res: int,
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> np.ndarray:
    """lon/lat degrees -> packed int64 cell key at ``res`` (-1 off-cube)."""
    face, row, col = projection.lonlat_face_rowcol(lon, lat, res, cfg)
    return pack_cellkey(face, row, col, res, cfg)


def cellkey_to_cellid(key: np.ndarray, res: int,
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> np.ndarray:
    """packed key -> cellid string (None for -1)."""
    face, row, col = unpack_cellkey(key, res, cfg)
    face = np.where(np.asarray(key) >= 0, face, -1)
    return _assemble_cellids(face.astype(np.int64), row, col, res, cfg)
