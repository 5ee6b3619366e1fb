"""Great-circle route sampling: split long geodesic segments into short
sub-segments BEFORE the planar supercover draw (TODO_r7 #10).

``segment_cells`` (spatial_join.py) rasterizes PLANAR segments, and its
cost is O(bbox cells) per segment — so path_cells bounds segment length
and long-haul jumps simply drop out.  A "route heat" over long-haul
movement needs the opposite: follow the GREAT CIRCLE between the
endpoints, sampled every ``step_m`` meters, and supercover each short
sub-segment — the corridor then bends with the geodesic instead of
cutting a straight planar chord, and each sub-segment's bbox stays
O((step/w)²) regardless of route length.

Spherical interpolation (slerp) on the authalic sphere:

    u, v   = unit vectors of the endpoints
    θ      = acos(clamp(u·v))          (central angle)
    n      = clamp(ceil(θ·R / step_m), 1, max_n)
    p(t)   = (sin((1−t)θ)·u + sin(tθ)·v) / sin θ,   t = i/n, i = 0..n
    lon    = degrees(atan2(p_y, p_x))
    lat    = degrees(atan2(p_z, hypot(p_x, p_y)))

Degenerate θ≈0 (coincident endpoints) falls back to linear weights
(the 0/0 guard); antipodal endpoints (sin θ ≈ 0, θ ≈ π) take the same
guard and degenerate to the endpoints — the great circle is undefined
there, documented.  Engine parity: the formula is emitted ONCE as
ordered (name, expr) steps shared by the Spark and DuckDB paths (the
sources/synth.lonlat_steps convention), so both engines evaluate the
identical double expressions; downstream consumers quantize via the
cell-lattice snap like every other encode query.

Scale shape (100 TB): the split is a pure per-row projection + one
bounded explode (≤ max_n+1 rows per segment) — no shuffle, no UDF; the
sub-segment supercover inherits segment_cells' candidate-explode shape
with the bbox now bounded by step_m, so total work is
O(route_length/step · (step/w)²) per route, independent of how long any
single jump is.

Reference parity: the reference has no trajectory layer; this extends
its rasterize family (dggstools/rasterops) the way path_cells does,
with the geodesic sampling the reference's geodesics module
(utils/geo.py analogue) would supply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..dggs.geodesy import AUTHALIC_RADIUS
from ..functions.encode_sql import double_sql


def slerp_steps(step_m: float, max_n: int,
                lon1: str = "lon1", lat1: str = "lat1",
                lon2: str = "lon2", lat2: str = "lat2") -> list:
    """Ordered (name, expr) steps adding the slerp frame (_ux.._vz, _th,
    _st, n_steps) to a segment row — portable Spark SQL / DuckDB text."""
    return [
        ("_ux", f"cos(radians({lat1})) * cos(radians({lon1}))"),
        ("_uy", f"cos(radians({lat1})) * sin(radians({lon1}))"),
        ("_uz", f"sin(radians({lat1}))"),
        ("_vx", f"cos(radians({lat2})) * cos(radians({lon2}))"),
        ("_vy", f"cos(radians({lat2})) * sin(radians({lon2}))"),
        ("_vz", f"sin(radians({lat2}))"),
        ("_th", f"acos(least({double_sql(1.0)}, greatest({double_sql(-1.0)},"
                f" _ux * _vx + _uy * _vy + _uz * _vz)))"),
        ("_st", "sin(_th)"),
        ("n_steps", f"CAST(least({double_sql(float(max_n))}, greatest({double_sql(1.0)},"
                    f" ceil(_th * {double_sql(AUTHALIC_RADIUS)}"
                    f" / {double_sql(step_m)}))) AS BIGINT)"),
    ]


def slerp_point_exprs(t: str) -> "tuple[str, str]":
    """(lon_expr, lat_expr) of the slerp point at fraction ``t`` (a SQL
    expression), referencing the slerp_steps frame columns.  The θ≈0
    guard uses linear weights (exact for coincident endpoints)."""
    w1 = (f"(CASE WHEN _st < 1e-12 THEN {double_sql(1.0)} - ({t})"
          f" ELSE sin(({double_sql(1.0)} - ({t})) * _th) / _st END)")
    w2 = (f"(CASE WHEN _st < 1e-12 THEN ({t})"
          f" ELSE sin(({t}) * _th) / _st END)")
    x = f"({w1} * _ux + {w2} * _vx)"
    y = f"({w1} * _uy + {w2} * _vy)"
    z = f"({w1} * _uz + {w2} * _vz)"
    lon = f"degrees(atan2({y}, {x}))"
    lat = f"degrees(atan2({z}, sqrt({x} * {x} + {y} * {y})))"
    return lon, lat


_T = "(CAST(i AS DOUBLE) / CAST(n_steps AS DOUBLE))"


def geodesic_samples(segs: DataFrame, step_m: float, max_n: int,
                     seg_id: str = "seg_id",
                     lon1: str = "lon1", lat1: str = "lat1",
                     lon2: str = "lon2", lat2: str = "lat2") -> DataFrame:
    """(seg_id, i, lon, lat): the n+1 great-circle sample points of every
    segment (i = 0..n_steps); consecutive i are ≤ step_m apart on the
    sphere.  Pure projection + one bounded explode."""
    df = segs
    for name, expr in slerp_steps(step_m, max_n, lon1, lat1, lon2, lat2):
        df = df.withColumn(name, F.expr(expr))
    lon, lat = slerp_point_exprs(_T)
    return (df
            .withColumn("i", F.explode(F.expr(
                "sequence(CAST(0 AS BIGINT), n_steps)")))
            .select(F.col(seg_id).alias("seg_id"), "i",
                    F.expr(lon).alias("lon"), F.expr(lat).alias("lat")))


def geodesic_samples_sql(segs_sql: str, step_m: float, max_n: int,
                         seg_id: str = "seg_id",
                         lon1: str = "lon1", lat1: str = "lat1",
                         lon2: str = "lon2", lat2: str = "lat2") -> str:
    """DuckDB twin of :func:`geodesic_samples` over ``segs_sql`` rows
    (seg_id, lon1, lat1, lon2, lat2) — identical step expressions applied
    as a nested-select chain (each name computed once, the
    lonlat_steps convention), range() unnest for the sample index."""
    inner = f"SELECT * FROM ({segs_sql})"
    for name, expr in slerp_steps(step_m, max_n, lon1, lat1, lon2, lat2):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    inner = (f"SELECT *, unnest(range(0, n_steps + 1)) AS i"
             f" FROM ({inner})")
    lon, lat = slerp_point_exprs(_T)
    return (f"SELECT {seg_id} AS seg_id, i, {lon} AS lon, {lat} AS lat"
            f" FROM ({inner})")
