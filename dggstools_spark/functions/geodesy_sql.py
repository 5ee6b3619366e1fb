"""Geodesic polygon area as portable SQL (the closed-form oracle twin of
dggs/geodesy.geodesic_polygon_area).

Same math, independent implementation: geodetic latitude -> authalic
latitude via q(sin phi)/q_p (Snyder 3-12, identical formula text to the
encode pipeline), unit vectors on the authalic sphere, signed spherical
excess per triangle of a fan from the first vertex (Van Oosterom &
Strackee triple-product form), abs(sum) * R^2.  The numpy kernel computes
the same sequence (arcsin -> cos -> cross/dot -> atan2), so both engines
agree to float precision and q_geodesic_area can hash-match the A2
operator (a pandas UDF over the kernel) against this SQL.
"""

from __future__ import annotations

from ..dggs.config import AUTHALIC_RADIUS, Q_P, WGS84_E, WGS84_E2
from .encode_sql import double_sql


def _sinb(lat_deg: str) -> str:
    """sin(authalic latitude) from a geodetic-latitude-in-degrees expr —
    the same Snyder 3-12 text the cell encoder uses."""
    e, e2, qp = WGS84_E, WGS84_E2, Q_P
    s = f"sin(radians({lat_deg}))"
    return (f"least(greatest({double_sql(1 - e2)} * (({s}) / (1.0 - {double_sql(e2)} * ({s}) * ({s}))"
            f" - {double_sql(1.0 / (2 * e))} * ln((1.0 - {double_sql(e)} * ({s})) / (1.0 + {double_sql(e)} * ({s}))))"
            f" / {double_sql(qp)}, -1.0), 1.0)")


def vertex_xyz(lon_deg: str, lat_deg: str, tag: str) -> list[tuple[str, str]]:
    """(name, expr) steps for the unit vector of one polygon vertex on the
    authalic sphere; names are prefixed with ``tag``."""
    return [
        (f"{tag}_b", f"asin({_sinb(lat_deg)})"),
        (f"{tag}_x", f"cos({tag}_b) * cos(radians({lon_deg}))"),
        (f"{tag}_y", f"cos({tag}_b) * sin(radians({lon_deg}))"),
        (f"{tag}_z", f"sin({tag}_b)"),
    ]


def _tri_excess(a: str, b: str, c: str) -> str:
    """2*atan2(a.(bxc), 1 + a.b + b.c + c.a) for vertex tags a, b, c."""
    num = (f"({a}_x * ({b}_y * {c}_z - {b}_z * {c}_y)"
           f" + {a}_y * ({b}_z * {c}_x - {b}_x * {c}_z)"
           f" + {a}_z * ({b}_x * {c}_y - {b}_y * {c}_x))")
    dot = "({0}_x * {1}_x + {0}_y * {1}_y + {0}_z * {1}_z)"
    den = (f"(1.0 + {dot.format(a, b)} + {dot.format(b, c)} + {dot.format(c, a)})")
    return f"2.0 * atan2({num}, {den})"


def polygon_area_steps(verts: list[tuple[str, str]],
                       out: str = "area_m2") -> list[tuple[str, str]]:
    """Ordered (column, expr) steps computing the geodesic area of the
    polygon whose vertices are the given (lon_expr, lat_expr) pairs (no
    closing repeat).  Apply with withColumn / nested SELECTs."""
    steps: list[tuple[str, str]] = []
    tags = []
    for i, (lon, lat) in enumerate(verts):
        tag = f"_ga{i}"
        tags.append(tag)
        steps.extend(vertex_xyz(lon, lat, tag))
    terms = [_tri_excess(tags[0], tags[i], tags[i + 1])
             for i in range(1, len(tags) - 1)]
    total = " + ".join(f"({t})" for t in terms)
    steps.append((out, f"abs({total}) * {double_sql(AUTHALIC_RADIUS**2)}"))
    return steps
