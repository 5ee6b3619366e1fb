"""rHEALPix cell encoding as portable ANSI-SQL steps.

The same step list drives two engines:

- **Spark**: ``spark_encode(df, ...)`` applies each step with
  ``withColumn(F.expr(...))`` — the whole encode stays inside whole-stage
  codegen (JVM, no Python workers).  This is the fast path used when a plain
  expression is allowed; the pandas-UDF path (functions/encode.py) is the
  north-rule-mandated Arrow path and must agree with it bit-for-bit.
- **DuckDB**: ``duckdb_encode_select(...)`` folds the steps into nested
  SELECTs — the independent oracle for the driver's correctness gate.

Only functions with identical semantics in both engines are used:
radians/sin/ln/sqrt/abs/floor/least/greatest/chr/concat/CASE/%/casts
(sin and ln can still differ in the last bit: each engine has its own
math library).  Float constants are inlined through :func:`double_sql`,
which both engines read as the same DOUBLE; integer constants in integer
contexts are integer literals (CLAUDE.md constraint 8).  So Spark plans
the encoder in DOUBLE and BIGINT only, as DuckDB does.  Formula source:
Calabretta & Roukema 2007 + Gibb/Raichev/Speth 2013 (see dggs/projection.py,
the numpy implementation of the same math).
"""

from __future__ import annotations

import math

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG, WGS84_E, WGS84_E2, Q_P

PI = math.pi


def double_sql(v: float) -> str:
    """``v`` as a DOUBLE literal that both engines read as the same double:
    the shortest round-trip digits with an exponent, inside
    ``CAST(.. AS DOUBLE)`` (CLAUDE.md constraint 8).  Without the exponent
    both engines parse a DECIMAL, and DuckDB's DECIMAL-to-DOUBLE cast
    misrounds about one 17-digit value in ten; DuckDB has no ``D``
    suffix."""
    r = repr(float(v))
    return f"CAST({r if 'e' in r else r + 'e0'} AS DOUBLE)"


def encode_steps(lon: str, lat: str, res: int,
                 cfg: RHEALPixConfig = DEFAULT_CONFIG,
                 out: str = "cellid") -> list[tuple[str, str]]:
    """Ordered (column_name, sql_expression) steps computing ``out`` =
    rHEALPix cellid at resolution ``res`` from lon/lat degree columns.
    Intermediate columns are prefixed with ``_rhp_``."""
    n = cfg.n_side
    ns, ss = cfg.north_square, cfg.south_square
    e, e2, qp = WGS84_E, WGS84_E2, Q_P
    steps: list[tuple[str, str]] = []

    # longitude wrapped to [-pi, pi); SQL % keeps the dividend's sign, so the
    # double-mod form is needed for inputs below -180 (numpy % is nonnegative)
    steps.append(("_rhp_lam",
                  f"(((radians({lon}) + {double_sql(PI)}) % {double_sql(2 * PI)} + {double_sql(2 * PI)})"
                  f" % {double_sql(2 * PI)}) - {double_sql(PI)}"))
    steps.append(("_rhp_s", f"sin(radians({lat}))"))
    # sin(authalic lat) = q(sin phi)/q_p  (Snyder 3-12)
    steps.append((
        "_rhp_sinb",
        f"least(greatest({double_sql(1 - e2)} * (_rhp_s / (1.0 - {double_sql(e2)} * _rhp_s * _rhp_s)"
        f" - {double_sql(1.0 / (2 * e))} * ln((1.0 - {double_sql(e)} * _rhp_s) / (1.0 + {double_sql(e)} * _rhp_s)))"
        f" / {double_sql(qp)}, -1.0), 1.0)",
    ))
    steps.append(("_rhp_sigma", "sqrt(greatest(3.0 * (1.0 - abs(_rhp_sinb)), 0.0))"))
    steps.append((
        "_rhp_lamc",
        f"{double_sql(-3 * PI / 4)} + least(greatest(floor((_rhp_lam + {double_sql(PI)}) / {double_sql(PI / 2)}), 0), 3) * {double_sql(PI / 2)}",
    ))
    polar = f"abs(_rhp_sinb) > {double_sql(2.0 / 3.0)}"
    steps.append((
        "_rhp_hx",
        f"CASE WHEN {polar} THEN _rhp_lamc + (_rhp_lam - _rhp_lamc) * _rhp_sigma ELSE _rhp_lam END",
    ))
    steps.append((
        "_rhp_hy",
        f"CASE WHEN {polar} THEN (CASE WHEN _rhp_sinb >= 0 THEN 1.0 ELSE -1.0 END)"
        f" * {double_sql(PI / 4)} * (2.0 - _rhp_sigma) ELSE {double_sql(3 * PI / 8)} * _rhp_sinb END",
    ))
    # cap rearrangement (exact 90-degree rotations; see dggs/projection.py)
    steps.append((
        "_rhp_i",
        f"CAST(least(greatest(floor((_rhp_hx + {double_sql(PI)}) / {double_sql(PI / 2)}), 0), 3) AS INT)",
    ))
    north = f"_rhp_hy > {double_sql(PI / 4)}"
    south = f"_rhp_hy < {double_sql(-PI / 4)}"
    steps.append((
        "_rhp_j",
        f"CASE WHEN {north} THEN ((_rhp_i - {ns}) % 4 + 4) % 4"
        f" WHEN {south} THEN (4 - (((_rhp_i - {ss}) % 4 + 4) % 4)) % 4 ELSE 0 END",
    ))
    steps.append(("_rhp_dx", f"_rhp_hx - ({double_sql(-3 * PI / 4)} + CAST(_rhp_i AS DOUBLE) * {double_sql(PI / 2)})"))
    steps.append((
        "_rhp_dy",
        f"CASE WHEN {north} THEN _rhp_hy - {double_sql(PI / 2)}"
        f" WHEN {south} THEN _rhp_hy + {double_sql(PI / 2)} ELSE 0.0 END",
    ))
    steps.append((
        "_rhp_rx",
        "CASE _rhp_j WHEN 0 THEN _rhp_dx WHEN 1 THEN -_rhp_dy WHEN 2 THEN -_rhp_dx ELSE _rhp_dy END",
    ))
    steps.append((
        "_rhp_ry",
        "CASE _rhp_j WHEN 0 THEN _rhp_dy WHEN 1 THEN _rhp_dx WHEN 2 THEN -_rhp_dy ELSE -_rhp_dx END",
    ))
    steps.append((
        "_rhp_px",
        f"CASE WHEN {north} THEN {double_sql(-3 * PI / 4 + ns * PI / 2)} + _rhp_rx"
        f" WHEN {south} THEN {double_sql(-3 * PI / 4 + ss * PI / 2)} + _rhp_rx ELSE _rhp_hx END",
    ))
    steps.append((
        "_rhp_py",
        f"CASE WHEN {north} THEN {double_sql(PI / 2)} + _rhp_ry"
        f" WHEN {south} THEN {double_sql(-PI / 2)} + _rhp_ry ELSE _rhp_hy END",
    ))
    steps += planar_suffix_steps(res, cfg, out)
    return steps


def planar_suffix_steps(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG,
                        out: str = "cellid") -> list[tuple[str, str]]:
    """The planar->cellid tail of encode_steps: given _rhp_px/_rhp_py
    (unfolded-cube planar RADIANS), derive face / lattice digits / the
    cellid string.  Factored out (byte-identical emitted text) so planar
    sources — lattice centers from the rasterize snap, meter coordinates
    divided by the authalic radius — can encode without the lon/lat
    front half (segment_cells oracle)."""
    n = cfg.n_side
    ns, ss = cfg.north_square, cfg.south_square
    steps: list[tuple[str, str]] = []
    # face: 0=N 1=O 2=P 3=Q 4=R 5=S  (radian planar units, base side pi/2)
    s0 = PI / 2
    n_lo, n_hi = -PI + ns * s0, -PI + (ns + 1) * s0
    s_lo, s_hi = -PI + ss * s0, -PI + (ss + 1) * s0
    steps.append((
        "_rhp_face",
        f"CASE WHEN _rhp_py >= {double_sql(-PI / 4)} AND _rhp_py <= {double_sql(PI / 4)}"
        f" THEN 1 + CAST(least(greatest(floor((_rhp_px + {double_sql(PI)}) / {double_sql(s0)}), 0), 3) AS INT)"
        f" WHEN _rhp_py > {double_sql(PI / 4)} AND _rhp_py <= {double_sql(3 * PI / 4)}"
        f" AND _rhp_px >= {double_sql(n_lo)} AND _rhp_px <= {double_sql(n_hi)} THEN 0"
        f" WHEN _rhp_py < {double_sql(-PI / 4)} AND _rhp_py >= {double_sql(-3 * PI / 4)}"
        f" AND _rhp_px >= {double_sql(s_lo)} AND _rhp_px <= {double_sql(s_hi)} THEN 5"
        f" ELSE -1 END",
    ))
    steps.append((
        "_rhp_ulx",
        f"CASE _rhp_face WHEN 0 THEN {double_sql(n_lo)} WHEN 1 THEN {double_sql(-PI)}"
        f" WHEN 2 THEN {double_sql(-PI / 2)} WHEN 3 THEN 0.0 WHEN 4 THEN {double_sql(PI / 2)}"
        f" ELSE {double_sql(s_lo)} END",
    ))
    steps.append((
        "_rhp_uly",
        f"CASE _rhp_face WHEN 0 THEN {double_sql(3 * PI / 4)} WHEN 5 THEN {double_sql(-PI / 4)}"
        f" ELSE {double_sql(PI / 4)} END",
    ))
    n_cells = n**res
    w = s0 / n_cells
    steps.append((
        "_rhp_col",
        f"CAST(least(greatest(floor((_rhp_px - _rhp_ulx) / {double_sql(w)}), 0), {n_cells - 1}) AS BIGINT)",
    ))
    steps.append((
        "_rhp_row",
        f"CAST(least(greatest(floor((_rhp_uly - _rhp_py) / {double_sql(w)}), 0), {n_cells - 1}) AS BIGINT)",
    ))
    face_char = ("CASE _rhp_face WHEN 0 THEN 'N' WHEN 1 THEN 'O' WHEN 2 THEN 'P'"
                 " WHEN 3 THEN 'Q' WHEN 4 THEN 'R' ELSE 'S' END")
    digit_parts = []
    for k in range(1, res + 1):
        p = n ** (res - k)
        # an integer over an integer literal divides in DOUBLE on both engines;
        # floor of it is exact here (row, col < n**res <= 3**15 << 2**53) and
        # portable, unlike integer-division operators (Spark `div`, DuckDB `//`)
        digit = (f"(CAST(floor(_rhp_row / {p}) AS BIGINT) % {n}) * {n}"
                 f" + (CAST(floor(_rhp_col / {p}) AS BIGINT) % {n})")
        digit_parts.append(f"chr(CAST(48 + ({digit}) AS INT))")
    cellid = f"concat({face_char}{''.join(', ' + d for d in digit_parts)})"
    steps.append((out, f"CASE WHEN _rhp_face >= 0 THEN {cellid} ELSE NULL END"))
    return steps


from ..dggs.config import AUTHALIC_RADIUS

#: extra derived columns available after the encode steps (planar meters and
#: the planar centroid of the assigned cell) — shared by kNN / PIP oracles.
def extra_steps(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG) -> list[tuple[str, str]]:
    w = (PI / 2) / cfg.n_side**res
    return [
        ("px_m", f"_rhp_px * {double_sql(AUTHALIC_RADIUS)}"),
        ("py_m", f"_rhp_py * {double_sql(AUTHALIC_RADIUS)}"),
        ("cx_m", f"(_rhp_ulx + (CAST(_rhp_col AS DOUBLE) + 0.5) * {double_sql(w)}) * {double_sql(AUTHALIC_RADIUS)}"),
        ("cy_m", f"(_rhp_uly - (CAST(_rhp_row AS DOUBLE) + 0.5) * {double_sql(w)}) * {double_sql(AUTHALIC_RADIUS)}"),
    ]


def duckdb_encode_select(source_sql: str, lon: str, lat: str, res: int,
                         keep: list[str],
                         cfg: RHEALPixConfig = DEFAULT_CONFIG,
                         out: str = "cellid",
                         with_planar: bool = False) -> str:
    """Nested-SELECT DuckDB query computing ``out`` plus ``keep`` columns from
    ``source_sql`` (a table name or parenthesized subquery).  With
    ``with_planar`` also exposes px_m/py_m (planar meters of the point) and
    cx_m/cy_m (planar centroid of the assigned cell)."""
    inner = f"SELECT * FROM {source_sql}"
    steps = encode_steps(lon, lat, res, cfg, out)
    if with_planar:
        steps = steps + extra_steps(res, cfg)
    for name, expr in steps:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    cols = ", ".join(keep + [out] + (["px_m", "py_m", "cx_m", "cy_m"] if with_planar else []))
    return f"SELECT {cols} FROM ({inner})"


def spark_encode(df, lon: str, lat: str, res: int,
                 cfg: RHEALPixConfig = DEFAULT_CONFIG,
                 out: str = "cellid",
                 with_planar: bool = False):
    """Spark DataFrame -> DataFrame with ``out`` cellid column, computed with
    built-in expressions only (whole-stage codegen, no Python).

    Each output leaves through a one-column ``unpivot``, whose Expand node
    re-emits it as a new attribute: a filter, an inferred ``isnotnull`` or
    a DPP/runtime-filter lineage walk on it stops above the Expand instead
    of copying the ~50k-node encoder projection (CLAUDE.md constraint 2),
    and column pruning still drops an output no caller reads.  The other
    columns cross the Expand as aliases, so two reads of one encoded
    frame plan alike and share an exchange; a filter on them also stops
    there, so filter source columns before encoding."""
    from pyspark.sql import functions as F

    steps = encode_steps(lon, lat, res, cfg, out)
    if with_planar:
        steps = steps + extra_steps(res, cfg)
    kept = [out] + (["px_m", "py_m", "cx_m", "cy_m"] if with_planar else [])
    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    df = df.drop(*[name for name, _ in steps if name not in kept])
    for c in kept:
        df = df.unpivot([F.col(x).alias(x) for x in df.columns if x != c],
                        [c], "_rhp_var", c).drop("_rhp_var")
    return df


def rowcol_cellid_sql(face_char: str, row: str, col: str, res: int,
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """Portable SQL building a cellid directly from integer (row, col) within
    a face at resolution ``res`` — the raster-decode digit path (no
    projection involved; reference rhpx_gdf_helper.py:85-118 analogue) and
    the lattice -> cell half of the one digit codec (spatial_stats
    neighbors and k-rings pass ``face_char`` from a 0..5 face column)."""
    n = cfg.n_side
    parts = [face_char]
    for k in range(1, res + 1):
        p = n ** (res - k)
        digit = (f"(CAST(floor(({row}) / {p}) AS BIGINT) % {n}) * {n}"
                 f" + (CAST(floor(({col}) / {p}) AS BIGINT) % {n})")
        parts.append(f"chr(CAST(48 + ({digit}) AS INT))")
    return f"concat({', '.join(parts)})"


def decode_rowcol_sql(cellid_col: str, res: int,
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> tuple[str, str]:
    """Portable SQL (row, col) decoded from the cellid digit string at
    ``res`` — inverse of rowcol_cellid_sql.  THE shared generator: the
    raster and lattice operators and their oracles must emit this exact
    text (CLAUDE.md rule 5 — identical snippets keep engines
    bit-identical).  Digits are read with ascii() - 48, which is total
    under ANSI mode: a malformed character gives an out-of-range value
    where a CAST of the substring would throw."""
    if res == 0:  # a base cell is the whole face: row = col = 0
        return "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)"
    n = cfg.n_side
    row_terms, col_terms = [], []
    for k in range(1, res + 1):
        p = n ** (res - k)
        d = f"(ascii(substring({cellid_col}, {k + 1}, 1)) - 48)"
        row_terms.append(f"CAST(floor({d} / {n}) AS BIGINT) * {p}")
        col_terms.append(f"({d} % {n}) * {p}")
    return " + ".join(row_terms), " + ".join(col_terms)


def cell_ul_meters_sql(cellid_col: str, res: int,
                       cfg: RHEALPixConfig = DEFAULT_CONFIG) -> tuple[str, str]:
    """Portable SQL for the upper-left corner (meters) of a cell decoded
    from its cellid: face upper-left + lattice offset.  Shared by the
    extent/centroid oracles and metrics.extent (identical text on both
    engines keeps float results bit-identical)."""
    from ..dggs.cells import _face_ul, HALF_SIDE

    w = HALF_SIDE / cfg.n_side**res
    row_dec, col_dec = decode_rowcol_sql(cellid_col, res, cfg)
    uls = _face_ul(cfg)
    face_idx = (f"CASE substring({cellid_col}, 1, 1) WHEN 'N' THEN 0 WHEN 'O' THEN 1"
                " WHEN 'P' THEN 2 WHEN 'Q' THEN 3 WHEN 'R' THEN 4 ELSE 5 END")
    ulx = " ".join(f"WHEN {i} THEN {double_sql(uls[i, 0])}" for i in range(6))
    uly = " ".join(f"WHEN {i} THEN {double_sql(uls[i, 1])}" for i in range(6))
    wl = double_sql(w)
    lx = f"CASE ({face_idx}) {ulx} END + ({col_dec}) * {wl}"
    ty = f"CASE ({face_idx}) {uly} END - ({row_dec}) * {wl}"
    return lx, ty


def duckdb_planar_encode_select(source_sql: str, pxm: str, pym: str,
                                res: int, keep: list[str],
                                cfg: RHEALPixConfig = DEFAULT_CONFIG,
                                out: str = "cellid") -> str:
    """Nested-SELECT DuckDB query encoding planar-METER coordinates to a
    cellid — meters / authalic radius -> planar radians, then the shared
    planar_suffix_steps tail (byte-identical digit text to the lon/lat
    path).  ``source_sql``: table name or parenthesized subquery."""
    inner = f"SELECT * FROM {source_sql}"
    steps = ([("_rhp_px", f"{pxm} / {double_sql(AUTHALIC_RADIUS)}"),
              ("_rhp_py", f"{pym} / {double_sql(AUTHALIC_RADIUS)}")]
             + planar_suffix_steps(res, cfg, out))
    for name, expr in steps:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    cols = ", ".join(keep + [out])
    return f"SELECT {cols} FROM ({inner})"
