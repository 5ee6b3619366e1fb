"""rHEALPix cell encoding as portable ANSI-SQL steps.

The steps are the one cell-assignment formula of ``dggs/projection.py``
(``forward_steps`` and ``planar_suffix_steps``), rendered as SQL text by
``dggs/expr.py``; the numpy kernel evaluates the same steps, so the
kernel, Spark and DuckDB assign every point the same cell.  Only the
cellid string tail (``chr``/``concat``) is SQL-only.  The text drives
two engines:

- **Spark**: ``spark_encode(df, ...)`` applies each step with
  ``withColumn(F.expr(...))`` — the whole encode stays inside whole-stage
  codegen (JVM, no Python workers).  This is the fast path used when a plain
  expression is allowed; the pandas-UDF path (functions/encode.py) is the
  north-rule-mandated Arrow path.
- **DuckDB**: ``duckdb_encode_select(...)`` folds the steps into nested
  SELECTs — the independent oracle for the driver's correctness gate.

The text uses only exact IEEE operations (``+ - * /``, ``sqrt``,
``floor``, ``abs``, ``least``/``greatest``, ``%``, ``CASE``, casts): no
math library, so both engines compute the same bits.  Float constants are
inlined through :func:`double_sql`, which both engines read as the same
DOUBLE; integer constants in integer contexts are integer literals
(CLAUDE.md constraint 8).  So Spark plans the encoder in DOUBLE and
BIGINT only, as DuckDB does.  Formula source: Calabretta & Roukema 2007 +
Gibb/Raichev/Speth 2013 (see dggs/projection.py).
"""

from __future__ import annotations

import math

from ..dggs import projection
from ..dggs.config import AUTHALIC_RADIUS, RHEALPixConfig, DEFAULT_CONFIG
from ..dggs.expr import double_sql, sql_steps

PI = math.pi


def encode_steps(lon: str, lat: str, res: int,
                 cfg: RHEALPixConfig = DEFAULT_CONFIG,
                 out: str = "cellid") -> list[tuple[str, str]]:
    """Ordered (column_name, sql_expression) steps computing ``out`` =
    rHEALPix cellid at resolution ``res`` from lon/lat degree columns.
    Intermediate columns are prefixed with ``_rhp_``."""
    return (sql_steps(projection.forward_steps(lon, lat, cfg))
            + planar_suffix_steps(res, cfg, out))


def planar_suffix_steps(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG,
                        out: str = "cellid") -> list[tuple[str, str]]:
    """The planar->cellid tail of encode_steps: given _rhp_px/_rhp_py
    (unfolded-cube planar RADIANS), derive face / lattice digits / the
    cellid string.  Factored out so planar sources — lattice centers from
    the rasterize snap, meter coordinates divided by the authalic radius —
    can encode without the lon/lat front half (segment_cells oracle)."""
    n = cfg.n_side
    steps = sql_steps(projection.planar_suffix_steps(res, cfg))
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
    of copying the encoder projection into a predicate, where every nested
    step is inlined (CLAUDE.md constraint 2: the optimized plan holds
    474-790 expression nodes at res 1-15, the fully inlined cellid
    expression 28-335 MB of text), and column pruning still drops an
    output no caller reads.  The other
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
    steps = (sql_steps(projection.planar_meter_steps(pxm, pym))
             + planar_suffix_steps(res, cfg, out))
    for name, expr in steps:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    cols = ", ".join(keep + [out])
    return f"SELECT {cols} FROM ({inner})"
