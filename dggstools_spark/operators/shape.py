"""Region shape metrics: area, rook perimeter, and square-normalized
isoperimetric compactness of labeled cell regions.

Given a (cellid, region) labeling (e.g. region_group's connected
components), compute per region in EXACT integers:

    area      = number of cells
    perimeter = Σ_cells (4 − #same-region ROOK neighbors)
                (exposed 4-neighborhood edge count; the standard raster
                perimeter)
    iq_ppm    = 1e6 · 16 · area div perimeter²
                (normalized so a filled k×k square scores exactly 1e6;
                thin/ragged regions score lower — the Polsby-Popper
                idea with the square, not the circle, as the reference
                shape, which keeps the quotient RATIONAL and therefore
                engine-exact; the circle constant 4π would drag an
                irrational into a hashed column)

Perimeter contract: WITHIN-FACE rook adjacency — a region crossing a
face seam counts its seam edges as exposed (the interior-adjacency
planar contract of the focal family; region LABELS may still be
seam-glued upstream by a cross-face CC).  Documented, deterministic.

Scale shape (100 TB): cells ≪ points; one lattice decode + one 4×
offset explode + one hash self-join + two aggregates.  No UDFs, no
corpus windows.

Reference parity: no counterpart (the reference has no shape
statistics); extends the region family (region_group / morph_close /
zonal_stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.encode_sql import decode_rowcol_sql
from .spatial_stats import face_sql, with_lattice

PPM = 1_000_000

_ROOK = [(-1, 0), (1, 0), (0, -1), (0, 1)]


def region_shape(labeled: DataFrame, res: int) -> DataFrame:
    """(region, n_cells, perimeter, iq_ppm) over a (cellid, region)
    table — see module docstring."""
    lat = with_lattice(labeled.select("cellid", "region"), res)
    nbr = lat.select(F.col("face").alias("_f"),
                     F.col("row").alias("_r"),
                     F.col("col").alias("_c"),
                     F.col("region").alias("_nreg"))
    offs = ", ".join(f"struct({dr} AS dr, {dc} AS dc)"
                     for dr, dc in _ROOK)
    ex = (lat.select("cellid", "region", "face", "row", "col",
                     F.expr(f"explode(array({offs}))").alias("o"))
          .withColumn("_f", F.col("face"))
          .withColumn("_r", F.expr("row + o.dr"))
          .withColumn("_c", F.expr("col + o.dc"))
          .join(nbr, ["_f", "_r", "_c"], "left"))
    per_cell = (ex.groupBy("cellid", "region")
                .agg(F.sum(F.expr(
                    "CAST(coalesce(_nreg = region, FALSE) AS INT)"))
                    .alias("_same")))
    return (per_cell.groupBy("region")
            .agg(F.count("*").alias("n_cells"),
                 F.sum(F.expr("4 - _same")).alias("perimeter"))
            .select("region",
                    F.col("n_cells").cast("bigint").alias("n_cells"),
                    F.col("perimeter").cast("bigint").alias("perimeter"),
                    F.expr(f"CAST((16 * n_cells * {PPM})"
                           f" div (perimeter * perimeter) AS BIGINT)")
                    .alias("iq_ppm")))


def region_shape_sql(labeled_sql: str, res: int) -> str:
    """DuckDB twin of :func:`region_shape` over ``labeled_sql`` →
    (cellid, region)."""
    row_sql, col_sql = decode_rowcol_sql("cellid", res)
    offs = " UNION ALL ".join(f"SELECT {dr} AS dr, {dc} AS dc"
                              for dr, dc in _ROOK)
    return f"""
    WITH _lab AS MATERIALIZED ({labeled_sql}),
    _lat AS MATERIALIZED (
        SELECT cellid, region,
               CAST({face_sql()} AS INT) AS face,
               CAST({row_sql} AS BIGINT) AS row,
               CAST({col_sql} AS BIGINT) AS col
        FROM _lab),
    _pc AS MATERIALIZED (
        SELECT l.cellid, l.region,
               CAST(sum(CAST(coalesce(n.region = l.region, FALSE)
                             AS INT)) AS BIGINT) AS _same
        FROM _lat l
        CROSS JOIN ({offs}) o
        LEFT JOIN _lat n ON n.face = l.face
                        AND n.row = l.row + o.dr
                        AND n.col = l.col + o.dc
        GROUP BY l.cellid, l.region)
    SELECT region, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(4 - _same) AS BIGINT) AS perimeter,
           CAST((16 * count(*) * {PPM})
                // (sum(4 - _same) * sum(4 - _same)) AS BIGINT)
               AS iq_ppm
    FROM _pc GROUP BY region
    """
