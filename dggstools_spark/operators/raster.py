"""Raster <-> cell-table structural operators (SURVEY §2.7).

The distributed raster model is long-form: (tile, row, col, band values...)
— never a driver-side array.  A "tile" is a cell-prefix block, so tiles are
also the partitioning unit.  Mirrors the reference's semantic contract:

R4 tiles_to_cells  — raster decode: pixel -> cellid, nodata filter (F1)
R6 cells_to_tiles  — encode: cell -> (row, col) scatter, grouped per tile
R2 rescale         — parent-prefix rollup (downscale) / child explode (upscale)
R7 grid            — all cells of a bbox at a resolution, distributed range
R5 incremental update — idempotent MERGE-style upsert keyed by cellid
(reference rhpx_gdf_helper.py:41-147, 189-258, 261-335, 337-366)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG
from ..dggs.cells import HALF_SIDE
from ..functions.encode_sql import double_sql, rowcol_cellid_sql


def tiles_to_cells(tiles: DataFrame, res: int, face_col: str = "face",
                   row_col: str = "row", col_col: str = "col",
                   value_cols: list[str] | None = None,
                   nodata: float | None = None,
                   store_nodata: bool = False,
                   cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """R4: long-form raster (face, row, col, band values) -> cell table.

    The nodata filter keeps a pixel iff ANY band differs from nodata, unless
    store_nodata (reference rhpx_gdf_helper.py:88-91,232)."""
    if value_cols is None:  # [] means genuinely no value columns
        value_cols = [c for c in tiles.columns if c.startswith("band")]
    df = tiles.withColumn(
        "cellid", F.expr(rowcol_cellid_sql(face_col, row_col, col_col, res, cfg)))
    if nodata is not None and not store_nodata:
        from functools import reduce
        from operator import or_

        keep = reduce(or_, [F.col(c) != F.lit(nodata) for c in value_cols])
        df = df.filter(keep)
    return df


def cells_to_tiles(cells: DataFrame, cellid_col: str = "cellid",
                   value_cols: list[str] | None = None,
                   tile_prefix_len: int = 3,
                   res: int | None = None,
                   cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """R6: cell table -> long-form raster rows (tile, face, row, col, bands).

    row/col are decoded from the cellid digits with string arithmetic (pure
    expressions); the tile key is the cell prefix, so the output is already
    grouped for per-tile array assembly (assemble_tile_arrays).

    Pass ``res`` when the caller knows it (hot paths: extent, resample) —
    the fallback sniff runs an extra Spark job materializing the upstream
    plan just to read one cellid length."""
    if value_cols is None:  # [] means genuinely no value columns
        value_cols = [c for c in cells.columns if c.startswith("band")]
    if res is None:
        sample = cells.select(F.length(cellid_col).alias("l")).first()
        if sample is None:
            # empty input: fall through with a nominal res so the output
            # keeps the FULL schema (tile/face/row/col/cellid/values) —
            # a truncated schema breaks downstream selects and unions
            res = 1
        else:
            res = sample["l"] - 1
    from ..functions.encode_sql import decode_rowcol_sql

    row_sql, col_sql = decode_rowcol_sql(cellid_col, res, cfg)
    return cells.select(
        F.substring(cellid_col, 1, tile_prefix_len).alias("tile"),
        F.substring(cellid_col, 1, 1).alias("face"),
        F.expr(row_sql).alias("row"),
        F.expr(col_sql).alias("col"),
        cellid_col,
        *value_cols,
    )


def assemble_tile_arrays(tile_rows: DataFrame, res: int,
                         value_col: str = "band1",
                         tile_col: str = "tile",
                         cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Grouped-map pandas UDF scattering each tile's pixels into a dense 2-D
    array (array<array<double>>) — the distributed analogue of the
    reference's np.full + scatter loop (rhpx_gdf_helper.py:308-316).
    Pixels without a cell are NaN."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StringType, StructField, StructType)

    schema = StructType([
        StructField("tile", StringType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("data", ArrayType(ArrayType(DoubleType()))),
    ])

    n = cfg.n_side

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = pdf[tile_col].iloc[0]
        depth = res - (len(tile) - 1)
        side = n ** depth
        base_r = (pdf["row"].to_numpy() % side)
        base_c = (pdf["col"].to_numpy() % side)
        arr = np.full((side, side), np.nan, dtype=np.float64)
        arr[base_r, base_c] = pdf[value_col].to_numpy(dtype=np.float64)
        return pd.DataFrame({
            "tile": [tile], "height": [side], "width": [side],
            "data": [[list(r) for r in arr]],
        })

    return tile_rows.groupBy(tile_col).applyInPandas(build, schema)


def rescale_to_parent(cells: DataFrame, levels: int, agg: str = "avg",
                      cellid_col: str = "cellid",
                      value_cols: list[str] | None = None) -> DataFrame:
    """R2 downscale: roll cell values up ``levels`` resolutions.
    agg in {avg, first, min, max, mode}; 'first' = lowest digit child
    (nearest-neighbour analogue), 'mode' = majority class value."""
    if value_cols is None:  # [] means genuinely no value columns
        value_cols = [c for c in cells.columns if c.startswith("band")]
    parent = F.expr(f"substring({cellid_col}, 1, length({cellid_col}) - {levels})")
    if agg == "mode":
        counted = (cells.groupBy(parent.alias(cellid_col), *value_cols)
                   .agg(F.count("*").alias("_n")))
        from pyspark.sql.window import Window

        w = Window.partitionBy(cellid_col).orderBy(
            F.col("_n").desc(), *[F.col(c) for c in value_cols])
        return (counted.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1).drop("_n", "_rk"))
    if agg not in ("avg", "min", "max", "mode", "first"):
        raise ValueError(f"unknown agg {agg!r}")
    fns = {"avg": F.avg, "min": F.min, "max": F.max}
    if agg == "first":
        aggs = [F.min_by(c, F.col(cellid_col + "_child")).alias(c) for c in value_cols]
        return (cells.withColumn(cellid_col + "_child", F.col(cellid_col))
                .groupBy(parent.alias(cellid_col)).agg(*aggs))
    aggs = [fns[agg](c).alias(c) for c in value_cols]
    return cells.groupBy(parent.alias(cellid_col)).agg(*aggs)


def explode_to_children(cells: DataFrame, levels: int, n_side: int,
                        cellid_col: str = "cellid") -> DataFrame:
    """R2 upscale: replicate each cell's values onto all descendants
    ``levels`` resolutions finer (nearest-neighbour upsampling)."""
    df = cells
    k = n_side * n_side
    for _ in range(levels):
        df = df.withColumn(
            cellid_col,
            F.explode(F.expr(
                f"transform(sequence(0, {k - 1}), d -> concat({cellid_col}, CAST(d AS STRING)))")),
        )
    return df


def grid(spark: SparkSession, res: int, faces: str = "NOPQRS",
         cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """R7: every cell of ``res`` on the chosen faces, fully distributed
    (spark.range over the row-major index; no driver-side enumeration)."""
    n_cells = cfg.n_side**res
    per_face = n_cells * n_cells
    dfs = []
    for f in faces:
        d = (
            spark.range(0, per_face)
            .select(
                F.lit(f).alias("face"),
                (F.col("id") / n_cells).cast("bigint").alias("row"),
                (F.col("id") % n_cells).alias("col"),
            )
            .withColumn("cellid", F.expr(rowcol_cellid_sql("face", "row", "col", res, cfg)))
        )
        dfs.append(d)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    # planar centroid by lattice arithmetic (expression-only)
    w = double_sql(HALF_SIDE / n_cells)
    from ..dggs.cells import _face_ul

    uls = _face_ul(cfg)
    face_idx = "CASE face WHEN 'N' THEN 0 WHEN 'O' THEN 1 WHEN 'P' THEN 2 WHEN 'Q' THEN 3 WHEN 'R' THEN 4 ELSE 5 END"
    ulx = " ".join([f"WHEN {i} THEN {double_sql(uls[i, 0])}" for i in range(6)])
    uly = " ".join([f"WHEN {i} THEN {double_sql(uls[i, 1])}" for i in range(6)])
    return (
        out.withColumn("x", F.expr(f"CASE ({face_idx}) {ulx} END + (CAST(col AS DOUBLE) + 0.5) * {w}"))
        .withColumn("y", F.expr(f"CASE ({face_idx}) {uly} END - (CAST(row AS DOUBLE) + 0.5) * {w}"))
    )


def merge_cells(existing: DataFrame, updates: DataFrame,
                cellid_col: str = "cellid") -> DataFrame:
    """R5 incremental update: updates win on key collision (MERGE INTO
    semantics without a table format; with Iceberg this is a true MERGE).
    Both sides must share the schema."""
    return updates.unionByName(
        existing.join(updates.select(cellid_col), cellid_col, "left_anti")
    )


def change_matrix(a: DataFrame, b: DataFrame, res: int,
                  class_col: str = "band1", cellid_col: str = "cellid",
                  cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Land-cover change matrix between two epochs of a classed cell
    raster: FULL OUTER join on the cell key, transition cross-tab
    (class_from, class_to, n_cells, area_km2) with −1 standing for
    "absent in that epoch" (appeared / disappeared rows), area under the
    ÷1.178 convention (class_cell_areas).  The remote-sensing change-
    detection op as pure relational algebra.

    Scale design (100 TB): one cellid-keyed full-outer join (both sides
    shuffle on the natural key — a prefix-bucketed cell store co-locates
    it) + one tiny (classes²) hash aggregate; the same deliberate-SMJ
    family as corpus_diff (neither epoch is broadcastable by
    assumption).  Cells must be unique per epoch (cell-table contract)."""
    ja = a.select(F.col(cellid_col).alias("_cid"),
                  F.col(class_col).alias("_ca"))
    jb = b.select(F.col(cellid_col).alias("_cid"),
                  F.col(class_col).alias("_cb"))
    area = cfg.cell_area(res)
    return (ja.join(jb, "_cid", "full_outer")
            .groupBy(F.coalesce(F.col("_ca"), F.lit(-1)).cast("bigint")
                     .alias("class_from"),
                     F.coalesce(F.col("_cb"), F.lit(-1)).cast("bigint")
                     .alias("class_to"))
            .agg(F.count("*").alias("n_cells"),
                 F.round(F.count("*") * F.lit(area) / 1e6)
                 .cast("bigint").alias("area_km2")))


def change_matrix_sql(a_sql: str, b_sql: str, res: int,
                      class_col: str = "band1",
                      cellid_col: str = "cellid",
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """DuckDB twin of :func:`change_matrix` (same −1 absent code, same
    area constant)."""
    area = cfg.cell_area(res)
    return f"""
    WITH _ea AS MATERIALIZED (
        SELECT {cellid_col} AS _cid, {class_col} AS _ca FROM ({a_sql})),
    _eb AS MATERIALIZED (
        SELECT {cellid_col} AS _cid, {class_col} AS _cb FROM ({b_sql}))
    SELECT CAST(coalesce(_ca, -1) AS BIGINT) AS class_from,
           CAST(coalesce(_cb, -1) AS BIGINT) AS class_to,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(round(count(*) * {area!r} / 1e6) AS BIGINT) AS area_km2
    FROM _ea FULL OUTER JOIN _eb USING (_cid)
    GROUP BY 1, 2
    """
