"""Arrow-batched pandas UDFs wrapping the numpy DGGS kernel.

This is the north-rule-mandated path ("batched H3/S2-style cell encoding via
pandas/Arrow UDFs, no per-row Python"): each UDF receives pandas Series
backed by Arrow batches and calls the vectorized kernel once per batch.
The kernel evaluates the same step list (dggs/projection.py) that the
expression path (encode_sql.spark_encode) renders as SQL, so the two give
identical cellids, cell edges included; tests/test_spark_paths.py checks
them against each other and against DuckDB."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..dggs import cells
from ..dggs import projection
from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG


def cellid_from_lonlat_udf(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """pandas UDF: (lon deg, lat deg) -> cellid string at ``res``."""
    @F.pandas_udf(StringType())
    def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = cells.lonlat_to_cellid(lon.to_numpy(), lat.to_numpy(), res, cfg)
        return pd.Series(out)

    return _encode


def cellid_from_planar_udf(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """pandas UDF: planar (x, y) meters -> cellid string at ``res``."""
    @F.pandas_udf(StringType())
    def _encode(x: pd.Series, y: pd.Series) -> pd.Series:
        out = cells.planar_to_cellid(x.to_numpy(), y.to_numpy(), res, cfg)
        return pd.Series(out)

    return _encode


_XY_SCHEMA = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
_LL_SCHEMA = StructType([StructField("lon", DoubleType()), StructField("lat", DoubleType())])


def planar_from_lonlat_udf(cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """pandas UDF: (lon, lat) degrees -> struct(x, y) planar meters."""
    @F.pandas_udf(_XY_SCHEMA)
    def _fwd(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = projection.forward(lon.to_numpy(), lat.to_numpy(),
                                  cfg.north_square, cfg.south_square)
        return pd.DataFrame({"x": x, "y": y})

    return _fwd


def cell_centroid_udf(cfg: RHEALPixConfig = DEFAULT_CONFIG, geodetic: bool = False):
    """pandas UDF: cellid -> struct(x, y) planar centroid meters (or lon/lat).

    Batches may mix resolutions; the kernel requires one resolution per call,
    so the UDF groups by cellid length inside the batch (still vectorized)."""
    import numpy as np
    schema = _LL_SCHEMA if geodetic else _XY_SCHEMA

    @F.pandas_udf(schema)
    def _centroid(cellid: pd.Series) -> pd.DataFrame:
        vals = cellid.to_numpy(dtype=object)
        out_x = np.full(len(vals), np.nan)
        out_y = np.full(len(vals), np.nan)
        lengths = pd.Series([len(v) if v is not None else -1 for v in vals])
        for length in lengths.unique():
            if length <= 0:
                continue
            mask = (lengths == length).to_numpy()
            if geodetic:
                cx, cy = cells.cellid_to_lonlat_centroid(vals[mask], cfg)
            else:
                cx, cy = cells.cellid_to_planar_centroid(vals[mask], cfg)
            out_x[mask] = cx
            out_y[mask] = cy
        cols = ("lon", "lat") if geodetic else ("x", "y")
        return pd.DataFrame({cols[0]: out_x, cols[1]: out_y})

    return _centroid


def cellkey_from_lonlat_udf(res: int, cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """pandas UDF: (lon, lat) -> packed int64 cell key (-1 off-cube).

    The shuffle-friendly encoding: 8-byte fixed-width keys instead of UTF8
    strings (no Python string objects in the Arrow batch, ~2.5x lighter
    rows through exchanges and hash aggregates).  Convert to display form
    with dggs.cells.cellkey_to_cellid or tile_key_expr/cellkey arithmetic."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = cells.lonlat_to_cellkey(lon.to_numpy(), lat.to_numpy(), res, cfg)
        return pd.Series(out)

    return _encode


def tile_key_expr(cellkey_col: str, res: int, tile_res: int,
                  cfg: RHEALPixConfig = DEFAULT_CONFIG):
    """Column expression: packed key at ``res`` -> packed key at the coarser
    ``tile_res`` (pure integer arithmetic, codegen-friendly).

    The -1 off-cube sentinel passes through as -1 (gated, not remapped), and
    division is true integer ``div`` — no double-precision rounding, so the
    same res <= 15 bound as pack_cellkey applies (enforced)."""
    if not 0 <= tile_res <= res <= 15:
        raise ValueError("tile_key_expr requires 0 <= tile_res <= res <= 15")
    m = cfg.n_side**res
    mt = cfg.n_side**tile_res
    d = cfg.n_side ** (res - tile_res)
    c = F.col(cellkey_col)
    face = F.expr(f"{cellkey_col} div {m * m}")
    tile = (face * mt + F.expr(f"(({cellkey_col} div {m}) % {m}) div {d}")) * mt \
        + F.expr(f"({cellkey_col} % {m}) div {d}")
    return F.when(c >= 0, tile).otherwise(F.lit(-1).cast("long"))
