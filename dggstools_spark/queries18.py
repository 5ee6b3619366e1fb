"""Driver-contract queries, batch 19 (round 5): classic GIS analytics —

- tile_pyramid: multi-resolution count pyramid (res 3/4/5 in ONE pass:
  explode the prefix levels, one hash agg — the tile-server rollup);
- bbox_cells: the canonical DGGS range query — prefix prune (partition/
  row-group-skippable ``startswith``) then exact lattice (row, col)
  range between two corner cellids;
- zonal_stats: per-polygon aggregate of a point attribute (the GIS
  "zonal statistics" op): rasterize polygons → hash equi-join on cellid
  → per-zone n/sum/mean in exact ppm.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import encode_sql
from .queries3 import CELL_RES, load
from .queries16 import _cells, _cells_sql
from .registry import register
from .sources import synth


# --------------------------------------------------------------------------
# q_tile_pyramid
# --------------------------------------------------------------------------

PYR_LEVELS = (3, 4, 5)


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    enc = encode_sql.spark_encode(docs, "lon", "lat", CELL_RES)
    levels = ", ".join(str(r) for r in PYR_LEVELS)
    return (enc
            .select(F.explode(F.expr(f"array({levels})")).alias("res"),
                    "cellid")
            .select("res",
                    F.expr("substring(cellid, 1, res + 1)").alias("tile"))
            .groupBy("res", "tile")
            .agg(F.count("*").alias("n_docs")))


def _oracle_tile_pyramid() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          CELL_RES, ["doc_id"])
    levels = " UNION ALL ".join(f"SELECT {r} AS res" for r in PYR_LEVELS)
    return f"""
    WITH enc AS MATERIALIZED ({enc}), lv AS ({levels})
    SELECT CAST(lv.res AS INT) AS res,
           substring(cellid, 1, lv.res + 1) AS tile,
           count(*) AS n_docs
    FROM enc, lv GROUP BY 1, 2
    """


register("tile_pyramid", q_tile_pyramid, _oracle_tile_pyramid())


# --------------------------------------------------------------------------
# q_bbox_cells — corners pinned from the numpy kernel at two fixed lon/lat
# points (same face Q), shared verbatim by query and oracle.
# --------------------------------------------------------------------------

from .dggs.cells import lonlat_to_cellid  # noqa: E402

#: NW-ish and SE-ish points on face Q — the box spans rows ~4-183 /
#: cols ~5-118, covering a meaningful slab of the synthetic distribution
_CORNER_A = str(lonlat_to_cellid(np.array([2.0]), np.array([40.0]),
                                 CELL_RES)[0])
_CORNER_B = str(lonlat_to_cellid(np.array([44.0]), np.array([-20.0]),
                                 CELL_RES)[0])


def q_bbox_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import bbox_cells

    return bbox_cells(_cells(spark, sf_dir), CELL_RES, _CORNER_A, _CORNER_B)


def _oracle_bbox_cells() -> str:
    from .operators.spatial_stats import bbox_cells_sql

    return bbox_cells_sql(_cells_sql(), CELL_RES, _CORNER_A, _CORNER_B)


register("bbox_cells", q_bbox_cells, _oracle_bbox_cells())


# --------------------------------------------------------------------------
# q_zonal_stats — per-polygon n/sum/mean of the doc n_chars attribute
# (pip machinery from queries2, attribute carried through the join).
# --------------------------------------------------------------------------


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import spatial_join
    from .queries2 import PIP_RES, _spark_polygons

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    polys = _spark_polygons(spark, sf_dir)
    joined = spatial_join.pip_join(docs, polys, PIP_RES)
    return (joined.groupBy("poly_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .withColumn("mean_chars_ppm",
                        F.expr("(sum_chars * 1000000) div n_docs")))


def _oracle_zonal_stats() -> str:
    from .queries2 import PIP_RES, _poly_vertex_sql

    src = synth.duckdb_lonlat_select("documents", "doc_id",
                                     ["doc_id", "n_chars"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", PIP_RES,
                                          ["doc_id", "n_chars"],
                                          with_planar=True)
    cx, cy, rad = _poly_vertex_sql("r_regionkey")
    edges = " UNION ALL ".join([
        f"SELECT r_regionkey AS poly_id, {cx} + {rad} AS x1, {cy} AS y1,"
        f" {cx} AS x2, {cy} + {rad} AS y2 FROM region",
        f"SELECT r_regionkey, {cx}, {cy} + {rad}, {cx} - {rad}, {cy}"
        f" FROM region",
        f"SELECT r_regionkey, {cx} - {rad}, {cy}, {cx}, {cy} - {rad}"
        f" FROM region",
        f"SELECT r_regionkey, {cx}, {cy} - {rad}, {cx} + {rad}, {cy}"
        f" FROM region",
    ])
    return f"""
    WITH pts AS ({enc}), edges AS ({edges}),
    crossings AS (
      SELECT p.doc_id, p.n_chars, e.poly_id
      FROM pts p JOIN edges e
        ON ((e.y1 > p.cy_m) != (e.y2 > p.cy_m))
       AND (p.cx_m < (e.x2 - e.x1) * (p.cy_m - e.y1) / (e.y2 - e.y1) + e.x1)),
    inside AS (
      SELECT doc_id, max(n_chars) AS n_chars, poly_id FROM crossings
      GROUP BY doc_id, poly_id HAVING count(*) % 2 = 1)
    SELECT poly_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST((CAST(sum(n_chars) AS BIGINT) * 1000000) // count(*)
                AS BIGINT) AS mean_chars_ppm
    FROM inside GROUP BY poly_id
    """


register("zonal_stats", q_zonal_stats, _oracle_zonal_stats())
