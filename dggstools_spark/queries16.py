"""Driver-contract queries, batch 16 (round 5): grid-native spatial
statistics — the analytics layer the DGGS cell keying exists for.

- focal_mean: 3×3 queen-window smoothing of per-cell doc counts (the
  same-resolution sibling of the rescale parent rollup), exact ppm;
- morans_i: global spatial autocorrelation of the cell-count surface
  under queen weights, floor-mean centered, exact integer arithmetic in
  DECIMAL(38,0)/HUGEINT.

Both run on the cell table produced by the expression-encode path (a
groupBy of the encoded cellid; the oracle MATERIALIZEs the encode per
constraint 7), and both reduce neighborhood topology to one offset
explode + one hash equi-join on (face, row, col).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import encode_sql
from .queries3 import CELL_RES, load
from .registry import register
from .sources import synth


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    return (encode_sql.spark_encode(docs, "lon", "lat", CELL_RES)
            .groupBy("cellid")
            .agg(F.count("*").alias("v")))


def _cells_sql() -> str:
    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          CELL_RES, ["doc_id"])
    return f"SELECT cellid, count(*) AS v FROM ({enc}) GROUP BY cellid"


def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import focal_mean

    return focal_mean(_cells(spark, sf_dir), CELL_RES)


def _oracle_focal_mean() -> str:
    from .operators.spatial_stats import focal_mean_sql

    return focal_mean_sql(_cells_sql(), CELL_RES)


register("focal_mean", q_focal_mean, _oracle_focal_mean())


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import morans_i

    return morans_i(_cells(spark, sf_dir), CELL_RES)


def _oracle_morans_i() -> str:
    from .operators.spatial_stats import morans_i_sql

    return morans_i_sql(_cells_sql(), CELL_RES)


register("morans_i", q_morans_i, _oracle_morans_i())


# --------------------------------------------------------------------------
# Cross-face seam closure (round 6): the same surface statistics with the
# queen neighborhood closed ACROSS face seams via the kernel-derived cube
# gluing (operators/spatial_stats seam-closure block; dggs/topology).  Run
# at XF_RES (coarser prefix rollup of the CELL_RES table) so the corpus
# populates cells on BOTH sides of multiple seams — at this res the sphere
# has 6*9^2 = 486 cells and every face boundary is exercised.
# --------------------------------------------------------------------------

XF_RES = 2


def _cells_xf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_cells(spark, sf_dir)
            .groupBy(F.substring("cellid", 1, XF_RES + 1).alias("cellid"))
            .agg(F.sum("v").alias("v")))


def _cells_xf_sql() -> str:
    # CAST: DuckDB sum(BIGINT) is HUGEINT, which fetches to pandas as
    # float64 and breaks the value-hash repr vs Spark's bigint
    return (f"SELECT substring(cellid, 1, {XF_RES + 1}) AS cellid,"
            f" CAST(sum(v) AS BIGINT) AS v FROM ({_cells_sql()})"
            f" GROUP BY 1")


def q_focal_xface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import focal_mean

    # dedup: 2 consumers (both sides of the neighbor join).  A/B at sf0.1,
    # local[4]: with the cut 1.51 s against 1.72 s without (median of 3
    # alternating pairs, the cut faster in 3 of 3; 2 of 3 in a first set
    # that overlapped another job)
    cells = _cells_xf(spark, sf_dir).localCheckpoint(eager=True)
    return focal_mean(cells, XF_RES, cross_face=True)


def _oracle_focal_xface() -> str:
    from .operators.spatial_stats import focal_mean_sql

    return focal_mean_sql(_cells_xf_sql(), XF_RES, cross_face=True)


register("focal_xface", q_focal_xface, _oracle_focal_xface())


def q_morans_xface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import morans_i

    return morans_i(_cells_xf(spark, sf_dir), XF_RES, cross_face=True)


def _oracle_morans_xface() -> str:
    from .operators.spatial_stats import morans_i_sql

    return morans_i_sql(_cells_xf_sql(), XF_RES, cross_face=True)


register("morans_xface", q_morans_xface, _oracle_morans_xface())


HOT_XF_K = 25


def q_hotspots_xface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import hotspots

    return hotspots(_cells_xf(spark, sf_dir), XF_RES, HOT_XF_K,
                    cross_face=True)


def _oracle_hotspots_xface() -> str:
    from .operators.spatial_stats import hotspots_sql

    return hotspots_sql(_cells_xf_sql(), XF_RES, HOT_XF_K, cross_face=True)


register("hotspots_xface", q_hotspots_xface, _oracle_hotspots_xface())


def q_lisa_xface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_stats import local_moran

    return local_moran(_cells_xf(spark, sf_dir), XF_RES, HOT_XF_K,
                       cross_face=True)


def _oracle_lisa_xface() -> str:
    from .operators.spatial_stats import local_moran_sql

    return local_moran_sql(_cells_xf_sql(), XF_RES, HOT_XF_K,
                           cross_face=True)


register("lisa_xface", q_lisa_xface, _oracle_lisa_xface())
