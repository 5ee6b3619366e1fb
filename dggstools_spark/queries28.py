"""Driver-contract queries, batch 32 (round 6): lattice hydrology +
terrain + point-pattern statistics.

- ``watershed``: D8 steepest-descent flow over a deterministic elevation
  surface + drainage-basin labeling via pointer doubling (O(log L)
  rounds; operators/hydro.py) — basins ranked by cell count.
- ``slope_aspect``: Horn 3×3 gradient of the same surface — exact BIGINT
  gx/gy, integer-exact 8-way aspect octant, slope in ppm, seam flag.
- ``ripley_k``: Ripley's K point-pattern statistic by queen-graph rings
  (cross-face kring relation), exact ordered-pair counts in
  DECIMAL(38,0)/HUGEINT (operators/pointpat.py).

All three run over cell tables produced by the expression-encode path
(a groupBy/distinct of the encoded cellid).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import encode_sql
from .queries3 import load
from .registry import register
from .sources import synth

WS_RES = 3
#: doubling rounds: 2^d must cover the longest flow path, which the
#: strictly-positive integer drops bound by the elevation range
WS_DOUBLINGS = None  # set below from elev_range
WS_K = 30
RK_RES = 2
RK_KMAX = 3


def _terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupied res-3 cells of the document corpus with the shared
    deterministic elevation surface (hydro.elev_*), computed after the
    distinct so the md5 noise runs once per cell."""
    from .operators.hydro import elev_spark

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = (encode_sql.spark_encode(docs, "lon", "lat", WS_RES)
             .select("cellid").distinct())
    return cells.withColumn("z", F.expr(elev_spark(WS_RES)))


def _terrain_sql() -> str:
    from .operators.hydro import elev_duckdb

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          WS_RES, ["doc_id"])
    return (f"SELECT cellid, {elev_duckdb(WS_RES)} AS z"
            f" FROM (SELECT DISTINCT cellid FROM ({enc}))")


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.hydro import elev_range, watershed

    d = max(1, math.ceil(math.log2(elev_range(WS_RES) + 1)))
    basins = (watershed(_terrain(spark, sf_dir), WS_RES, d)
              .groupBy("pit")
              .agg(F.count("*").alias("n_cells")))
    rw = Window.orderBy(F.desc("n_cells"), F.asc("pit"))
    return (basins.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= WS_K)
            .select("pit", "n_cells", "rank"))


def _oracle_watershed() -> str:
    from .operators.hydro import elev_range, watershed_ctes

    d = max(1, math.ceil(math.log2(elev_range(WS_RES) + 1)))
    return f"""
    WITH {watershed_ctes(_terrain_sql(), WS_RES, d)},
    _b AS (SELECT pit, CAST(count(*) AS BIGINT) AS n_cells
           FROM wshed GROUP BY pit)
    SELECT pit, n_cells, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_cells DESC, pit) AS rank FROM _b)
    WHERE rank <= {WS_K}
    """


register("watershed", q_watershed, _oracle_watershed())


def q_slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hydro import slope_aspect

    return slope_aspect(_terrain(spark, sf_dir), WS_RES)


def _oracle_slope_aspect() -> str:
    from .operators.hydro import slope_aspect_sql

    return slope_aspect_sql(_terrain_sql(), WS_RES)


register("slope_aspect", q_slope_aspect, _oracle_slope_aspect())


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pointpat import ripley_k

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    cells = (encode_sql.spark_encode(docs, "lon", "lat", RK_RES)
             .groupBy("cellid")
             .agg(F.count("*").alias("n"))
             # dedup: 3 consumers (the k-ring seeds and two count
             # join-backs).  A/B at sf0.1, local[4]: with the cut 2.90 s
             # against 3.32 s without (median of 3 alternating pairs, the
             # cut faster in 3 of 3; 2 of 3 in a first set that overlapped
             # another job)
             .localCheckpoint(eager=True))
    return ripley_k(cells, RK_RES, RK_KMAX)


def _oracle_ripley_k() -> str:
    from .operators.pointpat import ripley_k_sql

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          RK_RES, ["doc_id"])
    cnt = (f"SELECT cellid, CAST(count(*) AS BIGINT) AS n"
           f" FROM ({enc}) GROUP BY cellid")
    return ripley_k_sql(cnt, RK_RES, RK_KMAX)


register("ripley_k", q_ripley_k, _oracle_ripley_k())
