"""Driver-contract queries, batch 29 (round 6): categorical spatial
statistics + the cross-face k-ring.

- ``cell_diversity``: per-cell Gini-Simpson diversity of event classes
  (exact ppm integers — Shannon's log is not engine-portable, GS is
  rational; operators/diversity.py).
- ``kring_xface``: queen-graph k-ring (radius 2) with exact ring index,
  CLOSED across cube-face seams via the kernel-derived gluing — the H3
  ``grid_disk`` surface on rHEALPix (TODO_r7 #3; radius 1 was r6's
  cell_nbrs).
- ``join_counts``: Cliff-Ord join-count spatial autocorrelation over a
  mode-labeled cell table, cross-face queen adjacency, exact
  random-labeling expectation in ppm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register

CD_RES = 3
KR_RES = 2
KR_K = 2
_KR_SEED_PRED = "doc_id % 17 = 0"
JC_RES = 2


def q_cell_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.diversity import class_diversity
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    obs = (encode_sql.spark_encode(ev, "lon", "lat", CD_RES)
           .select("cellid", "event_type"))
    return class_diversity(obs, "cellid", "event_type")


def _oracle_cell_diversity() -> str:
    from .functions import encode_sql
    from .operators.diversity import class_diversity_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "event_type"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          CD_RES, ["event_type"])
    return class_diversity_sql(f"({enc})", "cellid", "event_type")


register("cell_diversity", q_cell_diversity, _oracle_cell_diversity())


def q_kring_xface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_stats import kring_cells
    from .sources import synth

    docs = synth.with_lonlat(
        load(spark, sf_dir, "documents").filter(F.expr(_KR_SEED_PRED)),
        "doc_id")
    seeds = (encode_sql.spark_encode(docs, "lon", "lat", KR_RES)
             .select("cellid").distinct())
    return kring_cells(seeds, KR_RES, KR_K)


def _oracle_kring_xface() -> str:
    from .functions import encode_sql
    from .operators.spatial_stats import kring_cells_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select(
        f"(SELECT * FROM documents WHERE {_KR_SEED_PRED})",
        "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          KR_RES, [])
    return kring_cells_sql(f"(SELECT cellid FROM ({enc}))", KR_RES, KR_K)


register("kring_xface", q_kring_xface, _oracle_kring_xface())


# mode labeling shared shape: per (cellid, event_type) counts, label =
# class with the max count, ties -> lexicographically smallest class
# (the cluster_keep argmax idiom — integer counts, engine-exact ties)

def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.diversity import join_counts
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    per = (encode_sql.spark_encode(ev, "lon", "lat", JC_RES)
           .groupBy("cellid", "event_type")
           .agg(F.count("*").alias("_n")))
    lab = (per.groupBy("cellid")
           .agg(F.min(F.struct((-F.col("_n")).alias("nn"),
                               F.col("event_type").alias("c")))
                .getField("c").alias("cls")))
    return join_counts(lab, JC_RES, "cls")


def _oracle_join_counts() -> str:
    from .functions import encode_sql
    from .operators.diversity import join_counts_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "event_type"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          JC_RES, ["event_type"])
    lab = f"""(
        WITH _per AS MATERIALIZED (
            SELECT cellid, event_type, count(*) AS _n
            FROM ({enc}) GROUP BY cellid, event_type)
        SELECT cellid,
               min(event_type) FILTER (WHERE _n = _best) AS cls
        FROM (SELECT cellid, event_type, _n,
                     max(_n) OVER (PARTITION BY cellid) AS _best
              FROM _per)
        GROUP BY cellid)"""
    return join_counts_sql(lab, JC_RES, "cls")


register("join_counts", q_join_counts, _oracle_join_counts())
