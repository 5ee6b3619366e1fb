"""Driver-contract queries, batch 25 (round 6): vector overlay, trip
profiles, descriptive spatial statistics.

- ``overlay_area``: polygon × polygon intersection cross-tab through the
  grid (rasterize both layers, count shared cells — the GIS overlay /
  intersect operation with areas exact to one cell).  Layer A is the
  band-safe region diamond fixture (queries3), layer B a second diamond
  family over nation with independent placement constants; the oracle
  replays BOTH full rasterizations via the parameterized diamond CTEs.
- ``user_trips``: per-entity movement profile (events, moves, distinct-
  cell footprint, revisit share) — trip_stats over the od_flows obs.
- ``mean_center``: per-class mean center + standard distance in exact
  integer meters (DECIMAL(38,0)/HUGEINT radicand).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dggs.config import DEFAULT_CONFIG
from .functions.encode_sql import double_sql
from .queries3 import _oracle_diamond_ctes, _safe_diamonds, load
from .queries21 import FLOWS_RES
from .registry import register


# --------------------------------------------------------------------------
# q_overlay_area — J2-derived vector overlay (layer A: region diamonds,
# layer B: nation diamonds).  B's placement constants keep |cy| + rad <=
# 0.45·s, inside the equatorial band like layer A (queries3 band-safety
# analysis), so every candidate cell is on-cube in both engines.
# --------------------------------------------------------------------------

OV_RES = 4


def _b_diamond_sql(key: str) -> "tuple[str, str, str]":
    from .dggs.cells import HALF_SIDE

    s = float(HALF_SIDE)
    cx = (f"({double_sql(-1.5 * s)} + ((CAST({key} AS BIGINT) * 4817) % 30011)"
          f" / 30011.0 * {double_sql(3.0 * s)})")
    cy = (f"({double_sql(-0.15 * s)} + ((CAST({key} AS BIGINT) * 2957) % 7001)"
          f" / 7001.0 * {double_sql(0.3 * s)})")
    rad = f"((0.08 + (CAST({key} AS BIGINT) % 4) * 0.06) * {double_sql(s)})"
    return cx, cy, rad


def _b_diamonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    cx, cy, rad = _b_diamond_sql("n_nationkey")
    return load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("b_id"),
        F.expr(
            f"array(named_struct('x', {cx} + {rad}, 'y', {cy}),"
            f" named_struct('x', {cx}, 'y', {cy} + {rad}),"
            f" named_struct('x', {cx} - {rad}, 'y', {cy}),"
            f" named_struct('x', {cx}, 'y', {cy} - {rad}))"
        ).alias("ring"),
    )


def q_overlay_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial_join import overlay_counts

    polys_a = _safe_diamonds(spark, sf_dir) \
        .withColumnRenamed("poly_id", "a_id")
    polys_b = _b_diamonds(spark, sf_dir)
    return overlay_counts(polys_a, polys_b, OV_RES)


def _oracle_overlay_area() -> str:
    area = DEFAULT_CONFIG.cell_area(OV_RES)
    a = _oracle_diamond_ctes(OV_RES, p="a")
    b = _oracle_diamond_ctes(OV_RES, table="nation", key="n_nationkey",
                             triple=_b_diamond_sql, p="b")
    return f"""
    WITH {a},
    {b}
    SELECT a.poly_id AS a_id, b.poly_id AS b_id,
           count(*) AS n_cells,
           CAST(round(count(*) * {area!r} / 1e6) AS BIGINT) AS area_km2
    FROM ainside a JOIN binside b ON a.px = b.px AND a.py = b.py
    GROUP BY 1, 2
    """


register("overlay_area", q_overlay_area, _oracle_overlay_area())


# --------------------------------------------------------------------------
# q_user_trips — per-user movement profile over the od_flows obs frame
# (same encode + total (ts, event_id) order).
# --------------------------------------------------------------------------

TRIPS_K = 40


def _flow_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .sources import synth

    ev = synth.with_lonlat(load(spark, sf_dir, "events"), "event_id")
    return (encode_sql.spark_encode(ev, "lon", "lat", FLOWS_RES)
            .select("cellid", "user_id", "event_id",
                    F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                    .alias("tms")))


def _flow_obs_sql() -> str:
    from .functions import encode_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("events", "event_id",
                                    ["event_id", "ts", "user_id"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          FLOWS_RES,
                                          ["event_id", "ts", "user_id"])
    return (f"SELECT cellid, user_id, event_id,"
            f" epoch_ms(ts) AS tms FROM ({enc})")


def q_user_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.flows import trip_stats

    return trip_stats(_flow_obs(spark, sf_dir), "user_id", "tms",
                      "event_id", "cellid", TRIPS_K)


def _oracle_user_trips() -> str:
    from .operators.flows import trip_stats_sql

    return trip_stats_sql(_flow_obs_sql(), "user_id", "tms", "event_id",
                          "cellid", TRIPS_K)


register("user_trips", q_user_trips, _oracle_user_trips())


# --------------------------------------------------------------------------
# q_mean_center — per-source mean center + standard distance over the
# documents' planar coordinates (encode with_planar exposes px_m/py_m
# from the identical expression text on both engines).
# --------------------------------------------------------------------------


def q_mean_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_stats import mean_center
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    pts = (encode_sql.spark_encode(docs, "lon", "lat", 1,
                                   with_planar=True)
           .select("source", "px_m", "py_m"))
    return mean_center(pts, "source", "px_m", "py_m")


def _oracle_mean_center() -> str:
    from .functions import encode_sql
    from .operators.spatial_stats import mean_center_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id",
                                    ["doc_id", "source"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat", 1,
                                          ["source"], with_planar=True)
    return mean_center_sql(enc, "source", "px_m", "py_m")


register("mean_center", q_mean_center, _oracle_mean_center())
