"""Driver-contract queries, batch 28 (round 6): spatial interpolation +
buffers.

- ``idw_interp``: inverse-distance-weighted surface estimation at query
  points from scattered observations (quantized-integer weights → run-
  stable, engine-exact estimates; block-lattice candidate pruning).
- ``buffer_cells``: the GIS buffer/service-area op as a cell set with
  coverage counts (center-inclusion semantics, (2K+1)² lattice
  candidates per point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries3 import load
from .registry import register

IDW_D_M = 1_000_000.0
IDW_RES = 2
_IDW_Q_PRED = "c_custkey % 29 = 0"


def q_idw_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.interp import idw_interp
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id")
    obs = (encode_sql.spark_encode(docs, "lon", "lat", IDW_RES,
                                   with_planar=True)
           .select(F.col("n_chars").alias("v"),
                   F.col("px_m").alias("px"), F.col("py_m").alias("py")))
    cust = synth.with_lonlat(load(spark, sf_dir, "customer"),
                             "c_custkey").filter(F.expr(_IDW_Q_PRED))
    qs = (encode_sql.spark_encode(cust, "lon", "lat", IDW_RES,
                                  with_planar=True)
          .select(F.col("c_custkey").alias("q_id"),
                  F.col("px_m").alias("qx"), F.col("py_m").alias("qy")))
    return idw_interp(obs, qs, IDW_D_M, IDW_RES)


def _oracle_idw_interp() -> str:
    from .functions import encode_sql
    from .operators.interp import idw_interp_sql
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id",
                                    ["doc_id", "n_chars"])
    enc = encode_sql.duckdb_encode_select(f"({src})", "lon", "lat",
                                          IDW_RES, ["n_chars"],
                                          with_planar=True)
    obs = f"SELECT n_chars AS v, px_m AS px, py_m AS py FROM ({enc})"
    qsrc = synth.duckdb_lonlat_select("customer", "c_custkey",
                                      ["c_custkey"])
    qenc = encode_sql.duckdb_encode_select(
        f"(SELECT * FROM ({qsrc}) WHERE {_IDW_Q_PRED})", "lon", "lat",
        IDW_RES, ["c_custkey"], with_planar=True)
    qs = (f"SELECT c_custkey AS q_id, px_m AS qx, py_m AS qy"
          f" FROM ({qenc})")
    return idw_interp_sql(obs, qs, IDW_D_M, IDW_RES)


register("idw_interp", q_idw_interp, _oracle_idw_interp())


# --------------------------------------------------------------------------
# q_buffer_cells — 200 km buffer around a deterministic document
# subsample (doc_id % 97 = 0), res 4 (K = 2 -> 25 candidates per point).
# --------------------------------------------------------------------------

BUF_D_M = 200_000.0
BUF_RES = 4
_BUF_PRED = "doc_id % 97 = 0"


def q_buffer_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import encode_sql
    from .operators.spatial_join import buffer_cells
    from .sources import synth

    docs = synth.with_lonlat(load(spark, sf_dir, "documents"), "doc_id") \
        .filter(F.expr(_BUF_PRED))
    pts = (encode_sql.spark_encode(docs, "lon", "lat", 1,
                                   with_planar=True)
           .select(F.col("px_m").alias("px"), F.col("py_m").alias("py")))
    return buffer_cells(pts, BUF_D_M, BUF_RES)


def _oracle_buffer_cells() -> str:
    from .functions import encode_sql
    from .operators.spatial_join import buffer_cells_ctes
    from .sources import synth

    src = synth.duckdb_lonlat_select("documents", "doc_id", ["doc_id"])
    enc = encode_sql.duckdb_encode_select(
        f"(SELECT * FROM ({src}) WHERE {_BUF_PRED})", "lon", "lat", 1,
        [], with_planar=True)
    pts = f"SELECT px_m AS px, py_m AS py FROM ({enc})"
    cells = encode_sql.duckdb_planar_encode_select("bcand", "cx", "cy",
                                                   BUF_RES, [])
    return f"""
    WITH {buffer_cells_ctes(pts, BUF_D_M, BUF_RES)}
    SELECT cellid, CAST(count(*) AS BIGINT) AS n_pts
    FROM ({cells}) WHERE cellid IS NOT NULL GROUP BY cellid
    """
    # NOT NULL mirrors the Spark side's isNotNull on the UDF encode:
    # candidate centers just outside the unfolded cube (face -1) must
    # not form a NULL group (caught by the sf1 gate, one seam point)


register("buffer_cells", q_buffer_cells, _oracle_buffer_cells())


# --------------------------------------------------------------------------
# q_asof_status — point-in-time lookup: every 7th event is a per-user
# status change; all other events pick up the status AS OF their own
# timestamp (inclusive at equal timestamps — the standard contract).
# The ORACLE uses DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
# implementation of the semantics, not a replay of the union+window
# construction — the strongest oracle shape in the repo.  Output is the
# per-user-bucket rollup (n_events, n_matched, sum_status_cents).
# --------------------------------------------------------------------------

ASOF_BUCKETS = 17


def q_asof_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join

    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id", "value",
                  F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                  .alias("tms")))
    ch = (ev.filter("event_id % 7 = 0")
          .withColumn("status_cents",
                      F.expr("CAST(round(value * 100) AS BIGINT)"))
          .groupBy("user_id", "tms")
          .agg(F.max("status_cents").alias("status_cents")))
    lt = ev.filter("event_id % 7 <> 0").select("user_id", "event_id",
                                               "tms")
    m = asof_join(lt, ch, "user_id", "tms", "tms", ["status_cents"])
    return (m.groupBy(F.expr(f"user_id % {ASOF_BUCKETS}")
                      .alias("user_bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.count("matched_t").alias("n_matched"),
                 F.sum(F.coalesce("status_cents", F.lit(0)))
                 .alias("sum_status")))


def _oracle_asof_status() -> str:
    return f"""
    WITH ch AS MATERIALIZED (
        SELECT user_id, tms, max(status_cents) AS status_cents FROM (
            SELECT user_id, epoch_ms(ts) AS tms,
                   CAST(round(value * 100) AS BIGINT) AS status_cents
            FROM events WHERE event_id % 7 = 0)
        GROUP BY user_id, tms),
    lt AS MATERIALIZED (
        SELECT user_id, event_id, epoch_ms(ts) AS tms
        FROM events WHERE event_id % 7 <> 0),
    m AS (
        SELECT l.user_id, r.tms AS matched_t, r.status_cents
        FROM lt l ASOF LEFT JOIN ch r
          ON l.user_id = r.user_id AND l.tms >= r.tms)
    SELECT user_id % {ASOF_BUCKETS} AS user_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(matched_t) AS BIGINT) AS n_matched,
           CAST(sum(coalesce(status_cents, 0)) AS BIGINT) AS sum_status
    FROM m GROUP BY 1
    """


register("asof_status", q_asof_status, _oracle_asof_status())


# --------------------------------------------------------------------------
# q_range_events — interval join: every 11th event anchors a 30-minute
# per-user session window; all events of the same user landing inside a
# window are attributed to it (bucketized equi-join, 5-minute buckets ->
# 7 buckets per interval).  ORACLE = a plain inequality join (DuckDB's
# IEJoin path) — an independent implementation, like asof_status.
# --------------------------------------------------------------------------

RJ_GRAN = 300_000           # 5-minute buckets (ms)
RJ_SPAN = 1_800_000         # 30-minute windows
RJ_BUCKETS = 13


def q_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import range_join

    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.expr("unix_millis(CAST(ts AS TIMESTAMP))")
                  .alias("tms")))
    iv = (ev.filter("event_id % 11 = 0")
          .select(F.col("event_id").alias("sess_id"), "user_id",
                  F.col("tms").alias("t_start"),
                  (F.col("tms") + RJ_SPAN).alias("t_end")))
    pts = ev.select("user_id", F.col("event_id").alias("pt_id"), "tms")
    hits = range_join(pts, iv, "tms", "t_start", "t_end", RJ_GRAN,
                      key="user_id")
    return (hits.groupBy(F.expr(f"sess_id % {RJ_BUCKETS}")
                         .alias("sess_bucket"))
            .agg(F.count("*").alias("n_hits"),
                 F.countDistinct("sess_id").alias("n_sessions"),
                 F.countDistinct("pt_id").alias("n_events")))


def _oracle_range_events() -> str:
    return f"""
    WITH ev AS MATERIALIZED (
        SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events),
    iv AS MATERIALIZED (
        SELECT event_id AS sess_id, user_id, tms AS t_start,
               tms + {RJ_SPAN} AS t_end
        FROM ev WHERE event_id % 11 = 0),
    hits AS (
        SELECT i.sess_id, p.event_id AS pt_id
        FROM ev p JOIN iv i
          ON p.user_id = i.user_id
         AND p.tms >= i.t_start AND p.tms <= i.t_end)
    SELECT sess_id % {RJ_BUCKETS} AS sess_bucket,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT sess_id) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT pt_id) AS BIGINT) AS n_events
    FROM hits GROUP BY 1
    """


register("range_events", q_range_events, _oracle_range_events())
