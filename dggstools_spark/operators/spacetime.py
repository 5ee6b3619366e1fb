"""Space-time statistics: per-slice Getis-Ord surfaces and emerging-
hotspot classification (the ESRI "emerging hot spot analysis" shape,
re-derived in exact integer arithmetic).

``st_gi`` evaluates the hotspots ratio INDEPENDENTLY per time bucket:
the 3×3 queen focal sum within each day, against that day's own global
mean —

    ratio_ppm(c, t) = focal_sum(c,t) · N_t · 1e6
                      div (n_window(c,t) · Σv_t)

(> 1e6 ⇒ locally hotter than that day's average; per-day normalization
makes days with different global activity comparable — a cell that is
"hot" is hot RELATIVE to its day).  Exactly spatial_stats.hotspots'
integer formula with the day dimension added to every join key and to
the totals rollup.

``emerging_hotspots`` then classifies each cell by the TRAJECTORY of
its ratio series — Mann-Kendall S over (day, ratio_ppm) (trend.mk_stats
— rank-based, so a monotone intensification counts regardless of
magnitude) plus two exact-integer summary facts: how many of its
observed days it was hot, and whether it is hot on its LAST observed
day:

    new            last-day hot, never hot before
    intensifying   last-day hot, S > 0
    diminishing    last-day hot, S < 0
    persistent     last-day hot, S = 0
    historical     not hot now, was hot some earlier day
    never          never hot

All compares are integers (ratio_ppm vs the exact 1e6 threshold), so
the labels are engine-exact — no z-score doubles anywhere.

Scale design (100 TB): obs arrives as the post-aggregation (cell, day)
count table.  st_gi is one queen-slot explode (spatial_stats
._queen_explode, self included) + one (face,row,col,day) hash join +
one agg + a day-keyed totals join-back (days ≪ cells·days: AQE
broadcasts it); the MK stage adds the bounded per-key pair join
(buckets-per-cell ≤ calendar days).  Interior queen adjacency with the
focal family's on_seam flag semantics (seam cells aggregate fewer
neighbors and are flagged).

Reference parity: no counterpart (the reference has no time axis);
composes spatial_stats.hotspots × trend.mk_stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.encode_sql import decode_rowcol_sql
from .spatial_stats import _queen_explode, face_sql, seam_pred_sql, with_lattice

PPM = 1_000_000


def st_gi(obs: DataFrame, res: int) -> DataFrame:
    """(cellid, day, v, n_window, focal_sum, ratio_ppm, on_seam):
    per-day Getis-Ord ratio of a (cellid, day, v BIGINT) table — see
    module docstring.  Interior (within-face) queen windows."""
    lat = (with_lattice(obs.select("cellid", "day", "v"), res)
           .withColumn("on_seam",
                       F.expr(seam_pred_sql(res)).cast("int")))
    contrib = _queen_explode(lat.withColumnRenamed("v", "nv"), res,
                             False, True, "day", "nv")
    tot = obs.groupBy("day").agg(F.sum("v").alias("_tv"),
                                 F.count("*").alias("_tn"))
    return (lat.join(contrib, ["face", "row", "col", "day"])
            .groupBy("cellid", "day", "v", "on_seam")
            .agg(F.count("*").alias("n_window"),
                 F.sum("nv").alias("focal_sum"))
            .join(tot, "day")
            # DECIMAL(38,0) numerator (ADVICE r6): focal_sum * per-day
            # total * 1e6 can exceed BIGINT for large per-day cell
            # populations; div returns BIGINT, values/schema unchanged
            # in range (Spark side only — DuckDB twin text frozen)
            .withColumn("ratio_ppm", F.expr(
                f"(CAST(focal_sum AS DECIMAL(38,0)) * _tn * {PPM})"
                f" div (n_window * _tv)"))
            .select("cellid", "day", "v", "n_window", "focal_sum",
                    F.col("ratio_ppm").cast("bigint").alias("ratio_ppm"),
                    "on_seam"))


def emerging_hotspots(obs: DataFrame, res: int, k: int) -> DataFrame:
    """(cellid, n_days, hot_days, s, last_ratio_ppm, category, rank):
    top-``k`` cells by (hot_days desc, s desc, cellid) among cells with
    ≥ 3 observed days — see module docstring."""
    from pyspark.sql.window import Window

    from .trend import mk_stats

    # dedup: st_gi reads obs 3 times (lattice, neighbour contributions,
    # per-day totals); the lattice read carries inferred null filters the
    # other two lack, so it shares no exchange with them and the encoded
    # input under obs would be computed twice
    obs = obs.localCheckpoint(eager=True)
    # dedup: 2 consumers (mk_stats and the per-cell summary)
    gi = st_gi(obs, res).localCheckpoint(eager=True)
    mk = mk_stats(gi, "cellid", "day", "ratio_ppm")
    summ = (gi.groupBy("cellid")
            .agg(F.count("*").alias("n_days"),
                 F.sum(F.expr(f"CAST(ratio_ppm > {PPM} AS BIGINT)"))
                 .alias("hot_days"),
                 F.max(F.struct("day", "ratio_ppm")).alias("_last"))
            .withColumn("last_ratio_ppm", F.col("_last.ratio_ppm")))
    w = Window.orderBy(F.desc("hot_days"), F.desc("s"), F.asc("cellid"))
    return (summ.join(mk, "cellid")
            .filter(F.col("n_days") >= 3)
            .withColumn("category", F.expr(f"""CASE
                WHEN last_ratio_ppm > {PPM} AND hot_days = 1 THEN 'new'
                WHEN last_ratio_ppm > {PPM} AND s > 0
                    THEN 'intensifying'
                WHEN last_ratio_ppm > {PPM} AND s < 0 THEN 'diminishing'
                WHEN last_ratio_ppm > {PPM} THEN 'persistent'
                WHEN hot_days > 0 THEN 'historical'
                ELSE 'never' END"""))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("cellid",
                    F.col("n_days").cast("bigint").alias("n_days"),
                    F.col("hot_days").cast("bigint").alias("hot_days"),
                    "s", "last_ratio_ppm", "category", "rank"))


# --------------------------------------------------------------------------
# DuckDB twins
# --------------------------------------------------------------------------


def st_gi_ctes(obs_sql: str, res: int) -> str:
    """CTE chain ending in ``gi`` (cellid, day, v, n_window, focal_sum,
    ratio_ppm, on_seam) — the twin of :func:`st_gi` over ``obs_sql`` →
    (cellid, day, v)."""
    row_sql, col_sql = decode_rowcol_sql("cellid", res)
    offs = " UNION ALL ".join(
        f"SELECT {dr} AS dr, {dc} AS dc"
        for dr in (-1, 0, 1) for dc in (-1, 0, 1))
    return f"""_obs AS MATERIALIZED ({obs_sql}),
    _lat0 AS MATERIALIZED (
        SELECT cellid, day, v,
               CAST({face_sql()} AS INT) AS face,
               CAST({row_sql} AS BIGINT) AS row,
               CAST({col_sql} AS BIGINT) AS col
        FROM _obs),
    _lat AS MATERIALIZED (
        SELECT *, CAST({seam_pred_sql(res)} AS INT) AS on_seam
        FROM _lat0),
    _tot AS MATERIALIZED (
        SELECT day, CAST(sum(v) AS BIGINT) AS _tv,
               CAST(count(*) AS BIGINT) AS _tn
        FROM _obs GROUP BY day),
    gi AS MATERIALIZED (
        SELECT g.cellid, g.day, g.v, g.n_window, g.focal_sum,
               CAST((g.focal_sum * t._tn * {PPM})
                    // (g.n_window * t._tv) AS BIGINT) AS ratio_ppm,
               g.on_seam
        FROM (SELECT l.cellid, l.day, l.v, l.on_seam,
                     CAST(count(*) AS BIGINT) AS n_window,
                     CAST(sum(n.v) AS BIGINT) AS focal_sum
              FROM _lat l
              JOIN ({offs}) o ON TRUE
              JOIN _lat n ON n.face = l.face AND n.day = l.day
                         AND n.row = l.row + o.dr
                         AND n.col = l.col + o.dc
              GROUP BY l.cellid, l.day, l.v, l.on_seam) g
        JOIN _tot t USING (day))"""


def emerging_hotspots_sql(obs_sql: str, res: int, k: int) -> str:
    """DuckDB twin of :func:`emerging_hotspots`."""
    from .trend import mk_stats_ctes

    return f"""
    WITH {st_gi_ctes(obs_sql, res)},
    {mk_stats_ctes('gi', 'cellid', 'day', 'ratio_ppm')},
    _summ AS MATERIALIZED (
        SELECT cellid, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CAST(ratio_ppm > {PPM} AS BIGINT)) AS BIGINT)
                   AS hot_days,
               CAST(max_by(ratio_ppm, day) AS BIGINT) AS last_ratio_ppm
        FROM gi GROUP BY cellid),
    _cls AS (
        SELECT u.cellid, u.n_days, u.hot_days, m.s, u.last_ratio_ppm,
               CASE
                   WHEN u.last_ratio_ppm > {PPM} AND u.hot_days = 1
                       THEN 'new'
                   WHEN u.last_ratio_ppm > {PPM} AND m.s > 0
                       THEN 'intensifying'
                   WHEN u.last_ratio_ppm > {PPM} AND m.s < 0
                       THEN 'diminishing'
                   WHEN u.last_ratio_ppm > {PPM} THEN 'persistent'
                   WHEN u.hot_days > 0 THEN 'historical'
                   ELSE 'never' END AS category
        FROM _summ u JOIN mk m USING (cellid)
        WHERE u.n_days >= 3)
    SELECT cellid, n_days, hot_days, s, last_ratio_ppm, category,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY hot_days DESC, s DESC, cellid) AS rank
          FROM _cls)
    WHERE rank <= {k}
    """
