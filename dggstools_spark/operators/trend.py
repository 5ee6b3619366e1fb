"""Per-key integer OLS trend — the "emerging hotspot" time axis.

Given observations (key, t, y) with integer time buckets and integer
values, compute each key's least-squares slope EXACTLY:

    slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)

Numerator and denominator are exact BIGINT aggregates of integer inputs
(associative → run-stable under partial aggregation, bit-identical across
engines — CLAUDE.md constraint 13 family), reported alongside
slope_ppm = (num · 1e6) div den.  Positive slope = the key's activity is
GROWING across buckets; the top-k by (slope_ppm desc, key) is the
emerging-hotspot ranking (ESRI's "emerging hot spot analysis" reduces to
exactly this trend test over space-time bins, minus the Mann-Kendall
dressing).

Semantics note: the regression runs over OBSERVED buckets only — a
(key, t) bucket with zero events contributes no row, not a zero.  At
corpus scale observed-bucket trends are the useful default (absent
buckets are usually absent data, not zeros); for densified semantics use
:func:`trend_topk_dense`, which zero-fills every key over the global
bucket range in CLOSED FORM (no cells × days cross join).

Scale design (100 TB): one map-side-combining hash aggregate per
(key, t), one per key, one WindowGroupLimit top-k — no joins, no
explodes; the heavy reduction happens in the first partial aggregate.
Keys with a single observed bucket have den = 0 and are excluded (no
slope is defined).

Reference parity: no counterpart (the reference has no time axis);
extends the spatial-stats family (SURVEY §2 extension) with the
space-time dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPM = 1_000_000


def trend_topk(obs: DataFrame, key_col: str, t_col: str, y_col: str,
               k: int) -> DataFrame:
    """(key, n_buckets, total, slope_num, slope_den, slope_ppm, rank):
    top-``k`` keys by exact OLS slope (see module docstring).  ``t_col``
    and ``y_col`` must be integer columns."""
    from pyspark.sql.window import Window

    per_bucket = (obs.groupBy(key_col, t_col)
                  .agg(F.sum(y_col).alias("y")))
    per_key = (per_bucket.groupBy(key_col)
               .agg(F.count("*").alias("n_buckets"),
                    F.sum("y").alias("total"),
                    F.sum(t_col).alias("_st"),
                    F.sum(F.expr(f"{t_col} * y")).alias("_sty"),
                    F.sum(F.expr(f"{t_col} * {t_col}")).alias("_stt"))
               .withColumn("slope_num", F.expr(
                   "n_buckets * _sty - _st * total"))
               .withColumn("slope_den", F.expr(
                   "n_buckets * _stt - _st * _st"))
               .filter(F.col("slope_den") > 0)
               .withColumn("slope_ppm", F.expr(
                   f"(slope_num * {PPM}) div slope_den")))
    w = Window.orderBy(F.desc("slope_ppm"), F.asc(key_col))
    return (per_key
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, "n_buckets", "total", "slope_num",
                    "slope_den", "slope_ppm", "rank"))


def trend_topk_dense(obs: DataFrame, key_col: str, t_col: str, y_col: str,
                     k: int) -> DataFrame:
    """Densified twin of :func:`trend_topk` — WITHOUT the cells × days
    cross join the module docstring warns about.

    Zero-filling every key over the GLOBAL observed bucket range
    [t0, t1] changes only closed-form constants: with T = t1−t0+1 dense
    buckets, every key shares n = T, Σt = S1 = (t0+t1)·T/2 and
    Σt² = S2 = f(t1) − f(t0−1) where f(n) = n(n+1)(2n+1)/6, while Σy and
    Σty are untouched by zero rows.  So

        slope_num = T·Σty − S1·Σy      slope_den = T·S2 − S1²  (global)

    and the densified ranking costs the same two hash aggregates as the
    observed-bucket ranking plus ONE broadcast 1-row bounds frame — keys
    active early then absent now rank BELOW keys absent throughout
    (decaying cells get negative slopes instead of vanishing).  All
    integer divisions are exact ((t0+t1)·T is always even; n(n+1)(2n+1)
    is always divisible by 6 for any integer n), so truncated div is
    engine-portable with no constraint-17 boundary exposure.

    Output adds ``n_obs`` (observed buckets) next to ``n_buckets`` (= T
    for every key).  Requires at least two distinct global buckets
    (otherwise slope_den = 0 and the result is empty)."""
    from pyspark.sql.window import Window

    per_bucket = (obs.groupBy(key_col, t_col)
                  .agg(F.sum(y_col).alias("y")))
    bounds = per_bucket.agg(F.min(t_col).alias("_t0"),
                            F.max(t_col).alias("_t1"))
    f_hi = "(_t1 * (_t1 + 1) * (2 * _t1 + 1)) div 6"
    f_lo = "((_t0 - 1) * _t0 * (2 * _t0 - 1)) div 6"
    per_key = (per_bucket.groupBy(key_col)
               .agg(F.count("*").alias("n_obs"),
                    F.sum("y").alias("total"),
                    F.sum(F.expr(f"{t_col} * y")).alias("_sty"))
               .crossJoin(F.broadcast(bounds))
               .withColumn("_T", F.expr("_t1 - _t0 + 1"))
               .withColumn("_s1", F.expr("((_t0 + _t1) * _T) div 2"))
               .withColumn("_s2", F.expr(f"({f_hi}) - ({f_lo})"))
               .withColumn("slope_num", F.expr("_T * _sty - _s1 * total"))
               .withColumn("slope_den", F.expr("_T * _s2 - _s1 * _s1"))
               .filter(F.col("slope_den") > 0)
               .withColumn("slope_ppm", F.expr(
                   f"(slope_num * {PPM}) div slope_den")))
    w = Window.orderBy(F.desc("slope_ppm"), F.asc(key_col))
    return (per_key
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, F.col("_T").alias("n_buckets"), "n_obs",
                    "total", "slope_num", "slope_den", "slope_ppm", "rank"))


def trend_topk_sql(obs_sql: str, key_col: str, t_col: str, y_col: str,
                   k: int) -> str:
    """DuckDB twin; ``obs_sql`` yields (key, t, y) integer columns."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    pb AS (SELECT {key_col}, {t_col},
                  CAST(sum({y_col}) AS BIGINT) AS y
           FROM obs GROUP BY {key_col}, {t_col}),
    pk AS (
        SELECT {key_col},
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(y) AS BIGINT) AS total,
               CAST(sum({t_col}) AS BIGINT) AS _st,
               CAST(sum({t_col} * y) AS BIGINT) AS _sty,
               CAST(sum({t_col} * {t_col}) AS BIGINT) AS _stt
        FROM pb GROUP BY {key_col}),
    sl AS (
        SELECT {key_col}, n_buckets, total,
               n_buckets * _sty - _st * total AS slope_num,
               n_buckets * _stt - _st * _st AS slope_den
        FROM pk WHERE n_buckets * _stt - _st * _st > 0)
    SELECT {key_col}, n_buckets, total, slope_num, slope_den,
           CAST((slope_num * {PPM}) // slope_den AS BIGINT) AS slope_ppm,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY (slope_num * {PPM}) // slope_den DESC, {key_col})
              AS rank FROM sl)
    WHERE rank <= {k}
    """


def trend_topk_dense_sql(obs_sql: str, key_col: str, t_col: str,
                         y_col: str, k: int) -> str:
    """DuckDB twin of :func:`trend_topk_dense` (same closed-form global
    constants, `//` for Spark's `div` — both truncate, every division here
    is exact so the semantics cannot diverge)."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    pb AS (SELECT {key_col}, {t_col},
                  CAST(sum({y_col}) AS BIGINT) AS y
           FROM obs GROUP BY {key_col}, {t_col}),
    bounds AS (SELECT CAST(min({t_col}) AS BIGINT) AS _t0,
                      CAST(max({t_col}) AS BIGINT) AS _t1 FROM pb),
    pk AS (
        SELECT {key_col},
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(y) AS BIGINT) AS total,
               CAST(sum({t_col} * y) AS BIGINT) AS _sty
        FROM pb GROUP BY {key_col}),
    cst AS (
        SELECT _t0, _t1, _t1 - _t0 + 1 AS _T,
               ((_t0 + _t1) * (_t1 - _t0 + 1)) // 2 AS _s1,
               ((_t1 * (_t1 + 1) * (2 * _t1 + 1)) // 6)
               - (((_t0 - 1) * _t0 * (2 * _t0 - 1)) // 6) AS _s2
        FROM bounds),
    sl AS (
        SELECT {key_col}, _T AS n_buckets, n_obs, total,
               _T * _sty - _s1 * total AS slope_num,
               _T * _s2 - _s1 * _s1 AS slope_den
        FROM pk CROSS JOIN cst
        WHERE _T * _s2 - _s1 * _s1 > 0)
    SELECT {key_col}, n_buckets, n_obs, total, slope_num, slope_den,
           CAST((slope_num * {PPM}) // slope_den AS BIGINT) AS slope_ppm,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY (slope_num * {PPM}) // slope_den DESC, {key_col})
              AS rank FROM sl)
    WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# Mann-Kendall trend test (the rank-based sibling of the OLS slope above —
# the actual "Mann-Kendall dressing" the module docstring notes trend_topk
# omits).  ALL-INTEGER outputs, so the whole query is hash-exact:
#
#     S     = Σ_{i<j} sign(y_j − y_i)          over time-ordered buckets
#     var18 = 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)
#             (t_g = size of the g-th tie group of equal y values)
#     tau_ppm = (2·S·1e6) div (n(n−1))         (Kendall's tau-a, exact)
#
# S is robust to outliers and monotone-nonlinear growth where the OLS
# slope is not; var18 carries the exact tie correction as a BIGINT so a
# caller needing the normal-approximation z computes
# (S∓1)/sqrt(var18/18) downstream without the engine-portability risk of
# shipping a double here.
#
# Scale shape (100 TB): one (key, t) hash aggregate, then ONE self
# equi-join on key producing Σ_key T_k(T_k−1)/2 pair rows (T_k = observed
# buckets per key — bounded by the calendar, e.g. ≤ 3650 for daily
# buckets over a decade; the join is hash, never broadcast-cartesian) +
# two more per-key aggregates for the tie table.  Keys with one bucket
# have no pairs and are excluded (S undefined).
# --------------------------------------------------------------------------


def mk_stats(obs: DataFrame, key_col: str, t_col: str,
             y_col: str) -> DataFrame:
    """(key, n_buckets, s, var18, tau_ppm) for EVERY key with ≥ 2
    buckets — the rank-free core of :func:`mk_trend`, reused by
    space-time compositions (operators/spacetime.emerging_hotspots)."""
    pb = (obs.groupBy(key_col, t_col)
          .agg(F.sum(y_col).cast("bigint").alias("y")))
    a = pb.select(F.col(key_col), F.col(t_col).alias("_ta"),
                  F.col("y").alias("_ya"))
    b = pb.select(F.col(key_col), F.col(t_col).alias("_tb"),
                  F.col("y").alias("_yb"))
    # coalesce(..., false) keeps the pair filter but is null-tolerant, so
    # no isnotnull(t) is inferred onto this branch alone: both uses of
    # pb then carry the same filters and share one exchange (one scan of
    # obs) instead of computing obs twice
    s = (a.join(b, key_col)
         .filter(F.coalesce(F.col("_ta") < F.col("_tb"), F.lit(False)))
         .groupBy(key_col)
         .agg(F.sum(F.expr(
             "CASE WHEN _yb > _ya THEN 1"
             " WHEN _yb < _ya THEN -1 ELSE 0 END")).alias("s")))
    # n_buckets = Σ t_g, so the tie rollup carries the count too — one
    # aggregate and one join fewer (and the final stage stays under the
    # 8000-byte JIT budget, CLAUDE.md constraint 16: the 3-join shape
    # generated a 9.8 KB method)
    ties = (pb.groupBy(key_col, "y").agg(F.count("*").alias("_tg"))
            .groupBy(key_col)
            .agg(F.sum("_tg").alias("n_buckets"),
                 F.sum(F.expr(
                     "_tg * (_tg - 1) * (2 * _tg + 5)")).alias("_tie")))
    return (ties.filter(F.col("n_buckets") >= 2)
            .join(s, key_col)
            .withColumn("var18", F.expr(
                "n_buckets * (n_buckets - 1) * (2 * n_buckets + 5)"
                " - _tie"))
            .withColumn("tau_ppm", F.expr(
                f"(2 * s * {PPM}) div (n_buckets * (n_buckets - 1))"))
            .select(key_col, "n_buckets",
                    F.col("s").cast("bigint").alias("s"),
                    F.col("var18").cast("bigint").alias("var18"),
                    F.col("tau_ppm").cast("bigint").alias("tau_ppm")))


def mk_trend(obs: DataFrame, key_col: str, t_col: str, y_col: str,
             k: int) -> DataFrame:
    """(key, n_buckets, s, var18, tau_ppm, rank): top-``k`` keys by exact
    Mann-Kendall S (desc, key asc ties) — see the block comment above.
    ``t_col``/``y_col`` must be integer columns."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("s"), F.asc(key_col))
    return (mk_stats(obs, key_col, t_col, y_col)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, "n_buckets", "s", "var18", "tau_ppm",
                    "rank"))


def mk_trend_sql(obs_sql: str, key_col: str, t_col: str, y_col: str,
                 k: int) -> str:
    """DuckDB twin of :func:`mk_trend` (same pair join, same tie
    correction, `//` ↔ `div` both truncating toward zero)."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    {mk_stats_ctes('obs', key_col, t_col, y_col)}
    SELECT {key_col}, n_buckets, s, CAST(var18 AS BIGINT) AS var18,
           CAST(tau_ppm AS BIGINT) AS tau_ppm, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY s DESC, {key_col})
              AS rank FROM mk)
    WHERE rank <= {k}
    """


def mk_stats_ctes(obs_cte: str, key_col: str, t_col: str,
                  y_col: str, prefix: str = "") -> str:
    """CTE parts ending in ``{prefix}mk`` (key, n_buckets, s, var18,
    tau_ppm) — the composable twin of :func:`mk_stats` over an existing
    CTE ``obs_cte`` → (key, t, y)."""
    p = prefix
    return f"""{p}pb AS MATERIALIZED (
        SELECT {key_col}, {t_col}, CAST(sum({y_col}) AS BIGINT) AS y
        FROM {obs_cte} GROUP BY {key_col}, {t_col}),
    {p}s AS (
        SELECT a.{key_col},
               CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM {p}pb a JOIN {p}pb b ON b.{key_col} = a.{key_col}
                           AND a.{t_col} < b.{t_col}
        GROUP BY a.{key_col}),
    {p}ties AS (
        SELECT {key_col},
               CAST(sum(_tg) AS BIGINT) AS n_buckets,
               CAST(sum(_tg * (_tg - 1) * (2 * _tg + 5)) AS BIGINT)
               AS _tie
        FROM (SELECT {key_col}, y, count(*) AS _tg
              FROM {p}pb GROUP BY {key_col}, y)
        GROUP BY {key_col}),
    {p}mk AS (
        SELECT t.{key_col}, t.n_buckets, s.s,
               t.n_buckets * (t.n_buckets - 1)
               * (2 * t.n_buckets + 5) - t._tie AS var18,
               (2 * s.s * {PPM})
               // (t.n_buckets * (t.n_buckets - 1)) AS tau_ppm
        FROM {p}ties t JOIN {p}s s USING ({key_col})
        WHERE t.n_buckets >= 2)"""


# --------------------------------------------------------------------------
# Theil-Sen slope (public robust estimator): the MEDIAN of all pairwise
# slopes (y_j − y_i)/(t_j − t_i), i < j — the magnitude sibling of the
# Mann-Kendall direction test above (MK says WHETHER a monotone trend
# exists; Theil-Sen says HOW STEEP, robust to ~29% outliers where OLS
# is not).
#
# Exactness: each slope is kept as an exact integer fraction (num, den
# with den > 0); the median is an ORDER STATISTIC, so no averaging ever
# happens — the selected value is the exact (num, den) of the lower
# median pair, ordered by (num/den AS DOUBLE, num, den).  The double
# ratio is a single IEEE division (bit-identical across engines,
# ann/ivf discipline) and the integer tie columns make the SELECTED
# VALUE deterministic even among equal ratios.  slope_q6 = num·1e6 div
# den reports the quantized magnitude.
#
# Scale shape: same bounded per-key pair join as mk_trend + one
# rank-1-per-key window (WindowGroupLimit) — buckets-per-key is
# calendar-bounded.
# --------------------------------------------------------------------------


def theilsen(obs: DataFrame, key_col: str, t_col: str,
             y_col: str) -> DataFrame:
    """(key, n_pairs, med_num, med_den, slope_q6) for every key with
    ≥ 2 buckets — see the block comment above."""
    from pyspark.sql.window import Window

    pb = (obs.groupBy(key_col, t_col)
          .agg(F.sum(y_col).cast("bigint").alias("y")))
    a = pb.select(F.col(key_col), F.col(t_col).alias("_ta"),
                  F.col("y").alias("_ya"))
    b = pb.select(F.col(key_col), F.col(t_col).alias("_tb"),
                  F.col("y").alias("_yb"))
    pairs = (a.join(b, key_col)
             .filter(F.col("_ta") < F.col("_tb"))
             .select(key_col,
                     F.expr("_yb - _ya").alias("num"),
                     F.expr("_tb - _ta").alias("den")))
    w = Window.partitionBy(key_col).orderBy(
        F.expr("CAST(num AS DOUBLE) / den"), "num", "den")
    return (pairs
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(
                Window.partitionBy(key_col)))
            .filter(F.expr("_rn = (_n + 1) div 2"))
            .select(key_col, F.col("_n").cast("bigint").alias("n_pairs"),
                    F.col("num").cast("bigint").alias("med_num"),
                    F.col("den").cast("bigint").alias("med_den"),
                    F.expr(f"(num * {PPM}) div den").cast("bigint")
                    .alias("slope_q6")))


def theilsen_sql(obs_sql: str, key_col: str, t_col: str,
                 y_col: str) -> str:
    """DuckDB twin of :func:`theilsen` (same double-ratio order, same
    integer tie columns, same lower-median selection)."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    pb AS MATERIALIZED (
        SELECT {key_col}, {t_col}, CAST(sum({y_col}) AS BIGINT) AS y
        FROM obs GROUP BY {key_col}, {t_col}),
    pr AS MATERIALIZED (
        SELECT a.{key_col}, b.y - a.y AS num,
               b.{t_col} - a.{t_col} AS den
        FROM pb a JOIN pb b ON b.{key_col} = a.{key_col}
                           AND a.{t_col} < b.{t_col})
    SELECT {key_col}, CAST(_n AS BIGINT) AS n_pairs,
           CAST(num AS BIGINT) AS med_num,
           CAST(den AS BIGINT) AS med_den,
           CAST((num * {PPM}) // den AS BIGINT) AS slope_q6
    FROM (SELECT *, row_number() OVER (PARTITION BY {key_col}
              ORDER BY CAST(num AS DOUBLE) / den, num, den) AS _rn,
                 count(*) OVER (PARTITION BY {key_col}) AS _n
          FROM pr)
    WHERE _rn = (_n + 1) // 2
    """
