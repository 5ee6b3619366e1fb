"""As-of (backward temporal) join — the custom operator Spark lacks.

For every left row (key, t), attach the LATEST right row of the same key
with t_right <= t (optionally within a tolerance) — the point-in-time
lookup every event pipeline needs (prices as-of trade time, user status
as-of event time, dimension versions as-of snapshot).  Spark has no
built-in; the classic distributed realization is a UNION + one window:

1. tag right rows 1, left rows 0; right rows carry a struct of
   (t_right, values), left rows carry NULL in that slot;
2. ONE window per key ordered by (t, tag DESC, t_right) — at equal
   timestamps the right row sorts first, so a state change at exactly t
   IS visible to the left row at t (the standard as-of contract);
3. ``last(struct) IGNORE NULLS`` over rows UNBOUNDED PRECEDING..CURRENT
   carries the newest state forward; keep the left rows, unpack the
   struct, and null the match when it violates the tolerance.

This is one hash shuffle on the key (both inputs co-partition; the same
partitioning any per-key sequence op uses) and one window whose frame is
running — no join at all, no per-row probe, no state blowup; the 100 TB
cost is exactly one sort-within-partitions of left+right together.

Determinism contract: right rows must be unique per (key, t_right) —
dedupe upstream (keep the max version id) or the carried state at equal
timestamps is ORDER-DEPENDENT; the operator always asserts uniqueness
loudly (cheap: one count vs count-distinct on the right side).  All
comparisons are on integer timestamps (CLAUDE.md constraint 5 family).

Oracle: the driver query's DuckDB twin uses DuckDB's NATIVE ``ASOF LEFT
JOIN`` — an INDEPENDENT implementation of the same semantics, not a
replay of this construction — the strongest oracle shape in the repo.

Reference parity: no counterpart (the reference has no time axis);
SURVEY §2 extension named explicitly in the engine brief (as-of join /
range join family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str,
              t_left: str, t_right: str, val_cols: "list[str]",
              tolerance: int | None = None) -> DataFrame:
    """Left rows + ``matched_t`` (BIGINT, NULL when no match) + the
    right ``val_cols`` as-of ``t_left`` (see module docstring)."""
    from pyspark.sql.window import Window

    n = right.select(key, t_right).count()
    nd = right.select(key, t_right).distinct().count()
    if n != nd:
        raise ValueError(
            f"asof_join: right side has {n - nd} duplicate "
            f"({key}, {t_right}) rows — dedupe upstream or the "
            f"carried state is order-dependent")
    rv = F.struct(F.col(t_right).cast("bigint").alias("_rt"),
                  *[F.col(c) for c in val_cols])
    r2 = (right.select(F.col(key).alias("_k"),
                       F.col(t_right).cast("bigint").alias("_t"),
                       rv.alias("_rv"))
          .withColumn("_is_r", F.lit(1)))
    rv_type = r2.schema["_rv"].dataType
    lcols = left.columns
    l2 = (left
          .withColumn("_k", F.col(key))
          .withColumn("_t", F.col(t_left).cast("bigint"))
          .withColumn("_rv", F.lit(None).cast(rv_type))
          .withColumn("_is_r", F.lit(0)))
    r2 = r2.select("_k", "_t", "_rv", "_is_r",
                   *[F.lit(None).cast(left.schema[c].dataType).alias(c)
                     for c in lcols])
    l2 = l2.select("_k", "_t", "_rv", "_is_r", *lcols)
    w = (Window.partitionBy("_k")
         .orderBy(F.col("_t").asc(), F.col("_is_r").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = (l2.unionByName(r2)
         .withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
         .filter(F.col("_is_r") == 0))
    if tolerance is not None:
        u = u.withColumn("_m", F.expr(
            f"IF(_t - _m._rt <= {int(tolerance)}, _m, NULL)"))
    return u.select(*lcols,
                    F.col("_m._rt").alias("matched_t"),
                    *[F.col(f"_m.{c}").alias(c) for c in val_cols])


def range_join(points: DataFrame, intervals: DataFrame, t_col: str,
               start_col: str, end_col: str, granularity: int,
               key: str | None = None,
               max_buckets_per_interval: int = 64) -> DataFrame:
    """Interval (range) join — the other custom operator Spark lacks: all
    (point, interval) pairs with start <= t <= end (and equal ``key``
    when given), realized as a BUCKETIZED EQUI-JOIN so Catalyst never
    falls into a nested-loop: points land in ONE bucket of width
    ``granularity``, intervals explode into the buckets they cover, the
    equi-join on (key, bucket) prunes to candidates and an exact BETWEEN
    filter finishes.  Each qualifying pair is produced exactly once (a
    point has one bucket), so no dedup shuffle.

    Scale: explode factor = ceil(span / granularity) + 1, bounded loudly
    by ``max_buckets_per_interval`` (one tiny agg on the interval side) —
    pick granularity near the TYPICAL span; the oracle's inequality join
    is what this operator replaces at 100 TB (a full sort-merge over
    ranges, or worse a BNLJ).  Integer timestamps only (CLAUDE.md
    constraint 5 family)."""
    span_chk = intervals.agg(F.max(
        F.expr(f"CAST({end_col} AS BIGINT) div {granularity}"
               f" - CAST({start_col} AS BIGINT) div {granularity}"))
        .alias("mx")).collect()[0].mx
    if span_chk is not None and span_chk + 1 > max_buckets_per_interval:
        raise ValueError(
            f"range_join: an interval spans {span_chk + 1} buckets at "
            f"granularity {granularity} (> {max_buckets_per_interval}) "
            f"— raise the granularity or the bound")
    keys = [key] if key else []
    p = points.withColumn("_rb", F.expr(
        f"CAST({t_col} AS BIGINT) div {granularity}"))
    iv = intervals.withColumn("_rb", F.explode(F.sequence(
        F.expr(f"CAST({start_col} AS BIGINT) div {granularity}"),
        F.expr(f"CAST({end_col} AS BIGINT) div {granularity}"))))
    return (p.join(iv, [*keys, "_rb"])
            .filter(F.expr(f"{t_col} >= {start_col}"
                           f" AND {t_col} <= {end_col}"))
            .drop("_rb"))
