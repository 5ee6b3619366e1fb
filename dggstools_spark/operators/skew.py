"""Skew handling for hot cell-prefix keys (north rule: "skew from dense
tiles is handled with salted repartitioning on cell-prefix keys and
adaptive shuffle").

Division of labor, measured in scripts/skew_demo.py (numbers in SCALE.md):

- **Aggregations**: two-level ((tile, cell) -> tile) with map-side partial
  aggregation — a dense tile never concentrates raw rows in one reduce
  task (bench.py flagship).
- **Rank top-k**: Catalyst's WindowGroupLimit (Spark >= 3.5) inserts a
  PARTIAL group-limit before the shuffle, so each map task ships at most k
  rows per hot key — the naive window is already skew-proof and measured
  FASTER than manual salting; salted_topk_per_key stays for window shapes
  the pushdown doesn't cover.
- **Joins**: AQE skew-join splitting (enabled in session.py) splits a hot
  sort-merge partition at runtime.
- **Cell-table writes**: ``cells_io.write_cells`` applies a
  ``rebalance`` hint on ``cell_prefix`` before its partitionBy write:
  each prefix lands in one task and one file, and AQE's rebalance splits
  a hot prefix over several tasks (the adaptive half of the north rule).
- **Other per-partition work**: ``salted_repartition`` — a hot key
  otherwise funnels through ONE task; salting by a row-derived key splits
  it into n_salt tasks.  This is the "salted repartitioning on cell-prefix
  keys" of the north rule, for the work AQE's rebalance does not cover
  (a custom partitionBy write, mapInPandas or applyInPandas per prefix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F


def _salt_expr(df: DataFrame, n_salt: int, salt_src: str | None) -> Column:
    """Deterministic salt: hash of ``salt_src`` if given, else hash of ALL
    columns.  Never monotonically_increasing_id — on a cluster a shuffle
    fetch failure recomputes some map partitions but not others, and a
    nondeterministic salt then duplicates/loses rows across the retry
    boundary (the SPARK-23207 round-robin hazard class).

    Limitation of the all-columns default: rows that are fully IDENTICAL
    duplicates of a hot key hash to ONE salt bucket, silently restoring the
    skew the salt was meant to break.  When exact-duplicate rows are
    expected (common in the skewed-write workloads this targets), pass
    ``salt_src`` naming a unique id column."""
    cols = [F.col(salt_src)] if salt_src else [F.col(c) for c in df.columns]
    return F.pmod(F.hash(*cols), F.lit(n_salt))


def salted_repartition(df: DataFrame, keys: list[str], n_salt: int = 32,
                       salt_src: str | None = None) -> DataFrame:
    """Repartition by (keys..., salt) so a hot key's rows spread over
    ``n_salt`` tasks.  Layout-compatible with a partitionBy(keys) write
    (the salt only affects task assignment, not file paths); downstream
    per-key aggs still work (partial aggregation re-combines).

    If the hot key's rows may be byte-identical duplicates, pass
    ``salt_src`` with a unique id column — the all-columns default salts
    identical rows into one bucket (see _salt_expr)."""
    salt = _salt_expr(df, n_salt, salt_src)
    return (df.withColumn("_salt", salt)
            .repartition(*[F.col(c) for c in keys], F.col("_salt"))
            .drop("_salt"))


def topk_per_key(df: DataFrame, keys: list[str], order_by: list[Column],
                 k: int, rank_col: str = "rank") -> DataFrame:
    """Baseline: one window per key — correct, but a hot key serializes
    into a single task's sort."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def salted_topk_per_key(df: DataFrame, keys: list[str], order_by: list[Column],
                        k: int, n_salt: int = 32, salt_src: str | None = None,
                        rank_col: str = "rank") -> DataFrame:
    """Exact per-key top-k under key skew: phase 1 ranks within
    (keys..., salt) — n_salt parallel sorts per hot key — phase 2 re-ranks
    only the <= k * n_salt survivors per key.  Output == topk_per_key
    (tests assert equality); wall-clock under skew is bounded by the hot
    key's rows / n_salt instead of all of them.

    ``salt_src`` names a column to derive the salt from (hash % n_salt);
    default is a hash of all columns (deterministic under stage retry, see
    _salt_expr — but identical duplicate rows then share one bucket, so
    prefer a unique id salt_src when rows may repeat exactly).  Output only
    depends on the global order_by either way (which must be a total
    order, e.g. include a unique tiebreaker)."""
    from pyspark.sql.window import Window

    salt = _salt_expr(df, n_salt, salt_src)
    salted = df.withColumn("_salt", salt)
    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order_by)
    survivors = (salted.withColumn("_r1", F.row_number().over(w1))
                 .filter(F.col("_r1") <= k).drop("_r1", "_salt"))
    w2 = Window.partitionBy(*keys).orderBy(*order_by)
    return (survivors.withColumn(rank_col, F.row_number().over(w2))
            .filter(F.col(rank_col) <= k))
