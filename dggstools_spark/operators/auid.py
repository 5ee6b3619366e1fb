"""Distributed AUID operators (SURVEY A7-A10).

- ``auid_per_group``: grouped pandas UDF building the canonical AUID per
  region (sorted cuids -> trie -> BP -> zlib -> blake2b, all stdlib inside
  executors; reference auids/common.py:180-213).
- ``optimize_cells``: the A9 compaction in pure DataFrame ops, decided for
  every trie node at once by an exact area sum: two aggregates and a
  window over sibling groups in one lazy plan, whatever the cellid depth;
  replaces the reference's single-node networkx walk
  (auids/rhpx.py:108-181, ~350 s at res 9) with shuffle-bound work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..dggs import auids as auids_core


AUID_SCHEMA = StructType([
    StructField("group_key", StringType()),
    StructField("auid_b64", StringType()),
    StructField("auid_hash", StringType()),
])


def auid_per_group(df: DataFrame, group_col: str, cellid_col: str = "cellid",
                   optimize_n_side: int | None = None) -> DataFrame:
    """(group, cellid) rows -> one (group_key, auid_b64, auid_hash) per group.

    Order-insensitive and duplicate-insensitive by construction (the trie
    sorts + dedups).  With ``optimize_n_side`` the cuid set is compacted
    first, yielding the canonical AUID (reference RHEALPixAUIDGenerator)."""
    import pandas as pd

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cuids = pdf[cellid_col].dropna().tolist()
        if optimize_n_side:
            cuids = auids_core.optimize_cuids(cuids, optimize_n_side)
        comp_b64, hash_b64 = auids_core.generate_auid_hash_b64(cuids)
        return pd.DataFrame(
            {"group_key": [str(pdf[group_col].iloc[0])],
             "auid_b64": [comp_b64], "auid_hash": [hash_b64]}
        )

    return df.select(group_col, cellid_col).groupBy(group_col).applyInPandas(
        build, AUID_SCHEMA)


def optimize_cells(df: DataFrame, n_side: int, cellid_col: str = "cellid") -> DataFrame:
    """A9 distributed compaction of a cellid set.

    Semantics match dggs.auids.optimize_cuids (verified in tests): a trie
    node collapses iff it has exactly n_side^2 children and each of them
    collapses or is a pure leaf; base cells never collapse further.  That
    recursion is decided for every node at once:

    1. ``nodes``: one aggregate over every cell's prefixes gives each trie
       node its in-set flag and its number of children;
    2. ``cover``: each pure leaf (in the set, no children) adds its area
       weight (n_side^2)^(16 - length) to every ancestor-or-self, and each
       node with more than n_side^2 children poisons every
       ancestor-or-self.  A node is complete (collapses, or is a pure leaf)
       iff its weight sum equals its own weight and it is not poisoned —
       without the poison, an over-full child plus an under-full sibling
       could sum to a false "complete";
    3. ``marked``: the result is every node that is in the set or complete
       whose parent is not complete.  A parent is complete iff it has
       exactly n_side^2 children, all complete, so a window over each
       sibling group decides it; the root never is.

    The plan is lazy with three shuffles (two aggregates, one window),
    whatever the cellid depth.  Duplicate cellids are absorbed by the
    first aggregate; null cellids are dropped.
    A cellid longer than 16 chars fails the action, since its weight would
    not be exact; weights fit BIGINT for n_side <= 4."""
    k = n_side * n_side

    def weight(col: str) -> str:
        return (f"CASE WHEN length({col}) > 16 THEN raise_error("
                f"'optimize_cells: cellid longer than 16 chars') "
                f"ELSE CAST(pow({k}, 16 - length({col})) AS BIGINT) END")

    def prefixes(col: str, lo: str) -> str:
        """{col}'s prefixes of lengths lo..length(col), one row each."""
        return (f"explode(transform(sequence({lo}, length({col})),"
                f" l -> substring({col}, 1, l)))")

    cells = df.select(F.col(cellid_col).alias("c"))
    # pure leaves and poisoned nodes reach every ancestor-or-self, any other
    # node only itself (for its in-set flag)
    reach = f"CASE WHEN n_ch = 0 OR n_ch > {k} THEN 1 ELSE length(n) END"
    # one statement, so the driver parses and analyzes once: the same steps
    # as a chain of DataFrame calls cost ~0.15 s more per call in round trips
    return cells.sparkSession.sql(f"""
    WITH nodes AS (
        SELECT q AS n, max(length(c) = length(q)) AS in_set,
               size(collect_set(CASE WHEN length(c) > length(q)
                                     THEN substring(c, length(q) + 1, 1) END)) AS n_ch
        FROM (SELECT c, {prefixes('c', '1')} AS q FROM {{cells}})
        GROUP BY q),
    cover AS (
        SELECT q, max(in_set AND q = n) AS in_set,
               coalesce(try_sum(CASE WHEN n_ch = 0 THEN {weight('n')} ELSE 0 END)
                        = {weight('q')} AND NOT max(n_ch > {k}), false) AS complete
        FROM (SELECT *, {prefixes('n', reach)} AS q FROM nodes)
        GROUP BY q),
    marked AS (
        SELECT q, in_set, complete,
               length(q) > 1 AND count(*) OVER sib = {k} AND min(complete) OVER sib
                   AS parent_complete
        FROM cover
        WINDOW sib AS (PARTITION BY substring(q, 1, length(q) - 1)))
    SELECT q AS `{cellid_col}` FROM marked
    WHERE (in_set OR complete) AND NOT parent_complete
    """, cells=cells)


def subarea_pairs(fine: DataFrame, coarse: DataFrame,
                  fine_group: str = "group_a", coarse_group: str = "group_b",
                  cellid_col: str = "cellid") -> DataFrame:
    """J6 relationally: for every (fine group, coarse group) pair, is the
    fine group's cell set a subarea of the coarse group's cover?  A fine
    cell is covered iff some coarse cell is a prefix of it (or equal) —
    the same containment the reference decides on AUID tries
    (auids/common.py:216-259, is_a_subarea); dggs.auids.is_a_subarea is the
    AUID-level twin and tests assert they agree.

    Distributed shape: explode each fine cell into its self+ancestor
    prefixes (<= max_res per cell), equi-join the coarse set on the prefix,
    compare covered counts to group sizes.  No cross join of cell tables —
    only the tiny group-key domain is crossed.

    The covered-count aggregate is broadcast into the final join, which
    turns the one remaining sort-merge join into a broadcast hash join
    (PLANS.md).  That aggregate scales with the (fine group x coarse group)
    PAIR domain, so this assumes the pair domain is modest."""
    f = fine.select(fine_group, cellid_col).dropDuplicates()
    c = coarse.select(coarse_group, cellid_col).dropDuplicates()
    prefixes = f.select(
        fine_group, cellid_col,
        F.explode(F.expr(
            f"transform(sequence(1, length({cellid_col})),"
            f" l -> substring({cellid_col}, 1, l))")).alias("_pfx"),
    )
    hits = (prefixes.join(c.select(coarse_group, F.col(cellid_col).alias("_pfx")), "_pfx")
            .select(fine_group, coarse_group, cellid_col).distinct())
    n_a = f.groupBy(fine_group).agg(F.count("*").alias("_na"))
    n_cov = hits.groupBy(fine_group, coarse_group).agg(F.count("*").alias("_nc"))
    domain = n_a.crossJoin(c.select(coarse_group).distinct())
    return (domain.join(F.broadcast(n_cov), [fine_group, coarse_group], "left")
            .select(fine_group, coarse_group,
                    (F.coalesce(F.col("_nc"), F.lit(0)) == F.col("_na"))
                    .cast("int").alias("is_subarea")))


def is_optimal(df: DataFrame, n_side: int, cellid_col: str = "cellid") -> bool:
    """A10: optimal iff NO parent has all n_side^2 children present as pure
    leaves.  Existence of a first collapse decides it, so one pass suffices —
    no fixpoint (mirrors the reference's point that checking is ~1000x
    cheaper than optimizing, auids/rhpx.py:188-190): one ancestor explode +
    anti-join finds pure leaves, two hash aggs count (total, pure) children
    per parent, early-out on any complete set."""
    k = n_side * n_side
    cells = df.select(cellid_col).dropDuplicates()
    # ancestors of every cell (proper prefixes of length >= 1)
    # guard: sequence(1, 0) DESCENDS in Spark, so a base cell would explode
    # to [itself, ''] and wrongly leave the pure-leaf set
    anc = cells.select(F.explode(F.expr(
        f"CASE WHEN length({cellid_col}) <= 1 THEN array()"
        f" ELSE transform(sequence(1, length({cellid_col}) - 1),"
        f" l -> substring({cellid_col}, 1, l)) END")).alias(cellid_col)).dropDuplicates()
    pure = cells.join(anc, cellid_col, "left_anti")
    parent = F.substring(cellid_col, 1, F.length(cellid_col) - 1)
    totals = (cells.filter(F.length(cellid_col) > 1)
              .groupBy(parent.alias("_p")).agg(F.count("*").alias("_nt")))
    pures = (pure.filter(F.length(cellid_col) > 1)
             .groupBy(parent.alias("_p")).agg(F.count("*").alias("_np")))
    collapsible = totals.join(pures, "_p").filter(
        (F.col("_nt") == k) & (F.col("_np") == k))
    return collapsible.isEmpty()
