"""Distributed AUID operators (SURVEY A7-A10).

- ``auid_per_group``: grouped pandas UDF building the canonical AUID per
  region (sorted cuids -> trie -> BP -> zlib -> blake2b, all stdlib inside
  executors; reference auids/common.py:180-213).
- ``optimize_cells``: the A9 compaction as a DISTRIBUTED FIXPOINT in pure
  DataFrame ops — per level, collapse complete sibling sets (all n_side^2
  children present and none a prefix of a surviving deeper cell) into their
  parent.  <= max_res iterations, each a hash agg + anti-join; replaces the
  reference's single-node networkx walk (auids/rhpx.py:108-181, ~350 s at
  res 9) with shuffle-bound work.
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


def optimize_cells(df: DataFrame, n_side: int, cellid_col: str = "cellid",
                   group_col: str | None = None) -> DataFrame:
    """A9 distributed compaction of a cellid set (optionally per group).

    Semantics match dggs.auids.optimize_cuids (verified in tests): repeatedly
    replace complete pure-leaf sibling sets by their parent; base cells never
    collapse further."""
    k = n_side * n_side
    keys = ([group_col] if group_col else [])

    # sever the input lineage first: the fixpoint references `cells` several
    # times per level (children/deeper/parents/doomed), and an unmaterialized
    # deep expression lineage (e.g. the expression cell encoder) would be
    # inlined into every copy by CollapseProject — exponential plan blowup
    cells = df.select(*keys, cellid_col).dropDuplicates(keys + [cellid_col]) \
        .localCheckpoint(eager=True)
    max_len = cells.agg(F.max(F.length(cellid_col))).first()[0] or 0
    # walk levels deepest-first; collapses at level L create parents at L-1,
    # which the next iteration re-examines — cascades terminate at the base
    for length in range(max_len, 1, -1):
        children = cells.filter(F.length(cellid_col) == length)
        deeper = cells.filter(F.length(cellid_col) > length).select(
            *keys, F.substring(cellid_col, 1, length).alias(cellid_col))
        pure = children.join(deeper, keys + [cellid_col], "left_anti")
        # collapse iff ALL siblings exist (k of them) and ALL are pure leaves
        # — sibling counting is digit-agnostic, like the reference trie walk
        totals = (children.groupBy(*keys, F.substring(cellid_col, 1, length - 1).alias("_p"))
                  .agg(F.count("*").alias("_nt")))
        pures = (pure.groupBy(*keys, F.substring(cellid_col, 1, length - 1).alias("_p"))
                 .agg(F.count("*").alias("_np")))
        parents = (
            totals.join(pures, keys + ["_p"])
            .filter((F.col("_nt") == k) & (F.col("_np") == k))
            .select(*keys, F.col("_p").alias(cellid_col))
        )
        doomed = (
            children.withColumn("_p", F.substring(cellid_col, 1, length - 1))
            .join(parents.withColumnRenamed(cellid_col, "_p"), keys + ["_p"], "left_semi")
            .drop("_p")
        )
        cells = (
            cells.join(doomed, keys + [cellid_col], "left_anti")
            .unionByName(parents)
            .dropDuplicates(keys + [cellid_col])
        )
        # truncate lineage: the loop otherwise builds a plan whose depth is
        # O(max_res) x (join + agg), which chokes the optimizer at scale
        cells = cells.localCheckpoint(eager=True)
    return cells


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
