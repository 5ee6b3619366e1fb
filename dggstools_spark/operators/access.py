"""Spatial accessibility: two-step floating catchment area (2SFCA).

The standard health-geography access metric (Luo & Wang 2003, public
method), on the DGGS lattice with queen-GRAPH catchments (kring_cells —
cross-face correct) and EXACT integer arithmetic:

  step 1 — per facility f located in cell c_f with capacity cap_f:
      ratio_q9(f) = cap_f · 1e9 div Σ_{i : dist(i, c_f) ≤ kmax} pop(i)
      (supply per head within the catchment, quantized parts-per-1e9 —
      the constraint-13 quantized-ratio discipline: a float ratio would
      be partial-agg-order-dependent; facilities whose catchment holds
      ZERO population are dropped, loudly countable by comparing
      facility counts, never a silent 0-div)

  step 2 — per demand cell i:
      access_q9(i) = Σ_{f : dist(c_f, i) ≤ kmax} ratio_q9(f)
      (BIGINT sum of quantized ratios — associative, run-stable,
      engine-exact)

High access = much nearby capacity shared by few nearby people.  The
catchment relation is used in BOTH directions; it is built once from
kring over the union of facility and demand cells (ring 0 = the cell
itself included — a facility serves its own cell).

Scale design (100 TB): demand/facility tables arrive post-aggregation
(cells ≪ events/docs).  One kring expansion (kmax bounded lattice
rounds), two hash equi-joins + two aggregates; no windows over the
corpus, no UDFs, no floats.

Reference parity: no counterpart; extends the spatial-analysis family
(idw_interp / buffer_cells / cost_distance) with the accessibility
metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .spatial_stats import _kring_walk, kring_cells_sql

Q9 = 1_000_000_000


def access_2sfca(pop: DataFrame, fac: DataFrame, res: int,
                 kmax: int) -> DataFrame:
    """(cellid, access_q9, n_fac): 2SFCA accessibility of every demand
    cell.  ``pop`` = (cellid, pop BIGINT); ``fac`` = (fac_id, cellid,
    cap BIGINT).  See module docstring."""
    if kmax < 1:
        raise ValueError(f"access_2sfca: kmax must be >= 1, got {kmax}")
    cells = pop.select("cellid").unionByName(fac.select("cellid"))
    # (cellid, nbr) pairs within kmax rings, INCLUDING the ring-0 self
    # pair.  dedup: 2 consumers (the catchment sums of steps 1 and 2)
    rel = _kring_walk(cells, res, kmax, True).select(
        "cellid", "nbr").localCheckpoint(eager=True)
    # step 1: population within each facility's catchment
    ratio = (fac
             .join(rel, "cellid")
             .join(pop.select(F.col("cellid").alias("nbr"),
                              F.col("pop").alias("_p")), "nbr")
             .groupBy("fac_id")
             .agg(F.first("cellid").alias("_fcell"),
                  F.first("cap").alias("_cap"),
                  F.sum("_p").alias("_pop"))
             .withColumn("ratio_q9", F.expr(f"(_cap * {Q9}) div _pop")))
    # step 2: sum facility ratios within each demand cell's catchment
    return (pop.select("cellid")
            .join(rel, "cellid")
            .join(ratio.select(F.col("_fcell").alias("nbr"),
                               "ratio_q9"), "nbr")
            .groupBy("cellid")
            .agg(F.sum("ratio_q9").cast("bigint").alias("access_q9"),
                 F.count("*").alias("n_fac")))


def access_2sfca_ctes(pop_sql: str, fac_sql: str, res: int,
                      kmax: int) -> str:
    """DuckDB CTE chain ending in ``acc`` (cellid, access_q9, n_fac) —
    the twin of :func:`access_2sfca` over ``pop_sql`` → (cellid, pop)
    and ``fac_sql`` → (fac_id, cellid, cap)."""
    if kmax < 1:
        raise ValueError(
            f"access_2sfca_ctes: kmax must be >= 1, got {kmax}")
    kr = kring_cells_sql("(SELECT cellid FROM _seeds)", res, kmax)
    return f"""
    _pop AS MATERIALIZED ({pop_sql}),
    _fac AS MATERIALIZED ({fac_sql}),
    _seeds AS MATERIALIZED (
        SELECT DISTINCT cellid FROM (
            SELECT cellid FROM _pop UNION ALL SELECT cellid FROM _fac)),
    _rel AS MATERIALIZED (
        SELECT cellid, nbr FROM ({kr})
        UNION ALL SELECT cellid, cellid AS nbr FROM _seeds),
    _ratio AS MATERIALIZED (
        SELECT f.fac_id, any_value(f.cellid) AS _fcell,
               CAST((any_value(f.cap) * {Q9}) // sum(p.pop) AS BIGINT)
                   AS ratio_q9
        FROM _fac f
        JOIN _rel r ON r.cellid = f.cellid
        JOIN _pop p ON p.cellid = r.nbr
        GROUP BY f.fac_id),
    acc AS MATERIALIZED (
        SELECT d.cellid,
               CAST(sum(t.ratio_q9) AS BIGINT) AS access_q9,
               CAST(count(*) AS BIGINT) AS n_fac
        FROM (SELECT cellid FROM _pop) d
        JOIN _rel r ON r.cellid = d.cellid
        JOIN _ratio t ON t._fcell = r.nbr
        GROUP BY d.cellid)"""


# --------------------------------------------------------------------------
# Nearest-facility assignment (discrete Voronoi / service territories):
# every demand cell is labeled with the CLOSEST facility by queen-graph
# distance (kring rings — cross-face correct), ties to the smallest
# facility id; same-cell facilities win at ring 0.  The graph-metric
# sibling of planar Voronoi — deterministic, exact, and composable with
# region_shape (territory compactness) or zonal rollups.
#
# Cells with no facility within kmax are NOT emitted (bounded search —
# the buffer/catchment contract); report coverage upstream by comparing
# counts.  Scale shape: one kring expansion over the demand seeds + one
# hash join to the facility cells + one min-struct argmin — no pairwise
# distance matrix.
# --------------------------------------------------------------------------


def voronoi_assign(cells: DataFrame, fac: DataFrame, res: int,
                   kmax: int) -> DataFrame:
    """(cellid, fac_id, ring): nearest-facility label for every demand
    cell within ``kmax`` rings of some facility.  ``cells`` = (cellid);
    ``fac`` = (fac_id, cellid)."""
    if kmax < 1:
        raise ValueError(
            f"voronoi_assign: kmax must be >= 1, got {kmax}")
    fc = fac.select(F.col("cellid").alias("nbr"), "fac_id")
    # the walk keeps the ring-0 self pair (a facility in the demand cell
    # itself wins outright)
    kr = _kring_walk(cells, res, kmax, True)
    return (kr.join(fc, "nbr")
            .groupBy("cellid")
            .agg(F.min(F.struct(F.col("ring").alias("r"),
                                F.col("fac_id").alias("f"))).alias("_b"))
            .select("cellid", F.col("_b.f").alias("fac_id"),
                    F.col("_b.r").alias("ring")))


def voronoi_assign_ctes(cells_sql: str, fac_sql: str, res: int,
                        kmax: int) -> str:
    """DuckDB CTE chain ending in ``vor`` (cellid, fac_id, ring) — the
    twin of :func:`voronoi_assign`."""
    if kmax < 1:
        raise ValueError(
            f"voronoi_assign_ctes: kmax must be >= 1, got {kmax}")
    kr = kring_cells_sql("(SELECT cellid FROM _dem)", res, kmax)
    return f"""
    _dem AS MATERIALIZED (SELECT DISTINCT cellid FROM ({cells_sql})),
    _fc AS MATERIALIZED (
        SELECT fac_id, cellid AS nbr FROM ({fac_sql})),
    _krv AS MATERIALIZED (
        SELECT cellid, nbr, ring FROM ({kr})
        UNION ALL
        SELECT cellid, cellid AS nbr, CAST(0 AS INT) AS ring
        FROM _dem),
    vor AS MATERIALIZED (
        SELECT cellid, fac_id, CAST(ring AS INT) AS ring
        FROM (SELECT k.cellid, f.fac_id, k.ring,
                     row_number() OVER (PARTITION BY k.cellid
                         ORDER BY k.ring, f.fac_id) AS _rn
              FROM _krv k JOIN _fc f USING (nbr))
        WHERE _rn = 1)"""
