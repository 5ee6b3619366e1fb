"""Categorical spatial composition statistics: per-cell class diversity
and join-count spatial autocorrelation.

The landscape-ecology layer over a cell-keyed observation table: once
events/points are assigned to rHEALPix cells, "how mixed is each cell"
(diversity) and "do like classes clump across the lattice" (join counts)
are pure relational algebra — no geometry, no sampling.

- ``class_diversity``: per-key Gini-Simpson diversity index.  Chosen over
  Shannon entropy deliberately: GS = 1 − Σ pᵢ² is RATIONAL, so it computes
  exactly in integer arithmetic as

      gs_ppm = (N² − Σ nᵢ²) · 1e6  div  N²

  with N = Σ nᵢ in DECIMAL(38,0)/HUGEINT (overflow headroom to N ≈ 1e16
  per key — CLAUDE.md constraint 13 family; Shannon's log is transcendental
  and NOT engine-portable bit-for-bit).  Richness (distinct classes) rides
  the same aggregate.

- ``join_counts``: the classic join-count statistic for categorical data
  on a lattice (Cliff & Ord; the BB/BW/WW counts of landscape ecology)
  generalized to k classes and to the CROSS-FACE queen adjacency
  (operators/spatial_stats.cell_neighbors).  For every unordered class
  pair (a ≤ b): observed adjacency joins J_ab, plus the exact
  free-sampling expectation under random labeling as a ppm ratio:

      E[J_aa] / W = n_a·(n_a−1) / (n·(n−1))                 (n cells)
      E[J_ab] / W = 2·n_a·n_b   / (n·(n−1))                 (a ≠ b)
      expected_ppm = E[J_ab] · 1e6  (exact integer div, same numerators)

  — all integer, engine-exact (W = #undirected adjacent cell pairs with
  both ends labeled).  Clustering shows as J_aa ≫ expected.

Scale design (100 TB): ``class_diversity`` is two chained hash aggregates
(key,class → key) with map-side combining — one shuffle family, no joins.
``join_counts`` enumerates each cell's 8-neighborhood once (offsets
explode + the O(sqrt) seam branch + broadcast 24-row gluing table), hash
equi-joins the label table on nbr (cells ≪ points: the label table is the
post-aggregation cell set), halves the directed pairs via a canonical
(cellid < nbr) predicate, then aggregates to the tiny class-pair table.

Reference parity: the reference has no categorical-statistics layer (its
per-class area metric is dggstools/rasterops/metrics analogue A1); these
extend the same cell-keyed model the way its vector-metrics module
extends rasters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPM = 1_000_000


def class_diversity(obs: DataFrame, key_col: str,
                    class_col: str) -> DataFrame:
    """(key, n_obs, richness, gs_ppm): exact Gini-Simpson diversity of
    ``class_col`` within each ``key_col`` group — see module docstring."""
    per = (obs.groupBy(key_col, class_col)
           .agg(F.count("*").alias("_n")))
    agg = (per.groupBy(key_col)
           .agg(F.sum("_n").alias("n_obs"),
                F.count("*").alias("richness"),
                F.sum(F.expr("CAST(_n AS DECIMAL(38,0)) * _n"))
                .alias("_ss")))
    return (agg.select(
        F.col(key_col),
        F.col("n_obs"),
        F.col("richness"),
        F.expr("CAST(((CAST(n_obs AS DECIMAL(38,0)) * n_obs - _ss)"
               f" * {PPM})"
               " div (CAST(n_obs AS DECIMAL(38,0)) * n_obs) AS BIGINT)")
        .alias("gs_ppm")))


def class_diversity_sql(source_sql: str, key_col: str,
                        class_col: str) -> str:
    """DuckDB twin of :func:`class_diversity` (same two-level aggregate,
    HUGEINT for the DECIMAL(38,0) role)."""
    return f"""
    WITH _per AS MATERIALIZED (
        SELECT {key_col}, {class_col}, count(*) AS _n
        FROM ({source_sql}) GROUP BY {key_col}, {class_col}),
    _agg AS (
        SELECT {key_col},
               CAST(sum(_n) AS BIGINT) AS n_obs,
               CAST(count(*) AS BIGINT) AS richness,
               sum(CAST(_n AS HUGEINT) * _n) AS _ss
        FROM _per GROUP BY {key_col})
    SELECT {key_col}, n_obs, richness,
           CAST(((CAST(n_obs AS HUGEINT) * n_obs - _ss) * {PPM})
                // (CAST(n_obs AS HUGEINT) * n_obs) AS BIGINT) AS gs_ppm
    FROM _agg
    """


def join_counts(cells: DataFrame, res: int, class_col: str) -> DataFrame:
    """(cls_a, cls_b, n_joins, expected_ppm): observed queen-adjacency
    join counts per unordered class pair over a labeled cell table
    (one row per cellid), plus the exact random-labeling expectation —
    see module docstring.  ``cls_a <= cls_b`` canonical order."""
    from .spatial_stats import cell_neighbors

    # dedup: 4 consumers (the neighbor enumeration, both label joins and
    # the class totals)
    lab = (cells.select("cellid", F.col(class_col).alias("_cls"))
           .localCheckpoint(eager=True))
    edges = (cell_neighbors(lab.select("cellid"), res)
             .filter(F.col("cellid") < F.col("nbr")))
    pairs = (edges
             .join(lab.select(F.col("cellid"),
                              F.col("_cls").alias("_ca")), "cellid")
             .join(lab.select(F.col("cellid").alias("nbr"),
                              F.col("_cls").alias("_cb")), "nbr"))
    obs = (pairs.select(
               F.least("_ca", "_cb").alias("cls_a"),
               F.greatest("_ca", "_cb").alias("cls_b"))
           .groupBy("cls_a", "cls_b")
           .agg(F.count("*").alias("n_joins"))
           # dedup: 2 consumers (the total and the per-pair rows)
           .localCheckpoint(eager=True))
    tot = (obs.agg(F.sum("n_joins").alias("_w"))
           .select(F.expr("CAST(_w AS BIGINT)").alias("_w")))
    cnt = lab.groupBy("_cls").agg(F.count("*").alias("_nc"))
    n = cnt.agg(F.sum("_nc").alias("_n")) \
        .select(F.expr("CAST(_n AS BIGINT)").alias("_n"))
    return (obs
            .join(cnt.select(F.col("_cls").alias("cls_a"),
                             F.col("_nc").alias("_na")), "cls_a")
            .join(cnt.select(F.col("_cls").alias("cls_b"),
                             F.col("_nc").alias("_nb")), "cls_b")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(n))
            .withColumn("expected_ppm", F.expr(
                "CAST((CAST(_w AS DECIMAL(38,0))"
                " * IF(cls_a = cls_b, _na * (_na - 1), 2 * _na * _nb)"
                f" * {PPM})"
                " div (CAST(_n AS DECIMAL(38,0)) * (_n - 1))"
                " AS BIGINT)"))
            .select("cls_a", "cls_b", "n_joins", "expected_ppm"))


def join_counts_sql(source_sql: str, res: int, class_col: str) -> str:
    """DuckDB twin of :func:`join_counts` (same edges, same canonical
    pair order, same exact expectation arithmetic)."""
    from .spatial_stats import cell_neighbors_sql

    # the neighbor enumeration reads the MATERIALIZED _lab CTE, not the
    # raw source, so an expression-encoder source is derived exactly once
    # (CLAUDE.md constraint 7/14 family)
    nbr = cell_neighbors_sql("(SELECT cellid FROM _lab)", res)
    return f"""
    WITH _lab AS MATERIALIZED (
        SELECT cellid, {class_col} AS _cls FROM ({source_sql})),
    _edges AS MATERIALIZED (
        SELECT cellid, nbr FROM ({nbr}) WHERE cellid < nbr),
    _obs AS MATERIALIZED (
        SELECT least(a._cls, b._cls) AS cls_a,
               greatest(a._cls, b._cls) AS cls_b,
               CAST(count(*) AS BIGINT) AS n_joins
        FROM _edges e
        JOIN _lab a ON a.cellid = e.cellid
        JOIN _lab b ON b.cellid = e.nbr
        GROUP BY 1, 2),
    _tot AS (SELECT CAST(sum(n_joins) AS BIGINT) AS _w FROM _obs),
    _cnt AS (SELECT _cls, CAST(count(*) AS BIGINT) AS _nc
             FROM _lab GROUP BY _cls),
    _n AS (SELECT CAST(sum(_nc) AS BIGINT) AS _n FROM _cnt)
    SELECT o.cls_a, o.cls_b, o.n_joins,
           CAST((CAST(t._w AS HUGEINT)
                 * (CASE WHEN o.cls_a = o.cls_b
                         THEN ca._nc * (ca._nc - 1)
                         ELSE 2 * ca._nc * cb._nc END)
                 * {PPM})
                // (CAST(n._n AS HUGEINT) * (n._n - 1)) AS BIGINT)
           AS expected_ppm
    FROM _obs o
    JOIN _cnt ca ON ca._cls = o.cls_a
    JOIN _cnt cb ON cb._cls = o.cls_b
    CROSS JOIN _tot t CROSS JOIN _n n
    """


# --------------------------------------------------------------------------
# Segregation statistics between two spatial distributions (public
# measures, Duncan & Duncan 1955 family), all EXACT RATIONALS:
#
#   dissimilarity D = ½ Σ_i |a_i/A − b_i/B|
#                   = Σ_i |a_i·B − b_i·A| · 1e6 div (2·A·B)   (ppm)
#       — the share of either group that would have to move for the
#       distributions to match (0 = identical, 1e6 = disjoint);
#   location quotient LQ_i = (a_i/A)/(b_i/B)
#                          = a_i·B·1e6 div (A·b_i)            (ppm)
#       — per-cell over/under-representation of A relative to B
#       (cells with b_i = 0 get NULL, reported, never a silent drop).
#
# Cross-multiplied integer forms ride DECIMAL(38,0)/HUGEINT so both are
# hash-exact (constraint-13).  One full-outer cell join + one aggregate
# (D) / one projection + top-k (LQ).
# --------------------------------------------------------------------------


def dissimilarity(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """1 row (n_cells, a_total, b_total, d_ppm) over two (cellid, n)
    count tables — see the block comment above."""
    a = cells_a.select("cellid", F.col("n").cast("long").alias("na"))
    b = cells_b.select(F.col("cellid"), F.col("n").cast("long")
                       .alias("nb"))
    j = (a.join(b, "cellid", "full_outer")
         .select(F.coalesce("na", F.lit(0)).alias("na"),
                 F.coalesce("nb", F.lit(0)).alias("nb")))
    tot = j.agg(F.sum("na").alias("_at"), F.sum("nb").alias("_bt"))
    return (j.crossJoin(F.broadcast(tot))
            .agg(F.count("*").alias("n_cells"),
                 F.max("_at").alias("a_total"),
                 F.max("_bt").alias("b_total"),
                 F.sum(F.expr(
                     "abs(CAST(na AS DECIMAL(38,0)) * _bt"
                     " - CAST(nb AS DECIMAL(38,0)) * _at)"))
                 .alias("_num"))
            .select(F.col("n_cells").cast("bigint").alias("n_cells"),
                    F.col("a_total").cast("bigint").alias("a_total"),
                    F.col("b_total").cast("bigint").alias("b_total"),
                    F.expr("CAST((_num * 1000000) div"
                           " (2 * CAST(a_total AS DECIMAL(38,0))"
                           " * b_total) AS BIGINT)").alias("d_ppm")))


def dissimilarity_sql(a_sql: str, b_sql: str) -> str:
    """DuckDB twin of :func:`dissimilarity`."""
    return f"""
    WITH _a AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS na FROM ({a_sql})),
    _b AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS nb FROM ({b_sql})),
    _j AS MATERIALIZED (
        SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        FROM _a FULL OUTER JOIN _b USING (cellid)),
    _t AS (SELECT CAST(sum(na) AS HUGEINT) AS _at,
                  CAST(sum(nb) AS HUGEINT) AS _bt FROM _j)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(any_value(_at) AS BIGINT) AS a_total,
           CAST(any_value(_bt) AS BIGINT) AS b_total,
           CAST((sum(abs(CAST(na AS HUGEINT) * _bt
                         - CAST(nb AS HUGEINT) * _at)) * 1000000)
                // (2 * any_value(_at) * any_value(_bt)) AS BIGINT)
               AS d_ppm
    FROM _j CROSS JOIN _t
    """


def location_quotient(cells_a: DataFrame, cells_b: DataFrame,
                      k: int) -> DataFrame:
    """(cellid, na, nb, lq_ppm, rank): top-``k`` cells by LQ over two
    (cellid, n) count tables; cells where B is absent are excluded
    (LQ undefined) — join semantics make the exclusion explicit."""
    from pyspark.sql.window import Window

    a = cells_a.select("cellid", F.col("n").cast("long").alias("na"))
    b = cells_b.select("cellid", F.col("n").cast("long").alias("nb"))
    tot = (a.agg(F.sum("na").alias("_at"))
           .crossJoin(b.agg(F.sum("nb").alias("_bt"))))
    w = Window.orderBy(F.desc("lq_ppm"), F.asc("cellid"))
    return (a.join(b, "cellid")
            .crossJoin(F.broadcast(tot))
            .withColumn("lq_ppm", F.expr(
                "CAST((CAST(na AS DECIMAL(38,0)) * _bt * 1000000)"
                " div (CAST(_at AS DECIMAL(38,0)) * nb) AS BIGINT)"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("cellid", "na", "nb", "lq_ppm", "rank"))


def location_quotient_sql(a_sql: str, b_sql: str, k: int) -> str:
    """DuckDB twin of :func:`location_quotient`."""
    return f"""
    WITH _a AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS na FROM ({a_sql})),
    _b AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS nb FROM ({b_sql})),
    _t AS (SELECT (SELECT CAST(sum(na) AS HUGEINT) FROM _a) AS _at,
                  (SELECT CAST(sum(nb) AS HUGEINT) FROM _b) AS _bt),
    _lq AS (
        SELECT cellid, na, nb,
               CAST((CAST(na AS HUGEINT) * _bt * 1000000)
                    // (_at * nb) AS BIGINT) AS lq_ppm
        FROM _a JOIN _b USING (cellid) CROSS JOIN _t)
    SELECT cellid, na, nb, lq_ppm, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY lq_ppm DESC, cellid) AS rank FROM _lq)
    WHERE rank <= {k}
    """
