"""Point-pattern analysis on the DGGS lattice: Ripley's K by grid rings.

Ripley's K summarizes clustering across SCALES: K(r) counts, per point,
the expected number of other points within distance r — rising faster
than the random-labeling baseline means clustering at that radius.  On a
cell-binned corpus the exact point-pair version becomes integer algebra:
bin points to cells (n_i points in cell i), define distance as queen
GRAPH distance between cells (the kring_cells relation — cross-face
correct, exact min-hop ring index), and

    pairs(r)     = Σ_{(i,j): ring(i,j) = r} n_i · n_j     (r ≥ 1)
    pairs(0)     = Σ_i n_i · (n_i − 1)                     (within-cell)
    cum_pairs(r) = Σ_{r' ≤ r} pairs(r')
    k_ppm(r)     = 1e6 · cum_pairs(r) div (N · (N − 1))

— the fraction (ppm) of ordered point pairs within grid distance r, the
discrete analogue of K(r)/|A| under the binomial null.  All integers:
pair products and the N·(N−1) denominator ride DECIMAL(38,0)/HUGEINT
(morans_i's constraint-13 discipline; N up to ~1e16 before the 1e6·cum
numerator nears 1e38).

Scale design (100 TB): the input is the post-aggregation cell table
(cells ≪ points).  kring_cells is the lazy coordinate walk over the
OCCUPIED cells (see spatial_stats.kring_cells: one chain of kmax
move-or-stay slot explodes, one min-ring aggregate, shuffle bounded at
O(cells·kmax²));
the pair sum is one hash equi-join of that relation against the count
table + one map-side-combining aggregate; the cumulative sum runs over
kmax+1 rows.  No UDFs, no corpus-wide window.

Reference parity: no counterpart (the reference has no point-pattern
statistics); extends the spatial_stats family (morans_i / join_counts
measure autocorrelation of VALUES; Ripley's K measures clustering of
the POINT PROCESS itself, across radii).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .spatial_stats import kring_cells, kring_cells_sql

PPM = 1_000_000


def ripley_k(cells: DataFrame, res: int, kmax: int) -> DataFrame:
    """(r, pairs_r, cum_pairs, k_ppm) for r = 0..kmax over a
    (cellid, n) cell-count table (see module docstring)."""
    from pyspark.sql.window import Window

    if kmax < 1:
        raise ValueError(f"ripley_k: kmax must be >= 1, got {kmax}")
    counts = cells.select("cellid", F.col("n").cast("long").alias("n"))
    kr = kring_cells(counts.select("cellid"), res, kmax)
    per_ring = (kr
                .join(counts, "cellid")
                .join(counts.select(F.col("cellid").alias("nbr"),
                                    F.col("n").alias("_nj")), "nbr")
                .groupBy(F.col("ring").alias("r"))
                .agg(F.sum(F.expr(
                    "CAST(n AS DECIMAL(38,0)) * _nj")).alias("_p")))
    r0 = counts.agg(F.expr(
        "CAST(sum(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS DECIMAL(38,0))")
        .alias("_p")).select(F.lit(0).alias("r"), "_p")
    tot = counts.agg(F.sum("n").alias("_nt"))
    # dense ring spine 0..kmax: rings with no occupied pair still get a
    # row (pairs_r = 0) so cum/k_ppm are defined at every radius
    spine = (cells.sparkSession.range(0, kmax + 1)
             .select(F.col("id").cast("int").alias("r")))
    w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    return (spine
            .join(r0.unionByName(per_ring.select("r", "_p")), "r", "left")
            .withColumn("_p", F.coalesce(
                "_p", F.lit(0).cast("decimal(38,0)")))
            .withColumn("cum", F.sum("_p").over(w))  # kmax+1 rows total
            .crossJoin(F.broadcast(tot))
            .select(F.col("r").cast("int").alias("r"),
                    F.col("_p").cast("long").alias("pairs_r"),
                    F.col("cum").cast("long").alias("cum_pairs"),
                    F.expr(f"CAST((cum * {PPM}) div"
                           f" (CAST(_nt AS DECIMAL(38,0)) * (_nt - 1))"
                           f" AS BIGINT)").alias("k_ppm")))


def ripley_k_sql(source_sql: str, res: int, kmax: int) -> str:
    """DuckDB twin of :func:`ripley_k` over ``source_sql`` → (cellid, n)
    (same kring expansion, same HUGEINT pair arithmetic)."""
    if kmax < 1:
        raise ValueError(f"ripley_k_sql: kmax must be >= 1, got {kmax}")
    kr = kring_cells_sql("(SELECT cellid FROM _cnt)", res, kmax)
    return f"""
    WITH _cnt AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS n FROM ({source_sql})),
    _kr AS MATERIALIZED ({kr}),
    _pr AS MATERIALIZED (
        SELECT CAST(k.ring AS INT) AS r,
               sum(CAST(a.n AS HUGEINT) * b.n) AS _p
        FROM _kr k
        JOIN _cnt a ON a.cellid = k.cellid
        JOIN _cnt b ON b.cellid = k.nbr
        GROUP BY k.ring),
    _sparse AS MATERIALIZED (
        SELECT CAST(0 AS INT) AS r,
               sum(CAST(n AS HUGEINT) * (n - 1)) AS _p FROM _cnt
        UNION ALL
        SELECT r, _p FROM _pr),
    _all AS MATERIALIZED (
        SELECT CAST(t.r AS INT) AS r,
               coalesce(s._p, CAST(0 AS HUGEINT)) AS _p
        FROM range(0, {kmax + 1}) t(r)
        LEFT JOIN _sparse s ON s.r = t.r),
    _tot AS (SELECT CAST(sum(n) AS HUGEINT) AS _nt FROM _cnt)
    SELECT r, CAST(_p AS BIGINT) AS pairs_r,
           CAST(cum AS BIGINT) AS cum_pairs,
           CAST((cum * {PPM}) // ((SELECT _nt FROM _tot)
                * ((SELECT _nt FROM _tot) - 1)) AS BIGINT) AS k_ppm
    FROM (SELECT r, _p,
                 sum(_p) OVER (ORDER BY r
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
          FROM _all)
    """


# --------------------------------------------------------------------------
# G function — nearest-neighbor distance distribution, the second classic
# point-pattern statistic (Ripley's K above counts ALL pairs per radius;
# G looks only at each point's NEAREST neighbor, so it separates "many
# mid-range pairs" from "tight doublets" that K conflates).  Cell-binned
# and graph-metric like ripley_k: the distance is the exact min-hop queen
# ring (kring_cells, cross-face correct), and
#
#     nn(i)   = min ring r such that some OTHER occupied cell is in
#               ring r of cell i                       (1 ≤ nn ≤ kmax)
#     G(r)    = |{i : nn(i) ≤ r}| / n_occupied         (ppm, exact)
#
# Cells whose nearest occupied neighbor is beyond kmax are CENSORED: they
# count in the denominator (standard reduced-sample border treatment)
# and are reported in n_censored so the truncation is observable, never
# silent.
#
# Scale shape (100 TB): kring's k bounded lattice expansions over the
# OCCUPIED cell table + one hash semi-join against it + one min-agg per
# cell + a kmax-row histogram fold.  No pair table at all (unlike K's
# Σ n_i·n_j join) — G is the cheap statistic.
# --------------------------------------------------------------------------


def g_function(cells: DataFrame, res: int, kmax: int) -> DataFrame:
    """(r, n_le, n_total, n_censored, g_ppm) for r = 1..kmax over a
    cell table with a ``cellid`` column (occupied set = distinct ids);
    see the block comment above."""
    if kmax < 1:
        raise ValueError(f"g_function: kmax must be >= 1, got {kmax}")
    occ = cells.select("cellid").distinct()
    kr = kring_cells(occ, res, kmax)
    nn = (kr.join(occ.select(F.col("cellid").alias("nbr")), "nbr")
          .groupBy("cellid")
          .agg(F.min("ring").alias("nn_ring")))
    # dedup: 2 consumers.  hist carries everything both need (the
    # kmax-row histogram and, as Σ_c, the uncensored count), so the lazy
    # kring expansion is walked once.  Eager: at sf0.1 it beat no cut in
    # 3 of 3 alternating pairs (3.95 s against 4.52 s median)
    hist = nn.groupBy("nn_ring").agg(F.count("*").alias("_c")) \
        .localCheckpoint(eager=True)
    tot = (occ.agg(F.count("*").alias("n_total"))
           .crossJoin(hist.agg(
               F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint")
               .alias("_nn"))))
    spine = (cells.sparkSession.range(1, kmax + 1)
             .select(F.col("id").cast("int").alias("r")))
    return (spine
            .join(hist, hist["nn_ring"] <= spine["r"], "left")
            .groupBy("r")
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("n_le"))
            .crossJoin(F.broadcast(tot))
            .select("r", F.col("n_le").cast("bigint").alias("n_le"),
                    F.col("n_total").cast("bigint").alias("n_total"),
                    F.expr("CAST(n_total - _nn AS BIGINT)")
                    .alias("n_censored"),
                    F.expr(f"CAST((n_le * {PPM}) div n_total AS BIGINT)")
                    .alias("g_ppm")))


def g_function_sql(source_sql: str, res: int, kmax: int) -> str:
    """DuckDB twin of :func:`g_function` over ``source_sql`` → cellid."""
    if kmax < 1:
        raise ValueError(f"g_function_sql: kmax must be >= 1, got {kmax}")
    kr = kring_cells_sql("(SELECT cellid FROM _occ)", res, kmax)
    return f"""
    WITH _occ AS MATERIALIZED (
        SELECT DISTINCT cellid FROM ({source_sql})),
    _kr AS MATERIALIZED ({kr}),
    _nn AS MATERIALIZED (
        SELECT k.cellid, min(k.ring) AS nn_ring
        FROM _kr k JOIN _occ o ON o.cellid = k.nbr
        GROUP BY k.cellid),
    _hist AS (SELECT nn_ring, count(*) AS _c FROM _nn GROUP BY nn_ring),
    _tot AS (SELECT (SELECT count(*) FROM _occ) AS n_total,
                    (SELECT count(*) FROM _nn) AS _nn)
    SELECT CAST(t.r AS INT) AS r,
           CAST(coalesce(sum(h._c), 0) AS BIGINT) AS n_le,
           CAST(any_value(n_total) AS BIGINT) AS n_total,
           CAST(any_value(n_total) - any_value(_nn) AS BIGINT)
               AS n_censored,
           CAST((coalesce(sum(h._c), 0) * {PPM})
                // any_value(n_total) AS BIGINT) AS g_ppm
    FROM range(1, {kmax + 1}) t(r)
    CROSS JOIN _tot
    LEFT JOIN _hist h ON h.nn_ring <= t.r
    GROUP BY t.r
    """


# --------------------------------------------------------------------------
# Cross-K (bivariate Ripley): the colocation question — are TYPE-B
# points concentrated around TYPE-A points?  Same integer pair algebra
# as ripley_k but across two marked point sets:
#
#     pairs_ab(0) = Σ_i na_i · nb_i                  (same cell)
#     pairs_ab(r) = Σ_{(i,j): ring(i,j) = r} na_i · nb_j    (r ≥ 1)
#     kx_ppm(r)   = 1e6 · cum_pairs(r) div (Na · Nb)
#
# — the fraction of ordered (A, B) point pairs within grid distance r.
# Under independent uniform placement kx_ppm grows like the disk area;
# kx above the univariate curve of either set alone indicates
# ATTRACTION between the types (e.g. suppliers sited near customers),
# below it avoidance.  Kring seeds are the A-occupied cells only — the
# relation is read A→B, so B-only cells never seed an expansion.
# --------------------------------------------------------------------------


def cross_k(cells_a: DataFrame, cells_b: DataFrame, res: int,
            kmax: int) -> DataFrame:
    """(r, pairs_r, cum_pairs, kx_ppm) for r = 0..kmax over two
    (cellid, n) cell-count tables — see the block comment above."""
    from pyspark.sql.window import Window

    if kmax < 1:
        raise ValueError(f"cross_k: kmax must be >= 1, got {kmax}")
    ca = cells_a.select("cellid", F.col("n").cast("long").alias("na"))
    cb = cells_b.select(F.col("cellid").alias("nbr"),
                        F.col("n").cast("long").alias("nb"))
    kr = kring_cells(ca.select("cellid"), res, kmax)
    per_ring = (kr.join(ca, "cellid").join(cb, "nbr")
                .groupBy(F.col("ring").alias("r"))
                .agg(F.sum(F.expr(
                    "CAST(na AS DECIMAL(38,0)) * nb")).alias("_p")))
    r0 = (ca.join(cb, ca["cellid"] == cb["nbr"])
          .agg(F.expr("CAST(sum(CAST(na AS DECIMAL(38,0)) * nb)"
                      " AS DECIMAL(38,0))").alias("_p"))
          .select(F.lit(0).alias("r"),
                  F.coalesce("_p", F.lit(0).cast("decimal(38,0)"))
                  .alias("_p")))
    tot = (ca.agg(F.sum("na").alias("_sa"))
           .crossJoin(cb.agg(F.sum("nb").alias("_sb"))))
    spine = (cells_a.sparkSession.range(0, kmax + 1)
             .select(F.col("id").cast("int").alias("r")))
    w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    return (spine
            .join(r0.unionByName(per_ring.select("r", "_p")), "r", "left")
            .withColumn("_p", F.coalesce(
                "_p", F.lit(0).cast("decimal(38,0)")))
            .withColumn("cum", F.sum("_p").over(w))
            .crossJoin(F.broadcast(tot))
            .select(F.col("r").cast("int").alias("r"),
                    F.col("_p").cast("long").alias("pairs_r"),
                    F.col("cum").cast("long").alias("cum_pairs"),
                    F.expr(f"CAST((cum * {PPM}) div"
                           f" (CAST(_sa AS DECIMAL(38,0)) * _sb)"
                           f" AS BIGINT)").alias("kx_ppm")))


def cross_k_sql(a_sql: str, b_sql: str, res: int, kmax: int) -> str:
    """DuckDB twin of :func:`cross_k` over ``a_sql``/``b_sql`` →
    (cellid, n)."""
    if kmax < 1:
        raise ValueError(f"cross_k_sql: kmax must be >= 1, got {kmax}")
    kr = kring_cells_sql("(SELECT cellid FROM _ca)", res, kmax)
    return f"""
    WITH _ca AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS na FROM ({a_sql})),
    _cb AS MATERIALIZED (
        SELECT cellid, CAST(n AS BIGINT) AS nb FROM ({b_sql})),
    _kr AS MATERIALIZED ({kr}),
    _pr AS MATERIALIZED (
        SELECT CAST(k.ring AS INT) AS r,
               sum(CAST(a.na AS HUGEINT) * b.nb) AS _p
        FROM _kr k
        JOIN _ca a ON a.cellid = k.cellid
        JOIN _cb b ON b.cellid = k.nbr
        GROUP BY k.ring),
    _sparse AS MATERIALIZED (
        SELECT CAST(0 AS INT) AS r,
               coalesce((SELECT sum(CAST(a.na AS HUGEINT) * b.nb)
                         FROM _ca a JOIN _cb b USING (cellid)),
                        CAST(0 AS HUGEINT)) AS _p
        UNION ALL
        SELECT r, _p FROM _pr),
    _all AS MATERIALIZED (
        SELECT CAST(t.r AS INT) AS r,
               coalesce(s._p, CAST(0 AS HUGEINT)) AS _p
        FROM range(0, {kmax + 1}) t(r)
        LEFT JOIN _sparse s ON s.r = t.r),
    _tot AS (SELECT (SELECT CAST(sum(na) AS HUGEINT) FROM _ca) AS _sa,
                    (SELECT CAST(sum(nb) AS HUGEINT) FROM _cb) AS _sb)
    SELECT r, CAST(_p AS BIGINT) AS pairs_r,
           CAST(cum AS BIGINT) AS cum_pairs,
           CAST((cum * {PPM}) // ((SELECT _sa FROM _tot)
                * (SELECT _sb FROM _tot)) AS BIGINT) AS kx_ppm
    FROM (SELECT r, _p,
                 sum(_p) OVER (ORDER BY r
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
          FROM _all)
    """


# --------------------------------------------------------------------------
# F function (empty-space function) and J function — the remaining two
# classic point-pattern statistics (with K and G above, the standard
# quartet).  F(r) is G's dual: the nearest-OCCUPIED distance measured
# from REFERENCE locations (here: every lattice cell of the faces the
# pattern touches — deterministic, no random sampling), and
#
#     J(r) = (1 − G(r)) / (1 − F(r))
#
# is van Lieshout & Baddeley's ratio: J < 1 ⇒ clustering, J ≈ 1 ⇒ CSR,
# J > 1 ⇒ regularity — prized because it needs no intensity estimate.
# Both CDFs are exact integer fractions here, so J is RATIONAL:
#
#     j_ppm(r) = (g_tot − g_le(r)) · f_tot · 1e6
#                div ((f_tot − f_le(r)) · g_tot)
#
# (NULL where F(r) = 1 — fully saturated empty space).  Censoring
# beyond kmax stays observable via the *_censored counts.
#
# Scale shape: the reference set is faces × 9^res cells — enumerate it
# relationally (explode over face list × sequence); one kring expansion
# over the reference seeds + the same semi-join/min-agg as G.  At fine
# res pass a deterministic reference SAMPLE (hash-filtered cells) —
# the estimator contract is unchanged.
# --------------------------------------------------------------------------


def _face_lattice(spark, faces: "list[str]", res: int) -> DataFrame:
    """Every cellid of the given faces at ``res`` (reference set)."""
    n = 3 ** res
    fa = ", ".join(f"'{f}'" for f in faces)
    df = spark.range(1).select(
        F.explode(F.expr(f"array({fa})")).alias("_face"))
    df = df.select("_face", F.explode(F.expr(
        f"sequence(0, {n * n - 1})")).alias("_i"))
    expr = "_face"
    for lvl in range(res):
        w = 3 ** (res - 1 - lvl)
        expr = (f"concat({expr}, CAST(((_i div {w * n}) % 3) * 3"
                f" + ((_i div {w}) % 3) AS STRING))")
    return df.select(F.expr(expr).alias("cellid"))


def _face_lattice_sql(faces: "list[str]", res: int) -> str:
    n = 3 ** res
    fa = " UNION ALL ".join(f"SELECT '{f}' AS _face" for f in faces)
    expr = "_face"
    for lvl in range(res):
        w = 3 ** (res - 1 - lvl)
        expr = (f"{expr} || CAST(((_i // {w * n}) % 3) * 3"
                f" + ((_i // {w}) % 3) AS STRING)")
    return (f"SELECT {expr} AS cellid FROM ({fa}) f,"
            f" (SELECT unnest(generate_series(0, {n * n - 1})) AS _i) g")


def fj_function(cells: DataFrame, res: int, kmax: int) -> DataFrame:
    """(r, f_le, f_tot, g_le, g_tot, j_ppm) for r = 1..kmax over a
    cell table with a ``cellid`` column — see the block comment above."""
    if kmax < 1:
        raise ValueError(f"fj_function: kmax must be >= 1, got {kmax}")
    # dedup: 3 consumers (the face list, the k-ring seeds, the G join)
    occ = cells.select("cellid").distinct().localCheckpoint(eager=True)
    faces = sorted(r.f for r in occ.select(
        F.substring("cellid", 1, 1).alias("f")).distinct().collect())
    ref = _face_lattice(cells.sparkSession, faces, res)
    occ_nbr = occ.select(F.col("cellid").alias("nbr"))
    # ONE kring expansion serves both CDFs (r7 optimization): ring is a
    # graph distance, hence SYMMETRIC (the adjacency relation is
    # symmetric — topology.edge_table is an involution), so the
    # occupied-seeded pairs (o, x, ring) read backwards give every
    # reference cell x its distance to each occupied cell within kmax.
    # The old second expansion over the FULL face lattice (the reference
    # set, ≫ occupied cells in general) is thereby removed.
    # dedup: 2 consumers (F and G)
    kr_occ = kring_cells(occ, res, kmax) \
        .localCheckpoint(eager=True)
    # F: nearest occupied from every reference cell = min ring over the
    # REVERSED occupied-seeded pairs, restricted to the face lattice
    # (nbr's face ∈ faces ⇔ nbr ∈ ref — the lattice enumerates whole
    # faces); ring 0 = the reference cell itself being occupied
    # (occ ⊆ ref by construction: occupied cells define the face list).
    nn_f = (kr_occ.filter(
                F.substring("nbr", 1, 1).isin(list(faces)))
            .groupBy(F.col("nbr").alias("cellid"))
            .agg(F.min("ring").alias("nn"))
            .unionByName(occ.select("cellid", F.lit(0).alias("nn")))
            .groupBy("cellid").agg(F.min("nn").alias("nn")))
    f_hist = nn_f.groupBy("nn").agg(F.count("*").alias("_c"))
    f_tot = ref.agg(F.count("*").alias("f_tot"))
    # G: nearest OTHER occupied from every occupied cell (as g_function)
    nn_g = (kr_occ.join(occ_nbr, "nbr")
            .groupBy("cellid").agg(F.min("ring").alias("nn")))
    g_hist = nn_g.groupBy("nn").agg(F.count("*").alias("_c"))
    g_tot = occ.agg(F.count("*").alias("g_tot"))
    spine = (cells.sparkSession.range(1, kmax + 1)
             .select(F.col("id").cast("int").alias("r")))
    f_le = (spine.join(f_hist, f_hist["nn"] <= spine["r"], "left")
            .groupBy("r")
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("f_le")))
    g_le = (spine.join(g_hist, g_hist["nn"] <= spine["r"], "left")
            .groupBy("r")
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("g_le")))
    return (f_le.join(g_le, "r")
            .crossJoin(F.broadcast(f_tot))
            .crossJoin(F.broadcast(g_tot))
            .select(F.col("r"),
                    F.col("f_le").cast("bigint").alias("f_le"),
                    F.col("f_tot").cast("bigint").alias("f_tot"),
                    F.col("g_le").cast("bigint").alias("g_le"),
                    F.col("g_tot").cast("bigint").alias("g_tot"),
                    F.expr("CASE WHEN f_tot > f_le THEN"
                           " ((g_tot - g_le) * f_tot * 1000000)"
                           " div ((f_tot - f_le) * g_tot)"
                           " ELSE NULL END").cast("bigint")
                    .alias("j_ppm")))


def fj_function_sql(source_sql: str, faces: "list[str]", res: int,
                    kmax: int) -> str:
    """DuckDB twin of :func:`fj_function` (``faces`` must match the
    occupied faces of ``source_sql`` — the query layer derives them
    identically on both sides)."""
    if kmax < 1:
        raise ValueError(
            f"fj_function_sql: kmax must be >= 1, got {kmax}")
    ref = _face_lattice_sql(faces, res)
    kr_ref = kring_cells_sql("(SELECT cellid FROM _ref)", res, kmax)
    kr_occ = kring_cells_sql("(SELECT cellid FROM _occ)", res, kmax)
    return f"""
    WITH _occ AS MATERIALIZED (
        SELECT DISTINCT cellid FROM ({source_sql})),
    _ref AS MATERIALIZED ({ref}),
    _krr AS MATERIALIZED ({kr_ref}),
    _nnf AS MATERIALIZED (
        SELECT cellid, min(nn) AS nn FROM (
            SELECT k.cellid, min(k.ring) AS nn
            FROM _krr k JOIN _occ o ON o.cellid = k.nbr
            GROUP BY k.cellid
            UNION ALL
            SELECT r.cellid, 0 AS nn
            FROM _ref r JOIN _occ o USING (cellid))
        GROUP BY cellid),
    _kro AS MATERIALIZED ({kr_occ}),
    _nng AS MATERIALIZED (
        SELECT k.cellid, min(k.ring) AS nn
        FROM _kro k JOIN _occ o ON o.cellid = k.nbr
        GROUP BY k.cellid),
    _ft AS (SELECT count(*) AS f_tot FROM _ref),
    _gt AS (SELECT count(*) AS g_tot FROM _occ)
    SELECT CAST(t.r AS INT) AS r,
           CAST(coalesce((SELECT count(*) FROM _nnf
                          WHERE nn <= t.r), 0) AS BIGINT) AS f_le,
           CAST(f_tot AS BIGINT) AS f_tot,
           CAST(coalesce((SELECT count(*) FROM _nng
                          WHERE nn <= t.r), 0) AS BIGINT) AS g_le,
           CAST(g_tot AS BIGINT) AS g_tot,
           CAST(CASE WHEN f_tot > (SELECT count(*) FROM _nnf
                                   WHERE nn <= t.r) THEN
               ((g_tot - (SELECT count(*) FROM _nng WHERE nn <= t.r))
                * f_tot * 1000000)
               // ((f_tot - (SELECT count(*) FROM _nnf
                             WHERE nn <= t.r)) * g_tot)
               ELSE NULL END AS BIGINT) AS j_ppm
    FROM range(1, {kmax + 1}) t(r)
    CROSS JOIN _ft CROSS JOIN _gt
    """
