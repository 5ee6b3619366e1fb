"""Hydrology on the DGGS lattice: D8 flow direction, watershed (drainage
basin) labeling, and Horn-method terrain gradients (slope / aspect).

The classic raster-hydrology stack re-expressed as relational algebra on
the rHEALPix (face, row, col) lattice — the same cell-table substrate as
operators/spatial_stats (lattice decode is the shared digit fold;
neighbor topology is the shared queen relation, seam-glued when
``cross_face``).

- ``flow_dir`` (D8): every cell flows to its steepest-DESCENT queen
  neighbor present in the table — argmax of the elevation drop
  z(cell) − z(nbr) over neighbors with a strictly positive drop, ties
  broken to the lexicographically smallest neighbor cellid (the
  cluster_keep min-struct argmax idiom — deterministic, engine-exact).
  Cells with no lower covered neighbor are PITS and flow to themselves.
  Distance weighting (the planar √2 diagonal divisor of grid D8) is
  deliberately omitted: on an equal-area DGGS the diagonal metric varies
  with latitude, so a constant √2 would be false precision — documented
  drop-steepest-descent contract (and it keeps every comparison exact
  BIGINT arithmetic; a √2 divisor would reintroduce float compares).

- ``watershed``: the terminal pit of every cell's flow path — i.e.
  drainage-basin labels — via POINTER DOUBLING over the flow pointer:
  p ← p∘p for ``doublings`` rounds (dedup_clusters' pointer-jumping
  family; graph.page_rank's iteration-state discipline).  Because every
  flow step strictly decreases z, the flow graph is a forest rooted at
  pits and path length is bounded by the elevation RANGE (each hop drops
  ≥ 1), so 2^doublings ≥ z_range guarantees convergence — O(log L)
  rounds, each one hash self-equi-join over an N-row pointer table (vs
  the O(L) rounds of naive downstream propagation: the reason flow
  accumulation by wavefront does not scale and basin labeling by
  doubling does).  ``localCheckpoint`` per round ends each fixpoint
  round.

- ``slope_aspect``: Horn's 3×3 finite-difference gradient —
  gx = (zNE + 2·zE + zSE) − (zNW + 2·zW + zSW), gy likewise N→S — with
  missing neighbors (off-face or not in the table) coalesced to the
  center value (the standard nodata-clamp), then
  slope_ppm = round(1e6 · sqrt(gx² + gy²) / 8) (sqrt of an exact BIGINT
  → bit-identical double on both engines; /8 is a power of two so any
  perfect-square radicand yields an exact multiple of 125000 — no
  constraint-17 half-boundary exists) and an INTEGER-EXACT 8-way aspect
  octant from sign/magnitude comparisons of (gx, gy) alone (no atan2,
  no tan(22.5°) literal): octant o covers compass angle [45°·o,
  45°·(o+1)), −1 = flat.  Interior adjacency with an ``on_seam`` flag
  (Horn needs each neighbor's OFFSET CLASS for its weight; the seam
  gluing exposes adjacency but not offset class, so seam cells use the
  clamp and are flagged — the focal_mean seam-visibility contract).

Scale design (100 TB): cell tables arrive post-aggregation (cells ≪
points).  flow_dir is one 8× offset explode + two hash equi-joins + one
combine-heavy argmax agg; watershed adds ceil(log2(z_range)) self-joins
of an N-row two-column table; slope_aspect is one offset explode + one
hash left-join + one agg.  No UDFs, no windows over the corpus, no
driver-side state.

Reference parity: no counterpart (the reference's raster ops stop at
resample/rescale); extends the spatial_stats family the same way
cost_distance / region_group did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .spatial_stats import (_NEIGHBOR_OFFSETS, cell_neighbors,
                            cell_neighbors_sql, lattice_select_sql,
                            seam_pred_sql, with_lattice)

PPM = 1_000_000


# --------------------------------------------------------------------------
# shared deterministic elevation surface (query-side helper): a gentle
# planar gradient toward the face origin plus md5 noise —
#     z = SLOPE_W · (row + col) + md5_32(cellid) % NOISE_MOD
# (the sketch/dedup portable-hash idiom).  Strictly-positive flow drops
# bound every flow path by the z RANGE: SLOPE_W·2·(3^res − 1) + NOISE_MOD.
# --------------------------------------------------------------------------

SLOPE_W = 4
NOISE_MOD = 4


def elev_range(res: int) -> int:
    """Upper bound on z_max − z_min (the watershed doubling budget)."""
    return SLOPE_W * 2 * (3 ** res - 1) + (NOISE_MOD - 1)


def elev_spark(res: int) -> str:
    """Spark SQL: deterministic BIGINT elevation from a `cellid` column."""
    terms = []
    for i in range(1, res + 1):
        d = f"CAST(substring(cellid, {i + 1}, 1) AS BIGINT)"
        w = 3 ** (res - i)
        terms.append(f"(({d}) div 3) * {w} + (({d}) % 3) * {w}")
    noise = (f"CAST(conv(substring(md5(cellid), 1, 8), 16, 10) AS BIGINT)"
             f" % {NOISE_MOD}")
    return f"CAST({SLOPE_W} * ({' + '.join(terms)}) + {noise} AS BIGINT)"


def elev_duckdb(res: int) -> str:
    """DuckDB twin of :func:`elev_spark` (same digit fold, same md5-hex
    fold — sketch._pos_duckdb idiom, inlined so the snippet is
    self-contained over a bare `cellid` column)."""
    terms = []
    for i in range(1, res + 1):
        d = f"CAST(substring(cellid, {i + 1}, 1) AS BIGINT)"
        w = 3 ** (res - i)
        terms.append(f"(({d}) // 3) * {w} + (({d}) % 3) * {w}")
    fold = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(cellid), {1 + j}, 1))"
        f" - 1) * {16 ** (7 - j)}" for j in range(8))
    return (f"CAST({SLOPE_W} * ({' + '.join(terms)})"
            f" + CAST({fold} AS BIGINT) % {NOISE_MOD} AS BIGINT)")


# --------------------------------------------------------------------------
# D8 flow direction
# --------------------------------------------------------------------------


def flow_dir(cells: DataFrame, res: int,
             cross_face: bool = True) -> DataFrame:
    """(cellid, z, nxt, drop): steepest-descent flow pointer (see module
    docstring).  ``cells`` is (cellid, z BIGINT), unique same-res ids;
    pits have nxt = cellid, drop = 0."""
    nb = cell_neighbors(cells.select("cellid"), res,
                        cross_face).select("cellid", "nbr")
    zt = cells.select(F.col("cellid").alias("nbr"),
                      F.col("z").alias("_zn"))
    best = (nb.join(zt, "nbr")              # only covered neighbors
            .join(cells.select("cellid", "z"), "cellid")
            .withColumn("_drop", F.expr("z - _zn"))
            .filter(F.col("_drop") > 0)
            .groupBy("cellid")
            # argmax(drop, tie -> min nbr): min over (-drop, nbr)
            .agg(F.min(F.struct((-F.col("_drop")).alias("nd"),
                                F.col("nbr").alias("n"))).alias("_b"))
            .select("cellid", F.col("_b.n").alias("nxt"),
                    (-F.col("_b.nd")).cast("bigint").alias("drop")))
    return (cells.select("cellid", "z")
            .join(best, "cellid", "left")
            .select("cellid", "z",
                    F.coalesce("nxt", F.col("cellid")).alias("nxt"),
                    F.coalesce("drop", F.lit(0)).cast("bigint")
                    .alias("drop")))


def flow_dir_ctes(cells_sql: str, res: int) -> str:
    """DuckDB CTE chain ending in ``fdir`` (cellid, z, nxt, drop) — the
    twin of :func:`flow_dir` with cross_face=True over ``cells_sql`` →
    (cellid, z).  Every level MATERIALIZED (CLAUDE.md constraints 7/14)."""
    nb = cell_neighbors_sql("(SELECT cellid FROM _cz)", res)
    return f"""
    _cz AS MATERIALIZED ({cells_sql}),
    _nb AS MATERIALIZED (SELECT cellid, nbr FROM ({nb})),
    _cand AS MATERIALIZED (
        SELECT n.cellid, n.nbr, c0.z - cn.z AS drp
        FROM _nb n
        JOIN _cz cn ON cn.cellid = n.nbr
        JOIN _cz c0 ON c0.cellid = n.cellid
        WHERE c0.z > cn.z),
    _best AS MATERIALIZED (
        SELECT cellid, min(nbr) FILTER (WHERE drp = mx) AS nxt,
               CAST(max(drp) AS BIGINT) AS drop
        FROM (SELECT cellid, nbr, drp,
                     max(drp) OVER (PARTITION BY cellid) AS mx
              FROM _cand)
        GROUP BY cellid),
    fdir AS MATERIALIZED (
        SELECT c.cellid, c.z, coalesce(b.nxt, c.cellid) AS nxt,
               CAST(coalesce(b.drop, 0) AS BIGINT) AS drop
        FROM _cz c LEFT JOIN _best b USING (cellid))"""


# --------------------------------------------------------------------------
# watershed labeling (pointer doubling to the terminal pit)
# --------------------------------------------------------------------------


def watershed(cells: DataFrame, res: int, doublings: int,
              cross_face: bool = True) -> DataFrame:
    """(cellid, pit): drainage-basin label = terminal pit of the flow
    path.  Requires 2^doublings ≥ the maximum flow-path length (bounded
    by the elevation range — every hop drops ≥ 1; see
    :func:`elev_range`)."""
    if doublings < 1:
        raise ValueError(f"watershed: doublings must be >= 1,"
                         f" got {doublings}")
    # (r7 note: eager=False across the 8 chained doublings measured a
    # small win in isolation (2.68->2.47) but blew up to 16-37 s inside
    # a full 155-query sweep at steal 0 — deep chains of un-materialized
    # persists thrash under a long-lived JVM's heap pressure where the
    # small eager jobs stay flat.  Kept EAGER: sweep-stability first.)
    p = (flow_dir(cells, res, cross_face)
         .select("cellid", F.col("nxt").alias("p"))
         .localCheckpoint(eager=True))  # dedup: 2 consumers (round 1's sides)
    for _ in range(doublings):
        step = p.select(F.col("cellid").alias("_m"),
                        F.col("p").alias("_p2"))
        p = (p.join(step, p["p"] == step["_m"])
             .select("cellid", F.col("_p2").alias("p"))
             .localCheckpoint(eager=True))  # fixpoint round
    return p.select("cellid", F.col("p").alias("pit"))


def watershed_ctes(cells_sql: str, res: int, doublings: int) -> str:
    """DuckDB CTE chain ending in ``wshed`` (cellid, pit) — the twin of
    :func:`watershed` with cross_face=True (same doubling count, every
    level MATERIALIZED — CLAUDE.md constraint 14: un-materialized doubling
    levels inline exponentially)."""
    if doublings < 1:
        raise ValueError(f"watershed_ctes: doublings must be >= 1,"
                         f" got {doublings}")
    parts = [flow_dir_ctes(cells_sql, res),
             "_p0 AS MATERIALIZED (SELECT cellid, nxt AS p FROM fdir)"]
    for i in range(1, doublings + 1):
        parts.append(f"""_p{i} AS MATERIALIZED (
        SELECT a.cellid, b.p
        FROM _p{i - 1} a JOIN _p{i - 1} b ON b.cellid = a.p)""")
    parts.append(f"wshed AS MATERIALIZED ("
                 f"SELECT cellid, p AS pit FROM _p{doublings})")
    return ",\n".join(parts)


# --------------------------------------------------------------------------
# Horn slope / aspect
# --------------------------------------------------------------------------


def _aspect_case() -> str:
    """Integer-exact compass octant of gradient vector (gx, gy) — the
    IDENTICAL text runs on both engines (only integer compares):
    octant o covers angle [45°·o, 45°·(o+1)) with atan2 orientation
    (0° = +gx axis, counterclockwise); −1 = flat."""
    return ("CASE WHEN gx = 0 AND gy = 0 THEN -1"
            " WHEN gy >= 0 AND gx > 0 AND gy < gx THEN 0"
            " WHEN gx > 0 AND gy >= gx THEN 1"
            " WHEN gx <= 0 AND gy > 0 AND -gx < gy THEN 2"
            " WHEN gy > 0 AND -gx >= gy THEN 3"
            " WHEN gy <= 0 AND gx < 0 AND -gy < -gx THEN 4"
            " WHEN gx < 0 AND -gy >= -gx THEN 5"
            " WHEN gx >= 0 AND gy < 0 AND gx < -gy THEN 6"
            " ELSE 7 END")


_SLOPE_PPM = (f"CAST(round({PPM} * sqrt(CAST(gx * gx + gy * gy"
              f" AS DOUBLE)) / 8) AS BIGINT)")


def _horn_w(dr: int, dc: int) -> "tuple[int, int]":
    """(wgx, wgy) Horn weight of the neighbor at offset (dr, dc):
    cardinal neighbors weigh 2, diagonals 1; sign follows the axis."""
    return dc * (2 - abs(dr)), dr * (2 - abs(dc))


def _offsets_sql() -> str:
    """explode of the 8 queen offsets (dr, dc), off-face ones included:
    the Horn gradient left-joins every one and falls back to the cell's
    own z where none matches."""
    rows = ", ".join(f"struct({dr} AS dr, {dc} AS dc)"
                     for dr, dc in _NEIGHBOR_OFFSETS)
    return f"explode(array({rows}))"


def slope_aspect(cells: DataFrame, res: int) -> DataFrame:
    """(cellid, gx, gy, slope_ppm, aspect_oct, on_seam): Horn gradient
    of a (cellid, z BIGINT) cell table (see module docstring)."""
    lat = with_lattice(cells.select("cellid", "z"), res)
    zt = lat.select(F.col("row").alias("_r2"), F.col("col").alias("_c2"),
                    F.col("face").alias("_f2"), F.col("z").alias("_zn"))
    ex = (lat
          .select("cellid", "z", "face", "row", "col",
                  F.expr(_offsets_sql()).alias("o"))
          .withColumn("_r2", F.expr("row + o.dr"))
          .withColumn("_c2", F.expr("col + o.dc"))
          .withColumn("_f2", F.col("face"))
          .join(zt, ["_f2", "_r2", "_c2"], "left")
          .withColumn("_ze", F.coalesce("_zn", F.col("z"))))
    wgx = " ".join(f"WHEN o.dr = {dr} AND o.dc = {dc} THEN {_horn_w(dr, dc)[0]}"
                   for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                   if (dr, dc) != (0, 0))
    wgy = " ".join(f"WHEN o.dr = {dr} AND o.dc = {dc} THEN {_horn_w(dr, dc)[1]}"
                   for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                   if (dr, dc) != (0, 0))
    g = (ex.groupBy("cellid", "row", "col")
         .agg(F.sum(F.expr(f"(CASE {wgx} END) * _ze")).alias("gx"),
              F.sum(F.expr(f"(CASE {wgy} END) * _ze")).alias("gy")))
    return (g.select(
        "cellid", F.col("gx").cast("bigint").alias("gx"),
        F.col("gy").cast("bigint").alias("gy"),
        F.expr(_SLOPE_PPM).alias("slope_ppm"),
        F.expr(_aspect_case()).cast("int").alias("aspect_oct"),
        F.expr(f"CAST({seam_pred_sql(res)} AS INT)").alias("on_seam")))


def slope_aspect_sql(cells_sql: str, res: int) -> str:
    """DuckDB twin of :func:`slope_aspect` (same lattice fold, same Horn
    weights, same octant CASE text).  The ``ex`` CTE projects the offset
    columns bare (``dr``/``dc``) so the weight CASEs drop the ``o.``
    qualifier the Spark struct path uses."""
    lat = lattice_select_sql(cells_sql, res, value_col="z")
    offs = " UNION ALL ".join(
        f"SELECT {dr} AS dr, {dc} AS dc"
        for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0))
    wgx = " ".join(f"WHEN dr = {dr} AND dc = {dc} THEN {_horn_w(dr, dc)[0]}"
                   for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                   if (dr, dc) != (0, 0))
    wgy = " ".join(f"WHEN dr = {dr} AND dc = {dc} THEN {_horn_w(dr, dc)[1]}"
                   for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                   if (dr, dc) != (0, 0))
    slope = _SLOPE_PPM
    return f"""
    WITH lat AS MATERIALIZED ({lat}),
    ex AS MATERIALIZED (
        SELECT l.cellid, l.row, l.col,
               coalesce(n.v, l.v) AS _ze, o.dr, o.dc
        FROM lat l
        CROSS JOIN ({offs}) o
        LEFT JOIN lat n ON n.face = l.face
                       AND n.row = l.row + o.dr
                       AND n.col = l.col + o.dc),
    g AS (
        SELECT cellid, row, col,
               CAST(sum((CASE {wgx} END) * _ze) AS BIGINT) AS gx,
               CAST(sum((CASE {wgy} END) * _ze) AS BIGINT) AS gy
        FROM ex GROUP BY cellid, row, col)
    SELECT cellid, gx, gy, {slope} AS slope_ppm,
           CAST({_aspect_case()} AS INT) AS aspect_oct,
           CAST({seam_pred_sql(res)} AS INT) AS on_seam
    FROM g
    """


# --------------------------------------------------------------------------
# flow accumulation — upstream drainage area: acc(w) = number of cells
# whose flow path passes through w (including w itself), the statistic
# that turns a flow-direction field into a STREAM NETWORK (high-acc cells
# are channels; acc · cell_area is the classic contributing area).
#
# Computed from the TRANSITIVE CLOSURE of the flow pointer by relation
# squaring: R_0 = identity ∪ flow edges (≤ 1 step); R_{k+1} = R_k ∘ R_k
# (≤ 2^(k+1) steps), so `doublings` rounds cover every path once
# 2^doublings ≥ the max path length (the elevation-range bound of
# `watershed`).  Then acc = count of sources per reachable cell — one
# hash aggregate over the closure.
#
# Scale shape (100 TB): the closure has Σ_u |path(u)| rows — output-bound
# for the statistic (each row is one (cell, upstream-cell) containment
# fact), NOT all-pairs; each round is one self hash equi-join + distinct
# over it.  That Σ|path| is bounded by N · max_path_len and in real
# terrain by N · (a few hundred); the O(log L) rounds are the same
# pointer-doubling discipline as watershed/dedup_clusters, each behind a
# localCheckpoint lineage cut.  Pits self-loop, so the identity seed
# keeps them fixed without growing the closure.
# --------------------------------------------------------------------------


def flow_accum(cells: DataFrame, res: int, doublings: int,
               cross_face: bool = True) -> DataFrame:
    """(cellid, acc): upstream drainage count (self-inclusive, acc ≥ 1)
    for a (cellid, z BIGINT) cell table — see the block comment above.
    ``doublings`` as in :func:`watershed` (2^d ≥ elevation range)."""
    if doublings < 1:
        raise ValueError(f"flow_accum: doublings must be >= 1,"
                         f" got {doublings}")
    fd = flow_dir(cells, res, cross_face)
    # eager per round — see the watershed r7 note (sweep-stability)
    r = (fd.select(F.col("cellid").alias("u"), F.col("cellid").alias("w"))
         .unionByName(fd.select(F.col("cellid").alias("u"),
                                F.col("nxt").alias("w")))
         .distinct()
         .localCheckpoint(eager=True))  # dedup: 2 consumers (round 1's sides)
    for _ in range(doublings):
        mid = r.select(F.col("u").alias("_m"), F.col("w").alias("_w2"))
        r = (r.join(mid, r["w"] == mid["_m"])
             .select("u", F.col("_w2").alias("w"))
             .distinct()
             .localCheckpoint(eager=True))  # fixpoint round
    return (r.groupBy(F.col("w").alias("cellid"))
            .agg(F.count("*").alias("acc")))


def flow_accum_ctes(cells_sql: str, res: int, doublings: int) -> str:
    """DuckDB CTE chain ending in ``faccum`` (cellid, acc) — the twin of
    :func:`flow_accum` with cross_face=True (same squaring rounds, every
    level MATERIALIZED — CLAUDE.md constraint 14)."""
    if doublings < 1:
        raise ValueError(f"flow_accum_ctes: doublings must be >= 1,"
                         f" got {doublings}")
    parts = [flow_dir_ctes(cells_sql, res),
             """_r0 AS MATERIALIZED (
        SELECT cellid AS u, cellid AS w FROM fdir
        UNION
        SELECT cellid AS u, nxt AS w FROM fdir)"""]
    for i in range(1, doublings + 1):
        parts.append(f"""_r{i} AS MATERIALIZED (
        SELECT DISTINCT a.u, b.w
        FROM _r{i - 1} a JOIN _r{i - 1} b ON b.u = a.w)""")
    parts.append(f"faccum AS MATERIALIZED ("
                 f"SELECT w AS cellid, CAST(count(*) AS BIGINT) AS acc"
                 f" FROM _r{doublings} GROUP BY w)")
    return ",\n".join(parts)


# --------------------------------------------------------------------------
# Viewshed — 8-ray line-of-sight over the cell terrain (the R8 "radial
# sweep" approximation of classic raster viewshed, public method): from
# each tower, walk the 8 D8 rays outward; a cell at ray distance k is
# VISIBLE iff its sight-line slope strictly exceeds every intermediate
# cell's slope on that ray:
#
#     slope_q9(k) = ((z_k − (z_t + tower_h)) · 1e9) div k
#     visible(k)  = slope_q9(k) > max_{m<k, occupied} slope_q9(m)
#
# All integer: the truncated-div slope quantization is deterministic and
# engine-exact (constraint-13 family; the classic float slope compare is
# not).  Contracts: WITHIN-FACE rays (planar, like the Horn stencil);
# cells absent from the table are TRANSPARENT (don't block, can't be
# seen — the occupied-cell semantics of every operator here); equal
# quantized slope BLOCKS (strict >).
#
# Scale shape (100 TB): towers ≪ cells; the ray lattice is an explicit
# towers × 8 × R explode (bounded, no shuffle) + one (face,row,col) hash
# join against the terrain + one prefix-max window per (tower, ray) over
# ≤ R rows + one aggregate.
# --------------------------------------------------------------------------

_DIRS8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1),
          (0, 1), (1, -1), (1, 0), (1, 1)]


def viewshed(cells: DataFrame, res: int, towers: DataFrame,
             radius: int, tower_h: int = 1) -> DataFrame:
    """(tower, ray, n_cells, n_visible): per-tower per-ray visibility
    counts over a (cellid, z BIGINT) terrain; ``towers`` = (cellid)
    rows that must exist in ``cells``.  See the block comment above."""
    from pyspark.sql.window import Window

    if radius < 1:
        raise ValueError(f"viewshed: radius must be >= 1, got {radius}")
    lat = with_lattice(cells.select("cellid", "z"), res)
    tw = (lat.join(towers.select("cellid"), "cellid")
          .select(F.col("cellid").alias("tower"),
                  F.col("face").alias("_tf"),
                  F.col("row").alias("_tr"), F.col("col").alias("_tc"),
                  (F.col("z") + tower_h).alias("_tz")))
    dirs = ", ".join(f"struct({dr} AS dr, {dc} AS dc)"
                     for dr, dc in _DIRS8)
    ray = (tw
           .select("*", F.expr(f"explode(array({dirs}))").alias("o"))
           .select("*", F.explode(F.expr(
               f"sequence(1, {radius})")).alias("k"))
           .withColumn("_f", F.col("_tf"))
           .withColumn("_r", F.expr("_tr + o.dr * k"))
           .withColumn("_c", F.expr("_tc + o.dc * k"))
           .withColumn("ray", F.expr(
               "(o.dr + 1) * 3 + (o.dc + 1)").cast("int")))
    tgt = lat.select(F.col("face").alias("_f"), F.col("row").alias("_r"),
                     F.col("col").alias("_c"), F.col("z").alias("_zk"))
    w = (Window.partitionBy("tower", "ray").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, -1))
    hits = (ray.join(tgt, ["_f", "_r", "_c"])
            .withColumn("_slope", F.expr(
                "((_zk - _tz) * 1000000000) div k"))
            .withColumn("_pmax", F.max("_slope").over(w))
            .withColumn("_vis", F.expr(
                "CAST(_pmax IS NULL OR _slope > _pmax AS INT)")))
    return (hits.groupBy("tower", "ray")
            .agg(F.count("*").cast("bigint").alias("n_cells"),
                 F.sum("_vis").cast("bigint").alias("n_visible")))


def viewshed_sql(cells_sql: str, res: int, towers_pred: str,
                 radius: int) -> str:
    """DuckDB twin of :func:`viewshed` with tower_h=1 over ``cells_sql`` →
    (cellid, z); ``towers_pred`` is a boolean SQL predicate over the
    terrain row (e.g. a cellid IN (...) list) selecting the towers."""
    if radius < 1:
        raise ValueError(
            f"viewshed_sql: radius must be >= 1, got {radius}")
    lat = lattice_select_sql(cells_sql, res, value_col="z")
    dirs = " UNION ALL ".join(
        f"SELECT {dr} AS dr, {dc} AS dc" for dr, dc in _DIRS8)
    return f"""
    WITH _lat AS MATERIALIZED ({lat}),
    _tw AS MATERIALIZED (
        SELECT cellid AS tower, face AS _tf, row AS _tr, col AS _tc,
               v + 1 AS _tz
        FROM _lat WHERE {towers_pred}),
    _ray AS MATERIALIZED (
        SELECT t.tower, t._tf, t._tr + o.dr * g.k AS _r,
               t._tc + o.dc * g.k AS _c, t._tz,
               CAST((o.dr + 1) * 3 + (o.dc + 1) AS INT) AS ray,
               CAST(g.k AS BIGINT) AS k
        FROM _tw t
        CROSS JOIN ({dirs}) o
        CROSS JOIN (SELECT unnest(generate_series(1, {radius})) AS k)
            g),
    _hit AS MATERIALIZED (
        SELECT r.tower, r.ray, r.k,
               ((l.v - r._tz) * 1000000000) // r.k AS _slope
        FROM _ray r
        JOIN _lat l ON l.face = r._tf AND l.row = r._r
                   AND l.col = r._c)
    SELECT tower, ray, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(_pmax IS NULL OR _slope > _pmax AS INT))
                AS BIGINT) AS n_visible
    FROM (SELECT *, max(_slope) OVER (
              PARTITION BY tower, ray ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS _pmax
          FROM _hit)
    GROUP BY tower, ray
    """
