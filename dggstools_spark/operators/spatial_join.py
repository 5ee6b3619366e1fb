"""Spatial join operators (SURVEY §2.3).

J2  rasterize_polygons/pip_join — center-in-polygon burn + doc<->polygon join
    (pip_join keys the docs by the J1 point -> cell encoder, the
    index-then-hash-join core)
J5  knn_join          — cell-keyed kNN with prefix-block pruning + exact fallback

Design: everything is DataFrame expressions; the only Python is the Arrow
pandas-UDF cell encoder (J1).  Point-in-polygon is computed by the classic
ray-casting parity test expressed RELATIONALLY: polygons explode to edges,
candidates x edges join on poly_id, a crossing predicate filters, and a
parity aggregation decides containment — no geometry library, no per-row
Python, Catalyst-optimizable end to end.  Reference semantics: a cell belongs
to a polygon iff its CENTER is inside (rasterio all_touched=False default,
/root/reference/dggstools/rhpx/vector_to_rhpx.py:103-105,148-152).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG
from ..dggs.cells import HALF_SIDE
from ..functions.encode import cellid_from_lonlat_udf
from ..functions.encode_sql import double_sql


# --------------------------------------------------------------------------
# J2: polygon rasterization + point-in-polygon join
# --------------------------------------------------------------------------

def polygon_edges(polygons: DataFrame, ring: str = "ring") -> DataFrame:
    """Explode a polygon table (poly_id, ..., ring: array<struct<x,y>>) into
    closed-ring edges (x1,y1,x2,y2).  The ring need not repeat its first
    vertex; closure is added here."""
    n = F.size(F.col(ring))
    return (
        polygons.withColumn("_i", F.explode(F.sequence(F.lit(0), n - 1)))
        .select(
            "*",
            F.col(ring)[F.col("_i")]["x"].alias("x1"),
            F.col(ring)[F.col("_i")]["y"].alias("y1"),
            F.col(ring)[(F.col("_i") + 1) % n]["x"].alias("x2"),
            F.col(ring)[(F.col("_i") + 1) % n]["y"].alias("y2"),
        )
        .drop("_i", ring)
    )


CROSSING = (
    "((y1 > py) != (y2 > py)) AND (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)"
)


def _corner_side(sx: str, sy: str, h: float) -> str:
    """Signed side of cell corner (px±h, py±h) relative to the edge line."""
    return (f"((x2 - x1) * ((py {sy} {h!r}) - y1)"
            f" - (y2 - y1) * ((px {sx} {h!r}) - x1))")


def sat_edge_rect_sql(h: float) -> str:
    """Portable SQL: does the half-width-``h`` rectangle centered at (px, py)
    intersect edge (x1,y1)-(x2,y2)?  Exact separating-axis test (two rect
    normals + the edge normal).  Shared text between rasterize_polygons
    (all_touched) and the DuckDB oracle."""
    h = float(h)
    return (
        f"least(x1, x2) <= px + {h!r} AND greatest(x1, x2) >= px - {h!r}"
        f" AND least(y1, y2) <= py + {h!r} AND greatest(y1, y2) >= py - {h!r}"
        " AND NOT ("
        f"  least({_corner_side('-', '-', h)}, {_corner_side('+', '-', h)},"
        f"        {_corner_side('-', '+', h)}, {_corner_side('+', '+', h)}) > 0"
        f"  OR greatest({_corner_side('-', '-', h)}, {_corner_side('+', '-', h)},"
        f"        {_corner_side('-', '+', h)}, {_corner_side('+', '+', h)}) < 0)"
    )


def rasterize_polygons(polygons: DataFrame, res: int,
                       poly_id: str = "poly_id", ring: str = "ring",
                       cfg: RHEALPixConfig = DEFAULT_CONFIG,
                       all_touched: bool = False) -> DataFrame:
    """J2 'burn': polygon table (planar-meter rings) -> cell table
    (poly_id, cellid).  Default: cells whose CENTER lies inside (rasterio
    all_touched=False).  ``all_touched=True``: any overlap — center-inside
    UNION cells whose rectangle intersects any polygon edge (exact
    separating-axis test: bbox overlap + the four cell corners are not all
    strictly on one side of the edge; reference vector_to_rhpx.py:103-105).

    Candidate generation: per-polygon planar bbox -> covering row/col range
    at ``res`` -> explode -> centroid coords by pure arithmetic -> exact
    parity test.  Cost is O(bbox cells x edges) per polygon, distributed."""
    w = HALF_SIDE / cfg.n_side**res
    edges = polygon_edges(polygons, ring)
    bbox = edges.groupBy(poly_id).agg(
        F.least(F.min("x1"), F.min("x2")).alias("xmin"),
        F.greatest(F.max("x1"), F.max("x2")).alias("xmax"),
        F.least(F.min("y1"), F.min("y2")).alias("ymin"),
        F.greatest(F.max("y1"), F.max("y2")).alias("ymax"),
    )
    # snap bbox to the global cell lattice.  Anchor at the unfolded cube's
    # top-left (-2s, 1.5s): every face origin is an integer number of cell
    # widths from it, so lattice centers are exactly the cell centroids
    # (centers are NOT at (k+0.5)w from the coordinate origin — with odd
    # n_side the equatorial band boundary sits at half-pitch).
    gx0 = -2.0 * HALF_SIDE
    gy0 = 1.5 * HALF_SIDE
    cand = bbox.select(
        poly_id,
        F.explode(
            F.sequence(
                F.floor((F.col("xmin") - gx0) / w).cast("bigint"),
                F.floor((F.col("xmax") - gx0) / w).cast("bigint"),
            )
        ).alias("ci"),
        F.col("ymin"), F.col("ymax"),
    ).select(
        poly_id, "ci",
        F.explode(
            F.sequence(
                F.floor((gy0 - F.col("ymax")) / w).cast("bigint"),
                F.floor((gy0 - F.col("ymin")) / w).cast("bigint"),
            )
        ).alias("ri"),
    )
    cand = cand.select(
        poly_id,
        (F.lit(gx0) + (F.col("ci") + 0.5) * w).alias("px"),
        (F.lit(gy0) - (F.col("ri") + 0.5) * w).alias("py"),
    )
    # parity test against the candidate's OWN polygon only: equi-join on the
    # polygon key (cheap; candidates were generated per polygon)
    own_edges = F.broadcast(edges)
    crossings = cand.join(own_edges, poly_id).filter(F.expr(CROSSING))
    inside = (
        crossings.groupBy(poly_id, "px", "py")
        .agg(F.count("*").alias("_n_cross"))
        .filter(F.col("_n_cross") % 2 == 1)
        .select(poly_id, "px", "py")
    )
    if all_touched:
        h = w / 2.0
        touched = (
            cand.join(own_edges, poly_id).filter(F.expr(sat_edge_rect_sql(h)))
            .select(poly_id, "px", "py").distinct()
        )
        inside = inside.unionByName(touched).distinct()
    # centroid -> cellid via the planar pandas UDF (handles cap faces).
    # Non-deterministic marking stops Catalyst from splitting the UDF into
    # a pushed isNotNull filter plus a projection, which would evaluate
    # the Python twice per row (pip_join marks its UDF the same way)
    from ..functions.encode import cellid_from_planar_udf

    enc = cellid_from_planar_udf(res, cfg).asNondeterministic()
    return inside.select(poly_id, enc("px", "py").alias("cellid")).filter(
        F.col("cellid").isNotNull())


def pip_join(points: DataFrame, polygons: DataFrame, res: int,
             lon: str = "lon", lat: str = "lat",
             poly_id: str = "poly_id", ring: str = "ring",
             cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Full J2: docs -> cellid at ``res``; polygons -> covering cells; inner
    equi-join on cellid (the DGGS raison d'etre: PIP becomes a hash join)."""
    cells = rasterize_polygons(polygons, res, poly_id, ring, cfg)
    enc = cellid_from_lonlat_udf(res, cfg).asNondeterministic()
    docs = points.withColumn("cellid", enc(lon, lat))
    return docs.filter(F.col("cellid").isNotNull()).join(F.broadcast(cells), "cellid")


# --------------------------------------------------------------------------
# J5: cell-keyed kNN
# --------------------------------------------------------------------------

def knn_join_exact(points: DataFrame, queries: DataFrame, k: int,
                   px: str = "px", py: str = "py",
                   qid: str = "q_id", qx: str = "qx", qy: str = "qy") -> DataFrame:
    """Exact kNN by broadcast of the (small) query side + per-query top-k.
    Output: (q_id, point columns..., dist_m, rank)."""
    from pyspark.sql.window import Window

    pairs = points.crossJoin(F.broadcast(queries))
    pairs = pairs.withColumn(
        "dist_m",
        F.sqrt((F.col(px) - F.col(qx)) * (F.col(px) - F.col(qx))
               + (F.col(py) - F.col(qy)) * (F.col(py) - F.col(qy))),
    )
    w = Window.partitionBy(qid).orderBy("dist_m", px, py)
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: driver-side stats of the last knn_join_pruned call: {"block_res": int,
#: "resolved_per_level": {lvl: n_queries}, "fallback_n": int}.  Free to
#: record — every value is a count the algorithm already computes.
last_knn_stats: dict = {}

#: levels knn_join_pruned widens by per retry (n_side**2 x wider blocks)
KNN_LEVEL_STEP = 2


def choose_block_res(points: DataFrame, queries: DataFrame, k: int,
                     n_q: int, px: str = "px", py: str = "py",
                     qid: str = "q_id", qx: str = "qx", qy: str = "qy",
                     cfg: RHEALPixConfig = DEFAULT_CONFIG) -> int:
    """Density pre-pass for the kNN starting level.  Histogram the points
    into blocks at res 6 — ONE codegen agg over the point table (at
    cluster scale this is the per-prefix histogram the flagship pipeline
    already maintains, so it would be read, not recomputed) — then, per
    candidate level, join each query's 3x3 neighborhood against the
    rolled-up histogram (tiny broadcast joins; the full point table is never
    rescanned) and pick the FINEST level where at least 90 % of the ``n_q``
    distinct queries see ``2 * k`` candidates, i.e. are expected to resolve
    at level 0.

    Query-centric on purpose: a point-density statistic alone mispredicts
    when queries land in sparse regions (measured: median-occupied-block
    chose res 5 for the nation-vs-docs fixture and every query expanded
    twice).  The choice only affects performance, never correctness —
    unresolved queries still expand level by level."""
    import math

    fine_res = 6
    # probed levels share the loop's parity (6, 4, 2) so a straggler query
    # still reaches level 0 inside the loop instead of the exact-fallback
    # broadcast scan (measured: an off-parity choice of 1 sent one query to
    # the fallback and cost 2x)
    levels = list(range(fine_res, 0, -KNN_LEVEL_STEP))
    hist_w = HALF_SIDE / cfg.n_side**fine_res
    hist = (points.groupBy(
        F.floor(F.col(px) / hist_w).cast("bigint").alias("_bc"),
        F.floor(F.col(py) / hist_w).cast("bigint").alias("_br"))
        .agg(F.count("*").alias("_n")))
    # chain the rollups lazily and union them with a level tag: ONE probe job
    # total (plus nothing else — the point table is scanned exactly once)
    # block-index divisor between probed levels
    shrink = cfg.n_side ** KNN_LEVEL_STEP
    tagged = [hist.withColumn("_lvl", F.lit(fine_res))]
    for lvl in levels[1:]:
        hist = (hist.groupBy(
            (F.floor(F.col("_bc") / shrink)).cast("bigint").alias("_bc"),
            (F.floor(F.col("_br") / shrink)).cast("bigint").alias("_br"))
            .agg(F.sum("_n").alias("_n")))
        tagged.append(hist.withColumn("_lvl", F.lit(lvl)))
    all_h = tagged[0]
    for t in tagged[1:]:
        all_h = all_h.unionByName(t)

    qs = queries.select(qid, qx, qy)
    lvl_w = F.lit(HALF_SIDE) / F.pow(F.lit(float(cfg.n_side)), F.col("_lvl"))
    neigh = (qs
             .withColumn("_lvl", F.explode(F.array(*[F.lit(l) for l in levels])))
             .withColumn("_dc", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
             .withColumn("_dr", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
             .select(F.col(qid), "_lvl",
                     (F.floor(F.col(qx) / lvl_w).cast("bigint") + F.col("_dc")).alias("_bc"),
                     (F.floor(F.col(qy) / lvl_w).cast("bigint") + F.col("_dr")).alias("_br")))
    per = (all_h.join(F.broadcast(neigh), ["_lvl", "_bc", "_br"])
           .groupBy(qid, "_lvl").agg(F.sum("_n").alias("_cand"))
           .collect())  # tiny: |queries| x |levels| rows
    need_n = 2.0 * k
    sat: dict[int, int] = {}
    for r in per:
        if r["_cand"] >= need_n:
            sat[r["_lvl"]] = sat.get(r["_lvl"], 0) + 1
    for lvl in levels:  # finest first
        if sat.get(lvl, 0) >= math.ceil(0.9 * n_q):
            return lvl
    return 0


def knn_join_pruned(points: DataFrame, queries: DataFrame, k: int,
                    block_res: int | None = None,
                    px: str = "px", py: str = "py",
                    qid: str = "q_id", qx: str = "qx", qy: str = "qy",
                    cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Cell-keyed kNN with hierarchically widened neighborhoods.

    Level 0: candidates come from the query's 3x3 block neighborhood at
    ``block_res``, then exact top-k.  A query is RESOLVED when it has >= k
    candidates and its k-th distance is within one block width (the
    containment guarantee: the 3x3 square covers everything within w of the
    center block).  Unresolved queries — sparse regions, face edges — retry
    at ``block_res - KNN_LEVEL_STEP`` (n_side^2 x wider blocks), and so
    on down to level 0; resolved queries never rescan.  The metric
    is PLANAR distance on the unfolded cube (the operator contract, shared
    with the DuckDB oracle), so lattice adjacency is metric-consistent at
    every level and no seam special-casing is needed.

    The exact broadcast join runs ONLY for queries still unresolved after
    the coarsest level (blocks the size of a resolution-0 face) — at that
    point fewer than k points exist within a face width of the query and any
    correct algorithm must scan near-globally; only those queries join.  At
    cluster scale each level is one narrow pass over the point table (the
    query side is broadcast; points never shuffle), and the common case is
    one level.

    ``block_res=None`` (default) picks the starting level adaptively via
    choose_block_res's density pre-pass."""
    from pyspark.sql.window import Window

    point_cols = list(points.columns)
    out_cols = [qid] + point_cols + ["dist_m", "rank"]
    dist = F.sqrt((F.col(px) - F.col(qx)) * (F.col(px) - F.col(qx))
                  + (F.col(py) - F.col(qy)) * (F.col(py) - F.col(qy)))
    wdw = Window.partitionBy(qid).orderBy("dist_m", px, py)

    remaining = queries.select(qid, qx, qy)
    # one count of the (typically small) query side lets every level decide
    # "all resolved?" from the checkpointed topk alone — in the common case
    # (level 0 resolves everything) no remaining anti-join, checkpoint, or
    # isEmpty job ever runs (round-2 regression: those two materializations
    # were pure overhead on the happy path).  Count DISTINCT qids, the same
    # unit n_ok decrements in — duplicate qid rows would otherwise keep
    # n_unresolved > 0 forever and trigger a useless exact-fallback job
    # over an empty remaining set
    n_unresolved = remaining.select(qid).distinct().count()
    if block_res is None:
        block_res = choose_block_res(points, remaining, k, n_unresolved,
                                     px, py, qid, qx, qy, cfg)
    stats = {"block_res": block_res, "resolved_per_level": {}, "fallback_n": 0}
    global last_knn_stats
    last_knn_stats = stats
    parts: list[DataFrame] = []
    for lvl in range(block_res, -1, -KNN_LEVEL_STEP):
        w_m = HALF_SIDE / cfg.n_side**lvl
        pts = points.withColumn("_bci", F.floor(F.col(px) / w_m).cast("bigint")) \
                    .withColumn("_bri", F.floor(F.col(py) / w_m).cast("bigint"))
        neigh = (
            remaining
            .withColumn("_dc", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
            .withColumn("_dr", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
            .select(F.col(qid), qx, qy,
                    (F.floor(F.col(qx) / w_m).cast("bigint") + F.col("_dc")).alias("_bci"),
                    (F.floor(F.col(qy) / w_m).cast("bigint") + F.col("_dr")).alias("_bri"))
        )
        cand = pts.join(F.broadcast(neigh), ["_bci", "_bri"]).withColumn("dist_m", dist)
        topk = cand.withColumn("rank", F.row_number().over(wdw)).filter(F.col("rank") <= k)
        # dedup: 3 consumers (the guarantee check, the survivors and the
        # next level's anti-join); without it each re-runs the candidate
        # pipeline
        topk = topk.localCheckpoint(eager=True)
        per_q = topk.groupBy(qid).agg(F.count("*").alias("_n"),
                                      F.max("dist_m").alias("_dmax"))
        ok_q = per_q.filter((F.col("_n") >= k) & (F.col("_dmax") <= w_m)).select(qid)
        parts.append(topk.join(F.broadcast(ok_q), qid, "inner").select(*out_cols))
        # ok_q is unique per qid and a subset of remaining, so counting it
        # (one tiny job over the checkpointed topk) tells us whether any
        # query is still unresolved without touching the query lineage
        n_ok = ok_q.count()
        stats["resolved_per_level"][lvl] = n_ok
        n_unresolved -= n_ok
        if n_unresolved <= 0:
            remaining = None
            break
        remaining = remaining.join(F.broadcast(ok_q), qid, "left_anti") \
                             .localCheckpoint(eager=True)  # fixpoint round
    if remaining is not None:
        stats["fallback_n"] = n_unresolved
        fallback = knn_join_exact(points, remaining, k, px, py, qid, qx, qy)
        parts.append(fallback.select(*out_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def overlay_counts(polys_a: DataFrame, polys_b: DataFrame, res: int,
                   a_id: str = "a_id", b_id: str = "b_id",
                   ring: str = "ring",
                   cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Vector overlay (polygon × polygon intersection cross-tab) through
    the DGGS: rasterize both layers at ``res`` (center-burn, the J2
    contract) and count shared cells per (a, b) pair — the relational
    form of the GIS overlay/intersect operation, with areas exact to one
    cell (the engine's storage contract; refine with ``res``).  Returns
    (a_id, b_id, n_cells, area_km2) where area uses the ÷1.178 mean
    areal distortion convention (reference vector_to_rhpx.py:461-465,
    same as class_cell_areas).

    Scale design (100 TB): each rasterize is the documented per-polygon
    bbox-candidate explode; the overlay itself is ONE equi-join on the
    cell key + one hash agg — layer cell tables shuffle on cellid
    (uniformly distributed by construction), AQE broadcasts the smaller
    layer when it fits.  No geometry intersection math anywhere: the
    grid IS the intersection operator."""
    ca = rasterize_polygons(polys_a, res, poly_id=a_id, ring=ring, cfg=cfg)
    cb = rasterize_polygons(polys_b, res, poly_id=b_id, ring=ring, cfg=cfg)
    area = cfg.cell_area(res)
    return (ca.join(cb, "cellid")
            .groupBy(a_id, b_id)
            .agg(F.count("*").alias("n_cells"),
                 F.round(F.count("*") * F.lit(area) / 1e6)
                 .cast("bigint").alias("area_km2")))


def near_pairs(points: DataFrame, d_m: float, res: int,
               id_col: str = "id", px: str = "px", py: str = "py",
               k: int | None = None,
               cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Distance-threshold spatial SELF-join: all point pairs within
    ``d_m`` planar meters (the unfolded-cube metric — the knn_join
    contract), found through the cell-block lattice instead of an
    all-pairs product.

    Pruning guarantee: with block width w = HALF_SIDE / n_side**res and
    the REQUIREMENT w >= d_m (asserted), any pair within d_m sits in the
    same or an adjacent block, so the 9-offset block equi-join loses
    nothing (pytest proves equality against the brute-force join).  Each
    unordered pair is emitted ONCE (a_id < b_id; the offset of b's block
    from a's is unique, so no dedup shuffle is needed).

    Output (a_id, b_id, dist_mm, rank): distance quantized to integer
    millimeters (sqrt of identical doubles on both engines — measure-zero
    boundary, constraint-17-safe), ranked (dist_mm asc, a_id, b_id);
    ``k`` trims to the closest-k pairs.

    Scale design (100 TB): ONE equi-join on the block key (points shuffle
    once by block; the 9x explode rides the smaller/probe side), one
    rank window under WindowGroupLimit.  The block key is the same
    partitioning every cell-keyed operator uses, so a cell-bucketed
    point store co-locates this join for free."""
    from pyspark.sql.window import Window

    w_m = HALF_SIDE / cfg.n_side**res
    if w_m < d_m:
        raise ValueError(
            f"near_pairs: block width {w_m:.1f} m at res {res} is below "
            f"the threshold {d_m:.1f} m — the 3x3 neighborhood would "
            f"miss pairs; use a coarser res")
    a = points.select(F.col(id_col).alias("a_id"),
                      F.col(px).alias("ax"), F.col(py).alias("ay"))
    b = points.select(F.col(id_col).alias("b_id"),
                      F.col(px).alias("bx"), F.col(py).alias("by"))
    a = (a.withColumn("_o", F.expr(
            "explode(array(" + ", ".join(
                f"struct({dc} AS dc, {dr} AS dr)"
                for dc in (-1, 0, 1) for dr in (-1, 0, 1)) + "))"))
         .select("a_id", "ax", "ay",
                 (F.floor(F.col("ax") / w_m).cast("bigint")
                  + F.col("_o.dc")).alias("_bc"),
                 (F.floor(F.col("ay") / w_m).cast("bigint")
                  + F.col("_o.dr")).alias("_br")))
    b = b.select("b_id", "bx", "by",
                 F.floor(F.col("bx") / w_m).cast("bigint").alias("_bc"),
                 F.floor(F.col("by") / w_m).cast("bigint").alias("_br"))
    pairs = (a.join(b, ["_bc", "_br"])
             .filter(F.col("a_id") < F.col("b_id"))
             .withColumn("dist_mm", F.expr(
                 "CAST(round(sqrt((ax - bx) * (ax - bx)"
                 " + (ay - by) * (ay - by)) * 1000.0) AS BIGINT)"))
             .filter(F.col("dist_mm") <= round(d_m * 1000.0)))
    rw = Window.orderBy(F.asc("dist_mm"), F.asc("a_id"), F.asc("b_id"))
    out = (pairs.select("a_id", "b_id", "dist_mm")
           .withColumn("rank", F.row_number().over(rw)))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out


def near_pairs_sql(points_sql: str, d_m: float, res: int,
                   id_col: str = "id", px: str = "px", py: str = "py",
                   k: int | None = None,
                   cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """DuckDB twin of :func:`near_pairs` (same block lattice, same
    millimeter quantization, same one-directional pair emission)."""
    w_m = HALF_SIDE / cfg.n_side**res
    assert w_m >= d_m, "near_pairs_sql: res too fine for threshold"
    offs = " UNION ALL ".join(
        f"SELECT {dc} AS dc, {dr} AS dr"
        for dc in (-1, 0, 1) for dr in (-1, 0, 1))
    lim = f"WHERE rank <= {k}" if k is not None else ""
    return f"""
    WITH pts AS MATERIALIZED (
        SELECT {id_col} AS pid, {px} AS x, {py} AS y,
               CAST(floor({px} / {w_m!r}) AS BIGINT) AS bc,
               CAST(floor({py} / {w_m!r}) AS BIGINT) AS br
        FROM ({points_sql})),
    pairs AS (
        SELECT a.pid AS a_id, b.pid AS b_id,
               CAST(round(sqrt((a.x - b.x) * (a.x - b.x)
                    + (a.y - b.y) * (a.y - b.y)) * 1000.0) AS BIGINT)
                   AS dist_mm
        FROM pts a JOIN ({offs}) o ON TRUE
        JOIN pts b ON b.bc = a.bc + o.dc AND b.br = a.br + o.dr
        WHERE a.pid < b.pid)
    SELECT a_id, b_id, dist_mm, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY dist_mm, a_id, b_id) AS rank
          FROM pairs WHERE dist_mm <= {round(d_m * 1000.0)})
    {lim}
    """


def segment_cells(segments: DataFrame, res: int, seg_id: str = "seg_id",
                  x1: str = "x1", y1: str = "y1",
                  x2: str = "x2", y2: str = "y2",
                  cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Path rasterization: every res-``res`` cell whose rectangle
    intersects the planar segment (x1,y1)-(x2,y2) — the supercover line
    draw on the cell lattice, as relational algebra: per-segment bbox →
    covering (ci, ri) candidate explode (the rasterize_polygons lattice
    snap) → the EXACT separating-axis test shared with the all_touched
    burn (sat_edge_rect_sql — same predicate text in the oracle).

    Output (seg_id, cellid).  Cost is O(bbox cells) per segment — for a
    segment of length L that is (L/w + 2)² candidates, so callers should
    bound L (a trajectory step filter) rather than feed transcontinental
    jumps to a fine lattice; cells come out via the planar pandas-UDF
    encoder (cap-face-safe), marked nondeterministic per constraint 4."""
    from ..functions.encode import cellid_from_planar_udf

    w = HALF_SIDE / cfg.n_side**res
    gx0 = -2.0 * HALF_SIDE
    gy0 = 1.5 * HALF_SIDE
    segs = segments.select(F.col(seg_id).alias("seg_id"),
                           F.col(x1).alias("x1"), F.col(y1).alias("y1"),
                           F.col(x2).alias("x2"), F.col(y2).alias("y2"))
    cand = (segs
            .withColumn("ci", F.explode(F.sequence(
                F.floor((F.least("x1", "x2") - gx0) / w).cast("bigint"),
                F.floor((F.greatest("x1", "x2") - gx0) / w).cast("bigint"))))
            .withColumn("ri", F.explode(F.sequence(
                F.floor((gy0 - F.greatest("y1", "y2")) / w).cast("bigint"),
                F.floor((gy0 - F.least("y1", "y2")) / w).cast("bigint"))))
            .withColumn("px", F.lit(gx0) + (F.col("ci") + 0.5) * w)
            .withColumn("py", F.lit(gy0) - (F.col("ri") + 0.5) * w)
            .filter(F.expr(sat_edge_rect_sql(w / 2.0))))
    enc = cellid_from_planar_udf(res, cfg).asNondeterministic()
    return (cand.select("seg_id", enc("px", "py").alias("cellid"))
            .filter(F.col("cellid").isNotNull()))


def segment_cells_ctes(segs_sql: str, res: int,
                       cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """DuckDB twin candidates: CTEs ``segs/scis/sris/scand`` ending in
    (seg_id, px, py) for every cell rectangle intersecting each segment
    of ``segs_sql`` (seg_id, x1, y1, x2, y2) — same lattice snap, same
    SAT predicate text.  The caller maps (px, py) to cellids with the
    closed-form encode or joins on the planar key directly."""
    w = float(HALF_SIDE / cfg.n_side**res)
    gx0 = float(-2.0 * HALF_SIDE)
    gy0 = float(1.5 * HALF_SIDE)
    sat = sat_edge_rect_sql(w / 2.0)
    return f"""
    segs AS MATERIALIZED ({segs_sql}),
    scis AS (SELECT *,
                unnest(range(CAST(floor((least(x1, x2) - {double_sql(gx0)}) / {double_sql(w)}) AS BIGINT),
                             CAST(floor((greatest(x1, x2) - {double_sql(gx0)}) / {double_sql(w)}) AS BIGINT) + 1)) AS ci
             FROM segs),
    sris AS (SELECT *,
                unnest(range(CAST(floor(({double_sql(gy0)} - greatest(y1, y2)) / {double_sql(w)}) AS BIGINT),
                             CAST(floor(({double_sql(gy0)} - least(y1, y2)) / {double_sql(w)}) AS BIGINT) + 1)) AS ri
             FROM scis),
    scand AS (SELECT seg_id, px, py FROM (
                SELECT seg_id, x1, y1, x2, y2,
                       {double_sql(gx0)} + (ci + 0.5) * {double_sql(w)} AS px,
                       {double_sql(gy0)} - (ri + 0.5) * {double_sql(w)} AS py
                FROM sris)
              WHERE {sat})
    """


def buffer_cells(points: DataFrame, d_m: float, res: int,
                 px: str = "px", py: str = "py",
                 cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """Buffer as a cell set: every res-``res`` cell whose CENTER lies
    within ``d_m`` planar meters of at least one input point, with the
    coverage count — the GIS buffer/service-area op on the grid
    (center-inclusion semantics, consistent with the center-burn
    rasterize contract; refine with ``res``).

    Per point the candidates are the (2K+1)² lattice blocks around it
    (K = ceil(d/w), asserted small), snapped on the SAME global lattice
    as rasterize_polygons, then filtered by exact center distance and
    counted per cell.  Output (cellid, n_pts).  Cost is O(K²) per point
    — bound d/w (the scale guard; a kilometer buffer on a centimeter
    lattice wants a coarser res or a pre-aggregation to cells first)."""
    import math

    from ..functions.encode import cellid_from_planar_udf

    w = HALF_SIDE / cfg.n_side**res
    k = math.ceil(d_m / w)
    if k > 16:
        raise ValueError(
            f"buffer_cells: radius {d_m:.0f} m spans {k} blocks at res "
            f"{res} ((2K+1)^2 = {(2 * k + 1) ** 2} candidates per point)"
            f" — use a coarser res")
    gx0 = -2.0 * HALF_SIDE
    gy0 = 1.5 * HALF_SIDE
    cand = (points
            .select(F.col(px).alias("_px"), F.col(py).alias("_py"))
            .withColumn("ci", F.explode(F.expr(
                f"transform(sequence({-k}, {k}), i -> "
                f"CAST(floor((_px - {gx0!r}) / {w!r}) AS BIGINT) + i)")))
            .withColumn("ri", F.explode(F.expr(
                f"transform(sequence({-k}, {k}), i -> "
                f"CAST(floor(({gy0!r} - _py) / {w!r}) AS BIGINT) + i)")))
            .withColumn("cx", F.lit(gx0) + (F.col("ci") + 0.5) * w)
            .withColumn("cy", F.lit(gy0) - (F.col("ri") + 0.5) * w)
            .filter(F.expr(
                f"(cx - _px) * (cx - _px) + (cy - _py) * (cy - _py)"
                f" <= {double_sql(d_m * d_m)}")))
    enc = cellid_from_planar_udf(res, cfg).asNondeterministic()
    return (cand.select(enc("cx", "cy").alias("cellid"))
            .filter(F.col("cellid").isNotNull())
            .groupBy("cellid").agg(F.count("*").alias("n_pts")))


def buffer_cells_ctes(points_sql: str, d_m: float, res: int,
                      px: str = "px", py: str = "py",
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """DuckDB twin candidates: CTEs ``bpts/bcis/bcand`` ending in
    (cx, cy) rows, one per (point, in-range cell center) — the caller
    encodes centers with duckdb_planar_encode_select and aggregates."""
    import math

    w = float(HALF_SIDE / cfg.n_side**res)
    k = math.ceil(d_m / w)
    gx0 = float(-2.0 * HALF_SIDE)
    gy0 = float(1.5 * HALF_SIDE)
    return f"""
    bpts AS MATERIALIZED (
        SELECT {px} AS _px, {py} AS _py FROM ({points_sql})),
    bcis AS (SELECT _px, _py,
                CAST(floor((_px - {double_sql(gx0)}) / {double_sql(w)}) AS BIGINT) + i.i AS ci,
                CAST(floor(({double_sql(gy0)} - _py) / {double_sql(w)}) AS BIGINT) + j.j AS ri
             FROM bpts, range({-k}, {k + 1}) i(i), range({-k}, {k + 1}) j(j)),
    bcand AS (SELECT cx, cy FROM (
                SELECT _px, _py,
                       {double_sql(gx0)} + (ci + 0.5) * {double_sql(w)} AS cx,
                       {double_sql(gy0)} - (ri + 0.5) * {double_sql(w)} AS cy
                FROM bcis)
              WHERE (cx - _px) * (cx - _px) + (cy - _py) * (cy - _py)
                    <= {double_sql(d_m * d_m)})
    """
