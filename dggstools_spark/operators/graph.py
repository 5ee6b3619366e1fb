"""Weighted PageRank over a cell-flow graph — exact integer iterations.

The OD flow matrix (operators/flows.od_flows) induces a directed weighted
graph over cells; PageRank on it ranks cells by trajectory centrality
(the "hub cells" of a movement corpus — where flows concentrate after
transitive propagation, not just direct counts).

Determinism contract (CLAUDE.md constraint 13 family): ranks are held in
integer parts-per-billion (BIGINT).  One iteration is

    p'(v) = (1e9 − d_ppb) // |V|  +  Σ_{u→v} (d_ppb · ((p(u) · w(u,v))
            div W(u))) div 1e9

with W(u) = Σ_v w(u,v) the node's out-mass and d_ppb = DAMPING_PPB
(0.85 in ppb).  Every operation is integer
multiply + truncated div — associative aggregation of exact terms, so the
result is run-stable, partitioning-stable and bit-identical across
engines (truncation loss is < |E| ppb per iteration, irrelevant for a
ranking; classic float PageRank would be none of those).  Dangling-node
mass (no out-edges) is DROPPED, not redistributed — documented contract,
identical on both engines; totals shrink accordingly.

Scale design (100 TB of events → a cell graph ≪ event count): each
iteration is ONE equi-join of the edge table with the rank vector on the
source key plus one hash aggregate on the destination key — the standard
edge-partitioned power iteration; both sides shuffle on natural keys and
AQE broadcasts the rank vector while it fits.  Each iteration ends in a
localCheckpoint, so a round's plan never holds the rounds before it; the
DuckDB twin needs AS MATERIALIZED per level for the same reason
(constraint 14).

Reference parity: no counterpart (the reference has no graph layer);
extends the movement-analytics family (od_flows / trip_stats) with the
iterative-algorithm shape the engine already uses for connected
components (dedup.pointer-jumping) and Lloyd refinement (ivf_refine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPB = 1_000_000_000
DAMPING_PPB = 850_000_000


def page_rank(edges: DataFrame, src: str, dst: str, w: str,
              iters: int = 5, k: int | None = None,
              state_path: str | None = None) -> DataFrame:
    """(node, p_ppb, rank): integer PageRank after ``iters`` power
    iterations over weighted ``edges`` (see module docstring).  Ranking
    is (p_ppb desc, node); ``k`` trims to the top-k (WindowGroupLimit).
    Edge weights must be positive integers; parallel edges are summed.

    ``state_path`` (TODO_r7 #9, the lm_score model_path pattern) swaps
    the per-iteration in-memory localCheckpoint of the rank vector for a
    PARQUET sink + scan (alternating ``state_path/iter{0,1}`` subdirs —
    never overwriting the frame being read): when |V| rivals executor
    block-manager memory, the iteration state spills to durable storage,
    survives executor loss, and each iteration starts from a
    column-pruned parquet scan.  Same values — the sink only cuts
    lineage, exactly like the checkpoint it replaces."""
    from pyspark.sql.window import Window

    e = (edges.groupBy(F.col(src).alias("u"), F.col(dst).alias("v"))
         .agg(F.sum(w).alias("_w")))
    outm = e.groupBy("u").agg(F.sum("_w").alias("_om"))  # "_W" would collide with "_w" under Spark case-insensitive resolution
    # dedup: every iteration reads ew and nodes, and n_nodes reads nodes
    ew = e.join(outm, "u").localCheckpoint(eager=True)
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n_nodes = nodes.count()
    base = (PPB - DAMPING_PPB) // n_nodes
    p = nodes.withColumn("p", F.lit(PPB // n_nodes).cast("bigint"))
    spark = edges.sparkSession
    for it in range(iters):
        contrib = (ew.join(p.withColumnRenamed("node", "u"), "u")
                   .select(F.col("v").alias("node"),
                           F.expr(f"({DAMPING_PPB} * ((p * _w) div _om))"
                                  f" div {PPB}").alias("_t"))
                   .groupBy("node").agg(F.sum("_t").alias("_c")))
        p = (nodes.join(contrib, "node", "left")
             .select("node",
                     F.expr(f"{base} + coalesce(_c, 0)").alias("p")))
        if state_path is not None:
            step = f"{state_path}/iter{it % 2}"
            p.write.mode("overwrite").parquet(step)
            p = spark.read.parquet(step)
        else:
            p = p.localCheckpoint(eager=True)  # fixpoint round
    out = p.select("node", F.col("p").alias("p_ppb"))
    rw = Window.orderBy(F.desc("p_ppb"), F.asc("node"))
    out = out.withColumn("rank", F.row_number().over(rw))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out


def page_rank_sql(edges_sql: str, src: str, dst: str, w: str,
                  iters: int = 5, k: int | None = None) -> str:
    """DuckDB twin of :func:`page_rank` — unrolled iteration CTEs, every
    level AS MATERIALIZED (CLAUDE.md constraint 14)."""
    ctes = [f"""e AS MATERIALIZED (
        SELECT {src} AS u, {dst} AS v, CAST(sum({w}) AS BIGINT) AS _w
        FROM ({edges_sql}) GROUP BY {src}, {dst})""",
            """ew AS MATERIALIZED (
        SELECT e.u, e.v, e._w, o._om
        FROM e JOIN (SELECT u, CAST(sum(_w) AS BIGINT) AS _om
                     FROM e GROUP BY u) o USING (u))""",
            """nodes AS MATERIALIZED (
        SELECT u AS node FROM e UNION SELECT v FROM e)""",
            f"""nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)""",
            f"""p0 AS MATERIALIZED (
        SELECT node, CAST({PPB} // (SELECT n FROM nn) AS BIGINT) AS p
        FROM nodes)"""]
    for i in range(iters):
        ctes.append(f"""p{i + 1} AS MATERIALIZED (
        SELECT n.node,
               CAST(({PPB} - {DAMPING_PPB}) // (SELECT n FROM nn)
                    + coalesce(c._c, 0) AS BIGINT) AS p
        FROM nodes n LEFT JOIN (
            SELECT ew.v AS node,
                   CAST(sum(({DAMPING_PPB} * ((p.p * ew._w) // ew._om))
                            // {PPB}) AS BIGINT) AS _c
            FROM ew JOIN p{i} p ON p.node = ew.u
            GROUP BY ew.v) c ON c.node = n.node)""")
    lim = f"WHERE rank <= {k}" if k is not None else ""
    return f"""
    WITH {','.join(ctes)}
    SELECT node, p_ppb, CAST(rank AS INT) AS rank FROM (
        SELECT node, p AS p_ppb, row_number() OVER (
            ORDER BY p DESC, node) AS rank FROM p{iters})
    {lim}
    """


def cost_distance(cells: DataFrame, res: int, sources: DataFrame,
                  iters: int, w_col: str = "w") -> DataFrame:
    """Hop-bounded cost-distance (accumulated-cost surface) over the cell
    lattice: ``iters`` Bellman-Ford relaxations of

        dist(v) = min(dist(v), min_{u adj v} dist(u) + w(v))

    under in-face queen adjacency (spatial_stats.cell_neighbors with
    cross_face=False: face seams are barriers), with
    positive integer enter-costs ``w_col`` and dist(source) = 0.  Cells
    absent from ``cells`` are barriers (no edge).  After T iterations the
    result is the exact cost distance restricted to <= T-hop paths — the
    standard k-relaxation contract (T >= |V|-1 makes it exact; choose T
    around the lattice diameter plus a zigzag allowance for cheap-detour
    surfaces).  All-integer arithmetic: deterministic, run-stable,
    engine-exact (the GIS "cost distance" / least-cost surface op).

    Scale shape: one edge build (neighbor explode + one hash join), then
    per iteration ONE equi-join of the frontier with the edge table + one
    min hash-aggregate, localCheckpoint per level (a fixpoint round; the
    DuckDB twin's AS MATERIALIZED per level is constraint 14)."""
    from .spatial_stats import cell_neighbors

    # (r7 note: an eager=False variant — whole chain as one job — was
    # A/B-measured SLOWER here: 16 chained in-job persists beat the
    # small eager jobs' cost; kept eager.)
    # dedup: 3 consumers (the neighbor enumeration, the edge weights and
    # the source check)
    cw = (cells.select("cellid", F.col(w_col).cast("bigint").alias("_w"))
          .localCheckpoint(eager=True))
    edges = (cell_neighbors(cw.select("cellid"), res, False)
             .select(F.col("cellid").alias("u"), F.col("nbr").alias("v"))
             .join(cw.select(F.col("cellid").alias("v"),
                             F.col("_w").alias("wv")), "v")
             .localCheckpoint(eager=True))  # dedup: every round reads it
    dist = (sources.select("cellid")
            .join(cw.select("cellid"), "cellid")  # sources must be cells
            .withColumn("dist", F.lit(0).cast("bigint")))
    for _ in range(iters):
        cand = (edges.join(dist.select(F.col("cellid").alias("u"),
                                       F.col("dist").alias("du")), "u")
                .select(F.col("v").alias("cellid"),
                        F.expr("du + wv").alias("dist")))
        dist = (dist.unionByName(cand)
                .groupBy("cellid").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))  # fixpoint round
    return dist


def cost_distance_sql(cells_sql: str, res: int, sources_pred: str,
                      iters: int, w_col: str = "w") -> str:
    """DuckDB twin of :func:`cost_distance` — unrolled relaxation CTEs,
    AS MATERIALIZED per level (CLAUDE.md constraint 14); ``cells_sql``
    yields (cellid, w), ``sources_pred`` selects source cells."""
    from .spatial_stats import cell_neighbors_sql

    nbr = cell_neighbors_sql(f"(SELECT cellid FROM cw)", res, False)
    ctes = [f"""cw AS MATERIALIZED (
        SELECT cellid, CAST({w_col} AS BIGINT) AS _w FROM ({cells_sql}))""",
            f"""edges AS MATERIALIZED (
        SELECT n.cellid AS u, n.nbr AS v, c._w AS wv
        FROM ({nbr}) n JOIN cw c ON c.cellid = n.nbr)""",
            f"""d0 AS MATERIALIZED (
        SELECT cellid, CAST(0 AS BIGINT) AS dist
        FROM cw WHERE {sources_pred})"""]
    for i in range(iters):
        ctes.append(f"""d{i + 1} AS MATERIALIZED (
        SELECT cellid, min(dist) AS dist FROM (
            SELECT cellid, dist FROM d{i}
            UNION ALL
            SELECT e.v, d.dist + e.wv FROM d{i} d
            JOIN edges e ON e.u = d.cellid)
        GROUP BY cellid)""")
    return f"""
    WITH {','.join(ctes)}
    SELECT cellid, dist FROM d{iters}
    """


# --------------------------------------------------------------------------
# Label-propagation communities (Raghavan et al. 2007, public algorithm)
# — the community-detection sibling of page_rank (centrality) and
# pointer-jumping CC (connectivity; LPA finds DENSE groups inside a
# connected component, which CC cannot).
#
# Deterministic SYNCHRONOUS variant (classic LPA breaks ties randomly
# and updates asynchronously — neither is reproducible or engine-
# portable): labels start as the node id; each round EVERY node adopts
# the label with the greatest incident edge weight among its neighbors'
# PREVIOUS labels, ties to the lexicographically smallest label; a node
# with no neighbors keeps its label.  Fixed ``iters`` rounds (sync LPA
# can 2-cycle on bipartite-ish shapes — a fixed budget makes the output
# well-defined; callers wanting convergence diff two successive rounds).
#
# Scale shape (100 TB of events → a cell graph ≪ event count): one
# round = one hash equi-join (edges ⋈ labels on the neighbor key) + one
# (node, label) weight aggregate + one min-struct argmax aggregate +
# one left join-back — all on natural keys, AQE broadcasts the label
# vector while it fits; localCheckpoint per round (a fixpoint round, as
# in page_rank / dedup_clusters).
# --------------------------------------------------------------------------


def lpa_communities(edges: DataFrame, src: str, dst: str, w: str,
                    iters: int = 4) -> DataFrame:
    """(node, label): community labels after ``iters`` synchronous LPA
    rounds over ``edges`` (directed input; symmetrized internally,
    self-loops dropped).  See the block comment above."""
    if iters < 1:
        raise ValueError(
            f"lpa_communities: iters must be >= 1, got {iters}")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                      F.col(w).cast("bigint").alias("w"))
         .filter(F.col("u") != F.col("v")))
    sym = (e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v"), "w"))
           .groupBy("u", "v").agg(F.sum("w").alias("w"))
           .localCheckpoint(eager=True))  # dedup: the labels init and every round
    labels = (sym.select("u").union(sym.select("v")).distinct()
              .select(F.col("u").alias("node"),
                      F.col("u").alias("label"))
              # dedup: 2 consumers (round 1's join and its join-back)
              .localCheckpoint(eager=True))
    for _ in range(iters):
        nl = (sym
              .join(labels.select(F.col("node").alias("v"),
                                  F.col("label").alias("_lv")), "v")
              .groupBy(F.col("u").alias("node"), F.col("_lv"))
              .agg(F.sum("w").alias("_ws"))
              .groupBy("node")
              .agg(F.min(F.struct((-F.col("_ws")).alias("nw"),
                                  F.col("_lv").alias("l"))).alias("_b"))
              .select("node", F.col("_b.l").alias("_new")))
        labels = (labels.join(nl, "node", "left")
                  .select("node", F.coalesce("_new", "label")
                          .alias("label"))
                  .localCheckpoint(eager=True))  # fixpoint round
    return labels


def lpa_communities_ctes(edges_sql: str, src: str, dst: str, w: str,
                         iters: int = 4) -> str:
    """DuckDB CTE chain ending in ``lab{iters}`` (node, label) — the
    twin of :func:`lpa_communities`, every level MATERIALIZED
    (CLAUDE.md constraint 14)."""
    if iters < 1:
        raise ValueError(
            f"lpa_communities_ctes: iters must be >= 1, got {iters}")
    parts = [f"_e AS MATERIALIZED (SELECT {src} AS u, {dst} AS v,"
             f" CAST({w} AS BIGINT) AS w FROM ({edges_sql})"
             f" WHERE {src} <> {dst})",
             """_sym AS MATERIALIZED (
        SELECT u, v, CAST(sum(w) AS BIGINT) AS w
        FROM (SELECT u, v, w FROM _e
              UNION ALL SELECT v AS u, u AS v, w FROM _e)
        GROUP BY u, v)""",
             """lab0 AS MATERIALIZED (
        SELECT node, node AS label
        FROM (SELECT u AS node FROM _sym
              UNION SELECT v AS node FROM _sym))"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""_nl{i} AS MATERIALIZED (
        SELECT node, min(_lv) FILTER (WHERE _ws = mx) AS _new
        FROM (SELECT node, _lv, _ws,
                     max(_ws) OVER (PARTITION BY node) AS mx
              FROM (SELECT s.u AS node, l.label AS _lv,
                           CAST(sum(s.w) AS BIGINT) AS _ws
                    FROM _sym s JOIN lab{p} l ON l.node = s.v
                    GROUP BY s.u, l.label))
        GROUP BY node)""")
        parts.append(f"""lab{i} AS MATERIALIZED (
        SELECT a.node, coalesce(n._new, a.label) AS label
        FROM lab{p} a LEFT JOIN _nl{i} n USING (node))""")
    return ",\n".join(parts)
