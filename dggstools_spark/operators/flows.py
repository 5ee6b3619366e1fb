"""Origin–destination flow matrix over cell-keyed event streams.

The trajectory-aggregation primitive of movement analytics: consecutive
events of the same entity define a MOVE from the previous cell to the
current one; the OD matrix counts moves (and distinct movers) per
(origin cell, destination cell) pair and ranks the heaviest corridors.

Semantics:
- move order is the TOTAL order (t, tie) per entity — a t-only order
  splits ties nondeterministically across engines (the same bug the
  session-window oracle hit at sf0.01; CLAUDE.md constraint 5 family),
  so callers must pass a tie column unique per entity (an event id);
- self-loops (consecutive events in the same cell) are NOT moves and are
  excluded — the matrix is about transitions, not dwell;
- ``n_moves`` counts transitions, ``n_entities`` counts distinct movers
  on the corridor; ranking is (n_moves desc, o_cell, d_cell) —
  deterministic, engine-exact (all integers).

Scale design (100 TB): one lag window partitioned by entity (a single
hash shuffle on the natural entity key — the same partitioning any
per-entity sequence op needs; entity cardinality is high so no skew
special-casing), then one (o, d) hash aggregate with map-side combine
(count-distinct expands to the standard two-phase plan), then a global
top-k whose rank window is PARTIAL-WindowGroupLimit-pruned map-side
(CLAUDE.md constraint 9 — no salting needed).  No joins, no explodes.

Reference parity: no counterpart (the reference has no entity/time
axis); extends the spatial-stats/trend family (SURVEY §2 extension) with
movement analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def od_flows(obs: DataFrame, entity_col: str, t_col: str, tie_col: str,
             cell_col: str, k: int) -> DataFrame:
    """(o_cell, d_cell, n_moves, n_entities, rank): top-``k`` corridors.

    ``obs`` must carry integer/orderable ``t_col`` and a ``tie_col``
    unique per entity (see module docstring).  ``obs`` may come straight
    from the expression cell-encoder; no checkpoint is needed."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(entity_col).orderBy(t_col, tie_col)
    moves = (obs
             .withColumn("o_cell", F.lag(cell_col).over(w))
             .filter(F.col("o_cell").isNotNull()
                     & (F.col("o_cell") != F.col(cell_col))))
    flows = (moves.groupBy("o_cell", F.col(cell_col).alias("d_cell"))
             .agg(F.count("*").alias("n_moves"),
                  F.countDistinct(entity_col).alias("n_entities")))
    rw = Window.orderBy(F.desc("n_moves"), F.asc("o_cell"),
                        F.asc("d_cell"))
    return (flows.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select("o_cell", "d_cell", "n_moves", "n_entities", "rank"))


def od_flows_sql(obs_sql: str, entity_col: str, t_col: str, tie_col: str,
                 cell_col: str, k: int) -> str:
    """DuckDB twin of :func:`od_flows` — same total move order, same
    self-loop exclusion, same deterministic ranking."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    mv AS (
        SELECT lag({cell_col}) OVER (PARTITION BY {entity_col}
                   ORDER BY {t_col}, {tie_col}) AS o_cell,
               {cell_col} AS d_cell, {entity_col} AS ent
        FROM obs),
    fl AS (
        SELECT o_cell, d_cell,
               CAST(count(*) AS BIGINT) AS n_moves,
               CAST(count(DISTINCT ent) AS BIGINT) AS n_entities
        FROM mv WHERE o_cell IS NOT NULL AND o_cell <> d_cell
        GROUP BY o_cell, d_cell)
    SELECT o_cell, d_cell, n_moves, n_entities, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_moves DESC, o_cell, d_cell) AS rank FROM fl)
    WHERE rank <= {k}
    """


def trip_stats(obs: DataFrame, entity_col: str, t_col: str, tie_col: str,
               cell_col: str, k: int) -> DataFrame:
    """(entity, n_events, n_moves, n_cells, revisit_ppm, rank): per-entity
    movement profile, top-``k`` by (n_moves desc, entity).

    n_moves counts cell TRANSITIONS on the total (t, tie) order (self-
    loops excluded, as od_flows); n_cells is the entity's distinct-cell
    footprint; revisit_ppm = ((n_events − n_cells) · 1e6) div n_events —
    the share of events landing in an already-known cell (dwell+return
    mass).  Same single entity-keyed shuffle as od_flows: the lag window
    and the per-entity aggregate share the hash partitioning on the
    entity key, so Catalyst plans ONE exchange for both."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(entity_col).orderBy(t_col, tie_col)
    per = (obs
           .withColumn("_o", F.lag(cell_col).over(w))
           .groupBy(entity_col)
           .agg(F.count("*").alias("n_events"),
                F.sum(F.expr(
                    f"CAST(_o IS NOT NULL AND _o <> {cell_col} AS INT)"))
                .cast("bigint").alias("n_moves"),
                F.countDistinct(cell_col).alias("n_cells"))
           .withColumn("revisit_ppm", F.expr(
               "((n_events - n_cells) * 1000000) div n_events")))
    rw = Window.orderBy(F.desc("n_moves"), F.asc(entity_col))
    return (per.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select(entity_col, "n_events", "n_moves", "n_cells",
                    "revisit_ppm", "rank"))


def trip_stats_sql(obs_sql: str, entity_col: str, t_col: str,
                   tie_col: str, cell_col: str, k: int) -> str:
    """DuckDB twin of :func:`trip_stats`."""
    return f"""
    WITH obs AS MATERIALIZED ({obs_sql}),
    mv AS (
        SELECT {entity_col} AS ent, {cell_col} AS cell,
               lag({cell_col}) OVER (PARTITION BY {entity_col}
                   ORDER BY {t_col}, {tie_col}) AS o_cell
        FROM obs),
    per AS (
        SELECT ent,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN o_cell IS NOT NULL AND o_cell <> cell
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_moves,
               CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
        FROM mv GROUP BY ent)
    SELECT ent AS {entity_col}, n_events, n_moves, n_cells,
           CAST(((n_events - n_cells) * 1000000) // n_events AS BIGINT)
               AS revisit_ppm,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY n_moves DESC, ent) AS rank FROM per)
    WHERE rank <= {k}
    """
