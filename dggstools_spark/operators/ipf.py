"""Iterative proportional fitting (Furness balancing) — the
doubly-constrained trip-distribution / matrix-raking step, in exact
quantized integers.

Given a seed OD matrix t_ij and target margins O_i (row) / D_j
(column), IPF alternately scales rows then columns toward the targets:

    row step:  t'_ij = t_ij · (O_i · 1e6)  div  Σ_j t_ij
    col step:  t'_ij = t_ij · (D_j · 1e6)  div  Σ_i t_ij

with t held in q6 units (seed · 1e6) and every product ridden through
DECIMAL(38,0)/HUGEINT before the truncating div (constraint-13 family:
a float IPF would be partial-agg-order-dependent; the quantized update
is associative-exact and bit-identical across engines).  Truncation
loses < 1 q6-unit per cell per step — observable in the reported margin
errors, never compounding past ppm scale for realistic round counts.
Classic IPF converges to the unique matrix with the target margins and
the seed's odds ratios (Sinkhorn); ``rounds`` bounds the iteration, and
the final row-margin error is part of the output so under-convergence
is visible, not silent.

Contract: every row i with O_i > 0 must have Σ_j t_ij > 0 in the seed
(and symmetrically for columns) — a zero row/column cannot be scaled to
a positive target; rows/columns absent from the seed are dropped and
their targets ignored (documented; count them upstream if that matters).

Scale shape (100 TB of events → an OD matrix ≪ event count): each round
is two (groupBy + join-back) passes over the edge list — the same
natural-key shuffles as page_rank, AQE broadcasts the margin vectors;
localCheckpoint per half-round (each ends a fixpoint round).

Reference parity: no counterpart; extends the movement family
(od_flows / graph.page_rank / flow_communities) with the
matrix-balancing primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

Q6 = 1_000_000


def ipf_balance(seed: DataFrame, row_targets: DataFrame,
                col_targets: DataFrame, rounds: int) -> DataFrame:
    """(o, d, t_q6): the balanced matrix after ``rounds`` (row step +
    col step) pairs.  ``seed`` = (o, d, t BIGINT > 0); ``row_targets`` =
    (o, tgt BIGINT); ``col_targets`` = (d, tgt BIGINT).  See module
    docstring."""
    if rounds < 1:
        raise ValueError(f"ipf_balance: rounds must be >= 1,"
                         f" got {rounds}")
    rt = row_targets.select("o", F.col("tgt").alias("_ro"))
    ct = col_targets.select("d", F.col("tgt").alias("_cd"))
    t = (seed.select("o", "d",
                     (F.col("t").cast("bigint") * Q6).alias("t_q6"))
         .join(rt, "o").join(ct, "d")
         .localCheckpoint(eager=True))  # dedup: 2 consumers (round 1's sum and join)
    for _ in range(rounds):
        rs = t.groupBy("o").agg(F.sum("t_q6").alias("_rs"))
        t = (t.join(rs, "o")
             .withColumn("t_q6", F.expr(
                 f"CAST((CAST(t_q6 AS DECIMAL(38,0)) * (_ro * {Q6}))"
                 f" div _rs AS BIGINT)"))
             .drop("_rs")
             .localCheckpoint(eager=True))  # fixpoint round
        cs = t.groupBy("d").agg(F.sum("t_q6").alias("_cs"))
        t = (t.join(cs, "d")
             .withColumn("t_q6", F.expr(
                 f"CAST((CAST(t_q6 AS DECIMAL(38,0)) * (_cd * {Q6}))"
                 f" div _cs AS BIGINT)"))
             .drop("_cs")
             .localCheckpoint(eager=True))  # fixpoint round
    return t.select("o", "d", "t_q6")


def ipf_balance_ctes(seed_sql: str, row_sql: str, col_sql: str,
                     rounds: int) -> str:
    """DuckDB CTE chain ending in ``ipf`` (o, d, t_q6) — the twin of
    :func:`ipf_balance`, every level MATERIALIZED (constraint 14)."""
    if rounds < 1:
        raise ValueError(f"ipf_balance_ctes: rounds must be >= 1,"
                         f" got {rounds}")
    parts = [f"_rt AS MATERIALIZED (SELECT o, tgt AS _ro"
             f" FROM ({row_sql}))",
             f"_ct AS MATERIALIZED (SELECT d, tgt AS _cd"
             f" FROM ({col_sql}))",
             f"""_t0 AS MATERIALIZED (
        SELECT s.o, s.d, CAST(s.t AS BIGINT) * {Q6} AS t_q6,
               r._ro, c._cd
        FROM ({seed_sql}) s
        JOIN _rt r USING (o) JOIN _ct c USING (d))"""]
    cur = "_t0"
    for i in range(1, rounds + 1):
        parts.append(f"""_r{i} AS MATERIALIZED (
        SELECT t.o, t.d,
               CAST((CAST(t.t_q6 AS HUGEINT) * (t._ro * {Q6}))
                    // rs._rs AS BIGINT) AS t_q6, t._ro, t._cd
        FROM {cur} t
        JOIN (SELECT o, CAST(sum(t_q6) AS BIGINT) AS _rs
              FROM {cur} GROUP BY o) rs USING (o))""")
        parts.append(f"""_c{i} AS MATERIALIZED (
        SELECT t.o, t.d,
               CAST((CAST(t.t_q6 AS HUGEINT) * (t._cd * {Q6}))
                    // cs._cs AS BIGINT) AS t_q6, t._ro, t._cd
        FROM _r{i} t
        JOIN (SELECT d, CAST(sum(t_q6) AS BIGINT) AS _cs
              FROM _r{i} GROUP BY d) cs USING (d))""")
        cur = f"_c{i}"
    parts.append(f"ipf AS MATERIALIZED ("
                 f"SELECT o, d, t_q6 FROM {cur})")
    return ",\n".join(parts)
