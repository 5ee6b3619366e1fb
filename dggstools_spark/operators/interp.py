"""Inverse-distance-weighted (IDW) spatial interpolation — exact-integer
weighted mean over block-pruned neighborhoods.

The classic GIS surface-estimation op: the value at a query point is the
weighted mean of observed values within radius ``d``, weights 1/d².
Realized scale-first and determinism-first:

- candidate generation is the near_pairs block lattice (block width
  w >= d asserted, query side explodes its 3×3 neighborhood, ONE
  equi-join on the block key — no cross join, observations shuffle once
  on the same block key every cell-keyed operator uses);
- weights are QUANTIZED integers: wq = round(1e12 / max(d², 1 m²)) —
  the float division happens per PAIR on bit-identical doubles (products
  of identical expressions), after which Σ wq·v and Σ wq are pure BIGINT
  /DECIMAL(38,0) sums: associative, run-stable, partitioning-stable,
  engine-exact (CLAUDE.md constraint 13 — a float Σ(v/d²) would be none
  of those).  The 1 m² clamp bounds the weight of (near-)coincident
  observations, making the estimate well-defined there (documented
  contract; classic IDW is singular at d = 0);
- the estimate is (Σ wq·v) div (Σ wq) — truncated integer division,
  identical on both engines.

Output: (q_id, n_obs, est) per query point with >= 1 observation in
range.  Σ wq·v rides DECIMAL(38,0)/HUGEINT (wq <= 1e12; BIGINT would
overflow beyond ~9e6 · v in-range observations per query).

Reference parity: no counterpart (the reference resamples rasters but
has no scattered-point interpolation); extends the spatial-analytics
family (SURVEY §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..dggs.cells import HALF_SIDE
from ..dggs.config import DEFAULT_CONFIG, RHEALPixConfig
from ..functions.encode_sql import double_sql

#: weight scale: wq = round(WQ / d2);  d2 clamped to >= 1 m²
WQ = 1_000_000_000_000.0
PPM = 1_000_000


def _wq_sql() -> str:
    """Shared weight snippet over columns d2 (m², double)."""
    return (f"CAST(round({double_sql(WQ)}"
            f" / greatest(d2, 1.0)) AS BIGINT)")


def idw_interp(obs: DataFrame, queries: DataFrame, d_m: float, res: int,
               v_col: str = "v", px: str = "px", py: str = "py",
               q_id: str = "q_id", qx: str = "qx", qy: str = "qy",
               cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """(q_id, n_obs, est): IDW estimate at each query point from the
    integer-valued ``v_col`` of observations within ``d_m`` planar
    meters (see module docstring)."""
    w_m = HALF_SIDE / cfg.n_side**res
    if w_m < d_m:
        raise ValueError(
            f"idw_interp: block width {w_m:.1f} m at res {res} is below "
            f"the radius {d_m:.1f} m; use a coarser res")
    o = (obs.select(F.col(v_col).alias("v"),
                    F.col(px).alias("ox"), F.col(py).alias("oy"))
         .withColumn("_bc", F.floor(F.col("ox") / w_m).cast("bigint"))
         .withColumn("_br", F.floor(F.col("oy") / w_m).cast("bigint")))
    q = (queries.select(q_id, F.col(qx).alias("_qx"),
                        F.col(qy).alias("_qy"))
         .withColumn("_o", F.expr(
             "explode(array(" + ", ".join(
                 f"struct({dc} AS dc, {dr} AS dr)"
                 for dc in (-1, 0, 1) for dr in (-1, 0, 1)) + "))"))
         .select(q_id, "_qx", "_qy",
                 (F.floor(F.col("_qx") / w_m).cast("bigint")
                  + F.col("_o.dc")).alias("_bc"),
                 (F.floor(F.col("_qy") / w_m).cast("bigint")
                  + F.col("_o.dr")).alias("_br")))
    pairs = (o.join(q, ["_bc", "_br"])
             .withColumn("d2", F.expr(
                 "(ox - _qx) * (ox - _qx) + (oy - _qy) * (oy - _qy)"))
             .filter(F.expr(f"d2 <= {double_sql(d_m * d_m)}"))
             .withColumn("wq", F.expr(_wq_sql())))
    return (pairs.groupBy(q_id)
            .agg(F.count("*").alias("n_obs"),
                 F.sum(F.expr("CAST(wq AS DECIMAL(38,0)) * v"))
                 .alias("_num"),
                 F.sum("wq").alias("_den"))
            .select(q_id, "n_obs",
                    F.expr("CAST(_num div _den AS BIGINT)").alias("est")))


def idw_interp_sql(obs_sql: str, queries_sql: str, d_m: float, res: int,
                   v_col: str = "v", px: str = "px", py: str = "py",
                   q_id: str = "q_id", qx: str = "qx", qy: str = "qy",
                   cfg: RHEALPixConfig = DEFAULT_CONFIG) -> str:
    """DuckDB twin of :func:`idw_interp` (HUGEINT numerator)."""
    w_m = HALF_SIDE / cfg.n_side**res
    assert w_m >= d_m, "idw_interp_sql: res too fine for radius"
    offs = " UNION ALL ".join(
        f"SELECT {dc} AS dc, {dr} AS dr"
        for dc in (-1, 0, 1) for dr in (-1, 0, 1))
    return f"""
    WITH o AS MATERIALIZED (
        SELECT {v_col} AS v, {px} AS ox, {py} AS oy,
               CAST(floor({px} / {w_m!r}) AS BIGINT) AS bc,
               CAST(floor({py} / {w_m!r}) AS BIGINT) AS br
        FROM ({obs_sql})),
    q AS MATERIALIZED (
        SELECT {q_id}, {qx} AS _qx, {qy} AS _qy,
               CAST(floor({qx} / {w_m!r}) AS BIGINT) AS qbc,
               CAST(floor({qy} / {w_m!r}) AS BIGINT) AS qbr
        FROM ({queries_sql})),
    pr AS (
        SELECT {q_id}, v,
               (ox - _qx) * (ox - _qx) + (oy - _qy) * (oy - _qy) AS d2
        FROM q JOIN ({offs}) f ON TRUE
        JOIN o ON o.bc = q.qbc + f.dc AND o.br = q.qbr + f.dr),
    pw AS (SELECT {q_id}, v, {_wq_sql()} AS wq FROM pr
           WHERE d2 <= {double_sql(d_m * d_m)})
    SELECT {q_id},
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(CAST(wq AS HUGEINT) * v)
                // CAST(sum(wq) AS HUGEINT) AS BIGINT) AS est
    FROM pw GROUP BY {q_id}
    """


# --------------------------------------------------------------------------
# Areal interpolation (the classic incompatible-zones transfer): move a
# value observed on SOURCE zones onto TARGET zones proportionally to
# shared area — here shared CELL COUNT, since the DGGS grid is the
# areal-weighting operator (the overlay_counts contract: no geometry
# math, the grid IS the intersection).
#
#     est_q6(b) = Σ_a v(a) · 1e6 · |a ∩ b|  div  |a|
#
# — the standard area-weighted estimate, quantized q6 (constraint-13:
# exact BIGINT terms, associative sum, engine-exact; a float transfer
# would be agg-order-dependent).  Sources wholly outside every target
# contribute nothing; the per-source truncation loses < 1 q6-unit per
# (a, b) pair.
#
# Scale shape (100 TB): two rasterizes (bounded bbox-candidate explode
# per polygon) + one cellid equi-join + three hash aggregates.
# --------------------------------------------------------------------------


def areal_transfer(overlap: DataFrame, sizes: DataFrame,
                   vals: DataFrame) -> DataFrame:
    """(b_id, est_q6, n_src): area-weighted transfer.  ``overlap`` =
    (a_id, b_id, n_ov); ``sizes`` = (a_id, n_src_cells); ``vals`` =
    (a_id, v BIGINT).  See block comment above."""
    return (overlap
            .join(sizes, "a_id").join(vals, "a_id")
            # DECIMAL(38,0) product (ADVICE r6, constraint-13 widening
            # discipline): v * 1e6 * n_ov can exceed BIGINT at 100 TB
            # scale / fine res; div still returns BIGINT, so the schema
            # and all in-range values are unchanged.  Spark side only —
            # the DuckDB twin's SQL text is fingerprint-frozen this
            # round (its HUGEINT sum already absorbs the same range).
            .withColumn("_t", F.expr(
                f"(CAST(v AS DECIMAL(38,0)) * {PPM} * n_ov)"
                f" div n_src_cells"))
            .groupBy("b_id")
            .agg(F.sum("_t").cast("bigint").alias("est_q6"),
                 F.count("*").alias("n_src")))


def areal_transfer_sql(overlap_sql: str, sizes_sql: str,
                       vals_sql: str) -> str:
    """DuckDB twin of :func:`areal_transfer`."""
    return f"""
    SELECT o.b_id,
           CAST(sum((v.v * {PPM} * o.n_ov) // s.n_src_cells) AS BIGINT)
               AS est_q6,
           CAST(count(*) AS BIGINT) AS n_src
    FROM ({overlap_sql}) o
    JOIN ({sizes_sql}) s USING (a_id)
    JOIN ({vals_sql}) v USING (a_id)
    GROUP BY o.b_id
    """
