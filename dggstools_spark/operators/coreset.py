"""Diverse coreset selection: greedy k-center (Gonzalez 1985, public
2-approximation) over an embedding column — the "maximally spread
sample" primitive of training-data curation (seed sets for active
learning, dedup-aware eval panels, prototype selection).

Deterministic contract: the seed is the MINIMUM vec id (not a random
draw); each round picks the point FARTHEST from the chosen set
(argmax of min-distance, ties to the smallest id), with already-chosen
ids EXCLUDED — textbook Gonzalez never re-picks only because a chosen
point's min-distance is 0, which breaks down when exact duplicates make
EVERY remaining distance 0; exclusion keeps picks distinct until the
pool is exhausted (then it raises).  Distances are quantized cosine
distances

    d_q9 = 1e9 − round(1e9 · dot(a, b) / (|a| · |b|))    (BIGINT)

— the ann/ivf quantization family: round() over an irrational cosine
has measure-zero boundary exposure (CLAUDE.md constraint 17), and the
flat Spark dot / DuckDB list fold are bit-identical by the
constraint-15 contract (same order, same 0.0 seed), so argmax decisions
are engine-exact.  Per-vector norms are computed ONCE up front.

Scale shape (100 TB): R rounds, each ONE projection over the corpus
(crossJoin with a broadcast 1-row center — a BNLJ shape, so the dot is
the HOF fold per constraint 15; the flat variant measured two ~16.5 KB
volcano-fallback methods and was slower) + a min-struct argmax
aggregate; the running min-distance column makes each round O(N)
instead of O(N·|chosen|).  localCheckpoint per round (the state ends
each fixpoint round); the R driver-side 1-row reads are control flow,
the same budget as bpe_train.

Reference parity: no counterpart; extends the ANN/curation family
(similarity.py / pq.py / dsir.py) with the diversity-selection
primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .similarity import DOT_DUCK, NRM_DUCK, dot_spark, nrm_spark

Q9 = 1_000_000_000


def _d_spark(dim: int) -> str:
    # HOF dot, NOT flat: this is a BNLJ-shaped stage (crossJoin with the
    # broadcast 1-row center) and a flat 64-term dot generated two
    # ~16.5 KB methods — over the 8000-byte JIT budget, so the whole
    # stage fell back to volcano (CLAUDE.md constraints 15/16: flat is
    # for rerank shapes; BNLJ shapes take prenorm + HOF).  Bit-identical
    # values either way (same order, same 0.0 seed).
    dot = dot_spark("embedding", "c_emb", dim=None)
    return (f"CAST({Q9} - round(1e9 * ({dot}) / (_n * c_n)) AS BIGINT)")


def kcenter_select(emb: DataFrame, id_col: str, vec_col: str,
                   rounds: int, dim: int) -> DataFrame:
    """(round, vec_id, sel_d_q9): the ``rounds`` greedy k-center picks
    in selection order; ``sel_d_q9`` is the pick's distance to the
    previously-chosen set (−1 for the seed).  See module docstring."""
    if rounds < 1:
        raise ValueError(
            f"kcenter_select: rounds must be >= 1, got {rounds}")
    spark = emb.sparkSession
    base = (emb.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("embedding"))
            .withColumn("_n", F.expr(nrm_spark("embedding", dim)))
            # dedup: 2 consumers (the seed pick and round 2's state)
            .localCheckpoint(eager=True))
    seed = base.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(1, seed.vec_id, -1)]
    center = seed
    state = None  # (vec_id, embedding, _n, mind)
    for rnd in range(2, rounds + 1):
        cdf = F.broadcast(spark.createDataFrame(
            [(center.embedding, float(center._n))],
            f"c_emb array<double>, c_n double"))
        prev = state if state is not None else base
        d = F.expr(_d_spark(dim))
        state = (prev.crossJoin(cdf)
                 .select("vec_id", "embedding", "_n",
                         (d if state is None
                          else F.least(F.col("mind"), d)).alias("mind"))
                 # fixpoint round: the state ends the round
                 .localCheckpoint(eager=True))
        # exclude already-chosen ids: when every remaining point is at
        # distance 0 (exact duplicates), the duplicate is picked, never
        # a re-pick of a center
        picked = [c[1] for c in chosen]
        best_id = (state.filter(~F.col("vec_id").isin(picked))
                   .agg(F.min(F.struct(
                       (-F.col("mind")).alias("nd"),
                       F.col("vec_id").alias("i"))).alias("_b"))
                   .select("_b.i", "_b.nd").collect()[0])
        if best_id.i is None:
            raise ValueError(
                f"kcenter_select: pool exhausted at round {rnd}")
        center = state.filter(F.col("vec_id") == best_id.i).collect()[0]
        chosen.append((rnd, best_id.i, int(-best_id.nd)))
    return spark.createDataFrame(
        chosen, "round int, vec_id long, sel_d_q9 bigint")


def kcenter_select_sql(emb_sql: str, id_col: str, vec_col: str,
                       rounds: int) -> str:
    """DuckDB twin of :func:`kcenter_select` — unrolled MATERIALIZED
    rounds over ``emb_sql`` (same quantized distance, same ties)."""
    if rounds < 1:
        raise ValueError(
            f"kcenter_select_sql: rounds must be >= 1, got {rounds}")
    nrm = NRM_DUCK.format(v=vec_col)
    dot = DOT_DUCK.format(a="b.embedding", b="c.embedding")
    d = (f"CAST({Q9} - round(1e9 * ({dot}) / (b._n * c._n)) AS BIGINT)")
    parts = [f"""_b AS MATERIALIZED (
        SELECT {id_col} AS vec_id, {vec_col} AS embedding,
               {nrm} AS _n FROM ({emb_sql}))""",
             "_c1 AS MATERIALIZED ("
             "SELECT * FROM _b ORDER BY vec_id LIMIT 1)"]
    for i in range(2, rounds + 1):
        p = i - 1
        src = "_b" if i == 2 else f"_m{i - 2}"
        mind = d if i == 2 else f"least(b.mind, {d})"
        parts.append(f"""_m{i - 1} AS MATERIALIZED (
        SELECT b.vec_id, b.embedding, b._n, {mind} AS mind
        FROM {src} b, _c{p} c)""")
        prior = " UNION ALL ".join(
            f"SELECT vec_id FROM _c{j}" for j in range(1, i))
        parts.append(f"""_c{i} AS MATERIALIZED (
        SELECT * FROM _m{i - 1}
        WHERE vec_id NOT IN ({prior})
        ORDER BY mind DESC, vec_id LIMIT 1)""")
    rows = ["SELECT CAST(1 AS INT) AS round, vec_id,"
            " CAST(-1 AS BIGINT) AS sel_d_q9 FROM _c1"]
    rows += [f"SELECT CAST({i} AS INT), vec_id, mind FROM _c{i}"
             for i in range(2, rounds + 1)]
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows))
