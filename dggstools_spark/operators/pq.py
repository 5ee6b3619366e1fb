"""Product quantization (PQ) for embedding ANN, fully relational.

The third ANN family next to LSH multi-probe (similarity.ann_topk) and IVF
(similarity.ivf_topk): split each d-dim vector into M subvectors of
d/M dims, quantize every subvector to one of K per-subspace centroids
(the CODE), and answer queries by Asymmetric Distance Computation (ADC) —
the query precomputes an M×K lookup table of (query-subvector → centroid)
distances, and each candidate's approximate distance is the sum of M table
lookups.  This is faiss's IndexPQ: a full scan, but each candidate costs M
integer adds instead of d float multiplies, and the code table is d/(M·
log2 K·…) times smaller than the raw vectors — the memory-bound regime's
answer.  Composes with IVF list pruning (ivf_topk) when a scan is too much.

Codebook: training-free deterministic seeding (same rationale as
similarity.ivf_centroids): the K lowest-id vectors of a fixed id-residue
class donate their subvector slices as centroids.  Everything downstream —
codes, LUTs, ADC ranks — is then SQL-expressible and oracle-checked
end-to-end, like the other two ANN families.

Determinism contract (CLAUDE.md constraints 13/15): per-subspace squared-L2
distances are FLAT left-associated expressions generated from one shared
emitter (identical operation order on both engines → bit-identical
doubles; dsub is small so the stage stays far inside the janino/JIT
budgets), then quantized to BIGINT via an exact power-of-two scale
(round(d² · 2²⁰)).  ADC distances are sums of M BIGINTs — associative,
run-stable, engine-exact.

Scale design (100 TB):
- the codebook is M×K rows — BROADCAST; encoding is one equi-join on the
  subspace index (multiplicity K) + one map-side-combining min-struct
  aggregate per (vector, subspace) + one array rollup per vector: no
  window shuffle, no cross join;
- the LUT is built per query from the same broadcast codebook (M×K rows
  per query, array-packed);
- the ADC scan broadcasts the (small) query LUTs against the code table —
  a BroadcastNestedLoopJoin whose row cost is M BIGINT array lookups
  (deliberate: PQ's whole point is that the scan is cheap; the pruned
  path is IVF);
- top-k is a rank window per query: PARTIAL WindowGroupLimit keeps it
  map-side (CLAUDE.md constraint 9).

Reference parity: no ANN in the reference engine; LLM-pipeline extension
batch (SURVEY.md §2 extension), sibling of similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PQ_M = 8          #: subspaces
PQ_DSUB = 8       #: dims per subspace (M * DSUB = 64, the corpus dim)
PQ_K = 16         #: centroids per subspace
PQ_SEED_MOD = 3   #: seed-vector residue class (id % MOD == RES)
PQ_SEED_RES = 0
PQ_QUANT = 1 << 20  #: exact power-of-two distance scale (constraint 13)


def _d2(a_elem, b_elem, dsub: int) -> str:
    """Flat left-associated squared-L2 over ``dsub`` dims; ``a_elem``/
    ``b_elem`` map a 1-based index to the engine's element accessor.  One
    emitter → identical float-op order on both engines."""
    terms = []
    for i in range(1, dsub + 1):
        d = (f"(CAST({a_elem(i)} AS DOUBLE)"
             f" - CAST({b_elem(i)} AS DOUBLE))")
        terms.append(f"({d} * {d})")
    return " + ".join(terms)


def _dq_spark(dsub: int) -> str:
    d2 = _d2(lambda i: f"element_at(svec, {i})",
             lambda i: f"element_at(cvec, {i})", dsub)
    return f"CAST(round(({d2}) * {float(PQ_QUANT)}) AS BIGINT)"


def _dq_duckdb(dsub: int) -> str:
    d2 = _d2(lambda i: f"svec[{i}]", lambda i: f"cvec[{i}]", dsub)
    return f"CAST(round(({d2}) * {float(PQ_QUANT)}) AS BIGINT)"


def pq_codebook(emb: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", m: int = PQ_M, dsub: int = PQ_DSUB,
                k: int = PQ_K, seed_mod: int = PQ_SEED_MOD,
                seed_res: int = PQ_SEED_RES) -> DataFrame:
    """(m, cid, cvec): per-subspace centroid table from the K lowest-id
    vectors of the seed residue class (deterministic, training-free)."""
    from pyspark.sql.window import Window

    seeds = (emb.filter(F.pmod(F.col(id_col), F.lit(seed_mod)) == seed_res)
             .withColumn("cid", F.row_number().over(
                 Window.orderBy(id_col)) - 1)
             .filter(F.col("cid") < k))
    return (seeds
            .select("cid", F.explode(F.expr(
                f"sequence(0, {m - 1})")).alias("m"), vec_col)
            .withColumn("cvec", F.expr(
                f"transform(slice({vec_col}, m * {dsub} + 1, {dsub}),"
                f" x -> CAST(x AS DOUBLE))"))
            .select("m", "cid", "cvec"))


def _subvectors(df: DataFrame, vec_col: str, id_col: str, out_id: str,
                m: int, dsub: int) -> DataFrame:
    # Loud guard (ADVICE r5): a vector shorter than m*dsub would slice to a
    # short subvector whose element_at reads return NULL and poison the
    # distances SILENTLY — and Spark's min(struct) and DuckDB's ORDER BY
    # place NULLs differently, so the engines would diverge instead of
    # failing.  One codegen'd int compare per row; the DuckDB twin raises
    # the same way (error() in the sv CTE).
    return (df
            .select(F.col(id_col).alias(out_id),
                    F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"),
                    F.col(vec_col))
            .withColumn("svec", F.expr(
                f"CASE WHEN size({vec_col}) >= {m * dsub}"
                f" THEN transform(slice({vec_col}, m * {dsub} + 1, {dsub}),"
                f" x -> CAST(x AS DOUBLE))"
                f" ELSE raise_error(concat('pq: vector for id ',"
                f" CAST({out_id} AS STRING), ' has ',"
                f" CAST(size({vec_col}) AS STRING),"
                f" ' dims, need >= {m * dsub}')) END"))
            .drop(vec_col))


def pq_encode(emb: DataFrame, codebook: DataFrame,
              vec_col: str = "embedding", id_col: str = "vec_id",
              m: int = PQ_M, dsub: int = PQ_DSUB) -> DataFrame:
    """(id, codes array<int>): nearest-centroid code per subspace.
    Contract: every vector must have at least m*dsub dimensions — enforced
    loudly by _subvectors (raise_error / DuckDB error()), identical on
    both engines, instead of short slices silently poisoning distances
    through NULL element_at reads.  The
    argmin is a min-struct hash aggregate (map-side combine), not a window
    — no per-(vector, subspace) shuffle beyond the agg itself."""
    sv = _subvectors(emb, vec_col, id_col, id_col, m, dsub)
    pc = (sv.join(F.broadcast(codebook), "m")
          .withColumn("dq", F.expr(_dq_spark(dsub))))
    per_sub = (pc.groupBy(id_col, "m")
               .agg(F.min(F.struct("dq", "cid")).getField("cid")
                    .cast("int").alias("code")))
    return (per_sub.groupBy(id_col)
            .agg(F.expr("transform(array_sort(collect_list(struct(m, code)))"
                        ", e -> e.code)").alias("codes")))


def pq_lut(queries: DataFrame, codebook: DataFrame,
           vec_col: str = "q_emb", id_col: str = "q_id",
           m: int = PQ_M, dsub: int = PQ_DSUB, k: int = PQ_K) -> DataFrame:
    """(q_id, lut array<bigint>): ADC lookup table per query, packed as a
    flat array indexed m*K + cid (0-based)."""
    sv = _subvectors(queries, vec_col, id_col, id_col, m, dsub)
    pc = (sv.join(F.broadcast(codebook), "m")
          .withColumn("dq", F.expr(_dq_spark(dsub))))
    return (pc.groupBy(id_col)
            .agg(F.expr(f"transform(array_sort(collect_list("
                        f"struct(m * {k} + cid AS i, dq))), e -> e.dq)")
                 .alias("lut")))


def pq_topk(emb: DataFrame, queries: DataFrame, topk: int,
            vec_col: str = "embedding", id_col: str = "vec_id",
            q_vec: str = "q_emb", q_id: str = "q_id",
            m: int = PQ_M, dsub: int = PQ_DSUB, k: int = PQ_K,
            seed_mod: int = PQ_SEED_MOD,
            seed_res: int = PQ_SEED_RES) -> DataFrame:
    """(q_id, vec_id, adc_q, rank): ADC top-k per query over the PQ code
    table.  adc_q is the quantized approximate squared-L2 (BIGINT)."""
    from pyspark.sql.window import Window

    cb = pq_codebook(emb, vec_col, id_col, m, dsub, k, seed_mod, seed_res)
    codes = pq_encode(emb, cb, vec_col, id_col, m, dsub)
    lut = pq_lut(queries, cb, q_vec, q_id, m, dsub, k)
    adc = " + ".join(
        f"element_at(lut, CAST({j * k} + element_at(codes, {j + 1}) + 1"
        f" AS INT))" for j in range(m))
    w = Window.partitionBy(q_id).orderBy(F.asc("adc_q"), F.asc(id_col))
    return (codes.crossJoin(F.broadcast(lut))
            .filter(F.col(id_col) != F.col(q_id))
            .withColumn("adc_q", F.expr(adc))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select(q_id, id_col, "adc_q", "rank"))


def ivfpq_topk(emb: DataFrame, queries: DataFrame, topk: int,
               vec_col: str = "embedding", id_col: str = "vec_id",
               q_vec: str = "q_emb", q_id: str = "q_id",
               mod: int = 23, residue: int = 3, nprobe: int = 3,
               assign_mode: str = "adc") -> DataFrame:
    """(q_id, vec_id, adc_q, rank): IVF + PQ composed — faiss's IndexIVFPQ
    shape (non-residual variant, by_residual=false): coarse-quantize the
    corpus into inverted lists (similarity.ivf_assign), PQ-encode every
    vector once, then answer queries by probing the ``nprobe`` nearest
    lists and ADC-ranking ONLY their members.

    This replaces pq_topk's whole-corpus BroadcastNestedLoop ADC scan with
    an EQUI-JOIN on the list id — the memory-bound PQ arithmetic AND the
    IVF candidate pruning together, which is the actual 100-TB ANN
    architecture: the scan cost drops from |corpus|·M lookups per query to
    (|corpus|·nprobe/n_lists)·M, the code table is the only corpus-sized
    state (d/(M·4) compression), and every join is either broadcast
    (centroids, probes, LUTs, codebook) or the one hash equi-join on cid.
    Non-residual keeps the construction deterministic-SQL end to end
    (residual encoding would subtract the float centroid per vector before
    coding — an extra zip_with per row and a second codebook pass for no
    oracle gain at these dims; faiss exposes the same switch).

    ``assign_mode`` picks the coarse quantizer:

    - ``'adc'`` (default): nearest centroid by ADC over the centroids'
      OWN PQ codes (the semantic_dedup_pq lever, SCALE.md "PQ/ADC
      assignment": the exact-cosine corpus×centroids BNLJ measured
      137 s at sf1 vs 8.7 s for ADC — the sf1 gate run of the exact
      mode here clocked 213 s).  The corpus-side cost is |corpus|·
      |cents| · M BIGINT lookups + one min-struct hash agg — no window,
      no float folds.  List membership is then approximate at cluster
      boundaries, exactly faiss's by_residual=false quantizer tradeoff.
    - ``'exact'``: similarity.ivf_assign (exact cosine, the
      equivalence-test yardstick).

    Determinism: probe selection uses the exact round(.,9) cosine (the
    ivf_topk probe stage, HOF fold in the BNLJ shape per CLAUDE.md
    constraint 15); ADC distances are sums of M quantized BIGINTs —
    associative, run-stable; ties → min id on both engines."""
    from pyspark.sql.window import Window

    from .similarity import DOT_SPARK, ivf_assign, ivf_centroids, nrm_spark

    if assign_mode not in ("adc", "exact"):
        raise ValueError(f"unknown assign_mode {assign_mode!r}")
    cents = ivf_centroids(emb, vec_col, id_col, mod, residue)
    cb = pq_codebook(emb, vec_col, id_col)
    codes = pq_encode(emb, cb, vec_col, id_col)
    if assign_mode == "exact":
        assigned = ivf_assign(emb, cents, vec_col, id_col) \
            .select(id_col, "cid")
    else:
        ccodes = pq_encode(cents.select(F.col("cid").alias("gid"),
                                        F.col("cvec")),
                           cb, vec_col="cvec", id_col="gid")
        lut_all = pq_lut(emb, cb, vec_col=vec_col, id_col=id_col)
        aadc = " + ".join(
            f"element_at(lut, CAST({j * PQ_K} + element_at(codes, {j + 1})"
            f" + 1 AS INT))" for j in range(PQ_M))
        assigned = (lut_all.crossJoin(F.broadcast(ccodes))
                    .withColumn("_adc", F.expr(aadc))
                    .groupBy(id_col)
                    .agg(F.min(F.struct("_adc", "gid")).getField("gid")
                         .alias("cid")))
    lists = assigned.join(codes, id_col)

    q = queries.withColumn("_nq", F.expr(nrm_spark(q_vec)))
    c = cents.withColumn("_ncn", F.expr(nrm_spark("cvec")))
    pdot = DOT_SPARK.format(a=q_vec, b="cvec")
    pw = Window.partitionBy(q_id).orderBy(F.col("_s").desc(), "cid")
    probes = (q.join(F.broadcast(c))
              .withColumn("_s", F.expr(f"round(({pdot}) / (_nq * _ncn), 9)"))
              .withColumn("_rn", F.row_number().over(pw))
              .filter(F.col("_rn") <= nprobe)
              .select(q_id, "cid"))

    lut = pq_lut(queries, cb, q_vec, q_id)
    adc = " + ".join(
        f"element_at(lut, CAST({j * PQ_K} + element_at(codes, {j + 1}) + 1"
        f" AS INT))" for j in range(PQ_M))
    rw = Window.partitionBy(q_id).orderBy(F.asc("adc_q"), F.asc(id_col))
    return (lists.join(F.broadcast(probes), "cid")
            .filter(F.col(id_col) != F.col(q_id))
            .join(F.broadcast(lut), q_id)
            .withColumn("adc_q", F.expr(adc))
            .withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= topk)
            .select(q_id, id_col, "adc_q", "rank"))


def ivfpq_topk_sql(emb_table: str, topk: int, query_pred: str,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   mod: int = 23, residue: int = 3,
                   nprobe: int = 3) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: the ivf_topk oracle's
    cents/probes CTEs composed with the pq_topk oracle's
    seeds/cb/sv/codes/LUT CTEs; the coarse quantizer is the ADC min
    (semantic_dedup_pq's gcodes/near shape; the Spark side's
    ``assign_mode='exact'`` reference has no twin); the ADC scan is the
    same cid equi-join."""
    from .similarity import DOT_DUCK, NRM_DUCK

    def sim(a, b):
        return (f"round(({DOT_DUCK.format(a=a, b=b)})"
                f" / ({NRM_DUCK.format(v=a)} * {NRM_DUCK.format(v=b)}), 9)")

    dq = _dq_duckdb(PQ_DSUB)
    adc = " + ".join(
        f"l.lut[{j * PQ_K} + c.codes[{j + 1}] + 1]" for j in range(PQ_M))
    gadc = " + ".join(
        f"l.lut[{j * PQ_K} + g.codes[{j + 1}] + 1]" for j in range(PQ_M))
    assign_ctes = f"""
    gsv AS (
        SELECT cid AS gid, t.m,
               CASE WHEN len(cvec) >= {PQ_M * PQ_DSUB}
                    THEN list_transform(list_slice(cvec,
                                                   t.m * {PQ_DSUB} + 1,
                                                   t.m * {PQ_DSUB} + {PQ_DSUB}),
                                        x -> CAST(x AS DOUBLE))
                    ELSE error('pq: vector shorter than m*dsub') END AS svec
        FROM cents, range({PQ_M}) t(m)),
    gcodes AS MATERIALIZED (
        SELECT gid, list(code ORDER BY m) AS codes FROM (
            SELECT gid, m, CAST(cid AS INT) AS code,
                   row_number() OVER (PARTITION BY gid, m
                                      ORDER BY dq, cid) AS rn
            FROM (SELECT gid, m, cid, {dq} AS dq
                  FROM gsv JOIN cb USING (m))) WHERE rn = 1 GROUP BY gid),
    assign AS MATERIALIZED (
        SELECT {id_col}, gid AS cid FROM (
            SELECT l.q_id AS {id_col}, g.gid,
                   row_number() OVER (PARTITION BY l.q_id
                       ORDER BY {gadc}, g.gid) AS rn
            FROM lut_all l, gcodes g) WHERE rn = 1),"""
    return f"""
    WITH cents AS MATERIALIZED (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {emb_table}
        WHERE {id_col} % {mod} = {residue}),
    qs AS (SELECT {id_col} AS q_id, {vec_col} AS q_emb FROM {emb_table}
           WHERE {query_pred}),
    psim AS (SELECT q.q_id, c.cid, {sim('q.q_emb', 'c.cvec')} AS s
             FROM qs q, cents c),
    probes AS MATERIALIZED (SELECT q_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY s DESC, cid) AS rn FROM psim) WHERE rn <= {nprobe}),
    seeds AS MATERIALIZED (
        SELECT {vec_col}, row_number() OVER (ORDER BY {id_col}) - 1 AS cid
        FROM {emb_table} WHERE {id_col} % {PQ_SEED_MOD} = {PQ_SEED_RES}
        QUALIFY row_number() OVER (ORDER BY {id_col}) <= {PQ_K}),
    cb AS MATERIALIZED (
        SELECT t.m, cid,
               list_transform(list_slice({vec_col}, t.m * {PQ_DSUB} + 1,
                                         t.m * {PQ_DSUB} + {PQ_DSUB}),
                              x -> CAST(x AS DOUBLE)) AS cvec
        FROM seeds, range({PQ_M}) t(m)),
    sv AS (
        SELECT {id_col}, t.m,
               CASE WHEN len({vec_col}) >= {PQ_M * PQ_DSUB}
                    THEN list_transform(list_slice({vec_col},
                                                   t.m * {PQ_DSUB} + 1,
                                                   t.m * {PQ_DSUB} + {PQ_DSUB}),
                                        x -> CAST(x AS DOUBLE))
                    ELSE error('pq: vector shorter than m*dsub') END AS svec
        FROM {emb_table}, range({PQ_M}) t(m)),
    pc AS MATERIALIZED (
        SELECT {id_col}, m, cid, {dq} AS dq
        FROM sv JOIN cb USING (m)),
    codes AS MATERIALIZED (
        SELECT {id_col}, list(code ORDER BY m) AS codes FROM (
            SELECT {id_col}, m, CAST(cid AS INT) AS code,
                   row_number() OVER (PARTITION BY {id_col}, m
                                      ORDER BY dq, cid) AS rn
            FROM pc) WHERE rn = 1 GROUP BY {id_col}),
    lut_all AS MATERIALIZED (
        SELECT {id_col} AS q_id, list(dq ORDER BY m * {PQ_K} + cid) AS lut
        FROM pc GROUP BY {id_col}),
    {assign_ctes}
    lut AS (SELECT q_id, lut FROM lut_all JOIN qs USING (q_id)),
    cand AS (
        SELECT p.q_id, a.{id_col}, a.cid FROM probes p
        JOIN assign a USING (cid)
        WHERE a.{id_col} <> p.q_id),
    adc AS (
        SELECT x.q_id, c.{id_col}, CAST({adc} AS BIGINT) AS adc_q
        FROM cand x
        JOIN codes c USING ({id_col})
        JOIN lut l ON l.q_id = x.q_id)
    SELECT q_id, {id_col}, adc_q, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY adc_q, {id_col}) AS rank FROM adc)
    WHERE rank <= {topk}
    """


def pq_topk_sql(emb_table: str, topk: int, query_pred: str,
                vec_col: str = "embedding", id_col: str = "vec_id") -> str:
    """DuckDB twin of the full pq_topk pipeline at the module's PQ_*
    settings; ``query_pred`` selects the query rows (e.g.
    'vec_id % 50 = 0')."""
    m, dsub, k = PQ_M, PQ_DSUB, PQ_K
    dq = _dq_duckdb(dsub)
    adc = " + ".join(
        f"l.lut[{j * k} + c.codes[{j + 1}] + 1]" for j in range(m))
    return f"""
    WITH seeds AS MATERIALIZED (
        SELECT {vec_col}, row_number() OVER (ORDER BY {id_col}) - 1 AS cid
        FROM {emb_table} WHERE {id_col} % {PQ_SEED_MOD} = {PQ_SEED_RES}
        QUALIFY row_number() OVER (ORDER BY {id_col}) <= {k}),
    cb AS MATERIALIZED (
        SELECT t.m, cid,
               list_transform(list_slice({vec_col}, t.m * {dsub} + 1,
                                         t.m * {dsub} + {dsub}),
                              x -> CAST(x AS DOUBLE)) AS cvec
        FROM seeds, range({m}) t(m)),
    sv AS MATERIALIZED (
        SELECT {id_col}, t.m,
               CASE WHEN len({vec_col}) >= {m * dsub}
                    THEN list_transform(list_slice({vec_col},
                                                   t.m * {dsub} + 1,
                                                   t.m * {dsub} + {dsub}),
                                        x -> CAST(x AS DOUBLE))
                    ELSE error('pq: vector shorter than m*dsub') END AS svec
        FROM {emb_table}, range({m}) t(m)),
    pc AS MATERIALIZED (
        SELECT {id_col}, m, cid, {dq} AS dq
        FROM sv JOIN cb USING (m)),
    codes AS MATERIALIZED (
        SELECT {id_col}, list(code ORDER BY m) AS codes FROM (
            SELECT {id_col}, m, CAST(cid AS INT) AS code,
                   row_number() OVER (PARTITION BY {id_col}, m
                                      ORDER BY dq, cid) AS rn
            FROM pc) WHERE rn = 1 GROUP BY {id_col}),
    lut AS MATERIALIZED (
        SELECT {id_col} AS q_id, list(dq ORDER BY m * {k} + cid) AS lut
        FROM pc WHERE {query_pred} GROUP BY {id_col}),
    adc AS (
        SELECT l.q_id, c.{id_col}, CAST({adc} AS BIGINT) AS adc_q
        FROM codes c, lut l WHERE c.{id_col} <> l.q_id)
    SELECT q_id, {id_col}, adc_q, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY adc_q, {id_col}) AS rank FROM adc)
    WHERE rank <= {topk}
    """
