"""Bucketed approximate-nearest-neighbor search over embedding columns.

q_embed_knn (queries.py) is the brute-force O(N*Q) baseline; this module is
the scale path: hyperplane-LSH signatures bucket the candidate table ONCE
(a layout you'd persist at 100 TB), queries probe their own bucket plus all
buckets within Hamming distance 1 (multi-probe LSH), and only the probed
candidates get the exact cosine rerank — no cartesian product anywhere.

The hyperplane signs are pure integer arithmetic
(sign(p, j) = 1 - 2*(((j*40503 + p*2654435761) % 1000003) % 2)), so the
whole pipeline — signature, probes, rerank — is expressible identically in
DuckDB, making the operator oracle-checkable end to end (deterministic
approximate semantics, not just "approximately right").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PLANE_MOD = 1000003
PLANE_MULT_P = 2654435761  # Knuth multiplicative constant
PLANE_MULT_J = 40503

#: exact-cosine snippets (array-order fold -> identical float sums in both
#: engines); {a}/{b} are array<float|double> column names
DOT_SPARK = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
             " 0.0D, (acc, v) -> acc + v)")
NRM_SPARK = ("sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
             " 0.0D, (acc, v) -> acc + v))")
DOT_DUCK = ("list_sum(list_transform(list_zip({a}, {b}),"
            " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
NRM_DUCK = ("sqrt(list_sum(list_transform({v},"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _sign_sql(p: int, j: str) -> str:
    return (f"CAST(1 - 2 * ((({j} * {PLANE_MULT_J} + {p} * {PLANE_MULT_P})"
            f" % {PLANE_MOD}) % 2) AS DOUBLE)")


def _sign_val(p: int, j: int) -> int:
    """The same hyperplane sign, evaluated at snippet-build time."""
    return 1 - 2 * (((j * PLANE_MULT_J + p * PLANE_MULT_P) % PLANE_MOD) % 2)


def dot_spark(a: str, b: str, dim: int | None = None) -> str:
    """Exact-cosine dot snippet for Spark.  With ``dim`` (a KNOWN, modest
    embedding width — every row must carry exactly that many elements)
    emits a FLAT left-associated sum, which whole-stage codegen compiles;
    the dimension-agnostic ``aggregate(zip_with(...))`` fold runs on
    Spark's interpreted higher-order-function path and measured ~18x
    slower than DuckDB's same fold on the sf1 ann_topk rerank (42.8 s vs
    2.35 s).  Bit-identical floats either way: the flat sum is seeded with
    the fold's 0.0D and adds in the same index order."""
    if dim is None:
        return DOT_SPARK.format(a=a, b=b)
    terms = " + ".join(f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
                       for i in range(dim))
    return f"(0.0D + {terms})"


def nrm_spark(v: str, dim: int | None = None) -> str:
    """L2 norm twin of dot_spark (same flat-vs-fold contract)."""
    if dim is None:
        return NRM_SPARK.format(v=v)
    terms = " + ".join(f"CAST({v}[{i}] AS DOUBLE) * CAST({v}[{i}] AS DOUBLE)"
                       for i in range(dim))
    return f"sqrt(0.0D + {terms})"


def signature_spark(vec: str, n_planes: int, dim: int | None = None) -> str:
    """Spark SQL: '0'/'1' bucket string of ``n_planes`` hyperplane signs.
    With ``dim``, the plane weights (compile-time +-1 constants) inline
    into a flat codegen-able sum (see dot_spark); same doubles."""
    bits = []
    for p in range(n_planes):
        if dim is None:
            dot = (f"aggregate(zip_with({vec}, transform(sequence(0, size({vec}) - 1),"
                   f" j -> {_sign_sql(p, 'j')}),"
                   f" (x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (acc, v) -> acc + v)")
        else:
            terms = " + ".join(
                f"CAST({vec}[{j}] AS DOUBLE) * {float(_sign_val(p, j))!r}D"
                for j in range(dim))
            dot = f"(0.0D + {terms})"
        bits.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def signature_duckdb(vec: str, n_planes: int) -> str:
    """DuckDB SQL: the same bucket string (same fold order -> same doubles)."""
    bits = []
    for p in range(n_planes):
        dot = (f"list_sum(list_transform(range(len({vec})),"
               f" j -> CAST({vec}[j + 1] AS DOUBLE) * {_sign_sql(p, 'j')}))")
        bits.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _flip_bit(bucket: str, i: int, n_planes: int) -> str:
    flip = (f"CASE WHEN substring({bucket}, {i + 1}, 1) = '1'"
            f" THEN '0' ELSE '1' END")
    return (f"concat(substring({bucket}, 1, {i}), {flip},"
            f" substring({bucket}, {i + 2}, {n_planes - i - 1}))")


def probe_buckets_sql(bucket: str, n_planes: int,
                      probe_hamming: int = 1) -> list[str]:
    """The bucket itself + every bucket within Hamming distance
    ``probe_hamming`` (multi-probe LSH) — portable string surgery shared by
    both engines.  Probe counts: 1 + C(n,1) [+ C(n,2)]; the recall/scan
    tradeoff is steered by (n_planes, probe_hamming): more planes = smaller
    buckets = less scanned but lower recall per probe."""
    probes = [bucket]
    for i in range(n_planes):
        probes.append(_flip_bit(bucket, i, n_planes))
    if probe_hamming >= 2:
        for i in range(n_planes):
            fi = _flip_bit(bucket, i, n_planes)
            for j in range(i + 1, n_planes):
                probes.append(_flip_bit(f"({fi})", j, n_planes))
    return probes


def _flip_dyn(src: str, idx: str, n: int) -> str:
    """Flip the 0-based bit ``idx`` (a COLUMN, not a literal) of bucket
    string ``src`` — constant expression size regardless of n_planes."""
    return (f"concat(substring({src}, 1, {idx}),"
            f" CASE WHEN substring({src}, {idx} + 1, 1) = '1'"
            f" THEN '0' ELSE '1' END,"
            f" substring({src}, {idx} + 2, {n} - {idx} - 1))")


def probe_frame(qsig: DataFrame, n_planes: int, probe_hamming: int,
                bucket_src: str = "_qb", out: str = "bucket") -> DataFrame:
    """Multi-probe expansion as STAGED column flips: explode the flip index
    and operate on the materialized distance-1 column, so expression size
    stays O(1) per stage instead of the O(n_planes^2) nested-text growth of
    probe_buckets_sql (which is kept for the bounded-plane oracle SQL —
    CLAUDE.md constraint-2 disease class at larger plane counts)."""
    d0 = qsig.withColumn(out, F.col(bucket_src))
    if probe_hamming < 1:
        return d0
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_planes - 1)))
    d1 = qsig.withColumn("_i", idx) \
             .withColumn("_p1", F.expr(_flip_dyn(bucket_src, "_i", n_planes)))
    parts = [d0, d1.withColumn(out, F.col("_p1")).drop("_i", "_p1")]
    if probe_hamming >= 2:
        d2 = (d1.withColumn("_j", idx)
              .filter(F.col("_j") > F.col("_i"))
              .withColumn(out, F.expr(_flip_dyn("_p1", "_j", n_planes)))
              .drop("_i", "_j", "_p1"))
        parts.append(d2)
    outdf = parts[0]
    for p in parts[1:]:
        outdf = outdf.unionByName(p)
    return outdf


def ann_topk(cands: DataFrame, queries: DataFrame, k: int,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "q_id", q_vec: str = "q_emb",
             n_planes: int = 6, probe_hamming: int = 2,
             max_bucket: int | None = 10000,
             dim: int | None = None) -> DataFrame:
    """Approximate top-k cosine neighbors per query: LSH-bucketed candidate
    generation (own bucket + all probes within Hamming ``probe_hamming``)
    + exact rerank.  Output (qid, id, sim rounded 9 dp, rank); self-pairs
    excluded.

    Plan shape at scale: one narrow pass signs the candidate table (persist
    it bucketed in practice), the probe side is broadcast, the rerank
    touches only probed candidates — no cartesian product.  ``max_bucket``
    is the hot-bucket guard (degenerate embedding clusters).

    Recall depends on how separated true neighbors are: for near-dup
    embeddings (cos >= 0.9, angle < 26 deg) 8 planes + Hamming 1 exceeds
    0.95 recall at a few % scan; the synthetic test table is near-random
    (top cos ~0.3-0.5), the adversarial case, where the defaults
    (6 planes, Hamming 2 = 22 of 64 buckets ~ 1/3 scan) are measured at
    ~0.5-0.6 recall@3 in tests — still a 3x scan reduction.  The
    deterministic approximate CONSTRUCTION is oracle-checked end to end by
    q_ann_topk."""
    from pyspark.sql.window import Window

    from .dedup import _cap_hot_keys

    csig = cands.select(id_col, vec_col).withColumn(
        "bucket", F.expr(signature_spark(vec_col, n_planes, dim))).withColumn(
        "_nc", F.expr(nrm_spark(vec_col)))
    if max_bucket is not None:
        csig = _cap_hot_keys(csig, "bucket", max_bucket, min_bucket=1)
    qsig = queries.select(qid_col, q_vec).withColumn(
        "_qb", F.expr(signature_spark(q_vec, n_planes, dim))).withColumn(
        "_nq", F.expr(nrm_spark(q_vec)))
    # dedup: one consumer per probe_frame union branch.  The (small,
    # broadcast-bound) signed query side is computed once, so the staged
    # probe expansion references a plain column instead of re-inlining
    # the signature expression per union branch
    qsig = qsig.localCheckpoint(eager=False)
    qprobe = probe_frame(qsig, n_planes, probe_hamming).drop("_qb")
    pairs = csig.join(F.broadcast(qprobe), "bucket") \
        .filter(F.col(id_col) != F.col(qid_col))
    # per-vector norms were computed on each side pre-join; the equi-join
    # rerank stage folds only the dot (flat when dim is known — this stage
    # codegens it, unlike the BNLJ assign shape; see dot_spark)
    dot = dot_spark(q_vec, vec_col, dim)
    pairs = pairs.withColumn(
        "sim", F.expr(f"round(({dot}) / (_nq * _nc), 9)"))
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "sim", "rank"))


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the clustering-based scale path next to the
# hyperplane-LSH one.  Candidates are assigned ONCE to their nearest
# centroid (the partitioned layout you'd persist at 100 TB); a query scans
# only its ``nprobe`` nearest centroid lists, then exact-reranks.
# Centroids are a deterministic residue sample of the candidates (so the
# whole operator is oracle-expressible); ivf_refine adds optional Lloyd
# iterations for better list balance (deterministic too, pytest-pinned).
# --------------------------------------------------------------------------

def ivf_centroids(cands: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", mod: int = 23,
                  residue: int = 3) -> DataFrame:
    """Deterministic training-free centroids: every candidate whose id has
    the given residue (about |cands|/mod centroids, spread across the id
    space).  A fixed sample is a legitimate IVF-flat seeding; refine with
    ivf_refine when list balance matters."""
    return cands.filter(F.pmod(F.col(id_col), F.lit(mod)) == residue) \
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))


def ivf_assign(cands: DataFrame, cents: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id",
               keep_norm: str | None = None) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (small) centroid table,
    one window top-1 per candidate (WindowGroupLimit keeps it map-side).

    Norms are per-VECTOR attributes: each side computes its own BEFORE the
    (candidate x centroid) broadcast nested-loop join, so the pair stage
    folds only the dot — measured 4x on the sf1 assignment (40.7 -> 10.6 s
    for 20k x 870; probe log in SCALE.md).  The pair dot deliberately stays
    the HOF fold: in this BNLJ stage the flat known-dim sum (dot_spark
    dim=...) falls out of whole-stage codegen and interprets ~12x SLOWER
    (168.7 s same probe) — flat is for equi-join rerank stages only.
    Rounded sims are bit-identical either way (same fold, same order).
    ``keep_norm`` names an output column carrying the candidate norm so a
    downstream rerank can reuse it instead of re-folding."""
    from pyspark.sql.window import Window

    e = cands.withColumn("_ne", F.expr(nrm_spark(vec_col)))
    c = cents.withColumn("_ncn", F.expr(nrm_spark("cvec")))
    dot = DOT_SPARK.format(a=vec_col, b="cvec")
    sim = F.expr(f"round(({dot}) / (_ne * _ncn), 9)")
    w = Window.partitionBy(id_col).orderBy(F.col("_s").desc(), "cid")
    out_cols = [id_col, vec_col, "cid"] + (
        [F.col("_ne").alias(keep_norm)] if keep_norm else [])
    return (e.join(F.broadcast(c))
            .withColumn("_s", sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*out_cols))


#: quantization scale for the Lloyd means — a power of two, so the
#: x * MEAN_QUANT multiply is EXACT in doubles (pure exponent shift) and
#: both engines round identical values
MEAN_QUANT = 1 << 20


def ivf_refine(cands: DataFrame, cents: DataFrame, iters: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Optional Lloyd refinement: assign -> element-wise mean per cluster
    (posexplode + two hash aggs), keeping the seed centroid for any cluster
    that loses all members.  Each iteration is one broadcast join + two
    shuffles on (cid, pos).

    The mean is quantized: float addition is non-associative, so a native
    avg's last ulp depends on partition scheduling (CLAUDE.md constraint
    13).  Summing round(x * 2^20) as BIGINT and dividing back is
    associative+commutative, so the mean is RUN-STABLE under native
    partial aggregation at native-agg cost (no collect_list, no sort).  The
    2^20 multiply is exact (power of two), so both engines round identical
    doubles; ~1e-6 mean quantization is irrelevant for cluster seeds, and
    the whole refinement is oracle-expressible (q_ivf_refined)."""
    for _ in range(iters):
        assigned = ivf_assign(cands, cents, vec_col, id_col)
        per_pos = assigned.select(
            "cid", F.col(id_col),
            F.posexplode(F.expr(
                f"transform({vec_col}, x -> CAST(x AS DOUBLE))")).alias("_p", "_x"))
        means_pp = per_pos.groupBy("cid", "_p").agg(
            (F.sum(F.round(F.col("_x") * MEAN_QUANT).cast("bigint")).cast("double")
             / (F.lit(float(MEAN_QUANT)) * F.count("*"))).alias("_m"))
        means = (means_pp.groupBy("cid")
                 .agg(F.array_sort(F.collect_list(F.struct("_p", "_m"))).alias("_pm"))
                 .select("cid", F.expr("transform(_pm, e -> CAST(e._m AS DOUBLE))")
                         .alias("cvec")))
        cents = cents.select("cid").join(means, "cid", "left") \
            .join(cents.select("cid", F.col("cvec").alias("_seed")), "cid") \
            .select("cid", F.coalesce(
                "cvec", F.expr("transform(_seed, x -> CAST(x AS DOUBLE))")).alias("cvec")) \
            .localCheckpoint(eager=True)  # fixpoint round
    return cents


def ivf_topk(cands: DataFrame, queries: DataFrame, k: int,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "q_id", q_vec: str = "q_emb",
             mod: int = 23, residue: int = 3, nprobe: int = 3,
             refine_iters: int = 0, dim: int | None = None) -> DataFrame:
    """Approximate top-k cosine neighbors per query via inverted lists:
    probe the ``nprobe`` centroids nearest to the query, exact-rerank only
    their members.  Output (qid, id, sim, rank); self-pairs excluded.
    The whole construction is deterministic SQL and oracle-checked end to
    end (q_ivf_topk with refine_iters=0, q_ivf_refined with 1): even the
    Lloyd means are run-stable at native-agg cost (see ivf_refine)."""
    from pyspark.sql.window import Window

    cents = ivf_centroids(cands, vec_col, id_col, mod, residue)
    if refine_iters:
        cents = ivf_refine(cands, cents, refine_iters, vec_col, id_col)
    assigned = ivf_assign(cands, cents, vec_col, id_col, keep_norm="_ncand")

    # probe selection: (query x centroid) BNLJ with per-side norms (see
    # ivf_assign); probes carry the query norm forward into the rerank
    q = queries.withColumn("_nq", F.expr(nrm_spark(q_vec)))
    c = cents.withColumn("_ncn", F.expr(nrm_spark("cvec")))
    pdot = DOT_SPARK.format(a=q_vec, b="cvec")
    pw = Window.partitionBy(qid_col).orderBy(F.col("_s").desc(), "cid")
    probes = (q.join(F.broadcast(c))
              .withColumn("_s", F.expr(f"round(({pdot}) / (_nq * _ncn), 9)"))
              .withColumn("_rn", F.row_number().over(pw))
              .filter(F.col("_rn") <= nprobe)
              .select(qid_col, q_vec, "_nq", "cid"))

    # rerank: equi-join stage — the flat known-dim dot codegens here
    pairs = assigned.join(F.broadcast(probes), "cid") \
        .filter(F.col(id_col) != F.col(qid_col))
    sim = F.expr(f"round(({dot_spark(q_vec, vec_col, dim)})"
                 f" / (_nq * _ncand), 9)")
    rw = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (pairs.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "sim", "rank"))
