"""SemDeDup-style semantic deduplication over an embedding column.

The embedding-space dedup stage of modern corpus pipelines (Abbas et al.
2023, "SemDeDup": cluster embeddings with k-means, then drop documents
whose within-cluster cosine similarity to another document exceeds a
threshold, keeping one representative per semantic near-dup group).

Relational realization (all built-ins, no UDFs):

1. deterministic residue centroids (similarity.ivf_centroids — the same
   training-free seeding the IVF family uses, so the whole construction
   stays SQL-expressible and oracle-checkable);
2. nearest-centroid assignment (similarity.ivf_assign — broadcast
   centroids, HOF dot in the BNLJ stage per CLAUDE.md constraint 15,
   WindowGroupLimit top-1);
3. within-cluster pair similarities: ONE equi-join on the cluster id
   (a_id < b_id), flat known-dim dot (equi-join rerank shape — codegen);
4. the keep rule: a document is DROPPED iff some smaller-id document in
   its cluster sits at cosine >= threshold (deterministic, one semi-join;
   the min-id representative of every near-dup group always survives);
5. per-cluster report: (cid, n_docs, n_dropped, kept_id_sum) — the sum of
   surviving ids is an order-insensitive exact integer, so the oracle
   value-checks the exact KEEP SET per cluster without a single-task
   sorted reduction (same design as dedup_pipeline's kept_hash).

Scale design (100 TB): centroids are a broadcast table; the quadratic
within-cluster pair stage is the SemDeDup semantic itself — cluster
granularity (``mod``) bounds expected cluster size, and the pair join is
an equi-join that AQE handles per-cluster-skew; similarity comparisons
use round(.,9) on irrational cosine ratios (engine-portable, CLAUDE.md
constraint 17 does not apply).  Thresholding happens ON the rounded
value so both engines compare identical doubles.

Reference parity: no counterpart (the reference has no embedding layer);
extends the F5 dedup family alongside dedup.embedding_near_dup_pairs,
which finds pairs via hyperplane LSH — this operator is the
cluster-then-prune alternative with a per-cluster keep decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .similarity import DOT_SPARK, ivf_assign, ivf_centroids

#: similarity decimals — rounds an irrational cosine ratio (safe to
#: compare across engines; see module docstring)
SIM_DECIMALS = 9


def semantic_dedup(emb: DataFrame, threshold: float,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   mod: int = 23, residue: int = 3,
                   dim: int | None = None) -> DataFrame:
    """(cid, n_docs, n_dropped, kept_id_sum) per cluster — see module
    docstring for the drop rule and the kept-set audit column."""
    cents = ivf_centroids(emb, vec_col, id_col, mod, residue)
    assign = ivf_assign(emb, cents, vec_col, id_col, keep_norm="_n") \
        .localCheckpoint(eager=True)  # dedup: 3 consumers (pairs twice, report)
    return _pair_drop_report(assign, threshold, vec_col, id_col, dim)


def _pair_drop_report(assign: DataFrame, threshold: float, vec_col: str,
                      id_col: str, dim: int | None) -> DataFrame:
    """Shared back half (exact-cosine within-cluster pairs → drop rule →
    per-cluster report) over an ``assign`` frame (id, vec, _n norm, cid);
    callers must localCheckpoint it (it feeds pairs twice + the report)."""
    from .similarity import dot_spark

    a = assign.select(F.col(id_col).alias("a_id"),
                      F.col(vec_col).alias("a_emb"),
                      F.col("_n").alias("_na"), "cid")
    b = assign.select(F.col(id_col).alias("b_id"),
                      F.col(vec_col).alias("b_emb"),
                      F.col("_n").alias("_nb"), "cid")
    dot = (dot_spark("a_emb", "b_emb", dim) if dim
           else DOT_SPARK.format(a="a_emb", b="b_emb"))
    dropped = (a.join(b, "cid")
               .filter(F.col("a_id") < F.col("b_id"))
               .withColumn("_s", F.expr(
                   f"round(({dot}) / (_na * _nb), {SIM_DECIMALS})"))
               .filter(F.col("_s") >= threshold)
               .select("cid", F.col("b_id").alias("doc"))
               .distinct())
    per_doc = (assign.select("cid", F.col(id_col).alias("doc"))
               .join(dropped.withColumn("_dropped", F.lit(1)),
                     ["cid", "doc"], "left"))
    return (per_doc.groupBy("cid")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce("_dropped", F.lit(0))).alias("n_dropped"),
                 F.sum(F.when(F.col("_dropped").isNull(), F.col("doc"))
                       .otherwise(F.lit(0))).alias("kept_id_sum")))


def _report_sql(assign_ctes: str, threshold: float, vec_col: str,
                id_col: str) -> str:
    """Shared SQL back half over leading CTEs whose last member is
    ``assign`` exposing ({id_col}, {vec_col}, cid) — the twin of
    :func:`_pair_drop_report`."""
    from .similarity import DOT_DUCK, NRM_DUCK

    def sim(x, y):
        return (f"round(({DOT_DUCK.format(a=x, b=y)})"
                f" / ({NRM_DUCK.format(v=x)} * {NRM_DUCK.format(v=y)}),"
                f" {SIM_DECIMALS})")

    return f"""
    WITH {assign_ctes},
    dropped AS MATERIALIZED (
        SELECT DISTINCT a.cid, b.{id_col} AS doc
        FROM assign a JOIN assign b USING (cid)
        WHERE a.{id_col} < b.{id_col}
          AND {sim(f'a.{vec_col}', f'b.{vec_col}')} >= {threshold})
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(d.doc) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.doc IS NULL THEN a.{id_col} ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM assign a
    LEFT JOIN dropped d ON d.cid = a.cid AND d.doc = a.{id_col}
    GROUP BY a.cid
    """


def semantic_dedup_sql(emb_table: str, threshold: float,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`semantic_dedup` at its default residue class
    id % 23 = 3 (shared construction with the ivf_topk oracle family:
    residue centroids, top-1 assignment window, round(.,9) sims)."""
    from .similarity import DOT_DUCK, NRM_DUCK

    def sim(x, y):
        return (f"round(({DOT_DUCK.format(a=x, b=y)})"
                f" / ({NRM_DUCK.format(v=x)} * {NRM_DUCK.format(v=y)}),"
                f" {SIM_DECIMALS})")

    ctes = f"""cents AS MATERIALIZED (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {emb_table}
        WHERE {id_col} % 23 = 3),
    asim AS (SELECT e.{id_col}, e.{vec_col}, c.cid,
                    {sim(f'e.{vec_col}', 'c.cvec')} AS s
             FROM {emb_table} e, cents c),
    assign AS MATERIALIZED (
        SELECT {id_col}, {vec_col}, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY {id_col}
                ORDER BY s DESC, cid) AS rn FROM asim) WHERE rn = 1)"""
    return _report_sql(ctes, threshold, vec_col, id_col)


def semantic_dedup_pq(emb: DataFrame, threshold: float,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      dim: int | None = None) -> DataFrame:
    """SemDeDup with the PQ/ADC assignment stage (TODO_r7 #4) — the scale
    path when cluster counts grow: the exact-cosine BroadcastNestedLoop
    assign (|docs| × |centroids| HOF folds — the documented ivf_assign
    shape) is replaced by ADC over PQ codes, so the per-(doc, centroid)
    cost is M BIGINT array lookups instead of a d-dim float fold, and the
    argmin is a min-struct hash aggregate (map-side combine, no window
    shuffle).  Construction: pq_codebook over the corpus → centroid codes
    + per-doc ADC LUTs (broadcast codebook equi-joins) → nearest centroid
    by quantized distance (ties → min cid, engine-exact BIGINTs) → the
    SAME exact-cosine within-cluster drop rule and kept-set audit as
    :func:`semantic_dedup` (assignment is approximate; the keep decision
    inside each cluster stays exact).  Same output schema."""
    from .pq import pq_codebook, pq_encode, pq_lut
    from .pq import PQ_DSUB, PQ_K, PQ_M
    from .similarity import nrm_spark

    m, dsub, k = PQ_M, PQ_DSUB, PQ_K
    # centroid ids ride as 'gid' through the PQ stages — the codebook's
    # per-subspace centroid column is already named 'cid'.  Centroids are
    # ivf_centroids' default residue class, id % 23 = 3
    cents = (ivf_centroids(emb, vec_col, id_col)
             .select(F.col("cid").alias("gid"), "cvec"))
    cb = pq_codebook(emb, vec_col, id_col, m, dsub, k)
    ccodes = pq_encode(cents, cb, vec_col="cvec", id_col="gid",
                       m=m, dsub=dsub)
    lut = pq_lut(emb, cb, vec_col=vec_col, id_col=id_col,
                 m=m, dsub=dsub, k=k)
    adc = " + ".join(
        f"element_at(lut, CAST({j * k} + element_at(codes, {j + 1}) + 1"
        f" AS INT))" for j in range(m))
    near = (lut.crossJoin(F.broadcast(ccodes))
            .withColumn("_adc", F.expr(adc))
            .groupBy(id_col)
            .agg(F.min(F.struct("_adc", "gid")).getField("gid")
                 .alias("cid")))
    assign = (near.join(emb.select(id_col, vec_col), id_col)
              .withColumn("_n", F.expr(nrm_spark(vec_col)))
              .localCheckpoint(eager=True))  # dedup: 3 consumers (pairs twice, report)
    return _pair_drop_report(assign, threshold, vec_col, id_col, dim)


def semantic_dedup_pq_sql(emb_table: str, threshold: float,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`semantic_dedup_pq` (same PQ construction as
    the pq_topk oracle — seeds/codebook/codes/LUT CTEs, quantized BIGINT
    ADC, ties → min centroid id — then the shared report back half)."""
    from .pq import PQ_DSUB, PQ_K, PQ_M, PQ_SEED_MOD, PQ_SEED_RES
    from .pq import _dq_duckdb

    m, dsub, k = PQ_M, PQ_DSUB, PQ_K
    dq = _dq_duckdb(dsub)
    adc = " + ".join(
        f"l.lut[{j * k} + g.codes[{j + 1}] + 1]" for j in range(m))
    ctes = f"""cents AS MATERIALIZED (
        SELECT {id_col} AS gid, {vec_col} AS gvec FROM {emb_table}
        WHERE {id_col} % 23 = 3),
    seeds AS MATERIALIZED (
        SELECT {vec_col}, row_number() OVER (ORDER BY {id_col}) - 1 AS cid
        FROM {emb_table} WHERE {id_col} % {PQ_SEED_MOD} = {PQ_SEED_RES}
        QUALIFY row_number() OVER (ORDER BY {id_col}) <= {k}),
    cb AS MATERIALIZED (
        SELECT t.m, cid,
               list_transform(list_slice({vec_col}, t.m * {dsub} + 1,
                                         t.m * {dsub} + {dsub}),
                              x -> CAST(x AS DOUBLE)) AS cvec
        FROM seeds, range({m}) t(m)),
    gsv AS (
        SELECT gid, t.m,
               CASE WHEN len(gvec) >= {m * dsub}
                    THEN list_transform(list_slice(gvec,
                                                   t.m * {dsub} + 1,
                                                   t.m * {dsub} + {dsub}),
                                        x -> CAST(x AS DOUBLE))
                    ELSE error('pq: vector shorter than m*dsub') END AS svec
        FROM cents, range({m}) t(m)),
    gcodes AS MATERIALIZED (
        SELECT gid, list(code ORDER BY m) AS codes FROM (
            SELECT gid, m, CAST(cid AS INT) AS code,
                   row_number() OVER (PARTITION BY gid, m
                                      ORDER BY dq, cid) AS rn
            FROM (SELECT gid, m, cid, {dq} AS dq
                  FROM gsv JOIN cb USING (m))) WHERE rn = 1 GROUP BY gid),
    esv AS (
        SELECT {id_col}, t.m,
               CASE WHEN len({vec_col}) >= {m * dsub}
                    THEN list_transform(list_slice({vec_col},
                                                   t.m * {dsub} + 1,
                                                   t.m * {dsub} + {dsub}),
                                        x -> CAST(x AS DOUBLE))
                    ELSE error('pq: vector shorter than m*dsub') END AS svec
        FROM {emb_table}, range({m}) t(m)),
    lut AS MATERIALIZED (
        SELECT {id_col}, list(dq ORDER BY m * {k} + cid) AS lut
        FROM (SELECT {id_col}, m, cid, {dq} AS dq
              FROM esv JOIN cb USING (m)) GROUP BY {id_col}),
    near AS MATERIALIZED (
        SELECT {id_col}, gid AS cid FROM (
            SELECT l.{id_col}, g.gid,
                   row_number() OVER (PARTITION BY l.{id_col}
                       ORDER BY {adc}, g.gid) AS rn
            FROM lut l, gcodes g) WHERE rn = 1),
    assign AS MATERIALIZED (
        SELECT n.{id_col}, e.{vec_col}, n.cid
        FROM near n JOIN {emb_table} e USING ({id_col}))"""
    return _report_sql(ctes, threshold, vec_col, id_col)
