"""Driver-contract queries, batch 5 (round 3): value-level AUID oracles,
anti-aliased area resampling, JSON/uuid cell shapes, winnowing-fingerprint
dedup, IVF ANN, and the resolution policy — with these, every query in the
driver contract is value-checked (zero rows-only rows remain).

Two SQL constructions make the AUID pipeline value-checkable in DuckDB:

1. **Collapse unroll** (`_collapse_sql`): the kernel's compaction
   (dggs/auids.optimize_cuids, reference auids/rhpx.py:108-181) can be
   walked level by level, deepest first, and the fixture depth is bounded,
   so the walk unrolls into a generated CTE chain — one
   (children / deeper / pure / totals / parents / next-set) block per level.
   It checks the kernel's semantics independently: the Spark operator
   (operators/auid.optimize_cells) decides every level at once by an area
   sum and shares no structure with the chain.

2. **LCP serialization of the BP string**: an optimized cuid set is
   PREFIX-FREE (collapse only replaces complete pure-leaf sibling sets, and
   the uniform-length input has no prefix pairs), so the trie's NIL-first
   case never fires and the balanced-parenthesis serialization
   (dggs/auids.generate_bp_auid_from_cuids, reference common.py:180-213)
   has a closed form over the SORTED cuid list:

       bp = '^' + c1 + '$' + sum_i[ '?' * (len(c_{i-1}) - lcp_i + 1)
                                    + c_i[lcp_i:] + '$' ]

   where lcp_i is the longest-common-prefix length of consecutive cuids —
   exactly a lag window + string_agg.  (Derivation: after finishing cuid
   c_{i-1}, the DFS pops one ')' for its NIL leaf plus one per trie level
   from depth len(c_{i-1}) down to the fork at depth lcp_i, then descends
   emitting the new suffix; the final trailing ')'s are stripped after the
   last '$' by contract.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dggs.config import DEFAULT_CONFIG
from .operators import auid as auid_ops
from .queries3 import _docs_cells, _docs_cells_seeded, _oracle_docs_cells
from .registry import register


# --------------------------------------------------------------------------
# SQL generators
# --------------------------------------------------------------------------

def _lcp_case(a: str, b: str, max_k: int) -> str:
    """CASE expression: length of the longest common prefix of `a` and `b`
    (both cellid strings), valid for prefix-free pairs up to length
    ``max_k + 1``."""
    arms = "\n".join(
        f"WHEN substring({a}, 1, {k}) = substring({b}, 1, {k}) THEN {k}"
        for k in range(max_k, 0, -1))
    return f"(CASE {arms} ELSE 0 END)"


def _collapse_sql(keys: list[str], max_len: int, k: int) -> str:
    """CTE chain computing the kernel's compaction
    (dggs.auids.optimize_cuids) on a set named ``s{max_len}`` (columns:
    *keys, cellid; already DISTINCT), producing ``s1``.

    One block per level L = max_len..2, deepest first: a level-L child
    collapses into its parent iff all ``k`` siblings exist at level L and
    none is a proper prefix of a surviving deeper cell; collapses cascade
    upward because level L-1 is examined after level L.  The walk is an
    independent statement of the kernel's semantics, not a mirror of the
    Spark operator (operators/auid.optimize_cells)."""
    kc = "".join(f"{c}, " for c in keys)  # "source, " or ""

    def keq(l: str, r: str) -> str:
        conds = [f"{l}.{c} = {r}.{c}" for c in keys]
        return "".join(f"{c} AND " for c in conds)

    # every derived set is MATERIALIZED: each level references the previous
    # set three times, and DuckDB would otherwise inline the whole chain
    # into an exponentially-growing expression tree (CLAUDE.md constraint 7)
    blocks = []
    for L in range(max_len, 1, -1):
        blocks.append(f"""
    ch{L} AS MATERIALIZED (SELECT {kc}cellid FROM s{L} WHERE length(cellid) = {L}),
    dp{L} AS (SELECT DISTINCT {kc}substring(cellid, 1, {L}) AS cellid
              FROM s{L} WHERE length(cellid) > {L}),
    pr{L} AS (SELECT {''.join(f'c.{c}, ' for c in keys)}c.cellid
              FROM ch{L} c LEFT JOIN dp{L} d
                ON {keq('c', 'd')}c.cellid = d.cellid
              WHERE d.cellid IS NULL),
    tt{L} AS (SELECT {kc}substring(cellid, 1, {L - 1}) AS p, count(*) AS nt
              FROM ch{L} GROUP BY ALL),
    pp{L} AS (SELECT {kc}substring(cellid, 1, {L - 1}) AS p, count(*) AS np
              FROM pr{L} GROUP BY ALL),
    pa{L} AS (SELECT {''.join(f't.{c}, ' for c in keys)}t.p
              FROM tt{L} t JOIN pp{L} u ON {keq('t', 'u')}t.p = u.p
              WHERE t.nt = {k} AND u.np = {k}),
    s{L - 1} AS MATERIALIZED (SELECT DISTINCT {kc}cellid FROM (
        SELECT {''.join(f's.{c}, ' for c in keys)}s.cellid FROM s{L} s
        LEFT JOIN pa{L} a ON {keq('s', 'a')}length(s.cellid) = {L}
            AND substring(s.cellid, 1, {L - 1}) = a.p
        WHERE a.p IS NULL
        UNION ALL SELECT {kc}p AS cellid FROM pa{L}))""")
    return ",".join(blocks)


def _bp_agg_sql(group_col: str, max_lcp: int) -> str:
    """SELECT building (group_key, n_cuids, bp_auid) from a prefix-free set
    ``s1`` via the LCP closed form (module docstring)."""
    lcp = _lcp_case("prev", "cellid", max_lcp)
    return f"""
    pieces AS (
        SELECT {group_col}, cellid,
               lag(cellid) OVER (PARTITION BY {group_col} ORDER BY cellid) AS prev
        FROM s1)
    SELECT {group_col} AS group_key,
           CAST(count(*) AS INT) AS n_cuids,
           '^' || string_agg(
               CASE WHEN prev IS NULL THEN cellid || '$'
                    ELSE repeat('?', length(prev) - {lcp} + 1)
                         || substring(cellid, {lcp} + 1, 16) || '$' END,
               '' ORDER BY cellid) AS bp_auid,
           CAST(1 AS INT) AS codec_ok
    FROM pieces GROUP BY {group_col}
    """


# --------------------------------------------------------------------------
# q_auid_groups — A7 value-checked: per-group optimized cuids -> BP string
# (oracle recomputes collapse + BP in SQL); the zlib/b64/blake2b layer is
# asserted inside the executor (codec_ok) and covered by auid_roundtrip.
# --------------------------------------------------------------------------

AG_RES = 3  # length-4 cellids


def q_auid_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: canonical AUID per source group.  Emits the pre-compression BP
    string (value-checked by the oracle) plus codec_ok = full
    compress/encode/decode/hash roundtrip fidelity checked in-executor."""
    import pandas as pd
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from .dggs import auids as auids_core

    cells = _docs_cells(spark, sf_dir, AG_RES, keep=["source"])
    n_side = DEFAULT_CONFIG.n_side

    schema = StructType([
        StructField("group_key", StringType()),
        StructField("n_cuids", IntegerType()),
        StructField("bp_auid", StringType()),
        StructField("codec_ok", IntegerType()),
    ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cuids = auids_core.optimize_cuids(pdf["cellid"].dropna().tolist(), n_side)
        bp = auids_core.generate_bp_auid_from_cuids(cuids)
        comp_b64, hash_b64 = auids_core.generate_auid_hash_b64(cuids)
        ok = int(
            auids_core.decompress_id_bytes(auids_core.decode64(comp_b64)) == bp
            and auids_core.cuids_from_auid_b64(comp_b64) == sorted(cuids)
            and auids_core.hash_id(bp)[1] == hash_b64)
        return pd.DataFrame({
            "group_key": [str(pdf["source"].iloc[0])],
            "n_cuids": [len(cuids)],
            "bp_auid": [bp],
            "codec_ok": [ok],
        })

    return cells.groupBy("source").applyInPandas(build, schema)


def _oracle_auid_groups() -> str:
    enc = _oracle_docs_cells(AG_RES, ["source"])
    k = DEFAULT_CONFIG.n_side ** 2
    max_len = AG_RES + 1
    # MATERIALIZED: the collapse CTEs filter on length(cellid), which DuckDB
    # would otherwise push into the nested encode projections, inlining the
    # whole cellid expression (28-335 MB of SQL text at res 1-15; CLAUDE.md
    # constraint 7)
    return f"""
    WITH s{max_len} AS MATERIALIZED (
        SELECT DISTINCT source, cellid FROM ({enc})),
    {_collapse_sql(['source'], max_len, k)},
    {_bp_agg_sql('source', max_len - 1)}
    """


# --------------------------------------------------------------------------
# q_auid_optimize — A9 value-checked: the optimized cuid SET itself is
# compared (collapse unroll in SQL), not just row counts.
# --------------------------------------------------------------------------

AO_RES = 4  # length-5 cellids; seeds add length-4 ancestors' sibling sets


def q_auid_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distributed compaction of the docs' res-4 cell cover, seeded so
    complete sibling sets (and len-4/len-5 mixes) actually occur."""
    return auid_ops.optimize_cells(
        _docs_cells_seeded(spark, sf_dir, AO_RES, 3), DEFAULT_CONFIG.n_side)


def _oracle_auid_optimize() -> str:
    enc = _oracle_docs_cells(AO_RES, [])
    k = DEFAULT_CONFIG.n_side ** 2
    max_len = AO_RES + 1
    return f"""
    WITH enc AS MATERIALIZED (SELECT DISTINCT cellid FROM ({enc})),
    seeded AS (SELECT DISTINCT substring(cellid, 1, 3) || CAST(d AS VARCHAR) AS cellid
               FROM enc, range({k}) t(d)),
    s{max_len} AS MATERIALIZED (
        SELECT DISTINCT cellid FROM (
            SELECT cellid FROM enc UNION ALL SELECT cellid FROM seeded)),
    {_collapse_sql([], max_len, k)}
    SELECT cellid FROM s1
    """


register("auid_groups", q_auid_groups, _oracle_auid_groups())
register("auid_optimize", q_auid_optimize, _oracle_auid_optimize())


# --------------------------------------------------------------------------
# q_resample_area — R1/R2 anti-aliased area-weighted downscale onto an
# UNALIGNED target grid (fractional source-cell coverage per target); the
# oracle replicates the overlap-weight computation op-for-op
# --------------------------------------------------------------------------

RA_SCALE = 2.5
RA_OFF = 0.25


def q_resample_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.resample import resample_area
    from .queries3 import _spark_src_raster

    src = _spark_src_raster(spark, sf_dir)
    out = resample_area(src, 2, RA_SCALE, offset_x=RA_OFF, offset_y=RA_OFF)
    return out.select(
        "face", "trow", "tcol",
        F.round(F.col("band1") * 1e6).cast("bigint").alias("v_ppm"),
        F.round(F.col("coverage") * 1e6).cast("bigint").alias("cov_ppm"))


def _oracle_resample_area() -> str:
    from .queries3 import _ORACLE_SRC_RASTER

    s, o = repr(RA_SCALE), repr(RA_OFF)

    def ospan(sc: str, t: str):
        lo = f"CAST(floor(({sc} - {o}) / {s}) AS BIGINT) - 1"
        hi = f"CAST(floor(({sc} + 1 - {o}) / {s}) AS BIGINT) + 1"
        w = (f"(least({o} + ({t} + 1) * {s}, {sc} + 1)"
             f" - greatest({o} + {t} * {s}, {sc}))")
        return lo, hi, w

    xlo, xhi, wx = ospan("scol", "tcol")
    ylo, yhi, wy = ospan("srow", "trow")
    return f"""
    WITH src AS ({_ORACLE_SRC_RASTER}),
    tx AS (SELECT srow, v, tcol, {wx} AS wx FROM (
        SELECT srow, scol, v,
               unnest(generate_series({xlo}, {xhi})) AS tcol FROM src)
        WHERE {wx} > 0),
    ty AS (SELECT tcol, wx, v, trow, {wy} AS wy FROM (
        SELECT tcol, wx, v, srow,
               unnest(generate_series({ylo}, {yhi})) AS trow FROM tx)
        WHERE {wy} > 0)
    SELECT 'Q' AS face, trow, tcol,
           CAST(round(sum(wx * wy * v) / sum(wx * wy) * 1e6) AS BIGINT) AS v_ppm,
           CAST(round(sum(wx * wy) / {RA_SCALE * RA_SCALE!r} * 1e6) AS BIGINT) AS cov_ppm
    FROM ty GROUP BY trow, tcol
    """


register("resample_area", q_resample_area, _oracle_resample_area())


# --------------------------------------------------------------------------
# q_cells_json — the reference's values_in_json + add_uid cell-table shape
# (rhpx_gdf_helper.py:100-113): band columns packed into one JSON string,
# plus a deterministic content-derived uuid (the reference's uuid4 variant
# is nondeterministic by design; the oracle checks the deterministic twin)
# --------------------------------------------------------------------------

def q_cells_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.cells_io import with_json_bands, with_uuid

    cells = _docs_cells(spark, sf_dir, 3, keep=["source"]).groupBy("cellid").agg(
        F.count("*").cast("bigint").alias("band1"),
        F.countDistinct("source").cast("bigint").alias("band2"))
    out = with_uuid(with_json_bands(cells), deterministic_from=["cellid"])
    return out.select("cellid", "all_bands", "uuid")


def _oracle_cells_json() -> str:
    enc = _oracle_docs_cells(3, ["source"])
    return """
    WITH cells AS (
        SELECT cellid, CAST(count(*) AS BIGINT) AS band1,
               CAST(count(DISTINCT source) AS BIGINT) AS band2
        FROM ({enc}) GROUP BY cellid),
    h AS (SELECT cellid, band1, band2, md5(cellid) AS m FROM cells)
    SELECT cellid,
           '{{"band1":' || CAST(band1 AS VARCHAR) ||
           ',"band2":' || CAST(band2 AS VARCHAR) || '}}' AS all_bands,
           substring(m, 1, 8) || '-' || substring(m, 9, 4) || '-' ||
           substring(m, 13, 4) || '-' || substring(m, 17, 4) || '-' ||
           substring(m, 21, 12) AS uuid
    FROM h
    """.format(enc=enc)


register("cells_json", q_cells_json, _oracle_cells_json())


# --------------------------------------------------------------------------
# q_winnow_pairs — rolling-hash (winnowing) fingerprint dedup: docs sharing
# a copied passage meet on an equi-join key; the oracle replicates the
# whole construction (k-gram Horner hash, window minima, doc-frequency cap)
# --------------------------------------------------------------------------

WN_MAX_DF = 20


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import winnow_pairs
    from .queries3 import load

    # 1-in-5 doc sample: the full table's shared-phrase clusters produce
    # ~110k pairs and a 3-minute single-node oracle — the sample keeps the
    # driver gate fast while exercising the identical construction
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return winnow_pairs(docs, "text", max_doc_freq=WN_MAX_DF)


def _oracle_winnow_pairs() -> str:
    from .functions.text import (winnow_from_hashes_duckdb,
                                 winnow_hashes_duckdb)

    return f"""
    WITH hs AS MATERIALIZED (
        SELECT doc_id, {winnow_hashes_duckdb('text')} AS h
        FROM documents WHERE doc_id % 5 = 0),
    fps AS MATERIALIZED (
        SELECT doc_id, unnest({winnow_from_hashes_duckdb('h')}) AS fp
        FROM hs),
    capped AS (
        SELECT doc_id, fp FROM fps
        WHERE fp IN (SELECT fp FROM fps GROUP BY fp
                     HAVING count(*) BETWEEN 2 AND {WN_MAX_DF})),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b USING (fp)
        WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, count(*) AS n_shared
    FROM pairs GROUP BY doc_a, doc_b
    """


register("winnow_pairs", q_winnow_pairs, _oracle_winnow_pairs())


# --------------------------------------------------------------------------
# q_ivf_topk — inverted-file ANN (clustering path) next to the LSH path
# (q_ann_topk): deterministic residue centroids make the whole construction
# (assignment, probes, rerank) SQL-expressible, so the approximate
# semantics are oracle-checked end to end, like ann_topk.
# --------------------------------------------------------------------------

IVF_K = 3
IVF_MOD = 23
IVF_RES = 3
IVF_NPROBE = 3


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk
    from .queries3 import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return ivf_topk(emb, qs, IVF_K, mod=IVF_MOD, residue=IVF_RES,
                    nprobe=IVF_NPROBE, dim=IVF_DIM)


def _oracle_ivf_topk() -> str:
    from .operators.similarity import DOT_DUCK, NRM_DUCK

    def sim(a, b):
        return (f"round(({DOT_DUCK.format(a=a, b=b)})"
                f" / ({NRM_DUCK.format(v=a)} * {NRM_DUCK.format(v=b)}), 9)")

    return f"""
    WITH cents AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE vec_id % {IVF_MOD} = {IVF_RES}),
    qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           WHERE vec_id % 50 = 0),
    asim AS (SELECT e.vec_id, e.embedding, c.cid,
                    {sim('e.embedding', 'c.cvec')} AS s
             FROM embeddings e, cents c),
    assign AS MATERIALIZED (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM asim) WHERE rn = 1),
    psim AS (SELECT q.q_id, q.q_emb, c.cid, {sim('q.q_emb', 'c.cvec')} AS s
             FROM qs q, cents c),
    probes AS (SELECT q_id, q_emb, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY s DESC, cid) AS rn FROM psim) WHERE rn <= {IVF_NPROBE}),
    sims AS (SELECT p.q_id, a.vec_id,
                    {sim('p.q_emb', 'a.embedding')} AS sim
             FROM probes p JOIN assign a USING (cid)
             WHERE a.vec_id <> p.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY sim DESC, vec_id) AS rank FROM sims)
    WHERE rank <= {IVF_K}
    """


register("ivf_topk", q_ivf_topk, _oracle_ivf_topk())


# --------------------------------------------------------------------------
# q_res_policy — C6: the resolution policy (closest / closest-higher /
# closest-lower, reference rhpxutils.py:198-216) value-checked: the Spark
# side runs the ACTUAL kernel functions in a UDF, the oracle reconstructs
# the policy relationally from the closed-form width table.
# --------------------------------------------------------------------------

_RP_BASE = "power(10, 0.5 + (CAST(({k} % 130) AS DOUBLE)) / 20.0)"


def q_res_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    from .queries3 import load

    cfg = DEFAULT_CONFIG
    bases = load(spark, sf_dir, "part").select(
        F.expr(_RP_BASE.format(k="p_partkey")).alias("b")).distinct()

    schema = StructType([
        StructField("b_mm", LongType()),
        StructField("hi_i", IntegerType()),
        StructField("hi_w_mm", LongType()),
        StructField("lo_i", IntegerType()),
        StructField("lo_w_mm", LongType()),
        StructField("closest_i", IntegerType()),
    ])

    def _policy(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for b in pdf["b"]:
                hi_i, hi_w = cfg.get_closest_higher_resolution(float(b))
                lo_i, lo_w = cfg.get_closest_lower_resolution(float(b))
                cl_i, _ = cfg.get_closest_resolution(float(b))
                out["b_mm"].append(round(float(b) * 1000))
                out["hi_i"].append(hi_i)
                out["hi_w_mm"].append(round(hi_w * 1000))
                out["lo_i"].append(lo_i)
                out["lo_w_mm"].append(round(lo_w * 1000))
                out["closest_i"].append(cl_i)
            yield pd.DataFrame(out)

    return bases.mapInPandas(_policy, schema)


def _oracle_res_policy() -> str:
    from .dggs.config import AUTHALIC_RADIUS, DEFAULT_CONFIG as cfg

    w0 = f"((pi() / 2) * {AUTHALIC_RADIUS!r})"
    return f"""
    WITH widths AS (
        SELECT CAST(i AS INT) AS i, {w0} / power({cfg.n_side}, CAST(i AS INT)) AS w
        FROM range({cfg.max_resolution}) t(i)),
    bases AS (SELECT DISTINCT {_RP_BASE.format(k='p_partkey')} AS b FROM part),
    hi AS (SELECT b, min(i) AS hi_i FROM bases, widths WHERE w < b GROUP BY b)
    SELECT CAST(round(b * 1000) AS BIGINT) AS b_mm,
           hi_i, CAST(round(wh.w * 1000) AS BIGINT) AS hi_w_mm,
           hi_i - 1 AS lo_i, CAST(round(wl.w * 1000) AS BIGINT) AS lo_w_mm,
           CASE WHEN (wl.w - b) < (b - wh.w) THEN hi_i - 1 ELSE hi_i END
               AS closest_i
    FROM hi JOIN widths wh ON wh.i = hi_i
            JOIN widths wl ON wl.i = hi_i - 1
    """


register("res_policy", q_res_policy, _oracle_res_policy())


# --------------------------------------------------------------------------
# q_ivf_refined — IVF with ONE Lloyd refinement iteration, oracle-checked:
# the iteration is deterministic because the means are QUANTIZED-integer
# sums (round(x * 2^20) summed as BIGINT — associative, so run-stable under
# native partial aggregation; the exact power-of-two multiply makes both
# engines round identical doubles).  Round 3 used an id-ordered left fold
# here (sort_array(collect_list) + aggregate, 8.85 s); the quantized form
# keeps bit-stability at native hash-agg cost and is the only mean
# operators/similarity.ivf_refine computes.
# --------------------------------------------------------------------------

IVF_DIM = 64


def q_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk
    from .queries3 import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return ivf_topk(emb, qs, IVF_K, mod=IVF_MOD, residue=IVF_RES,
                    nprobe=IVF_NPROBE, refine_iters=1, dim=IVF_DIM)


def _oracle_ivf_refined() -> str:
    from .operators.similarity import DOT_DUCK, NRM_DUCK

    def sim(a, b):
        return (f"round(({DOT_DUCK.format(a=a, b=b)})"
                f" / ({NRM_DUCK.format(v=a)} * {NRM_DUCK.format(v=b)}), 9)")

    return f"""
    WITH cents0 AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE vec_id % {IVF_MOD} = {IVF_RES}),
    asim0 AS (SELECT e.vec_id, e.embedding, c.cid,
                     {sim('e.embedding', 'c.cvec')} AS s
              FROM embeddings e, cents0 c),
    assign0 AS MATERIALIZED (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM asim0) WHERE rn = 1),
    -- one Lloyd step: quantized-integer mean per (cluster, position) —
    -- round(x * 2^20) summed as BIGINT is order-independent, so this is
    -- the same value Spark's native partial agg produces (mean_mode
    -- 'quantized' in operators/similarity.ivf_refine)
    means AS (
        SELECT cid, t.j AS p,
               CAST(sum(CAST(round(CAST(embedding[CAST(t.j AS INT) + 1]
                                        AS DOUBLE) * 1048576.0) AS BIGINT))
                    AS DOUBLE)
               / (1048576.0 * count(*)) AS m
        FROM assign0, range({IVF_DIM}) t(j) GROUP BY cid, t.j),
    cents1 AS MATERIALIZED (
        SELECT c0.cid,
               coalesce(m.cvec, list_transform(c0.cvec,
                        x -> CAST(x AS DOUBLE))) AS cvec
        FROM cents0 c0 LEFT JOIN (
            SELECT cid, list(m ORDER BY p) AS cvec FROM means GROUP BY cid
        ) m ON c0.cid = m.cid),
    asim1 AS (SELECT e.vec_id, e.embedding, c.cid,
                     {sim('e.embedding', 'c.cvec')} AS s
              FROM embeddings e, cents1 c),
    assign1 AS MATERIALIZED (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM asim1) WHERE rn = 1),
    qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           WHERE vec_id % 50 = 0),
    psim AS (SELECT q.q_id, q.q_emb, c.cid, {sim('q.q_emb', 'c.cvec')} AS s
             FROM qs q, cents1 c),
    probes AS (SELECT q_id, q_emb, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY s DESC, cid) AS rn FROM psim) WHERE rn <= {IVF_NPROBE}),
    sims AS (SELECT p.q_id, a.vec_id,
                    {sim('p.q_emb', 'a.embedding')} AS sim
             FROM probes p JOIN assign1 a USING (cid)
             WHERE a.vec_id <> p.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY sim DESC, vec_id) AS rank FROM sims)
    WHERE rank <= {IVF_K}
    """


register("ivf_refined", q_ivf_refined, _oracle_ivf_refined())


# --------------------------------------------------------------------------
# q_simhash — SimHash value-checked: the Arrow-UDF operator vs a full
# relational reconstruction (md5 hex -> 32-bit halves via instr-weighted
# hex digits, bit votes per position, sign reassembly).  The md5-derived
# token hash replaced pd.util.hash_array in round 3 precisely to make this
# (and persisted-fingerprint stability) possible.
# --------------------------------------------------------------------------

def _hex32_sql(md5_expr: str, start: int) -> str:
    """Portable SQL (identical text both engines): unsigned 32-bit integer
    from 8 hex chars of ``md5_expr`` starting at 1-based ``start``."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substring({md5_expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8))
    return f"CAST({terms} AS BIGINT)"


_BIT_SQL = "(CAST(floor({h} / power(2, CAST(j AS DOUBLE))) AS BIGINT) % 2)"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_ids
    from .queries3 import load

    docs = load(spark, sf_dir, "documents") \
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
    # empties are filtered above, so the ids form (no join-back to restore
    # payload columns) is exact and saves one shuffle
    sh = simhash_ids(docs, "text", "doc_id")
    # split the packed int64 into the two unsigned halves the oracle builds
    return sh.select(
        "doc_id",
        F.expr("shiftright(simhash64, 32) & 4294967295").alias("sim_hi"),
        F.expr("simhash64 & 4294967295").alias("sim_lo"))


def _oracle_simhash() -> str:
    hi, lo = _hex32_sql("m", 1), _hex32_sql("m", 9)
    bit_hi = _BIT_SQL.format(h="h_hi")
    bit_lo = _BIT_SQL.format(h="h_lo")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND text <> ''),
    th AS MATERIALIZED (
        SELECT doc_id, {hi} AS h_hi, {lo} AS h_lo
        FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
    votes AS (
        SELECT doc_id, j,
               sum(2 * {bit_hi} - 1) AS v_hi,
               sum(2 * {bit_lo} - 1) AS v_lo
        FROM th, range(32) t(j) GROUP BY doc_id, j),
    signs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v_hi > 0 THEN power(2, CAST(j AS DOUBLE))
                             ELSE 0 END) AS BIGINT) AS sim_hi,
               CAST(sum(CASE WHEN v_lo > 0 THEN power(2, CAST(j AS DOUBLE))
                             ELSE 0 END) AS BIGINT) AS sim_lo
        FROM votes GROUP BY doc_id)
    SELECT doc_id, sim_hi, sim_lo FROM signs
    """


register("simhash", q_simhash, _oracle_simhash())


# --------------------------------------------------------------------------
# q_ngram_pairs — exact n-gram Jaccard near-dup pairs, oracle-checked: the
# whole construction (shingles incl. the short-doc slice rule, DISTINCT,
# doc-frequency cap, self-join, Jaccard) is replicated relationally.
# --------------------------------------------------------------------------

NG_MAX_DF = 200
NG_THRESHOLD = 0.5


def q_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs
    from .queries3 import load

    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id",
                               threshold=NG_THRESHOLD, max_doc_freq=NG_MAX_DF)


def _oracle_ngram_pairs(table: str = "documents") -> str:
    """``table`` may be any (doc_id, text) relation — the dedup_pipeline
    capstone runs the identical construction over the exact-dedup
    survivors CTE."""
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM {table}),
    -- list_slice matches Spark's slice() short-doc rule (same convention
    -- as the minhash oracle)
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(greatest(len(t) - 2, 1)),
                      i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
               AS shingle
        FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    capped AS (SELECT doc_id, shingle FROM sh
               WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                                 HAVING count(*) BETWEEN 2 AND {NG_MAX_DF})),
    inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
              FROM capped a JOIN capped b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
    jac AS (SELECT a_id, b_id,
                   CAST(round(n_inter * 1000000.0
                        / (sa.n_sh + sb.n_sh - n_inter)) AS BIGINT) AS jac_ppm
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id)
    SELECT a_id, b_id, jac_ppm FROM jac
    WHERE jac_ppm >= {int(NG_THRESHOLD * 1e6)}
    """


register("ngram_pairs", q_ngram_pairs, _oracle_ngram_pairs())


# --------------------------------------------------------------------------
# q_dedup_clusters — connected components over the n-gram near-dup pair
# graph (operators/dedup.dedup_clusters): the keep/drop clustering step of
# a production dedup pass, value-checked against DuckDB's exact recursive
# min-reachability (WITH RECURSIVE terminates because UNION dedups the
# frontier), which is diameter-independent — so the oracle also proves the
# Spark fixpoint CONVERGED, not just that it stabilized.
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from .queries3 import load

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                threshold=NG_THRESHOLD, max_doc_freq=NG_MAX_DF)
    return dedup_clusters(pairs).select("doc_id", "cluster_id")


def _oracle_dedup_clusters() -> str:
    return f"""
    WITH RECURSIVE np AS MATERIALIZED ({_oracle_ngram_pairs()}),
    edges AS MATERIALIZED (
        SELECT a_id AS x, b_id AS y FROM np
        UNION
        SELECT b_id, a_id FROM np),
    reach(n, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, r.lab FROM edges e JOIN reach r ON r.n = e.y)
    SELECT n AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY n
    """


register("dedup_clusters", q_dedup_clusters, _oracle_dedup_clusters())


# --------------------------------------------------------------------------
# q_stream_dedup — streaming exact dedup (third Structured Streaming op):
# file stream -> watermarked dropDuplicates on (source, content hash) ->
# per-source survivor counts; availableNow + complete-mode memory sink
# makes the run deterministic, and the oracle is a plain DISTINCT count.
# --------------------------------------------------------------------------

def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries3 import load
    from .queries4 import _finish_stream, _stream_tmpdirs
    from .streaming import ingest

    src, ckpt, cleanup = _stream_tmpdirs("stream_dedup")
    try:
        docs = load(spark, sf_dir, "documents") \
            .filter(F.col("text").isNotNull()).select(
            "doc_id", "source", "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 600)
            .alias("event_time"))
        # two files so the dedup state genuinely crosses micro-batches
        # (second file repeats the first's rows with shifted ids).  Event
        # times span < 600 s and the dedup watermark delay is 10 min, so
        # dropDuplicatesWithinWatermark drops every re-arrival and the
        # plain-DISTINCT oracle stays exact.
        docs.write.mode("overwrite").parquet(src)
        docs.withColumn("doc_id", F.col("doc_id") + 1000000) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, source string, text string, event_time timestamp"
        ).option("maxFilesPerTrigger", 2).parquet(src)
        counts = ingest.dedup_stream(stream)
        try:
            spark.catalog.dropTempView("dggs_stream_dedup")
        except Exception:
            pass
        q = (counts.writeStream.format("memory").queryName("dggs_stream_dedup")
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _finish_stream(q)
        return spark.table("dggs_stream_dedup").select("source", "n_unique")
    finally:
        cleanup()


def _oracle_stream_dedup() -> str:
    return """
    SELECT source, count(DISTINCT md5(text)) AS n_unique
    FROM documents WHERE text IS NOT NULL GROUP BY source
    """


register("stream_dedup", q_stream_dedup, _oracle_stream_dedup())


# --------------------------------------------------------------------------
# q_salted_topk — W3/skew: the two-phase salted top-k is EXACT (phase 2
# re-ranks the <= k*n_salt survivors globally), so a plain window top-k is
# its oracle.  Skewed fixture: order keys concentrate on a few customers.
# --------------------------------------------------------------------------

ST_K = 4


def q_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_topk_per_key
    from .queries3 import load

    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 7).alias("grp"),  # 7 hot groups
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"))
    top = salted_topk_per_key(
        orders, ["grp"], [F.col("price").desc(), F.col("o_orderkey")],
        ST_K, n_salt=8)
    return top.select("grp", "o_orderkey",
                      F.round(F.col("price") * 100).cast("bigint").alias("price_c"),
                      "rank")


def _oracle_salted_topk() -> str:
    return f"""
    WITH src AS (SELECT o_custkey % 7 AS grp, o_orderkey,
                        CAST(o_totalprice AS DOUBLE) AS price FROM orders)
    SELECT grp, o_orderkey,
           CAST(round(price * 100) AS BIGINT) AS price_c, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY grp
              ORDER BY price DESC, o_orderkey) AS rank FROM src)
    WHERE rank <= {ST_K}
    """


register("salted_topk", q_salted_topk, _oracle_salted_topk())
