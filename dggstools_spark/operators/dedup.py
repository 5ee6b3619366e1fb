"""Deduplication operators for the training-data pipeline.

- minhash_lsh: shingle -> per-seed MinHash (lexicographic min of md5, a
  portable uniform permutation) -> banded signatures -> bucket-join candidate
  pairs -> exact Jaccard verification.  Everything is explode/groupBy/join —
  no Python in the hot path, and the same construction is expressible in the
  DuckDB oracle.
- simhash_ids: 64-bit near-dup hash, fully relational (explode -> built-in
  md5 -> 64 bit-count aggregates -> sign reassembly; all JVM-side).  The
  numpy pandas UDF it replaced stays as the test reference
  (_simhash_pandas).
- ngram_jaccard_pairs: exact n-gram Jaccard for candidate pairs that share at
  least one shingle (bounded self-join).

Exact whole-doc dedup is query ``dedup_exact`` over ``text.fingerprint``.
"""

import itertools
import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from ..functions import text as T

N_MINHASHES = 8
BAND_SIZE = 2  # 4 bands of 2 hashes each

logger = logging.getLogger(__name__)

#: (name, Observation) for every hot-bucket guard attached this session
#: (bounded ring; see guard_metrics)
_GUARD_OBS: list = []
_GUARD_SEQ = itertools.count()
_GUARD_OBS_MAX = 64


def guard_metrics() -> dict:
    """Dropped-mass metrics for every hot-bucket guard whose query has
    already run an action, WITHOUT a second query: each guard attaches a
    Spark ``observe`` node (metrics are aggregated for free while the rows
    stream through the plan).  Returns {guard_name: {"dropped_rows": n,
    "max_bucket_n": m} | None} — None means that plan has not executed yet.
    Guards whose query dropped rows are also logged at WARNING here."""
    out = {}
    for name, obs in _GUARD_OBS:
        # classic-Spark internals (verified on 4.1.2); Spark Connect's
        # ConnectObservation has no _jo — degrade to None (unknown) there
        # instead of raising mid-pipeline
        if not hasattr(obs, "_jo"):
            out[name] = None
            continue
        jo = obs._jo
        # getRowOrEmpty is the non-blocking readiness probe (getOrEmpty NPEs
        # on Spark 4.1 when the collected row carries no schema)
        if jo is None or jo.getRowOrEmpty().isEmpty():
            out[name] = None
            continue
        m = obs.get
        out[name] = m
        if m.get("dropped_rows"):
            logger.warning("hot-bucket guard %s dropped %s rows (largest bucket %s)",
                           name, m["dropped_rows"], m.get("max_bucket_n"))
    return out


def tokens(df: DataFrame, text_col: str, out: str = "tok") -> DataFrame:
    """Whitespace tokens, exploded (keeps all other columns)."""
    return df.withColumn(out, F.explode(F.split(F.col(text_col), " ")))


def shingles(df: DataFrame, text_col: str, n: int = 3, out: str = "shingle") -> DataFrame:
    """Word n-gram shingles, exploded."""
    return df.withColumn(
        "_toks", F.split(F.col(text_col), " ")
    ).withColumn(
        out,
        F.explode(F.expr(
            f"transform(sequence(0, greatest(size(_toks) - {n}, 0)),"
            f" i -> array_join(slice(_toks, i + 1, {n}), ' '))"
        )),
    ).drop("_toks")


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = N_MINHASHES, shingle_n: int = 3) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature per doc: h_i = min over shingles of
    md5('<i>:' || shingle).  One explode + one groupBy (map-side combine)."""
    sh = shingles(df.select(id_col, text_col), text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _cap_hot_keys(df: DataFrame, key: str, max_bucket: int | None,
                  min_bucket: int = 2) -> DataFrame:
    """Hot-bucket guard for bucket self-joins: drop keys held by fewer than
    ``min_bucket`` rows (they produce no pairs) or more than ``max_bucket``
    rows (a single boilerplate key would otherwise make the self-join
    quadratic — 10^5 docs in one bucket is 10^10 pairs in one task at
    100 TB).  One window count over the same partitioning the join needs.

    Truncation is never silent: when ``max_bucket`` is set, an ``observe``
    node counts the dropped rows DURING the caller's own action (zero extra
    jobs) — read them with guard_metrics(), which also logs a WARNING for
    any guard that dropped rows."""
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    w = Window.partitionBy(key)
    out = df.withColumn("_bn", F.count("*").over(w))
    if max_bucket is not None:
        obs = Observation(f"hot_bucket_guard:{key}:{next(_GUARD_SEQ)}")
        out = out.observe(
            obs,
            F.sum(F.when(F.col("_bn") > max_bucket, 1).otherwise(0)).alias("dropped_rows"),
            F.max("_bn").alias("max_bucket_n"),
        )
        _GUARD_OBS.append((obs._name, obs))
        del _GUARD_OBS[:-_GUARD_OBS_MAX]
        out = out.filter(F.col("_bn") <= max_bucket)
    out = out.filter(F.col("_bn") >= min_bucket)
    return out.drop("_bn")


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      band_size: int = BAND_SIZE,
                      max_bucket: int | None = 500) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id) sharing at least one LSH band.

    ``max_bucket`` caps band-bucket size (hot-bucket guard): buckets above
    the cap are dropped from pair generation — standard LSH-dedup practice;
    a bucket that hot is boilerplate, not near-duplication signal; the
    dropped mass is read with guard_metrics() after the pairs' action."""
    bands = lsh_bands(df, text_col, id_col, N_MINHASHES, band_size)
    bands = _cap_hot_keys(bands, "band_key", max_bucket)
    a = bands.select(F.col(id_col).alias("a_id"), "band_key")
    b = bands.select(F.col(id_col).alias("b_id"), "band_key")
    return (
        a.join(b, "band_key")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def lsh_bands(df: DataFrame, text_col: str, id_col: str,
              n_hashes: int = N_MINHASHES,
              band_size: int = BAND_SIZE) -> DataFrame:
    """(id, band_key) rows: the banded-signature LSH keys over word
    3-gram MinHash signatures."""
    sig = minhash_signatures(df, text_col, id_col, n_hashes)
    n_bands = n_hashes // band_size
    return sig.select(
        id_col,
        F.explode(F.array(*[
            F.concat(F.lit(f"b{b}:"), *[F.col(f"h{b * band_size + j}") for j in range(band_size)])
            for b in range(n_bands)
        ])).alias("band_key"),
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = 500) -> DataFrame:
    """Exact Jaccard over word 3-grams for pairs sharing >= 1 shingle.
    Output: (a_id, b_id, jac_ppm).

    ``max_doc_freq`` caps shingle document frequency before the self-join
    (hot-bucket guard): a stop-shingle shared by 10^5 docs would otherwise
    create an O(n^2) group.  Dropping it biases n_inter DOWN for affected
    pairs (conservative: Jaccard is underestimated, never inflated); doc
    sizes n_a/n_b still count every shingle.  Dropped mass:
    guard_metrics()."""
    sh = shingles(df.select(id_col, text_col), text_col, 3) \
        .select(id_col, "shingle").distinct()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sh_capped = _cap_hot_keys(sh, "shingle", max_doc_freq)
    a = sh_capped.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh_capped.select(F.col(id_col).alias("b_id"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn("jac_ppm", F.round(
            F.col("n_inter") * 1000000.0
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).cast("bigint"))
        .filter(F.col("jac_ppm") >= int(threshold * 1e6))
        .select("a_id", "b_id", "jac_ppm")
    )
    return jac


def bottomk_sketches(df: DataFrame, text_col: str, id_col: str,
                     shingle_n: int = 3, k: int = 32,
                     max_hash_df: int | None = None) -> DataFrame:
    """(id_col, h) bottom-k shingle sketch per doc: the k lexicographically
    smallest md5 hex digests of the doc's distinct word n-grams.  A doc
    with fewer than k distinct shingles keeps them all.

    ``max_hash_df`` applies the idf-like document-frequency trim BEFORE
    sketching: shingle hashes held by more than that many docs are removed
    from the hash universe, and the sketch is the true bottom-k of the
    TRIMMED universe.  On boilerplate-heavy corpora this is what makes the
    sketch informative at all — without it the k smallest hashes of every
    doc are the same template shingles, so every sketch looks alike (the
    sf1 probe measured exactly that: 30M candidate pairs of which <0.1%
    were real).  Unlike _cap_hot_keys this keeps singleton hashes — they
    carry the union-size signal the estimator's denominator needs."""
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    sh = shingles(df.select(id_col, text_col), text_col, shingle_n) \
        .select(id_col, "shingle").distinct()
    hashed = sh.select(id_col, F.md5("shingle").alias("h"))
    if max_hash_df is not None:
        wdf = Window.partitionBy("h")
        hashed = hashed.withColumn("_df", F.count("*").over(wdf))
        obs = Observation(f"hot_hash_trim:{next(_GUARD_SEQ)}")
        hashed = hashed.observe(
            obs,
            F.sum(F.when(F.col("_df") > max_hash_df, 1).otherwise(0))
            .alias("dropped_rows"),
            F.max("_df").alias("max_bucket_n"),
        )
        _GUARD_OBS.append((obs._name, obs))
        del _GUARD_OBS[:-_GUARD_OBS_MAX]
        hashed = hashed.filter(F.col("_df") <= max_hash_df).drop("_df")
    w = Window.partitionBy(id_col).orderBy("h")
    return (hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def bottomk_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                          shingle_n: int = 3, k: int = 32,
                          threshold: float = 0.5,
                          max_hash_df: int | None = 200) -> DataFrame:
    """Estimated Jaccard near-dup pairs from bottom-k shingle sketches
    (Broder 1997's min-wise sketch, bottom-k variant — public classic).

    The scale lever ngram_jaccard_pairs lacks: ngram's exact self-join
    grows with real pair mass x doc length, and its only brake — the
    shingle doc-frequency cap — buys time by silently *losing recall on
    exactly the hottest near-dup families* (SCALE.md round-5 lever table:
    cap=100 kept 5,400 of 250,600 true pairs on the templated sf1 corpus).
    Here every doc is first reduced to its k smallest shingle hashes, so

    - candidate generation joins sketches (<= k rows/doc, corpus-wide mass
      k*N regardless of doc length), and
    - per-pair evaluation touches <= 2k sketch rows: jac_est =
      |bottom-k(S_a u S_b) ^ S_a ^ S_b| / |bottom-k(S_a u S_b)| — the
      standard (unbiased up to the without-replacement correction)
      bottom-k estimator; bottom-k(A u B) is computable from the two
      sketches alone.

    Recall degrades gracefully (sampling error ~1/sqrt(k), uniform over
    pairs) instead of cliff-dropping the hottest families.  ``max_hash_df``
    is the idf-like hash-universe trim applied BEFORE sketching (see
    bottomk_sketches) — on boilerplate corpora it is what keeps sketches
    informative; dropped mass is observed via guard_metrics.

    Candidate pruning is EXACT: for a pair with n_shared shared sketch
    hashes, the estimator's numerator |bottom-k(S_a u S_b) ^ S_a ^ S_b|
    is <= n_shared and its denominator is min(k, |S_a| + |S_b| -
    n_shared), both computable from the cheap count-per-pair aggregation —
    so a pair that cannot reach the threshold never enters the per-pair
    union/window stage.  That stage's mass is therefore proportional to
    the OUTPUT, not to the candidate cross mass (the naive shape measured
    30M candidate pairs x 2k fan-out on the templated sf1 corpus and
    thrashed; this shape prunes to the ~10^3 viable pairs first).

    Output: (a_id, b_id, jac_est_ppm) with a_id < b_id, jac_est_ppm >=
    round(1e6*threshold).  Exact integer arithmetic end-to-end — run- and
    partitioning-stable, value-checkable against the DuckDB twin.
    """
    from pyspark.sql.window import Window

    # dedup: 5 consumers.  The sketch frame feeds the candidate self-join
    # a/b sides, the union sides a/b and sizes; without a cut Spark
    # re-derives the scan+shingle+window pipeline once per consumer (no
    # ReuseExchange — the subplans differ by alias), i.e. 5 corpus scans
    # at 100 TB.  One lazy localCheckpoint = one scan.  In a production
    # pipeline the sketch table would be persisted to parquet and shared
    # across runs (bottomk_sketches is public for exactly that).
    sk = bottomk_sketches(df, text_col, id_col, shingle_n, k,
                          max_hash_df=max_hash_df) \
        .localCheckpoint(eager=False)
    sizes = sk.groupBy(id_col).agg(F.count("*").alias("sz"))

    # candidate generation: only hashes in >= 2 sketches can produce a
    # pair (min_bucket guard; no max — the universe is already trimmed)
    skc = _cap_hot_keys(sk, "h", None)
    shared = (
        skc.select(F.col(id_col).alias("a_id"), "h")
        .join(skc.select(F.col(id_col).alias("b_id"), "h"), "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id").agg(F.count("*").alias("n_shared"))
    )
    thr_ppm = int(round(threshold * 1e6))
    cand = (
        shared
        .join(sizes.select(F.col(id_col).alias("a_id"),
                           F.col("sz").alias("_sza")), "a_id")
        .join(sizes.select(F.col(id_col).alias("b_id"),
                           F.col("sz").alias("_szb")), "b_id")
        # survival requires 1e6*num/denom to round to >= thr_ppm with
        # num <= n_shared, denom = min(k, |union|); the -1 absorbs the
        # round-half boundary so pruning can never drop a passing pair
        .filter(F.col("n_shared") * 1000000
                >= (thr_ppm - 1)
                * F.least(F.lit(k),
                          F.col("_sza") + F.col("_szb") - F.col("n_shared")))
        .select("a_id", "b_id")
    )
    sa = sk.select(F.col(id_col).alias("a_id"), "h")
    sb = sk.select(F.col(id_col).alias("b_id"), "h")
    u = (
        cand.join(sa, "a_id")
        .select("a_id", "b_id", "h",
                F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            cand.join(sb, "b_id")
            .select("a_id", "b_id", "h",
                    F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
        .groupBy("a_id", "b_id", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("a_id", "b_id").orderBy("h")
    bott = u.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return (
        bott.groupBy("a_id", "b_id")
        .agg(F.count("*").alias("_denom"),
             F.sum(F.col("in_a") * F.col("in_b")).alias("_inter"))
        .withColumn("jac_est_ppm", F.round(
            F.col("_inter") * 1000000.0 / F.col("_denom")).cast("bigint"))
        .filter(F.col("jac_est_ppm") >= thr_ppm)
        .select("a_id", "b_id", "jac_est_ppm")
    )


def _md5_halves(toks: "list[str]") -> "tuple":
    """Per-token 32-bit hash pair from the md5 hex digest (chars 1-8 and
    9-16) — portable: the DuckDB oracle reconstructs the identical values
    from md5() hex text.  (The previous pd.util.hash_array had no SQL twin
    AND could change between pandas versions, silently invalidating
    persisted fingerprints.)"""
    import hashlib

    hi = np.empty(len(toks), dtype=np.uint64)
    lo = np.empty(len(toks), dtype=np.uint64)
    for t, tok in enumerate(toks):
        hx = hashlib.md5(tok.encode("utf-8")).hexdigest()
        hi[t] = int(hx[0:8], 16)
        lo[t] = int(hx[8:16], 16)
    return hi, lo


def simhash_ids(df: DataFrame, text_col: str, id_col: str,
                out: str = "simhash64") -> DataFrame:
    """(id, simhash64) 64-bit SimHash per doc via pure relational ops — the
    same construction the DuckDB oracle uses (queries5._oracle_simhash).
    Bit contract: value = sign_hi << 32 | sign_lo, each half voted from the
    32 bits of its md5-derived token hash (_md5_halves documents the token
    hash), so it is deterministic across engines and library versions.

    ``id_col`` must be UNIQUE: the votes aggregate per id, so duplicate ids
    merge their tokens into one hash.  NULL-text docs are ABSENT from the
    output; EMPTY-STRING docs are PRESENT with the hash of the single ''
    token Spark's split yields (md5('') votes), so filter both null and
    empty text first when they should not hash (q_simhash does).  Per doc
    and half:
    vote_j = sum over tokens of (2*bit_j - 1) = 2*sum(bit_j) - n_tokens, so
    64 ``sum(shiftright(h, j) & 1)`` aggregates + one count reproduce every
    vote without exploding bit positions (no 32x row blowup, unlike the
    oracle's range(32) form — DuckDB lacks multi-agg pivoting this wide)."""
    toks = (df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("_tok"))
            .filter(F.col("_tok").isNotNull()))
    m = F.md5(F.col("_tok"))
    h = toks.select(
        id_col,
        F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("_hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("_lo"))
    aggs = [F.count("*").alias("_n")]
    for half, tag in (("_hi", "h"), ("_lo", "l")):
        aggs += [F.expr(f"sum(shiftright({half}, {j}) & 1)").alias(f"_b{tag}{j}")
                 for j in range(32)]
    g = h.groupBy(id_col).agg(*aggs)

    def _pack(tag: str) -> str:
        # bit j set iff votes_j > 0 <=> 2*ones_j > n_tokens (ties -> 0,
        # matching the UDF's strict `votes > 0`)
        return " + ".join(
            f"(CASE WHEN 2 * _b{tag}{j} > _n THEN CAST({1 << j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(32))

    packed = F.expr(
        f"shiftleft(CAST({_pack('h')} AS BIGINT), 32) | CAST({_pack('l')} AS BIGINT)")
    return g.select(id_col, packed.cast("long").alias(out))


def _simhash_pandas(df: DataFrame, text_col: str, out: str) -> DataFrame:
    """Reference for simhash_ids: the original Arrow-UDF form, a per-token
    Python ``hashlib.md5`` loop; tests assert identical values."""
    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out_vals = np.zeros(len(texts), dtype=np.int64)
        js = np.arange(32, dtype=np.uint64)
        for i, txt in enumerate(texts):  # per-doc loop; token math vectorized
            if not txt:
                continue
            hi, lo = _md5_halves(txt.split(" "))
            packed = np.uint64(0)
            for h, shift in ((hi, 32), (lo, 0)):
                bits = ((h[:, None] >> js) & 1).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                half = np.bitwise_or.reduce(
                    (votes > 0).astype(np.uint64) << js)
                packed |= half << np.uint64(shift)
            out_vals[i] = packed.astype(np.int64)
        return pd.Series(out_vals)

    return df.withColumn(out, _simhash(F.col(text_col)))


def embedding_cosine_pairs(df: DataFrame, vec_col: str, id_col: str,
                           threshold: float = 0.95,
                           n_planes: int = 8,
                           max_bucket: int | None = 2000,
                           dim: int | None = None) -> DataFrame:
    """Embedding near-dup: random-hyperplane LSH bucket join (deterministic
    planes from a fixed seed) + exact cosine verification, returning pairs
    with cos >= threshold as (a_id, b_id, cos_ppm).  ``max_bucket`` is the
    hot-bucket guard (see _cap_hot_keys) — a degenerate embedding cluster
    (e.g. the zero vector from empty docs) lands in one bucket.  Pass the
    known embedding ``dim`` to compile the cosine/signature folds into flat
    codegen-able sums (same doubles; see similarity.dot_spark)."""
    from .similarity import dot_spark, nrm_spark, signature_spark

    # deterministic integer-arithmetic planes (operators/similarity.py) —
    # portable to the DuckDB oracle, unlike Spark's murmur3 hash().
    # NOTE (r7, closes the standing janino traces — VERDICT r6 #5): the
    # per-vector norm rides the scan project as the compact HOF fold
    # (nrm_spark dim=None — ~25 expression nodes), NOT the flat sum: a
    # FLAT norm next to the wide flat signature pushed the scan stage
    # past janino's 64KB method limit (measured 128 s vs 25 s at sf1;
    # SCALE.md round-4 study).  With norms pre-join, the join's verify
    # condition carries only the lone flat dot — the constraint-15
    # rerank shape that compiles — where the old per-pair norms put
    # ~3x the flat terms into the BroadcastHashJoin stage and tripped
    # the 64KB fallback every sweep (known-acceptable but noisy).
    # HOF and flat folds are bit-identical doubles (same seed, same
    # index order — similarity.dot_spark contract), so cos_ppm is
    # unchanged.
    sig = df.select(
        id_col, vec_col,
        F.expr(signature_spark(vec_col, n_planes, dim)).alias("bucket"),
        F.expr(nrm_spark(vec_col, None)).alias("_nrm"),
    )
    sig = _cap_hot_keys(sig, "bucket", max_bucket)
    a = sig.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"),
                   F.col("_nrm").alias("_anrm"), "bucket")
    b = sig.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"),
                   F.col("_nrm").alias("_bnrm"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("a_id") < F.col("b_id"))
    cos = dot_spark("a_vec", "b_vec", dim) + " / (_anrm * _bnrm)"
    return (
        pairs.withColumn("cos_ppm", F.round(F.expr(cos) * 1e6).cast("bigint"))
        .filter(F.col("cos_ppm") >= int(threshold * 1e6))
        .select("a_id", "b_id", "cos_ppm")
    )


#: min-label rounds dedup_clusters runs before it gives up (logged)
CC_MAX_ITERS = 30


def dedup_clusters(pairs: DataFrame, a: str = "a_id", b: str = "b_id",
                   node_col: str = "doc_id",
                   cluster_col: str = "cluster_id") -> DataFrame:
    """Connected components over a near-dup pair graph -> one
    (node, cluster_id) row per node appearing in ``pairs``, with
    cluster_id = the component's MINIMUM member id (the canonical doc a
    dedup pass keeps).  This is the step production dedup needs between
    pair generation (minhash_lsh_pairs / ngram_jaccard_pairs /
    winnow_pairs / embedding_cosine_pairs) and actually dropping rows:
    near-dup relations are not transitive, so keep/drop decisions on raw
    pairs double-drop chains.

    Distributed min-label propagation WITH pointer jumping: per iteration,
    every node takes the min of (its label, its neighbors' labels, its
    label's label) — two equi-joins + one hash agg on the (node, label)
    frame, lineage-cut per iteration, driver-side converged check (one
    count of a checkpointed frame).  The label-of-label hop is what makes
    long chains converge in O(log diameter) instead of O(diameter) rounds
    (a neighbor-only walk would silently exceed ``CC_MAX_ITERS`` on
    pathological path graphs); bucketed pair generators emit near-clique
    components, so 2-3 iterations are typical and the 30-round bound
    covers chains of length ~2^30.  A non-converged exit logs a WARNING
    (labels are then an upper bound, still per-component-consistent
    prefixes).
    Isolated docs (no pair) are absent — they are trivially their own
    cluster.  Deterministic: the min label is order-free."""
    e = pairs.select(F.col(a).alias("_x"), F.col(b).alias("_y"))
    edges = e.unionByName(
        e.select(F.col("_y").alias("_x"), F.col("_x").alias("_y"))
    ).distinct().localCheckpoint(eager=True)  # dedup: every round reads it
    # dedup: 2 consumers (round 1's neighbor-min and step joins).  Lazy,
    # but not job-free: AQE runs the distinct's shuffle stage at the cut,
    # and the first iteration's checkpoint job runs the rest
    labels = edges.select(F.col("_x").alias("_n")).distinct() \
        .withColumn("_lab", F.col("_n")).localCheckpoint(eager=False)

    # (r7 note: a two-rounds-per-checkpoint variant was A/B-measured
    # SLOWER — the doubled in-job plan outweighed the saved job; kept
    # the single round per action.)
    converged = False
    for _ in range(CC_MAX_ITERS):
        nbr_min = (edges.join(
            labels.select(F.col("_n").alias("_y"), F.col("_lab").alias("_ylab")),
            "_y")
            .groupBy("_x").agg(F.min("_ylab").alias("_nmin")))
        prop = (labels.join(nbr_min.withColumnRenamed("_x", "_n"), "_n", "left")
                .select("_n", "_lab",
                        F.least(F.col("_lab"),
                                F.coalesce("_nmin", F.col("_lab"))).alias("_lab1")))
        # pointer jump: labels are node ids, so chase one hop through the
        # label table itself — halves remaining chain length every round
        jmp = prop.select(F.col("_n").alias("_j"), F.col("_lab1").alias("_jlab"))
        stepped = (prop.join(jmp, prop["_lab1"] == jmp["_j"], "left")
                   .select("_n", "_lab",
                           F.least(F.col("_lab1"),
                                   F.coalesce(F.col("_jlab"),
                                              F.col("_lab1"))).alias("_lab2")))
        # convergence count rides the checkpoint job as an observe metric —
        # one action per iteration instead of two (the count job was ~half
        # of each round's fixed cost on small label frames)
        from pyspark.sql import Observation

        obs = Observation(f"dedup_clusters_changed:{next(_GUARD_SEQ)}")
        stepped = stepped.observe(
            obs, F.sum(F.when(F.col("_lab2") < F.col("_lab"), 1)
                       .otherwise(0)).alias("changed"))
        stepped = stepped.localCheckpoint(eager=True)  # fixpoint round
        labels = stepped.select("_n", F.col("_lab2").alias("_lab"))
        if (obs.get.get("changed") or 0) == 0:
            converged = True
            break
    if not converged:
        logger.warning("dedup_clusters: not converged after %d iterations "
                       "(component diameter > ~2^%d?)", CC_MAX_ITERS,
                       CC_MAX_ITERS)
    return labels.select(F.col("_n").alias(node_col),
                         F.col("_lab").alias(cluster_col))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str = "doc_id",
                        out: str = "fp") -> DataFrame:
    """(id, fp) rows: DISTINCT winnowing fingerprints per doc (MOSS scheme:
    rolling k-gram hash, min per sliding window of w hashes —
    functions/text.py holds the shared Horner snippet and the DuckDB list
    twin).  Relational shape: explode k-gram positions, hash each with a
    FLAT expression, window-min per doc — no UDF, no nested higher-order
    functions (a nested-array form measured >180 s on 500 short rows)."""
    from pyspark.sql.window import Window

    from ..functions.text import WINNOW_K, WINNOW_W, _horner

    k, w = WINNOW_K, WINNOW_W
    pos = (df.select(id_col, text_col)
           .filter(F.length(text_col) >= k)
           .select(id_col, F.col(text_col),
                   (F.length(text_col) - k + 1).alias("_nh"))
           .select(id_col, text_col, "_nh",
                   F.explode(F.expr(
                       f"sequence(1, length({text_col}) - {k} + 1)")).alias("_i")))
    hashed = pos.select(id_col, "_nh", "_i",
                        F.expr(_horner(f"lower({text_col})", "_i")).alias("_h"))
    wdw = Window.partitionBy(id_col).orderBy("_i").rowsBetween(0, w - 1)
    # window minima; tail positions whose window would run past the end are
    # dropped (i <= nh - w + 1), except a single window survives for docs
    # shorter than one window (global min) — matching the DuckDB twin
    mins = (hashed.withColumn("_m", F.min("_h").over(wdw))
            .filter(F.col("_i") <= F.greatest(F.col("_nh") - (w - 1), F.lit(1))))
    return mins.select(id_col, F.col("_m").alias(out)).distinct()


#: last cap chosen by winnow_pairs(max_doc_freq='auto') — observability
#: next to guard_metrics()
last_winnow_cap: dict = {}


def winnow_auto_cap(fps: DataFrame, id_col: str = "doc_id") -> int:
    """Corpus-derived doc-frequency cap for winnow_pairs, replacing the
    flat 500 with the rule the SCALE.md round-3 study motivates: a
    genuinely copied passage's fingerprint sits in the extreme tail of the
    fingerprint doc-frequency distribution AND spans only a vanishing
    fraction of the corpus, so

        cap = min( P_99(doc-frequency),  max(8, 0.01 * n_docs) )

    On long-tail web corpora the quantile governs — only the top
    1 % boilerplate share is dropped.  On TEMPLATED corpora (the
    synthetic tables: p50/p99 = 288/3,853 of 5,000 docs share a
    fingerprint) the quantile is useless and the absolute corpus-fraction
    bound governs, dropping template fingerprints — the study's "max
    plausible cluster size of a genuinely copied passage" reading.
    The floor of 8 keeps tiny corpora from capping below a real copy
    cluster.
    The quantile is the EXACT order statistic, not approx_percentile: the
    approx sketch's merge result varies with partitioning, so pair output
    near the cap boundary could differ across runs/cluster layouts
    (ADVICE r4).  Exactness is cheap here because q = 0.99 is high — the
    value at ascending rank ceil(q*n) is the MIN of the top ceil((1-q)*n)+1
    frequencies, a TakeOrdered over ~1% of the distinct-fingerprint frame,
    no full sort, deterministic under any partitioning (order statistics
    are permutation-invariant).  Costs three tiny jobs over ``fps``
    (freq-frame count, top-k min, distinct id count) — callers should pass
    a materialized fps frame."""
    freq = fps.groupBy("fp").agg(F.count("*").alias("_df"))
    n_fp = freq.count()
    k_desc = n_fp - max(1, int(math.ceil(0.99 * n_fp))) + 1
    qv = (freq.select("_df").sort(F.desc("_df")).limit(k_desc)
          .agg(F.min("_df")).first()[0]) if n_fp else None
    qv = qv or 1
    n_docs = fps.select(id_col).distinct().count()
    return max(2, int(min(float(qv), max(8.0, 0.01 * n_docs))))


def winnow_pairs(df: DataFrame, text_col: str, id_col: str = "doc_id",
                 max_doc_freq: "int | str | None" = "auto") -> DataFrame:
    """Copied-passage candidate pairs: docs sharing at least one winnowing
    fingerprint, with the shared-fingerprint count.  Same bounded-self-join
    shape as ngram_jaccard_pairs: fingerprints hitting more than
    ``max_doc_freq`` docs are boilerplate and are dropped (observable via
    guard_metrics) before the join, so no fingerprint fans out
    quadratically.

    ``max_doc_freq='auto'`` (default) derives the cap from the corpus's own
    fingerprint doc-frequency distribution (winnow_auto_cap; the chosen
    value is recorded in ``last_winnow_cap`` — a module global, so under
    concurrent winnow_pairs calls read it immediately or pass an explicit
    cap).  NOTE auto makes this builder EAGER: it materializes the
    fingerprint frame (localCheckpoint) and runs two tiny stat jobs at
    call time, unlike the int/None forms which stay fully lazy — pass an
    int to pin the cap (and stay lazy), or None to disable the guard
    entirely (unbounded self-join — never at scale)."""
    fps = winnow_fingerprints(df, text_col, id_col)
    if max_doc_freq == "auto":
        # dedup: 3 consumers (two stat jobs and the pair join), which
        # otherwise each recompute the rolling-hash window pass
        fps = fps.localCheckpoint(eager=True)
        max_doc_freq = winnow_auto_cap(fps, id_col)
        last_winnow_cap["cap"] = max_doc_freq
        logger.info("winnow_pairs auto max_doc_freq = %d", max_doc_freq)
    capped = _cap_hot_keys(fps, "fp", max_doc_freq, min_bucket=2)
    a = capped.select(F.col(id_col).alias("doc_a"), "fp")
    b = capped.select(F.col(id_col).alias("doc_b"), "fp")
    return (a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared")))


# --------------------------------------------------------------------------
# Cross-corpus incremental dedup: flag INCOMING documents that duplicate an
# EXISTING snapshot (the production "dedup the new crawl against the
# training set we already have" step — neither side is deduped against
# itself here; that is the self-join family above).
# --------------------------------------------------------------------------

def cross_corpus_dedup(existing: DataFrame, incoming: DataFrame,
                       text_col: str, id_col: str,
                       n_hashes: int = 4, band_size: int = 2,
                       threshold: float = 0.5,
                       max_bucket: int | None = None) -> DataFrame:
    """Per incoming doc: (id_col, exact_dup, near_dup, kept) flags vs the
    existing snapshot.

    - exact_dup: byte-identical normalized content exists in the snapshot
      (md5(lower(trim(text))) semi-join — one hash join, no window).
    - near_dup: shares >= 1 MinHash LSH band with an existing doc AND the
      exact word-shingle Jaccard against at least one such candidate is
      >= ``threshold``.  Candidate generation is a band-key equi-join
      (incoming bands x existing bands — never a cartesian); verification
      joins shingles only for candidate pairs.
    - kept = 1 - greatest(exact_dup, near_dup): the admission decision.

    ``max_bucket`` (optional) caps existing-side band buckets with
    min_bucket=1 (unlike the self-join guard, a singleton existing bucket
    still matches incoming probes, so singletons must survive).

    Scale: snapshot >> incoming in production; every join is a
    hash-partitioned equi-join on fp / band_key / shingle, so the snapshot
    side streams — nothing is broadcast or collected.  Candidate volume is
    bounded by band-bucket products exactly as in minhash_lsh_pairs.
    """
    fp = F.expr(T.fingerprint(text_col))
    ex_fp = existing.select(fp.alias("fp")).distinct()
    in_fp = incoming.select(F.col(id_col), fp.alias("fp"))
    exact = (in_fp.join(ex_fp, "fp", "left_semi")
             .select(id_col).withColumn("_exact", F.lit(1)))

    ex_bands = lsh_bands(existing, text_col, id_col, n_hashes, band_size) \
        .withColumnRenamed(id_col, "_ex_id")
    if max_bucket is not None:
        ex_bands = _cap_hot_keys(ex_bands, "band_key", max_bucket,
                                 min_bucket=1)
    in_bands = lsh_bands(incoming, text_col, id_col, n_hashes, band_size) \
        .withColumnRenamed(id_col, "_in_id")
    cand = (in_bands.join(ex_bands, "band_key")
            .select("_in_id", "_ex_id").distinct())

    # exact-Jaccard verification over distinct word shingles, candidates only
    in_sh = shingles(incoming.select(id_col, text_col), text_col, 3) \
        .select(F.col(id_col).alias("_in_id"), "shingle").distinct()
    ex_sh = shingles(existing.select(id_col, text_col), text_col, 3) \
        .select(F.col(id_col).alias("_ex_id"), "shingle").distinct()
    n_in = in_sh.groupBy("_in_id").agg(F.count("*").alias("_n_in"))
    n_ex = ex_sh.groupBy("_ex_id").agg(F.count("*").alias("_n_ex"))
    inter = (cand.join(in_sh, "_in_id")
             .join(ex_sh, ["_ex_id", "shingle"])
             .groupBy("_in_id", "_ex_id")
             .agg(F.count("*").alias("_n_int")))
    near = (inter.join(n_in, "_in_id").join(n_ex, "_ex_id")
            .filter(F.col("_n_int") * F.lit(1000000)
                    >= F.lit(int(threshold * 1e6))
                    * (F.col("_n_in") + F.col("_n_ex") - F.col("_n_int")))
            .select("_in_id").distinct().withColumn("_near", F.lit(1)))

    # flag assembly via union + groupBy-max instead of two left join-backs:
    # one hash aggregate on id (map-side combinable), no join sort — every
    # incoming id appears exactly once in the base leg, so max() recovers
    # the per-doc flags exactly
    base = incoming.select(F.col(id_col),
                           F.lit(0).alias("_exact"), F.lit(0).alias("_near"))
    ex_leg = exact.select(F.col(id_col), F.col("_exact"),
                          F.lit(0).alias("_near"))
    nr_leg = near.select(F.col("_in_id").alias(id_col),
                         F.lit(0).alias("_exact"), F.col("_near"))
    return (base.unionByName(ex_leg).unionByName(nr_leg)
            .groupBy(id_col)
            .agg(F.max("_exact").alias("exact_dup"),
                 F.max("_near").alias("near_dup"))
            .withColumn("kept", 1 - F.greatest("exact_dup", "near_dup")))
