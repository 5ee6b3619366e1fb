"""Deterministic HyperLogLog distinct-count sketch — engine-exact.

Cardinality estimation is the bounded-memory workhorse of 100 TB
profiling (how many distinct documents / urls / users per slice, without
a count-distinct shuffle of the full key set).  Spark's built-in
approx_count_distinct is a black-box HLL whose value depends on the
implementation; this operator builds HLL from first principles out of
relational algebra so the SAME construction runs on both engines and the
estimate is oracle-checkable bit-for-bit:

- 32-bit hash: the engine-portable md5 hex prefix (dedup/dsir idiom);
- bucket = top B bits, v = low (32−B) bits, rho = leading-zero rank of v
  via ``length(bin(v))`` — VERIFIED identical minimal-binary semantics on
  Spark and DuckDB (bin(0) = '0', no leading zeros);
- registers: one (class, bucket) max-aggregate — map-side combining,
  state is at most m = 2**B rows per class (the whole point);
- the harmonic sum is held EXACTLY as Σ 2^(rmax − reg) in BIGINT (powers
  of two, no float accumulation — CLAUDE.md constraint 13), so the only
  float op is one literal-constant division C / S per class (identical
  IEEE inputs → identical double) and the standard small-range linear
  counting branch reads a PYTHON-PRECOMPUTED integer table (m·ln(m/V)
  evaluated once at plan-build time and emitted as a literal array into
  both engines — no cross-engine libm exposure, constraint-17-proof);
- bias constant α_m and the 2.5·m branch threshold follow Flajolet et
  al. 2007.  The 32-bit long-range correction is omitted (documented:
  estimates are for per-slice cardinalities ≪ 2^32).

Scale design (100 TB): one scan, one (class, bucket) aggregate whose
combine state is m integers per class, one m-row-per-class rollup.  The
exact count-distinct the driver query carries NEXT to the estimate (to
report err_ppm) is the expensive yardstick — production callers drop it.

Reference parity: no counterpart; extends the profiling family
(corpus_stats / dup_profile) with the sketch shape next to bottom-k
Jaccard (dedup.ngram_sampled) and MinHash.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions.encode_sql import double_sql

HLL_B = 8                      #: bucket bits; m = 256 registers
HLL_M = 1 << HLL_B
_REM_BITS = 32 - HLL_B          #: bits in v
_RMAX = _REM_BITS + 1           #: max rho (v == 0)
#: Flajolet alpha for m >= 128
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: scaled numerator: alpha * m^2 * 2^rmax (one Python double, emitted as
#: the same literal into both engines)
_C = HLL_ALPHA * HLL_M * HLL_M * float(1 << _RMAX)
#: linear-counting table: V zero registers -> round(m * ln(m / V))
_LIN = [0] + [round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]


def _est_sql() -> str:
    """Estimate from (_s, _v0) — shared emitter (the numerator constant
    is written by ``double_sql``, CLAUDE.md constraint 8: a bare wide
    decimal literal overflows DuckDB's DECIMAL typing)."""
    lin = ", ".join(str(x) for x in _LIN[1:])
    c = double_sql(_C)
    return (f"CAST(CASE WHEN {c} / _s <= {2.5 * HLL_M!r} AND _v0 > 0"
            f" THEN element_at(array({lin}), CAST(_v0 AS INT))"
            f" ELSE round({c} / _s) END AS BIGINT)")


def hll_distinct(df: DataFrame, class_col: str, key_col: str) -> DataFrame:
    """(class, hll_est): HLL cardinality estimate of ``key_col`` per
    class (see module docstring).  Join the exact count next to it only
    when you can afford the count-distinct shuffle."""
    h32 = (f"CAST(conv(substring(md5({key_col}), 1, 8), 16, 10)"
           f" AS BIGINT)")
    two = 1 << _REM_BITS
    regs = (df
            .select(class_col, F.expr(h32).alias("_h"))
            .withColumn("_b", F.expr(f"_h div {two}"))
            .withColumn("_v", F.expr(f"_h % {two}"))
            .withColumn("_rho", F.expr(
                f"CASE WHEN _v = 0 THEN {_RMAX}"
                f" ELSE {_RMAX} - length(bin(_v)) END"))
            .groupBy(class_col, "_b")
            .agg(F.max("_rho").alias("_reg")))
    per = (regs.groupBy(class_col)
           .agg(F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                             f" {_RMAX} - _reg)")).alias("_sp"),
                F.count("*").alias("_nb"))
           .withColumn("_v0", F.expr(f"{HLL_M} - _nb"))
           # absent buckets contribute 2^-0 = 1 each to the harmonic sum,
           # i.e. 2^rmax each to the scaled integer sum
           .withColumn("_s", F.expr(
               f"CAST(_sp + _v0 * {1 << _RMAX} AS DOUBLE)")))
    return per.select(class_col,
                      F.expr(_est_sql()).alias("hll_est"))


def hll_distinct_sql(source_sql: str, class_col: str,
                     key_col: str) -> str:
    """DuckDB twin of :func:`hll_distinct` (same hash, same registers,
    same literal constants and linear-counting table).  ``source_sql``
    is a table name or a parenthesized subquery (the
    duckdb_lonlat_select convention)."""
    hex8 = " + ".join(
        f"(instr('0123456789abcdef', substring(_m, {1 + i}, 1)) - 1)"
        f" * {16 ** (7 - i)}" for i in range(8))
    two = 1 << _REM_BITS
    est = _est_sql().replace("element_at(array(", "list_extract([") \
        .replace("), CAST(_v0 AS INT))", "], CAST(_v0 AS INT))")
    return f"""
    WITH h AS (
        SELECT {class_col}, CAST({hex8} AS BIGINT) AS _h
        FROM (SELECT {class_col}, md5({key_col}) AS _m
              FROM {source_sql})),
    regs AS (
        SELECT {class_col}, _h // {two} AS _b,
               max(CASE WHEN _h % {two} = 0 THEN {_RMAX}
                        ELSE {_RMAX} - length(bin(_h % {two}))
                   END) AS _reg
        FROM h GROUP BY {class_col}, _h // {two}),
    per AS (
        SELECT {class_col},
               CAST(sum(CAST(1 AS BIGINT) << ({_RMAX} - _reg))
                    + ({HLL_M} - count(*)) * {1 << _RMAX} AS DOUBLE) AS _s,
               {HLL_M} - count(*) AS _v0
        FROM regs GROUP BY {class_col})
    SELECT {class_col}, {est} AS hll_est FROM per
    """


def hll_registers(df: DataFrame, class_col: str,
                  key_col: str) -> DataFrame:
    """(class, _b, _reg): the raw register frame — the MERGEABLE form of
    the sketch.  Registers from disjoint scans (snapshots, partitions,
    days) union + max-merge into the same estimate one combined scan
    would produce (max is associative/commutative/idempotent), which is
    the incremental production path: persist m rows per (class, epoch)
    and never rescan history."""
    h32 = (f"CAST(conv(substring(md5({key_col}), 1, 8), 16, 10)"
           f" AS BIGINT)")
    two = 1 << _REM_BITS
    return (df
            .select(class_col, F.expr(h32).alias("_h"))
            .withColumn("_b", F.expr(f"_h div {two}"))
            .withColumn("_rho", F.expr(
                f"CASE WHEN _h % {two} = 0 THEN {_RMAX}"
                f" ELSE {_RMAX} - length(bin(_h % {two})) END"))
            .groupBy(class_col, "_b")
            .agg(F.max("_rho").alias("_reg")))


def hll_merge_estimate(regs: DataFrame, class_col: str) -> DataFrame:
    """(class, hll_est) from a (possibly unioned) register frame —
    max-merges duplicate (class, bucket) rows first, then applies the
    identical estimator as :func:`hll_distinct`."""
    per = (regs.groupBy(class_col, "_b")
           .agg(F.max("_reg").alias("_reg"))
           .groupBy(class_col)
           .agg(F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                             f" {_RMAX} - _reg)")).alias("_sp"),
                F.count("*").alias("_nb"))
           .withColumn("_v0", F.expr(f"{HLL_M} - _nb"))
           .withColumn("_s", F.expr(
               f"CAST(_sp + _v0 * {1 << _RMAX} AS DOUBLE)")))
    return per.select(class_col, F.expr(_est_sql()).alias("hll_est"))


# --------------------------------------------------------------------------
# Bloom filter — the broadcast pre-filter for 100 TB anti-joins: build a
# BITS-bit filter (BITS/64 BIGINT words, kilobytes) from corpus A's keys,
# broadcast it, and drop the provably-absent rows of corpus B WITHOUT
# shuffling either corpus; only the "maybe present" survivors reach the
# exact join.  Engine-exact: K hash positions come from disjoint md5 hex
# slices (the established portable hash idiom), words are bit_or
# aggregates of shifted bits — integer, associative, run-stable; the
# probe is K word lookups + bit tests.  False positives are one-sided
# (never drops a true member) at the standard (1 − e^(−K·n/BITS))^K rate.
# --------------------------------------------------------------------------

BLOOM_BITS = 1 << 17   #: filter size (128 Kbit = 2048 words)
BLOOM_K = 4            #: hash count (md5 yields 4 disjoint 8-hex slices)


def _pos_spark(key: str, i: int, bits: int) -> str:
    return (f"CAST(conv(substring(md5({key}), {1 + 8 * i}, 8), 16, 10)"
            f" AS BIGINT) % {bits}")


def _pos_duckdb(mcol: str, i: int, bits: int) -> str:
    fold = " + ".join(
        f"(instr('0123456789abcdef', substring({mcol}, {1 + 8 * i + j}, 1))"
        f" - 1) * {16 ** (7 - j)}" for j in range(8))
    return f"CAST({fold} AS BIGINT) % {bits}"


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """(word_idx, word): the filter as BIGINT words — broadcast this."""
    pos = "explode(array(" + ", ".join(
        _pos_spark(key_col, i, BLOOM_BITS) for i in range(BLOOM_K)) + "))"
    return (df.select(F.expr(pos).alias("_p"))
            .select(F.expr("_p div 63").alias("word_idx"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(_p % 63 AS INT))").alias("_b"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(_b)").alias("word")))


def bloom_probe(df: DataFrame, filt: DataFrame, key_col: str) -> DataFrame:
    """``df`` plus ``maybe`` (1 = possibly in the built set, 0 = provably
    absent).  One K-way position explode + a broadcast equi-join on
    word_idx + an all-bits-set aggregate keyed on every original column
    — no shuffle of ``df`` beyond that agg.  Input rows must be unique
    (probe distinct keys, or add a row id first)."""
    pos = "explode(array(" + ", ".join(
        _pos_spark(key_col, i, BLOOM_BITS) for i in range(BLOOM_K)) + "))"
    cols = df.columns
    probed = (df
              .withColumn("_p", F.expr(pos))
              .withColumn("word_idx", F.expr("_p div 63"))
              .join(F.broadcast(filt), "word_idx", "left")
              .withColumn("_hit", F.expr(
                  "CAST(coalesce((shiftright(word,"
                  " CAST(_p % 63 AS INT)) & 1) = 1, false) AS INT)")))
    return (probed.groupBy(*cols)
            .agg(F.min("_hit").alias("maybe")))


def bloom_report_sql(a_keys_sql: str, b_keys_sql: str) -> str:
    """DuckDB twin of build+probe+report over key subqueries ``a``/``b``
    (each yielding a column ``key``): one row (n_probes, n_pass, n_true,
    false_pos, fpr_ppm)."""
    apos = " UNION ALL ".join(
        f"SELECT {_pos_duckdb('_m', i, BLOOM_BITS)} AS _p FROM am"
        for i in range(BLOOM_K))
    bpos = ", ".join(_pos_duckdb("_m", i, BLOOM_BITS) for i in range(BLOOM_K))
    hit = " + ".join(
        f"(SELECT CAST(coalesce((w.word >> CAST(_p{i} % 63 AS INT))"
        f" & 1 = 1, FALSE) AS INT) FROM words w"
        f" WHERE w.word_idx = _p{i} // 63)" for i in range(BLOOM_K))
    pcols = ", ".join(f"_ps[{i + 1}] AS _p{i}" for i in range(BLOOM_K))
    return f"""
    WITH am AS MATERIALIZED (SELECT md5(key) AS _m FROM ({a_keys_sql})),
    bm AS MATERIALIZED (SELECT key, md5(key) AS _m FROM ({b_keys_sql})),
    words AS MATERIALIZED (
        SELECT _p // 63 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(_p % 63 AS INT)) AS word
        FROM ({apos}) GROUP BY _p // 63),
    bp AS MATERIALIZED (
        SELECT key, {pcols} FROM (
            SELECT key, [{bpos}] AS _ps FROM bm)),
    probed AS MATERIALIZED (
        SELECT key, CASE WHEN {hit} = {BLOOM_K} THEN 1 ELSE 0 END AS maybe
        FROM bp),
    tru AS (SELECT DISTINCT b.key FROM ({b_keys_sql}) b
            JOIN ({a_keys_sql}) a USING (key))
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(maybe) AS BIGINT) AS n_pass,
           CAST(count(t.key) AS BIGINT) AS n_true,
           CAST(sum(maybe) - count(t.key) AS BIGINT) AS false_pos,
           CAST((sum(maybe) - count(t.key)) * 1000000
                // count(*) AS BIGINT) AS fpr_ppm
    FROM probed p LEFT JOIN tru t ON t.key = p.key
    """


# --------------------------------------------------------------------------
# Count-min sketch — bounded-memory frequency estimation (heavy hitters
# at 100 TB without retaining the full key dictionary): D hash rows ×
# W buckets of BIGINT counts (D·W integers total); every key increments
# one bucket per row, the estimate is the MIN over its D buckets — a
# one-sided OVER-estimate (collisions only add).  Same md5-slice hash
# family as the Bloom filter; counts are integer aggregates, so the
# whole sketch and every estimate is run-stable and engine-exact.
# --------------------------------------------------------------------------

CM_W = 8192   #: buckets per row
CM_D = 4      #: hash rows (md5 yields 4 disjoint slices)


def cm_build(df: DataFrame, key_col: str) -> DataFrame:
    """(row_i, bucket, cnt): the sketch — one D-way explode + one hash
    aggregate with D·W combine state."""
    rows = ", ".join(
        f"struct({i} AS row_i, {_pos_spark(key_col, i, CM_W)} AS bucket)"
        for i in range(CM_D))
    return (df.select(F.expr(f"explode(array({rows}))").alias("_rb"))
            .groupBy(F.col("_rb.row_i").alias("row_i"),
                     F.col("_rb.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt")))


def cm_estimate(probes: DataFrame, sketch: DataFrame,
                key_col: str) -> DataFrame:
    """``probes`` plus ``cm_est`` (>= the key's true multiplicity).  D
    broadcast-joined bucket lookups + a min aggregate keyed on the probe
    columns (probe rows must be unique)."""
    rows = ", ".join(
        f"struct({i} AS row_i, {_pos_spark(key_col, i, CM_W)} AS bucket)"
        for i in range(CM_D))
    cols = probes.columns
    return (probes
            .withColumn("_rb", F.expr(f"explode(array({rows}))"))
            .select(*cols, F.col("_rb.row_i").alias("row_i"),
                    F.col("_rb.bucket").alias("bucket"))
            .join(F.broadcast(sketch), ["row_i", "bucket"], "left")
            .groupBy(*cols)
            .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_est")))


def cm_report_sql(keys_sql: str, probes_sql: str) -> str:
    """DuckDB twin: build over ``keys_sql`` (column ``key``), estimate
    for ``probes_sql`` (column ``key``, unique rows) → (key, cm_est)."""
    kpos = " UNION ALL ".join(
        f"SELECT {_pos_duckdb('_m', i, CM_W)} AS bucket, {i} AS row_i"
        f" FROM km" for i in range(CM_D))
    ppos = " UNION ALL ".join(
        f"SELECT key, {_pos_duckdb('_m', i, CM_W)} AS bucket, {i} AS row_i"
        f" FROM pm" for i in range(CM_D))
    return f"""
    km AS MATERIALIZED (SELECT md5(key) AS _m FROM ({keys_sql})),
    pm AS MATERIALIZED (SELECT key, md5(key) AS _m FROM ({probes_sql})),
    cms AS MATERIALIZED (
        SELECT row_i, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM ({kpos}) GROUP BY row_i, bucket),
    cme AS (
        SELECT p.key, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cm_est
        FROM ({ppos}) p LEFT JOIN cms s USING (row_i, bucket)
        GROUP BY p.key)
    """
