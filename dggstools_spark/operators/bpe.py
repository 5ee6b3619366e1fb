"""Distributed BPE merge induction — the tokenizer-training loop.

Classic byte-pair encoding (Sennrich et al. 2016, ACL — public
algorithm): start from characters (plus a terminal '</w>' symbol per
word), repeatedly find the most frequent adjacent symbol pair and merge
it, left-to-right non-overlapping.  The scalable formulation is the one
every production trainer uses: ONE corpus pass builds the (word, freq)
table, and all merge rounds run over that VOCABULARY-SIZED table — pair
counts are Σ_word freq · (#adjacent occurrences in word), so the corpus
never gets re-scanned.  At 100 TB the word table is a few million rows
(language vocabulary grows sublinearly) while the corpus is billions of
documents: the rounds cost R shuffles of the small table, not R corpus
scans.

Determinism contract (oracle-exact): the best pair per round is
argmax(pair_count) with ties broken to the lexicographically smallest
(left, right) — byte-wise ASCII comparison, identical in Spark and
DuckDB; merge application is left-to-right non-overlapping, which for a
self-adjacent pair (L = R, e.g. 'aa' in 'aaaa') means selecting the
1st, 3rd, … match of each maximal run of consecutive matches — the
gaps-and-islands selection below, exactly Sennrich's greedy re-scan
semantics expressed relationally.  Everything is integer/string algebra:
the whole result is hash-exact.

Relational shapes per round (CLAUDE.md constraint 12: the relational
explode + window form, never nested higher-order functions; r7 shapes):
- the adjacent-pair column ``_nxt`` = lead(sym) is THREADED through
  every checkpoint, so per-round pair counts are a plain hash
  aggregate over the materialized table (no per-round window shuffle);
- best pair: min(struct(-count, l, r)) — a 1-row driver read (R
  one-row actions — control flow, not a hot-path collect);
- merge application (apply_pair): match flag → running max of
  island-START positions → odd-rank selection → lag-suppress →
  row_number reindex — EVERY window over the same (word, pos)
  partitioning (one Exchange per round; the old island-id form needed
  a second (word, island) partitioning), with the pair applied as
  literals (no broadcast crossJoin);
- train rounds checkpoint eager=False (a lineage cut; AQE still runs
  the round's shuffle stages when the cut is made, and the next round's
  1-row read runs its last stage);
  ``bpe_apply`` chains all R rounds lazily into ONE job.

Reference parity: no counterpart (the reference has no text pipeline);
extends the vocab/oov family (operators/vocab.py) with the actual
subword-induction loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EOW = "</w>"


def word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): whitespace words of lower(text), exact counts —
    the single corpus pass (dedup.tokens rule, lowercased)."""
    return (df.filter(F.col(text_col).isNotNull())
            .select(F.explode(
                F.split(F.lower(F.col(text_col)), " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("freq")))


def init_seq(words: DataFrame) -> DataFrame:
    """(word, freq, pos, sym): character symbols 1..len plus the
    terminal '</w>' symbol at len+1."""
    return (words
            .select("word", "freq", F.explode(F.expr(
                "sequence(1, char_length(word) + 1)")).alias("pos"))
            .withColumn("sym", F.expr(
                f"CASE WHEN pos <= char_length(word)"
                f" THEN substring(word, pos, 1) ELSE '{EOW}' END")))


def _with_nxt(seq: DataFrame) -> DataFrame:
    """Add ``_nxt`` = lead(sym) within the word — the adjacent-pair
    column.  Threaded through every checkpoint (r7 optimization) so the
    per-round best-pair read is a plain hash aggregate over the
    materialized table instead of a fresh window shuffle."""
    from pyspark.sql.window import Window

    wp = Window.partitionBy("word").orderBy("pos")
    return seq.withColumn("_nxt", F.lead("sym").over(wp))


def _best_pair(seq_nxt: DataFrame) -> "list":
    """argmax pair of a (word, freq, pos, sym, _nxt) table — 1-row
    collect (driver control flow, not a hot-path collect)."""
    return (seq_nxt.filter(F.col("_nxt").isNotNull())
            .groupBy("sym", "_nxt")
            .agg(F.sum("freq").alias("c"))
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("sym").alias("l"),
                                F.col("_nxt").alias("r"))).alias("_b"))
            .select(F.col("_b.l").alias("l"), F.col("_b.r").alias("r"),
                    (-F.col("_b.nc")).cast("bigint").alias("pair_count"))
            .collect())


def apply_pair(seq_nxt: DataFrame, left: str, right: str) -> DataFrame:
    """Apply ONE merge (the literal pair ``left``/``right``) to a
    (word, freq, pos, sym, _nxt) table: greedy left-to-right
    non-overlapping rewrite (islands of consecutive matches, odd ranks
    merge), reindexed, with ``_nxt`` recomputed for the next round.

    r7 optimizations (values unchanged, oracle-verified): the pair is a
    literal (no per-round broadcast crossJoin); the odd-rank-in-island
    selection uses a running max of island-START positions over the SAME
    (word, pos) window as every other step — the old
    first(pos) OVER (word, _grp) needed a second hash partitioning,
    i.e. one extra Exchange per round; and the result is LAZY (callers
    choose where to cut lineage)."""
    from pyspark.sql.window import Window

    wp = Window.partitionBy("word").orderBy("pos")
    run = wp.rowsBetween(Window.unboundedPreceding, 0)
    merged = (seq_nxt
              .withColumn("_m", F.coalesce(
                  (F.col("sym") == F.lit(left))
                  & (F.col("_nxt") == F.lit(right)),
                  F.lit(False)).cast("int"))
              # island start = a match not preceded by a match; the
              # running max of start positions is the CURRENT island's
              # start, so (pos - start) % 2 = 0 selects the odd ranks —
              # exactly first(pos) over (word, island) without the
              # second hash partitioning
              .withColumn("_pm", F.coalesce(
                  F.lag("_m").over(wp), F.lit(0)))
              .withColumn("_lsp", F.max(F.expr(
                  "CASE WHEN _m = 1 AND _pm = 0 THEN pos END"))
                  .over(run))
              .withColumn("_sel", F.expr(
                  "_m = 1 AND (pos - _lsp) % 2 = 0"))
              .withColumn("_psel", F.lag("_sel").over(wp))
              .filter(~F.coalesce("_psel", F.lit(False)))
              .select("word", "freq", "pos",
                      F.expr("CASE WHEN _sel THEN concat(sym, _nxt)"
                             " ELSE sym END").alias("sym")))
    reindexed = merged.withColumn("pos", F.row_number().over(
        Window.partitionBy("word").orderBy("pos")).cast("bigint"))
    return _with_nxt(reindexed)


def bpe_apply(new_df: DataFrame, text_col: str,
              merges: DataFrame) -> DataFrame:
    """Tokenize NEW text under already-learned merges: apply every
    (round-ordered) merge pair to the new corpus's word table with the
    identical greedy rewrite — the runtime tokenizer.  Returns the final
    (word, freq, pos, sym) symbolization.  ``merges`` is the
    vocabulary-sized learned table (driver-local by construction); the
    whole R-round rewrite chain is LAZY — every round repartitions by
    the same word key, so the chain runs as ONE job with a single
    Exchange followed by R in-partition sort+window cascades (r7: the
    old per-round eager localCheckpoint issued R blocking jobs)."""
    seq = _with_nxt(init_seq(word_table(new_df, text_col)))
    for row in merges.orderBy("round").collect():
        seq = apply_pair(seq, row.left, row.right)
    return seq.drop("_nxt")


def bpe_train(df: DataFrame, text_col: str,
              rounds: int) -> "tuple[DataFrame, DataFrame]":
    """Learn ``rounds`` BPE merges from lower(text) whitespace words.

    Returns (merges, seq): merges = (round, left, right, pair_count)
    with round 1..rounds; seq = the final (word, freq, pos, sym)
    symbolization of every word under those merges.  Raises if the
    corpus runs out of adjacent pairs before ``rounds`` merges (fix the
    config, don't silently under-train).

    Per round: one 1-row aggregate read of the checkpointed table (the
    argmax is driver control flow — inherent to exact BPE) and one
    window-cascade job materializing the rewritten table."""
    if rounds < 1:
        raise ValueError(f"bpe_train: rounds must be >= 1, got {rounds}")
    spark = df.sparkSession
    # dedup: 2 consumers (round 1's best-pair read and its rewrite)
    seq = _with_nxt(init_seq(word_table(df, text_col))) \
        .localCheckpoint(eager=False)
    rows = []
    for rnd in range(1, rounds + 1):
        b = _best_pair(seq)
        # a global agg over zero pair rows yields one all-NULL row
        if not b or b[0].l is None:
            raise ValueError(
                f"bpe_train: no adjacent pairs left at round {rnd}")
        rows.append((rnd, b[0].l, b[0].r, b[0].pair_count))
        # fixpoint round: the rewrite ends the round.  eager=False: AQE
        # runs the rewrite's shuffle stages at the cut, and the next
        # round's 1-row best-pair read (or the caller's action) runs
        # its last stage
        seq = apply_pair(seq, b[0].l, b[0].r) \
            .localCheckpoint(eager=False)
    merges = spark.createDataFrame(
        rows, "round int, left string, right string, pair_count bigint")
    return merges, seq.drop("_nxt")


# --------------------------------------------------------------------------
# DuckDB twins: the same construction as an unrolled MATERIALIZED CTE
# chain (CLAUDE.md constraints 7/14 — every level materialized, best
# pair per round included).
# --------------------------------------------------------------------------


def word_table_sql(table: str, text_col: str) -> str:
    return (f"SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ("
            f"SELECT unnest(string_split(lower({text_col}), ' ')) AS word"
            f" FROM {table} WHERE {text_col} IS NOT NULL)"
            f" WHERE word <> '' GROUP BY word")


def bpe_ctes(words_sql: str, rounds: int) -> str:
    """CTE chain ending in ``mrg`` (round, left, right, pair_count) and
    ``seq{rounds}`` (word, freq, pos, sym) — the twin of
    :func:`bpe_train` over ``words_sql`` → (word, freq)."""
    if rounds < 1:
        raise ValueError(f"bpe_ctes: rounds must be >= 1, got {rounds}")
    parts = [f"_w AS MATERIALIZED ({words_sql})",
             init_seq_sql("_w", "seq0")]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""_pr{i} AS MATERIALIZED (
        SELECT sym, _nxt, CAST(sum(freq) AS BIGINT) AS c
        FROM (SELECT sym, freq, lead(sym) OVER (
                  PARTITION BY word ORDER BY pos) AS _nxt
              FROM seq{p})
        WHERE _nxt IS NOT NULL GROUP BY sym, _nxt)""")
        parts.append(f"""_bc{i} AS MATERIALIZED (
        SELECT sym AS l, _nxt AS r, c AS pair_count
        FROM _pr{i} ORDER BY c DESC, sym, _nxt LIMIT 1)""")
        parts.extend(_rewrite_cte_parts(f"seq{p}", f"seq{i}",
                                        f"_bc{i}", f"_t{i}"))
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS round, l AS left, r AS right,"
        f" pair_count FROM _bc{i}" for i in range(1, rounds + 1))
    parts.append(f"mrg AS MATERIALIZED ({union})")
    return ",\n".join(parts)


def _rewrite_cte_parts(src: str, dst: str, bc: str,
                       tag: str) -> "list[str]":
    """Three MATERIALIZED CTE levels rewriting ``src`` → ``dst`` under
    the pair in 1-row CTE ``bc`` (l, r) — the greedy-application twin of
    :func:`apply_pair`; ``tag`` uniquifies the intermediate names."""
    return [f"""{tag}mk AS MATERIALIZED (
        SELECT word, freq, pos, sym, _nxt, _m,
               CASE WHEN _m = 1 THEN pos - sum(_m) OVER (
                   PARTITION BY word ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   ELSE NULL END AS _grp
        FROM (SELECT word, freq, pos, sym, _nxt,
                     CAST(coalesce(sym = (SELECT l FROM {bc})
                          AND _nxt = (SELECT r FROM {bc}), FALSE)
                          AS INT) AS _m
              FROM (SELECT word, freq, pos, sym,
                           lead(sym) OVER (
                               PARTITION BY word ORDER BY pos) AS _nxt
                    FROM {src})))""",
            f"""{tag}sel AS MATERIALIZED (
        SELECT word, freq, pos, sym, _nxt,
               coalesce(_m = 1 AND (pos - first_value(pos) OVER (
                   PARTITION BY word, _grp ORDER BY pos)) % 2 = 0,
                   FALSE) AS _sel
        FROM {tag}mk)""",
            f"""{dst} AS MATERIALIZED (
        SELECT word, freq,
               CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
                    AS BIGINT) AS pos,
               CASE WHEN _sel THEN sym || _nxt ELSE sym END AS sym
        FROM (SELECT *, lag(_sel) OVER (
                  PARTITION BY word ORDER BY pos) AS _psel
              FROM {tag}sel)
        WHERE NOT coalesce(_psel, FALSE))"""]


def init_seq_sql(words_cte: str, out: str) -> str:
    """One MATERIALIZED CTE: char+'</w>' symbolization of ``words_cte``
    (word, freq) as ``out`` (word, freq, pos, sym)."""
    return f"""{out} AS MATERIALIZED (
        SELECT word, freq, CAST(p AS BIGINT) AS pos,
               CASE WHEN p <= length(word)
                    THEN substring(word, CAST(p AS INT), 1)
                    ELSE '{EOW}' END AS sym
        FROM (SELECT word, freq,
                     unnest(generate_series(1, length(word) + 1)) AS p
              FROM {words_cte}))"""


def bpe_apply_ctes(new_words_sql: str, rounds: int) -> str:
    """CTE chain APPLYING already-learned merges to a new corpus —
    assumes the training chain (:func:`bpe_ctes`) precedes it in the
    same WITH so the per-round pair CTEs ``_bc{{i}}`` exist.  Ends in
    ``app{rounds}`` (word, freq, pos, sym) plus ``_nw`` (the new word
    table) — the twin of :func:`bpe_apply`."""
    if rounds < 1:
        raise ValueError(
            f"bpe_apply_ctes: rounds must be >= 1, got {rounds}")
    parts = [f"_nw AS MATERIALIZED ({new_words_sql})",
             init_seq_sql("_nw", "app0")]
    for i in range(1, rounds + 1):
        parts.extend(_rewrite_cte_parts(f"app{i - 1}", f"app{i}",
                                        f"_bc{i}", f"_a{i}"))
    return ",\n".join(parts)
