"""Bigram language-model quality scoring, fully relational.

The perplexity-style quality filter every production corpus pipeline runs
(CCNet trains a 5-gram KenLM and keeps the low-perplexity tail; Gopher and
friends do the same): train an n-gram LM on the corpus, score every
document by its average token likelihood, and filter/bucket on the score.
This operator trains an add-one-smoothed BIGRAM model over the corpus
itself (or any reference corpus passed in) and scores each document —
entirely with built-in relational operators, no UDFs.

Determinism contract (CLAUDE.md constraint 13): real LM scores are sums of
float log-probabilities, whose partial-aggregation order is not run-stable
and whose libm `ln` is not bit-portable across engines.  Scores here stay
in INTEGER space instead: each bigram contributes its smoothed conditional
probability in ppm,

    ppm(w1 w2) = ((c(w1 w2) + 1) * 1_000_000) div (c(w1 ·) + V)

(add-one smoothing over a vocabulary of V distinct tokens), and a document
scores (sum_ppm, avg_ppm = sum_ppm div n_bigrams).  Integer addition is
associative, so the score is run-stable under native partial aggregation
and bit-identical across engines — the ranking it induces is the same
monotone quality signal the log-space score gives per bigram.

Scale design (100 TB):
- bigram extraction is ONE explode per doc (size-1 bigrams from the token
  array; no self-join, no per-position window);
- model training is one map-side-combining hash aggregate over bigrams
  (vocab²-bounded output) + one over its w1 prefix (vocab-bounded) — the
  classic partial-agg shrink: map tasks emit at most |local vocab²| rows;
- scoring joins the corpus bigrams with the two count tables on their
  natural keys — plain shuffle hash joins, and AQE broadcasts the count
  tables when the vocabulary is small (the common case: token vocab ≪
  corpus);
- the per-doc rollup is one more hash aggregate on doc_id.
Total: two corpus-sized shuffles (bigram counts, doc rollup) + the join,
over THREE corpus scans (score bigrams, model bigrams, vocab count) — the
c12 table is localCheckpointed so the context-count rollup reads the
materialized vocab²-bounded table instead of re-scanning the corpus (see
``lm_score``).

Reference parity: the reference engine has no LM scorer; this extends its
F2 class-filter family to the LLM-pipeline tier (SURVEY.md §2 extension
batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens

#: probability scale: scores are ppm (parts-per-million) integers
LM_PPM = 1_000_000


def doc_bigrams(df: DataFrame, text_col: str, out: str = "bg") -> DataFrame:
    """Adjacent-token bigrams as 'w1 w2' strings, exploded (keeps other
    columns).  Documents with fewer than two tokens produce no bigrams and
    are excluded up front."""
    return (df
            .filter(F.col(text_col).isNotNull())
            .withColumn("_toks", F.split(F.col(text_col), " "))
            .filter(F.size("_toks") >= 2)
            .withColumn(out, F.explode(F.expr(
                "transform(sequence(0, size(_toks) - 2),"
                " i -> array_join(slice(_toks, i + 1, 2), ' '))")))
            .drop("_toks"))


def lm_score(df: DataFrame, text_col: str, id_col: str,
             train_df: DataFrame | None = None,
             model_path: str | None = None) -> DataFrame:
    """(id, n_bigrams, sum_ppm, avg_ppm) per document: add-one-smoothed
    bigram likelihood in exact integer ppm (see module docstring).

    ``train_df`` optionally supplies a separate training corpus (same
    text column); by default the model is trained on ``df`` itself —
    the CCNet self-scoring setup.

    The bigram-count table is localCheckpointed after it is built: without
    the cut, Catalyst recomputes the whole c12 subtree
    (scan + explode + agg) a second time to derive the context counts —
    the plan audit showed 4 corpus scans where 3 suffice, and at 100 TB
    the extra scan dominates.  The count table itself is vocab²-bounded
    (≪ corpus), so materializing it is the cheap side of the trade.
    Values are unchanged (the checkpoint only cuts lineage).

    ``model_path`` (VERDICT r5 #5 / TODO_r6 #9) swaps the in-memory
    checkpoint for a PARQUET model sink + scan: the c12 table is written
    to ``model_path`` and read back, so vocab²-heavy corpora spill to
    durable storage instead of executor block-manager memory, the model
    survives executor loss, and downstream scoring reads a column-pruned
    parquet scan.  Same values (the sink only cuts lineage)."""
    train = train_df if train_df is not None else df
    train_bg = doc_bigrams(train.select(text_col), text_col)
    c12 = train_bg.groupBy("bg").agg(F.count("*").alias("c12"))
    if model_path is not None:
        c12.write.mode("overwrite").parquet(model_path)
        c12 = df.sparkSession.read.parquet(model_path)
    else:
        # dedup: 2 consumers (the context counts and the bigram scores).
        # Uncut, the plan scans the corpus 4 times against 3 with the cut
        # (one in this job): the c1 rollup fuses into a second c12
        # aggregate whose exchange is not reused (sf0.1, AQE on and off)
        c12 = c12.localCheckpoint(eager=True)
    # context counts c(w1 ·) roll up from the bigram table (vocab-sized
    # input — never a second corpus pass)
    c1 = (c12.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
          .agg(F.sum("c12").alias("c1")))
    vocab = (tokens(train.filter(F.col(text_col).isNotNull())
                    .select(text_col), text_col)
             .agg(F.countDistinct("tok").alias("V")))
    # LEFT joins (ADVICE r5): when train_df is a separate corpus, bigrams
    # (or contexts) unseen in training must receive the documented add-one
    # mass ppm = 1e6 div (0 + V), not be dropped — an inner join silently
    # undercounted n_bigrams and inflated avg_ppm for exactly the
    # out-of-domain docs the scorer exists to flag.  Self-train is
    # unaffected (every doc bigram exists in its own model, so the
    # coalesce never fires and the r1-r5 oracle values are unchanged).
    scored = (doc_bigrams(df.select(id_col, text_col), text_col)
              .select(id_col, "bg",
                      F.substring_index("bg", " ", 1).alias("w1"))
              .join(c12, "bg", "left")
              .join(c1, "w1", "left")
              .crossJoin(F.broadcast(vocab))
              .withColumn("ppm", F.expr(
                  f"((coalesce(c12, 0) + 1) * {LM_PPM})"
                  " div (coalesce(c1, 0) + V)")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("ppm").alias("sum_ppm"))
            .withColumn("avg_ppm", F.expr("sum_ppm div n_bigrams")))


def lm_score_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of self-trained lm_score (shared-snippet rule): identical
    integer arithmetic, `//` for Spark's `div`, bigram CTEs MATERIALIZED so
    the exploded form is computed once (constraint-7 family).  Unseen
    bigrams/contexts take the add-one mass via LEFT JOIN + COALESCE,
    mirroring the Spark side."""
    return f"""
    WITH d AS (SELECT {id_col}, string_split({text_col}, ' ') AS t
               FROM {table}
               WHERE {text_col} IS NOT NULL
                 AND len(string_split({text_col}, ' ')) >= 2),
    bg AS MATERIALIZED (
        SELECT {id_col},
               unnest(list_transform(range(len(t) - 1),
                      i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')))
               AS bg
        FROM d),
    tbg AS MATERIALIZED (
        SELECT unnest(list_transform(range(len(t) - 1),
                      i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')))
               AS bg
        FROM (SELECT string_split({text_col}, ' ') AS t
              FROM {table}
              WHERE {text_col} IS NOT NULL
                AND len(string_split({text_col}, ' ')) >= 2 )),
    c12 AS MATERIALIZED (SELECT bg, count(*) AS c12 FROM tbg GROUP BY bg),
    c1 AS MATERIALIZED (
        SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        FROM c12 GROUP BY 1),
    vocab AS (SELECT count(DISTINCT tok) AS V FROM (
        SELECT unnest(string_split({text_col}, ' ')) AS tok
        FROM {table} WHERE {text_col} IS NOT NULL )),
    scored AS (
        SELECT b.{id_col},
               ((COALESCE(c.c12, 0) + 1) * {LM_PPM})
                 // (COALESCE(x.c1, 0) + v.V) AS ppm
        FROM bg b
        LEFT JOIN c12 c USING (bg)
        LEFT JOIN c1 x ON x.w1 = split_part(b.bg, ' ', 1), vocab v)
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(ppm) AS BIGINT) AS sum_ppm,
           CAST(CAST(sum(ppm) AS BIGINT) // count(*) AS BIGINT) AS avg_ppm
    FROM scored GROUP BY {id_col}
    """
