"""Text-analysis primitives for the training-data pipeline, as portable SQL
snippets (identical semantics in Spark and DuckDB — the same text is used by
the queries and by the DuckDB oracle).

Only replace/length/lower/trim/md5/CASE arithmetic is used: no regex (engine
dialects differ) and no Python in the hot path."""

from __future__ import annotations


def occurrences(text: str, needle: str) -> str:
    """# of occurrences of a literal needle."""
    esc = needle.replace("'", "''")
    return (f"CAST((length({text}) - length(replace({text}, '{esc}', '')))"
            f" / {len(needle)} AS INT)")


def token_count(text: str) -> str:
    """Whitespace token count (single-space convention of the synthetic corpus)."""
    return (f"CASE WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE length(trim({text})) - length(replace(trim({text}), ' ', '')) + 1 END")


def _quality_q20(text: str, idiv: str) -> str:
    """EXACT-INTEGER quality score in q20 fixed point (0..~2^20): a
    length/stopword/punctuation heuristic with floor-quantized weights —
    least(toks,64)*8192 + least(stop,8)*39321 + least(punct*4*2^20 div
    len, 209715).  Pure integer arithmetic end to end, so the value is
    bit-identical across engines and safe to hash/rank/argmax.

    It replaced a float score rounded with round(x, 6), which is NOT
    engine-portable at exact .xxxxxx5 boundaries (CLAUDE.md constraint
    17, found by the sf1 cluster_keep gate: Spark rounds the shortest
    decimal representation HALF_UP, DuckDB rounds the binary double — 210
    of 50k docs differed by 1e-6).

    Integer division is the one dialect split (Spark ``div`` vs DuckDB
    ``//``), so callers use quality_q20_spark / quality_q20_duckdb."""
    toks = token_count(text)
    stop = " + ".join(occurrences(f"lower({text})", f" {w} ")
                      for w in ("the", "and", "of", "a", "in"))
    punct = " + ".join(occurrences(text, p) for p in (".", ",", "!", "?", ";"))
    return (f"(least(CAST({toks} AS BIGINT), 64) * 8192"
            f" + least(CAST({stop} AS BIGINT), 8) * 39321"
            f" + least((CAST({punct} AS BIGINT) * 4194304)"
            f" {idiv} greatest(length({text}), 1), 209715))")


def quality_q20_spark(text: str) -> str:
    return _quality_q20(text, "div")


def quality_q20_duckdb(text: str) -> str:
    return _quality_q20(text, "//")


LANG_MARKERS = {
    "en": (" the ", " and ", " is "),
    "es": (" el ", " la ", " que "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " les "),
}


def lang_score(text: str, lang: str) -> str:
    return " + ".join(occurrences(f"lower({text})", m) for m in LANG_MARKERS[lang])


def lang_id(text: str) -> str:
    """argmax over marker-stopword hit counts; 'und' (undetermined) when all 0."""
    scores = {lang: lang_score(text, lang) for lang in LANG_MARKERS}
    pairs = ", ".join(scores.values())
    best = f"greatest({pairs})"
    branches = " ".join(
        f"WHEN ({scores[lang]}) = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {branches} END"


def fingerprint(text: str) -> str:
    """Document fingerprint: md5 of the lower-cased, trimmed text (portable)."""
    return f"md5(lower(trim({text})))"


BPE_PIECE_PATTERN = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"


def token_count_bpe_spark(text: str) -> str:
    """Spark SQL: subword-ish token count — letter pieces of <= 4 chars,
    single digits, single punctuation marks (a deterministic BPE-inflation
    proxy; greedy leftmost matching gives identical piece counts in any
    regex engine for this pattern class)."""
    return f"size(regexp_extract_all({text}, '{BPE_PIECE_PATTERN}', 0))"


def token_count_bpe_duckdb(text: str) -> str:
    """DuckDB twin of token_count_bpe_spark."""
    return f"len(regexp_extract_all({text}, '{BPE_PIECE_PATTERN}'))"


# --------------------------------------------------------------------------
# Winnowing fingerprints (rolling k-gram hash + sliding-window minima —
# the MOSS scheme): the content-defined sibling of the md5 whole-doc
# fingerprint above.  Two docs sharing a long-enough substring share at
# least one fingerprint, so a distinct-fingerprint equi-join finds
# copied passages without any all-pairs comparison.
# --------------------------------------------------------------------------

WINNOW_K = 5       # k-gram length (chars)
WINNOW_W = 4       # winnowing window (hashes)
WINNOW_B = 257     # polynomial base
WINNOW_P = 1_000_003  # modulus (intermediates stay far below int64)


def _horner(text: str, pos: str) -> str:
    """Engine-neutral unrolled polynomial hash (base WINNOW_B, mod
    WINNOW_P after every step) of the WINNOW_K chars of ``text`` starting
    at 1-based position ``pos``."""
    expr = f"CAST(ascii(substring({text}, {pos}, 1)) AS BIGINT)"
    for j in range(1, WINNOW_K):
        expr = (f"(({expr}) * {WINNOW_B}"
                f" + ascii(substring({text}, ({pos}) + {j}, 1)))"
                f" % {WINNOW_P}")
    return expr


# NOTE: no Spark array-dialect twin on purpose — a nested-HOF form
# (transform-inside-transform with the hashes array textually repeated)
# measured >180 s for 500 short rows (Catalyst/codegen pathology, the
# CLAUDE.md constraint-2 disease class).  The Spark side is RELATIONAL
# instead: operators/dedup.winnow_fingerprints explodes positions, hashes
# each k-gram with the flat _horner expression, and takes window minima —
# same fingerprint set, plan-friendly.


def winnow_hashes_duckdb(text: str) -> str:
    """DuckDB: list of WINNOW_K-gram rolling hashes of ``text`` (range()
    end is exclusive).  Keep this in its own MATERIALIZED CTE column —
    inlining it into the window expression below re-computes the whole
    list PER WINDOW POSITION (measured 38 s vs 0.2 s on 100 short docs)."""
    h = _horner(f"lower({text})", "i")
    return (f"CASE WHEN length({text}) < {WINNOW_K} THEN []"
            f" ELSE list_transform(range(1, length({text}) - {WINNOW_K} + 2),"
            f" i -> {h}) END")


def winnow_from_hashes_duckdb(h: str) -> str:
    """DuckDB: distinct winnowing fingerprints (window of WINNOW_W) from a
    MATERIALIZED hash list column ``h`` (list_slice() end is inclusive)."""
    w = WINNOW_W
    return (f"CASE WHEN len({h}) = 0 THEN []"
            f" WHEN len({h}) < {w} THEN [list_min({h})]"
            f" ELSE list_distinct(list_transform("
            f"range(1, len({h}) - {w} + 2),"
            f" s -> list_min(list_slice({h}, s, s + {w} - 1)))) END")


def winnow_fps_duckdb(text: str) -> str:
    """One-shot composition for small inputs/tests; for table-scale oracle
    SQL use the two-stage form (hashes in a MATERIALIZED CTE first)."""
    return winnow_from_hashes_duckdb(winnow_hashes_duckdb(text))
