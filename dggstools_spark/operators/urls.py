"""URL canonicalization + URL-level dedup.

The first dedup stage every web-corpus pipeline runs (C4 and CCNet dedup
at the URL level before touching content; RefinedWeb's "strict URL
deduplication"): canonicalize each document's URL and keep one document
per canonical URL.  URL-level dedup is orders of magnitude cheaper than
content dedup (one string projection + one hash aggregate — no shingles,
no pairs) and removes the bulk of crawl re-fetch duplicates before the
expensive stages run.

Canonicalization rules (each a single regexp_replace in the Java∩RE2
common subset — the scrub.py convention — so the identical pattern text
runs on Spark and DuckDB):

1. lower-case;
2. strip the scheme (``http://`` / ``https://``);
3. strip one leading ``www.``;
4. strip the fragment (``#...``);
5. strip tracking params (``utm_*=...``, trailing ``&`` eaten);
6. clean separator debris left by 5 (``?&`` -> ``?``, trailing ``?``/``&``);
7. strip one trailing slash.

Scale design (100 TB): the canonical form is a chain of 7 codegen'd
regexp_replace projections (zero shuffles); the dedup itself is ONE
map-side-combining hash aggregate on the canonical string — the same
shape as query dedup_exact, whose 100-TB arguments apply verbatim.
Reference parity: no counterpart (the reference has no corpus layer);
extends the F5 dedup family (SURVEY §2) to the URL tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: (pattern, replacement) — ORDER MATTERS (scheme before www, params
#: before debris cleanup); Java∩RE2 subset: no backrefs, no lookaround
URL_RULES: "tuple[tuple[str, str], ...]" = (
    (r"^https?://", ""),
    (r"^www\.", ""),
    (r"#.*$", ""),
    (r"utm_[a-z0-9_]*=[^&#]*&?", ""),
    (r"\?&", "?"),
    (r"[?&]$", ""),
    (r"/$", ""),
)


def canonical_url_expr(col: Column) -> Column:
    """Canonical-URL column expression (lower + the rule chain)."""
    out = F.lower(col)
    for pat, repl in URL_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def canonical_url_sql(text: str) -> str:
    """DuckDB twin of canonical_url_expr — identical pattern chain."""
    out = f"lower({text})"
    for pat, repl in URL_RULES:
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '{repl}', 'g')"
    return out


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """One row per canonical URL: (canon_url, n_dups, keep_id) — keep_id
    is the MIN id of the group (deterministic, retry-stable), n_dups the
    number of raw URLs collapsed into it.  One projection + one hash
    aggregate; join keep_id back to the corpus to materialize survivors."""
    return (df
            .filter(F.col(url_col).isNotNull())
            .select(F.col(id_col).alias("_id"),
                    canonical_url_expr(F.col(url_col)).alias("canon_url"))
            .groupBy("canon_url")
            .agg(F.count("*").alias("n_dups"),
                 F.min("_id").alias("keep_id")))


def url_dedup_sql(table: str, url_expr: str, id_col: str) -> str:
    """DuckDB twin of url_dedup; ``url_expr`` is the raw-URL SQL
    expression over ``table``."""
    canon = canonical_url_sql(url_expr)
    return f"""
    SELECT {canon} AS canon_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(min({id_col}) AS BIGINT) AS keep_id
    FROM {table} WHERE ({url_expr}) IS NOT NULL
    GROUP BY 1
    """
