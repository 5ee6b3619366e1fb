"""Hypothesis properties for round-5 integer-exact snippets (no Spark —
these pin the pure-Python/DuckDB halves; the Spark halves are pinned by
the oracle gate plus fixed-case tests in test_batch14/16/18)."""

import string

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402


# ---------------------------------------------------- lattice closed form

@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="012345678", min_size=1, max_size=10),
       st.sampled_from("NOPQRS"))
def test_lattice_sql_matches_kernel(digits, face):
    """The DuckDB lattice fold (lattice_select_sql) gives the kernel's
    (face, row, col) for any cellid."""
    import duckdb

    from dggstools_spark.dggs.cells import cellids_to_face_rowcol
    from dggstools_spark.operators.spatial_stats import lattice_select_sql

    cid = face + digits
    _, f, r, c = cellids_to_face_rowcol([cid])
    sql = lattice_select_sql(f"SELECT '{cid}' AS cellid, 0 AS v", len(digits))
    got = duckdb.sql(f"SELECT face, row, col FROM ({sql})").fetchone()
    assert got == (int(f[0]), int(r[0]), int(c[0]))


# ------------------------------------------------ quality_q20 vs reference

def _q20_ref(text: str) -> int:
    """Pure-Python reference of functions/text._quality_q20 semantics."""
    t = text.strip()
    toks = 0 if len(t) == 0 else t.count(" ") + 1
    low = text.lower()
    stop = sum(low.count(f" {w} ") for w in ("the", "and", "of", "a", "in"))
    punct = sum(text.count(p) for p in (".", ",", "!", "?", ";"))
    return (min(toks, 64) * 8192 + min(stop, 8) * 39321
            + min((punct * 4194304) // max(len(text), 1), 209715))


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from(
    list(string.ascii_lowercase[:6]) + ["the", "and", "of", "a", "in",
                                        ".", ",", "!", "?", ";"]),
    min_size=1, max_size=60))
def test_quality_q20_duckdb_matches_reference(words):
    import duckdb

    from dggstools_spark.functions.text import quality_q20_duckdb

    text = " ".join(words)
    got = duckdb.sql(
        f"SELECT {quality_q20_duckdb('t')} FROM (SELECT ? AS t)",
        params=[text]).fetchone()[0]
    assert got == _q20_ref(text)


# --------------------------------------------- lm ppm formula invariants

@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**9),
       st.integers(min_value=1, max_value=10**9),
       st.integers(min_value=1, max_value=10**6))
def test_lm_ppm_bounds(c12, c1, v):
    """add-one ppm stays a valid probability-ish integer and is monotone
    in the bigram count."""
    c12 = min(c12, c1)  # a bigram count never exceeds its context count
    ppm = ((c12 + 1) * 1_000_000) // (c1 + v)
    assert 0 <= ppm <= 1_000_000
    ppm2 = ((min(c12 + 1, c1) + 1) * 1_000_000) // (c1 + v)
    assert ppm2 >= ppm


# -------------------------------- mixture sqrt-weight engine portability

@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=1_000_000))
def test_mixture_sqrt_quantization_duckdb_matches_python(share_ppm):
    """round(sqrt(x/1e6)*1e6) — sqrt is correctly rounded, so DuckDB and
    Python (both IEEE) must agree bit-exactly on every input."""
    import math

    import duckdb

    got = duckdb.sql(
        "SELECT CAST(round(sqrt(CAST(? AS DOUBLE) / 1000000.0)"
        " * 1000000.0) AS BIGINT)", params=[share_ppm]).fetchone()[0]
    assert got == round(math.sqrt(share_ppm / 1e6) * 1e6)
