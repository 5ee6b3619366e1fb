"""Janino de-compilation regression guard (TODO_r5 #3 / VERDICT r4 #3).

CLAUDE.md constraint 15: one extra flat expression can push a generated
whole-stage method past janino's 64KB budget; Spark catches the
CompileException and silently re-runs the stage INTERPRETED at ~12x cost
(measured: embed_pairs 25 s -> 128-137 s at sf1).  The fallback leaves no
trace in results or plans — only the wall clock moves — so a future edit
that de-compiles a hot stage would surface as an unexplained benchmark
regression a round later.

This guard flips ``spark.sql.codegen.fallback=false`` (runtime SQL conf)
around the production flat-fold queries, turning the silent fallback into
a hard job failure: ``WholeStageCodegenExec`` only swallows the compile
error when that conf is true, so any stage that stops compiling raises
here instead.  Covered shapes (the constraint-15 grid):

- ``embed_pairs``  — scan project carrying the 6x64-term flat signature
  (the stage that measurably sits NEAR the budget: adding one norm column
  next to it blew it);
- ``ivf_topk``     — HOF dot in the BNLJ assign stage + lone flat dot in
  the equi-join rerank;
- ``ann_topk``     — LSH probes + flat-dot rerank.

A NEGATIVE CONTROL proves the mechanism bites: the BNLJ-with-flat-sim
shape that measurably blows the budget (the documented reason ivf_assign
uses an interpreted HOF dot instead — SCALE.md round-4 grid) must RAISE
under the strict conf.
"""

import contextlib

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def strict_codegen(spark):
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_huge_method_limit_pinned(spark):
    """The session factory must pin spark.sql.codegen.hugeMethodLimit=8000
    (CLAUDE.md constraint 16): a generated stage method in (8000, 65535]
    bytes compiles under janino but HotSpot refuses to JIT it, so the
    stage silently runs in the bytecode interpreter — measured 185 s vs
    26 s on embed_pairs.count() at sf1.  The strict-codegen guard below
    CANNOT catch this (no CompileException is thrown), so the conf is the
    defense and this test keeps it from being dropped in a refactor."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


@pytest.mark.parametrize("qname", ["embed_pairs", "ivf_topk", "ann_topk"])
def test_flat_fold_stages_compile(spark, sf_dir, qname):
    """The production flat-fold queries run green with codegen fallback
    DISABLED — i.e. every generated stage actually compiles.  If this
    fails with a CompileException, a flat expression grew past the janino
    budget: re-read CLAUDE.md constraint 15 before 'fixing' it by
    splitting projects (CollapseProject merges them back — TODO_r4 #4)."""
    from dggstools_spark.queries import QUERIES

    with strict_codegen(spark):
        assert QUERIES[qname](spark, sf_dir).count() > 0


def test_negative_control_bnlj_flat_sim_raises(spark, sf_dir):
    """The known-over-budget shape (flat signature + flat sim inside a
    BroadcastNestedLoopJoin condition) must RAISE under the strict conf —
    proving the guard detects de-compilation rather than passing
    vacuously.  If Spark/janino ever raise the per-method budget and this
    compiles, the control (not the guard) needs a bigger expression."""
    from dggstools_spark.operators.similarity import (dot_spark, nrm_spark,
                                                      signature_spark)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").limit(8))
    a = emb.select(F.col("vec_id").alias("a_id"),
                   F.col("embedding").alias("a_vec"))
    b = emb.select(F.col("vec_id").alias("b_id"),
                   F.col("embedding").alias("b_vec"))
    sim = (f"({dot_spark('a_vec', 'b_vec', 64)}) / "
           f"(({nrm_spark('a_vec', 64)}) * ({nrm_spark('b_vec', 64)}))")
    cond = (F.expr(f"CAST({signature_spark('a_vec', 6, 64)} AS DOUBLE)") +
            F.expr(f"CAST({signature_spark('b_vec', 6, 64)} AS DOUBLE)") +
            F.expr(sim) > F.lit(-1e18))
    with strict_codegen(spark):
        with pytest.raises(Exception) as ei:
            a.crossJoin(b).filter(cond).count()
    assert "CompileException" in str(ei.value) or "64 KB" in str(ei.value) \
        or "grows beyond" in str(ei.value)


#: the three ``registry`` benchmark leaves (105 distinct classes a round)
REUSE_LEAVES = ["auid_optimize", "voronoi_territories", "cell_counts_expr"]


def test_codegen_cache_keeps_a_registry_round(spark, sf_dir):
    """A second run of the same leaves compiles no class (CLAUDE.md
    constraint 24): Spark reuses generated code only while its source is
    in ``spark.sql.codegen.cache.maxEntries``.  At the default of 100 a
    round of these leaves evicts its own classes and recompiles half of
    them every time; the session sizes the cache for one pass over the
    whole registry (2882 distinct classes at sf0.001)."""
    from bench import codegen_totals
    from dggstools_spark.queries import QUERIES

    def one_pass() -> int:
        before = codegen_totals(spark)[0]
        for name in REUSE_LEAVES:
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        return codegen_totals(spark)[0] - before

    first = one_pass()
    second = one_pass()
    assert second == 0, (
        f"second pass recompiled {second} classes (first pass: {first})")
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2882
