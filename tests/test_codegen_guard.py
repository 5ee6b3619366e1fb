"""Generated-code guards: janino de-compilation, the HotSpot JIT limit and
the codegen cache.

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

Constraint 16's cliff is silent too: a method in (8000, 65535] bytes
compiles, and ``hugeMethodLimit`` runs its stage as volcano operators.
The JIT guard reads the largest method of every whole-stage stage of the
leaves nearest the cliff (``JIT_LEAVES``) and fails above 8000 B; a
seeded over-limit projection is its negative control.
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


#: leaves whose largest generated method sits nearest HotSpot's 8000 B JIT
#: limit (voronoi_territories, access_2sfca) and the encoder's smaller
#: shapes; CODEGEN_AUDIT.json holds their sf0.1 audit rows
JIT_LEAVES = ["voronoi_territories", "access_2sfca", "mean_center",
              "cell_counts_expr"]
#: HotSpot JIT-compiles no method over this many bytecode bytes (CLAUDE.md
#: constraint 16); a stage past it runs as volcano operators
JIT_LIMIT = 8000


def _plan_nodes(plan):
    """Every node of an executed physical plan: adaptive plans, query
    stages, reused exchanges and subqueries included."""
    yield plan
    name = plan.getClass().getSimpleName()
    kids = [plan.executedPlan()] if name == "AdaptiveSparkPlanExec" else []
    if name.endswith("QueryStageExec"):
        kids.append(plan.plan())
    if name == "ReusedExchangeExec":
        kids.append(plan.child())
    for seq in (plan.children(), plan.subqueries()):
        kids += [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        yield from _plan_nodes(k)


def _stage_method_bytes(spark, df) -> list[int]:
    """Run ``df``, then the largest generated method (bytecode bytes) of
    each whole-stage-codegen stage of its final plan.  The stage's source
    goes through ``CodeGenerator.compile``, which returns the byte-code
    stats of a class already in the codegen cache too (constraint 24), so
    the sizes do not depend on what ran before."""
    df.toPandas()
    gen = (spark.sparkContext._jvm.org.apache.spark.sql.catalyst.expressions
           .codegen.CodeGenerator)
    return [gen.compile(n.doCodeGen()._2())._2().maxMethodCodeSize()
            for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "WholeStageCodegenExec"]


def _assert_jit_sized(sizes: list[int], what: str) -> None:
    assert sizes, f"{what}: no whole-stage-codegen stage"
    assert max(sizes) <= JIT_LIMIT, (
        f"{what}: a generated method of {max(sizes)} B > {JIT_LIMIT} B; the "
        f"stage silently runs as volcano operators (constraint 16)")


@pytest.fixture(scope="module")
def jit_leaf_bytes(spark, sf_dir):
    from dggstools_spark.queries import QUERIES

    return {q: _stage_method_bytes(spark, QUERIES[q](spark, sf_dir))
            for q in JIT_LEAVES}


def test_generated_methods_fit_the_jit_limit(jit_leaf_bytes):
    """Each stage of the guarded leaves stays JIT-compiled: its largest
    generated method is at most 8000 bytecode bytes."""
    for q, sizes in jit_leaf_bytes.items():
        _assert_jit_sized(sizes, q)


def test_generated_method_sizes_match_the_audit(jit_leaf_bytes):
    """Generated code does not depend on the data scale: the largest stage
    method at sf0.001 equals the sf0.1 row of scripts/codegen_audit.py in
    CODEGEN_AUDIT.json (re-run the audit on a change that moves it)."""
    import json
    from pathlib import Path

    audit = json.loads((Path(__file__).resolve().parents[1]
                        / "CODEGEN_AUDIT.json").read_text())
    assert ({q: max(s) for q, s in jit_leaf_bytes.items()}
            == {q: audit[q]["max_bytes"] for q in JIT_LEAVES})


def test_negative_control_over_limit_projection_fails(spark):
    """A seeded projection of 100 flat terms generates one method far over
    the limit (14467 B measured); the check must fail on it."""
    from functools import reduce
    from operator import add

    df = spark.range(4).select(reduce(
        add, [F.sqrt(F.col("id") + k) * (k + 0.5) for k in range(100)]).alias("v"))
    sizes = _stage_method_bytes(spark, df)
    assert max(sizes) > JIT_LIMIT
    with pytest.raises(AssertionError, match="volcano"):
        _assert_jit_sized(sizes, "seeded projection")
