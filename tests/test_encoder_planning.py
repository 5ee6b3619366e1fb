"""Planning a query over the expression encoder's output stays fast.

The encoder's optimized plan holds 474-790 expression nodes at res 1-15,
but copied into a predicate every nested step is inlined (28-335 MB of
text for the cellid expression).  Over a file source, a join on the
encoded ``cellid`` used to hang the optimizer (constraint inference pushed
``isnotnull(cellid)`` into the encoder tree, then dynamic partition pruning
and the runtime bloom filter walked it) or exit the JVM, and a filter on
``cellid`` above a groupBy (``bbox_cells``) was pushed into the tree the
same way.  ``spark_encode`` now re-emits each output through the Expand
node of a one-column unpivot, which no predicate or lineage walk on it
passes, so both shapes plan under stock optimizer settings.  They are
planned in a child process with a hard timeout, so a hang or a JVM exit
fails this test only.  Two reads of one encoded frame still share one
scan and one encoder pass."""

import json
import os
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from dggstools_spark.functions import encode_sql
from dggstools_spark.sources import synth

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from dggstools_spark.functions import encode_sql
from dggstools_spark.queries18 import q_bbox_cells
from dggstools_spark.session import get_spark
from dggstools_spark.sources import synth
spark = get_spark("encoder-planning")
for key in ("spark.sql.optimizer.excludedRules",
            "spark.sql.optimizer.dynamicPartitionPruning.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.enabled"):
    assert spark.conf.get(key, None) is None, key
docs = synth.with_lonlat(spark.read.parquet({docs!r}), "doc_id")
shapes = {{"bbox_cells": q_bbox_cells(spark, {sf_dir!r})}}
for res in (1, 8):
    enc = encode_sql.spark_encode(docs, "lon", "lat", res)
    shapes[f"self_join_{{res}}"] = enc.join(enc.select("cellid").distinct(),
                                           "cellid")
for name, q in shapes.items():
    t0 = time.perf_counter()
    q._jdf.queryExecution().optimizedPlan()
    print("PLAN_S:" + json.dumps([name, time.perf_counter() - t0]), flush=True)
spark.stop()
"""


def test_uncut_encoder_self_join_plans_fast(sf_dir):
    code = CHILD.format(repo=REPO, sf_dir=sf_dir,
                        docs=f"{sf_dir}/documents.parquet")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.Popen([sys.executable, "-c", code], env=env, text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the JVM too
        proc.communicate()
        raise AssertionError("encoder queries did not plan within 180 s")
    times = dict(json.loads(line[len("PLAN_S:"):])
                 for line in out.splitlines() if line.startswith("PLAN_S:"))
    assert sorted(times) == ["bbox_cells", "self_join_1", "self_join_8"], \
        f"child exited {proc.returncode}: {err[-1000:]}"
    assert all(t < 2.0 for t in times.values()), times


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _filters_stop_at_barrier(q):
    """Every Filter in q's optimized plan sits above the encoder's Expand
    and names no encoder step (``_rhp_*``) or encoder function."""
    filters = [n for n in _nodes(q._jdf.queryExecution().optimizedPlan())
               if n.nodeName() == "Filter"]
    assert filters
    for f in filters:
        cond = f.condition().toString()
        assert "_rhp_" not in cond and "radians" not in cond.lower(), cond[:300]
        assert any(n.nodeName() == "Expand" for n in _nodes(f)), cond[:300]


def test_filters_on_encoder_outputs_stop_at_barrier(spark, sf_dir):
    docs = synth.with_lonlat(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    enc = encode_sql.spark_encode(docs, "lon", "lat", 8)
    _filters_stop_at_barrier(enc.filter(F.col("cellid").startswith("Q")))
    planar = encode_sql.spark_encode(docs, "lon", "lat", 8, with_planar=True)
    _filters_stop_at_barrier(planar.filter(F.col("px_m") > 0))


def _scan_count(spark, q):
    """File scans in q's physical plan, AQE off so exchange reuse is
    applied at planning (a ReusedExchange has no children)."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = q._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, old)
    return sum(1 for n in _nodes(plan) if n.nodeName().startswith("Scan"))


def test_two_reads_of_encoder_output_share_one_scan(spark, sf_dir):
    from dggstools_spark.operators.trend import mk_stats, theilsen

    docs = synth.with_lonlat(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    obs = encode_sql.spark_encode(docs, "lon", "lat", 2).select(
        "cellid", (F.col("doc_id") % 7).alias("day"),
        F.lit(1).cast("bigint").alias("y"))
    # theilsen's self-join reads obs twice with the same filters; mk_stats
    # adds the tie rollup, a third read with no filter on day
    assert _scan_count(spark, theilsen(obs, "cellid", "day", "y")) == 1
    assert _scan_count(spark, mk_stats(obs, "cellid", "day", "y")) == 1


# Counts DecimalType expressions in a plan, subqueries included, inside the
# JVM: one py4j call per plan instead of several per expression node.
_DECIMAL_COUNTER = r"""
public class DecimalExprCount {
  public int count(Object root) {
    java.util.ArrayDeque stack = new java.util.ArrayDeque();
    stack.push(root);
    int n = 0;
    while (!stack.isEmpty()) {
      Object o = stack.pop();
      scala.collection.Iterator it;
      if (o instanceof org.apache.spark.sql.catalyst.plans.QueryPlan) {
        org.apache.spark.sql.catalyst.plans.QueryPlan p =
            (org.apache.spark.sql.catalyst.plans.QueryPlan) o;
        it = p.expressions().iterator();
        while (it.hasNext()) stack.push(it.next());
        it = p.children().iterator();
        while (it.hasNext()) stack.push(it.next());
      } else if (o instanceof org.apache.spark.sql.catalyst.expressions.Expression) {
        org.apache.spark.sql.catalyst.expressions.Expression e =
            (org.apache.spark.sql.catalyst.expressions.Expression) o;
        try {
          if (e.dataType() instanceof org.apache.spark.sql.types.DecimalType) n++;
        } catch (Exception untyped) { }  // a window spec has no type
        it = e.children().iterator();
        while (it.hasNext()) stack.push(it.next());
        if (e instanceof org.apache.spark.sql.catalyst.expressions.PlanExpression)
          stack.push(((org.apache.spark.sql.catalyst.expressions.PlanExpression) e).plan());
      }
    }
    return n;
  }
}
"""

_EXACT = "exact DECIMAL(38,0) integer arithmetic"
_DIAMOND = ("leaf-local literal left for later: queries3._safe_diamond_sql"
            " (`/ 40000.0`, `0.05 + .. * 0.04`)")
_POLYGON = ("leaf-local literal left for later: queries2 polygon generator"
            " (bare half-side, `/ 40000.0 * 4.0`)")
_BM25 = ("leaf-local literal left for later: BM25 idf and length terms"
         " (`+ 0.5`, `0.75 *`) in operators/text_rank")

#: leaf -> (decimal expressions in its optimized plan at sf0.001, reason).
#: A leaf not listed must have none.
DECIMAL_ALLOWED = {
    "all_touched": (176, _DIAMOND),
    "area_error": (132, _DIAMOND),
    "areal_interp": (270, f"{_EXACT}; {_DIAMOND}"),
    "bm25_topk": (12, _BM25),
    "cell_diversity": (16, _EXACT),
    "change_matrix": (60, "leaf-local literal left for later:"
                          " `floor(p_partkey / 81.0)` raster input"),
    "cross_k": (31, _EXACT),
    "dedup_pipeline": (3, _EXACT),
    "geodesic_area": (56, "leaf-local literal left for later: polygon"
                          " vertices `-150.0 + .. / 10.0` (queries3)"),
    "hybrid_rerank": (12, _BM25),
    "idw_interp": (6, _EXACT),
    "join_counts": (8, _EXACT),
    "knn_cells": (4, "leaf-local literal left for later: query points"
                     " (queries2._query_points_sql)"),
    "location_quotient": (8, _EXACT),
    "mean_center": (25, _EXACT),
    "morans_i": (8, _EXACT),
    "morans_xface": (8, _EXACT),
    "overlay_area": (176, f"{_DIAMOND}; the queries22 diamonds"),
    "passage_dedup": (4, "leaf-local literal left for later:"
                         " `ceil(size(toks) / 8.0)`"),
    "pip_polygons": (276, _POLYGON),
    "ripley_k": (29, _EXACT),
    "segregation": (19, _EXACT),
    "span_cells": (14, "leaf-local literal left for later: span jitter"
                       " `/ 1000.0 * 0.02` (queries2)"),
    "zonal_stats": (276, _POLYGON),
}


@pytest.fixture(scope="module")
def decimal_exprs(spark):
    """df -> number of DecimalType expressions in its optimized plan (no
    Spark job)."""
    jvm = spark._jvm
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.setParentClassLoader(
        jvm.java.lang.Thread.currentThread().getContextClassLoader())
    compiler.cook(_DECIMAL_COUNTER)
    counter = (compiler.getClassLoader().loadClass("DecimalExprCount")
               .newInstance())
    return lambda df: counter.count(df._jdf.queryExecution().optimizedPlan())


def test_encoder_and_lattice_plans_hold_no_decimal(spark, sf_dir,
                                                   decimal_exprs):
    from dggstools_spark.operators.spatial_stats import (kring_cells,
                                                         with_lattice)

    docs = synth.with_lonlat(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    cells = encode_sql.spark_encode(docs, "lon", "lat", 4).select("cellid")
    plans = {
        "spark_encode": encode_sql.spark_encode(docs, "lon", "lat", 8),
        "with_planar": encode_sql.spark_encode(docs, "lon", "lat", 8,
                                               with_planar=True),
        "with_lattice": with_lattice(cells, 4),
        "kring_cells": kring_cells(cells, 4, 2),
    }
    counts = {name: decimal_exprs(df) for name, df in plans.items()}
    assert counts == dict.fromkeys(plans, 0)


def test_registry_decimal_expressions_within_allow_list(spark, sf_dir,
                                                        decimal_exprs):
    """Every leaf's optimized plan at sf0.001 holds no more decimal
    expressions than DECIMAL_ALLOWED grants it (builds each leaf, no
    action)."""
    from dggstools_spark.queries import QUERIES

    over = {}
    for name, fn in QUERIES.items():
        n = decimal_exprs(fn(spark, sf_dir))
        if n > DECIMAL_ALLOWED.get(name, (0,))[0]:
            over[name] = n
    assert not over, over
    assert len(DECIMAL_ALLOWED) <= 24
