"""Focused tests for the kring/neighbor internals.

cell_neighbors and every focal-family op enumerate queen neighbors
through one explode of compiled CASE slot expressions (_queen_explode
over _nbr_slot_exprs), and kring_cells is one lazy
chain of k move-or-stay steps over numeric lattice coordinates (one
slot explode per step, one min(ring) aggregate).  These tests pin those
internals against two independent references:

- the DuckDB twin (cell_neighbors_sql / kring_cells_sql keep the
  original join-form SQL and unrolled BFS — the frozen oracle dialect),
  and
- first-principles properties (symmetry, degree counts, ring-1 ==
  radius-1 relation, one Generate per step in the plan).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dggstools_spark.operators.spatial_stats import (
    cell_neighbors, cell_neighbors_sql, kring_cells, kring_cells_sql)


def _full_lattice(spark, res):
    from dggstools_spark.operators.pointpat import _face_lattice

    return _face_lattice(spark, ["N", "O", "P", "Q", "R", "S"], res)


@pytest.mark.parametrize("res", [1, 2])
def test_cell_neighbors_slots_match_duckdb_join_form(spark, res):
    """The slot-expression enumeration equals the DuckDB join-form twin
    (pairs AND multiplicities) on the complete 6-face lattice."""
    ref = _full_lattice(spark, res)
    got = sorted(
        (r.cellid, r.nbr, r.across)
        for r in cell_neighbors(ref, res, cross_face=True).collect())
    ids = [r.cellid for r in ref.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE src (cellid VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?)", [(i,) for i in ids])
    want = sorted(map(tuple, con.execute(
        cell_neighbors_sql("(SELECT cellid FROM src)", res,
                           cross_face=True)).fetchall()))
    assert got == want


def test_cell_neighbors_symmetry_and_degree(spark):
    """Adjacency is symmetric; every cell has 8 neighbors except the 24
    cube corners (7) under cross-face closure at res 2."""
    res = 2
    ref = _full_lattice(spark, res)
    nb = cell_neighbors(ref, res, cross_face=True) \
        .select("cellid", "nbr").collect()
    pairs = {(r.cellid, r.nbr) for r in nb}
    assert len(pairs) == len(nb), "duplicate neighbor pairs"
    assert all((b, a) in pairs for a, b in pairs), "asymmetric adjacency"
    deg = {}
    for a, _ in pairs:
        deg[a] = deg.get(a, 0) + 1
    assert sorted(set(deg.values())) == [7, 8]
    assert sum(1 for d in deg.values() if d == 7) == 24  # cube corners


@pytest.mark.parametrize("res,k,cross_face,full", [
    pytest.param(2, 1, True, False, id="1"),
    pytest.param(2, 2, True, False, id="2"),
    pytest.param(2, 3, True, False, id="3"),
    pytest.param(1, 1, True, True, id="res1-full-k1"),
    pytest.param(1, 2, True, True, id="res1-full-k2"),
    pytest.param(1, 3, True, True, id="res1-full-k3"),
    pytest.param(1, 4, True, True, id="res1-full-k4"),
    pytest.param(2, 3, False, False, id="res2-k3-noseam"),
])
def test_kring_walk_matches_duckdb_bfs(spark, res, k, cross_face, full):
    """The lazy walk's min-ring equals the DuckDB unrolled-BFS twin on a
    seeded subset or the full lattice (rings are exact min-hop graph
    distances), on the per-step dedup path (k >= 4) and without seam
    gluing too."""
    seeds = _full_lattice(spark, res)
    if not full:
        seeds = seeds.filter(
            F.expr("substring(cellid, 2, 2) IN ('00', '44', '88', '08')"))
    got = sorted((r.cellid, r.nbr, r.ring)
                 for r in kring_cells(seeds, res, k, cross_face).collect())
    ids = [r.cellid for r in seeds.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE seeds (cellid VARCHAR)")
    con.executemany("INSERT INTO seeds VALUES (?)", [(i,) for i in ids])
    want = sorted(map(tuple, con.execute(
        kring_cells_sql("(SELECT cellid FROM seeds)", res, k,
                        cross_face)).fetchall()))
    assert got == want


def test_kring_plan_has_one_generate_per_step(spark):
    """The walk is one chain: the optimized plan of a k = 3 ring holds
    exactly 3 Generate nodes (a union of per-level relations, each built
    on the previous one, would hold 1 + 2 + 3 = 6).  The seed is a local
    row, so no Generate of its own reaches the plan: kring no longer
    cuts its seed lineage."""
    seeds = spark.createDataFrame([("Q44",)], "cellid string")
    plan = kring_cells(seeds, 2, 3)._jdf.queryExecution() \
        .optimizedPlan().toString()
    gens = [ln for ln in plan.splitlines()
            if ln.lstrip(" :+-").startswith("Generate ")]
    assert len(gens) == 3, plan


@pytest.mark.parametrize("cellid", ["N4", "N444", "X44"])
def test_kring_rejects_malformed_seed(spark, cellid):
    """A res-2 seed of the wrong length or with a face char outside
    NOPQRS fails the action instead of yielding no or wrong cells."""
    seeds = spark.createDataFrame([(cellid,)], "cellid string")
    with pytest.raises(Exception, match="malformed res-2 seed cellid"):
        kring_cells(seeds, 2, 1).collect()


def test_kring_dedup_threshold_equivalence(spark):
    """k >= 4 flips the per-step min(ring) aggregate on — results must be
    identical to the k = 3 rings plus the new ring (the dedup is a pure
    execution-shape choice)."""
    res = 2
    seeds = _full_lattice(spark, res).filter(
        F.expr("cellid IN ('Q44', 'N00')"))
    k3 = {(r.cellid, r.nbr): r.ring
          for r in kring_cells(seeds, res, 3).collect()}
    k4 = {(r.cellid, r.nbr): r.ring
          for r in kring_cells(seeds, res, 4).collect()}
    for key, ring in k3.items():
        assert k4[key] == ring, f"ring moved for {key}"
    assert all(r == 4 for key, r in k4.items() if key not in k3)
