"""The benchmark's two workloads.

Each workload has two halves.  ``prepare`` runs in the launcher process,
before the timed process starts: it generates the seeded inputs (or names
the committed registry tables) and computes the reference answers.
The class itself runs in the timed process: ``setup`` opens the inputs and
does the untimed output checks, ``steps`` is one fixed unit of work.  Only
public functions of ``session``, ``functions.encode``, ``sources.cells_io``,
``dggs.cells`` and ``queries.QUERIES`` are called.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REGISTRY_TABLES = os.path.join(HERE, "data", "sf0.01")
RES, TILE_RES = 8, 4


class Ops:
    """Attempted and failed operations: one per action and one per check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def action(self, fn, what: str):
        """Run one Spark action; a failure is counted, not raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # an action may fail in any layer; count it and go on
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None


# ------------------------------------------------------------------ prepare
# The points workload's two inputs: (size of a full run, of a smoke run),
# and the share of points in the hot clusters.
INPUTS = {"tile": ((3_000_000, 20_000), 0.8), "store": ((300_000, 20_000), 0.05)}


def tile_keys(ck: np.ndarray, res: int = RES, tile_res: int = TILE_RES,
              n_side: int = 3) -> np.ndarray:
    """numpy twin of ``functions.encode.tile_key_expr``."""
    m, mt, d = n_side**res, n_side**tile_res, n_side ** (res - tile_res)
    face, row, col = ck // (m * m), (ck // m) % m, ck % m
    tile = (face * mt + row // d) * mt + col // d
    return np.where(ck >= 0, tile, -1)


def prepare(workload: str, seed: int, smoke: bool, work: str) -> dict:
    """Make the workload's inputs and reference answers; return their paths
    (for registry, the committed tables and DuckDB's answers)."""
    if workload == "registry":
        return {"tables": REGISTRY_TABLES, "oracle": oracle_answers()}
    inputs = {}
    for kind, (sizes, hot_share) in INPUTS.items():
        n = sizes[1 if smoke else 0]
        name = f"{kind}-s{seed}-n{n}"
        # keep one input set per kind: runs over many seeds stay small on disk
        for old in glob.glob(os.path.join(work, "inputs", f"{kind}-s*")):
            if os.path.basename(old) != name:
                shutil.rmtree(old, ignore_errors=True)
        out = os.path.join(work, "inputs", name)
        inputs[kind] = {"points": os.path.join(out, "points"),
                        "reference": os.path.join(out, "reference.json")}
        if not os.path.exists(inputs[kind]["reference"]):
            make_input(kind, out, seed, n, hot_share)
    return inputs


def make_input(kind: str, out: str, seed: int, n: int, hot_share: float) -> None:
    """Write the seeded points, then the reference answer of their step."""
    from gen import write_points
    from dggstools_spark.dggs import cells

    pts = write_points(os.path.join(out, "points"), seed, n, hot_share)
    lon, lat, spans = pts["lon"], pts["lat"], pts["n_spans"].astype(np.int64)
    if kind == "tile":
        ck = cells.lonlat_to_cellkey(lon, lat, RES)
        tile = tile_keys(ck)
        tiles, inv = np.unique(tile, return_inverse=True)
        # a cell lies in exactly one tile: distinct cells per tile
        _, n_cells = np.unique(tile_keys(np.unique(ck)), return_counts=True)
        ref = {"n": int(n), "tile": tiles.tolist(),
               "n_docs": np.bincount(inv).tolist(),
               "n_spans": np.bincount(inv, weights=spans).astype(np.int64).tolist(),
               "n_cells": n_cells.tolist()}
    else:
        cid = cells.lonlat_to_cellid(lon, lat, RES).astype(str)
        prefixes, counts = np.unique(np.char.ljust(cid, 3).astype("U3"),
                                     return_counts=True)
        prefix = str(prefixes[np.argmax(counts)])
        in_prefix = np.char.startswith(cid, prefix)
        ref = {"n": int(n), "prefix": prefix,
               "prefix_cells": int(np.unique(cid[in_prefix]).size),
               "prefix_n": int(in_prefix.sum())}
    with open(os.path.join(out, "reference.json"), "w") as f:
        json.dump(ref, f)


def oracle_answers() -> dict:
    """Row count, sorted columns and ``canonical_hash`` of DuckDB running each
    registry leaf's ``oracle_sql()`` on the committed tables."""
    import duckdb
    from dggstools_spark.queries import ORACLES

    canonical_hash = check_entry_hash()
    con = duckdb.connect()
    for t in sorted(os.listdir(REGISTRY_TABLES)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(REGISTRY_TABLES, t)}')")
    out = {}
    for leaf in Registry.LEAVES:
        odf = con.execute(ORACLES[leaf]).fetchdf()
        out[leaf] = {"rows": len(odf), "columns": sorted(odf.columns),
                     "hash": canonical_hash(odf)}
    con.close()
    return out


def check_entry_hash():
    """``canonical_hash`` of ``scripts/check_entry.py``, by import.  That
    script prepends a fixed path to sys.path at import, which must not
    shadow this checkout's package."""
    scripts = os.path.join(os.path.dirname(HERE), "scripts")
    saved = list(sys.path)
    sys.path.insert(0, scripts)
    try:
        from check_entry import canonical_hash
    finally:
        sys.path[:] = saved
    return canonical_hash


# --------------------------------------------------------------- workloads
class Workload:
    # untimed units of work after setup(): after only one, the first timed
    # unit still ran ~20 % (points) and ~8 % (registry) slower than the next
    WARMUP = 2
    MIN_TIMED = 2  # timed units of work, even past --seconds

    def __init__(self, spark, inputs: dict, tracer, ops: Ops, work: str):
        self.spark, self.inputs, self.tracer, self.ops = spark, inputs, tracer, ops
        self.work = work

    def setup(self) -> None:
        """Open the inputs; run any untimed output checks."""

    def steps(self) -> list:
        """The unit of work as (name, callable) steps; the worker times each."""
        raise NotImplementedError

    def kernel_probe(self) -> dict[str, float]:
        return {}


class Points(Workload):
    """The flagship tile assignment over seeded skewed points, then the
    cell-store write path over seeded near-uniform points."""

    def setup(self) -> None:
        self.ref = {}
        for kind, paths in self.inputs.items():
            with open(paths["reference"]) as f:
                self.ref[kind] = json.load(f)
        self.out = os.path.join(self.work, "cells")

    def read(self, kind: str):
        return self.spark.read.parquet(self.inputs[kind]["points"])

    def steps(self) -> list:
        return [("tile_assign", self.tile_assign), ("cell_store", self.cell_store)]

    def kernel_probe(self) -> dict[str, float]:
        """ns per point of the two dggs.cells encoders, each on the points of
        the step that calls it, called directly in the driver (median of
        five calls)."""
        import pyarrow.parquet as pq
        from dggstools_spark.dggs import cells

        out = {}
        for key, fn, kind in (("cellkey_ns_pt", cells.lonlat_to_cellkey, "tile"),
                              ("cellid_ns_pt", cells.lonlat_to_cellid, "store")):
            t = pq.read_table(self.inputs[kind]["points"], columns=["lon", "lat"])
            lon = t.column("lon").to_numpy()[:200_000]
            lat = t.column("lat").to_numpy()[:200_000]
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn(lon, lat, RES)
                times.append(time.perf_counter() - t0)
            out[key] = float(np.median(times)) / len(lon) * 1e9
        return out

    # ------------------------------------------------------- tile_assign
    def tile_plan(self):
        from pyspark.sql import functions as F
        from dggstools_spark.functions.encode import cellkey_from_lonlat_udf, tile_key_expr

        enc = cellkey_from_lonlat_udf(RES)
        return (self.read("tile")
                .withColumn("ck", enc("lon", "lat"))
                .withColumn("tile", tile_key_expr("ck", RES, TILE_RES))
                .groupBy("tile", "ck")
                .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
                .groupBy("tile")
                .agg(F.sum("n").alias("n_docs"), F.sum("s").alias("n_spans"),
                     F.count("*").alias("n_cells")))

    def tile_assign(self) -> None:
        tr = self.tracer
        with tr.span("build", jobs=True):
            df = self.tile_plan()
        if tr.enabled:
            with tr.span("plan") as rec:
                rec["phases"] = tr.catalyst_phases(df)
        with tr.span("exec", jobs=True):
            pdf = self.ops.action(df.toPandas, "tile_assign collect")
        with tr.span("check"):
            self.check_tiles(pdf)

    def check_tiles(self, pdf) -> None:
        ops, ref = self.ops, self.ref["tile"]
        if not ops.check(pdf is not None, "tile_assign: no result"):
            return
        ops.check(int(pdf["n_docs"].sum()) == ref["n"], "tile_assign: n_docs sum != N")
        got = pdf.sort_values("tile")
        same = (len(got) == len(ref["tile"])
                and np.array_equal(got["tile"].to_numpy(), ref["tile"])
                and np.array_equal(got["n_docs"].to_numpy(), ref["n_docs"])
                and np.array_equal(got["n_spans"].to_numpy(), ref["n_spans"])
                and np.array_equal(got["n_cells"].to_numpy(), ref["n_cells"]))
        ops.check(same, "tile_assign: per-tile table != reference")

    # -------------------------------------------------------- cell_store
    def cell_store(self) -> None:
        """String cellids -> per-cell aggregate -> partitioned cell-table
        write -> prefix read-back."""
        from pyspark.sql import functions as F
        from dggstools_spark.functions.encode import cellid_from_lonlat_udf
        from dggstools_spark.sources import cells_io

        tr, ops, ref = self.tracer, self.ops, self.ref["store"]
        with tr.span("build", jobs=True):
            df = (self.read("store")
                  .withColumn("cellid", cellid_from_lonlat_udf(RES)("lon", "lat"))
                  .groupBy("cellid")
                  .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s")))
            attrs = cells_io.build_attrs(RES, 1, None)
        if tr.enabled:
            with tr.span("plan") as rec:
                rec["phases"] = tr.catalyst_phases(df)
        with tr.span("store.write", jobs=True) as rec:
            ops.action(lambda: cells_io.write_cells(df, self.out, attrs),
                       "cell_store write_cells")
            if rec is not None:
                rec.update(self.layout())
        with tr.span("store.read", jobs=True):
            row = ops.action(lambda: self._read_back(ref["prefix"]),
                             "cell_store read_cells")
        with tr.span("check"):
            ops.check(row is not None and row["rows"] == ref["prefix_cells"]
                      and row["sum_n"] == ref["prefix_n"],
                      f"cell_store: read-back {row} != reference for {ref['prefix']}")

    def _read_back(self, prefix: str) -> dict:
        from pyspark.sql import functions as F
        from dggstools_spark.sources import cells_io

        back, _ = cells_io.read_cells(self.spark, self.out, prefix=prefix)
        r = back.agg(F.count("*").alias("rows"), F.sum("n").alias("sum_n")).collect()[0]
        return {"rows": int(r["rows"]), "sum_n": int(r["sum_n"] or 0)}

    def layout(self) -> dict:
        files = size = 0
        for dirpath, _, names in os.walk(os.path.join(self.out, "data")):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        return {"files": files, "mb": size / 1e6}


class Registry(Workload):
    """One round over registry leaves: ``QUERIES[name](spark, sf)`` then a
    noop write.  In setup, a check round collects each leaf instead and
    compares it with the answer DuckDB gave for the leaf's ``oracle_sql()``
    at prepare time.

    auid_optimize is build-bound (eager localCheckpoint jobs), voronoi_
    territories planning-bound (the largest optimized plan) and
    cell_counts_expr runs the SQL expression encoder."""

    LEAVES = ("auid_optimize", "voronoi_territories", "cell_counts_expr")

    def setup(self) -> None:
        with self.tracer.span("queries.import"):
            from dggstools_spark.queries import QUERIES
        self.queries = QUERIES
        self.sf = self.inputs["tables"]
        canonical_hash = check_entry_hash()
        for leaf in self.LEAVES:
            want = self.inputs["oracle"][leaf]
            with self.tracer.span("check", leaf=leaf):
                sdf = self.ops.action(
                    lambda: self.queries[leaf](self.spark, self.sf).toPandas(),
                    f"{leaf} collect")
                self.ops.check(
                    sdf is not None and len(sdf) == want["rows"]
                    and sorted(sdf.columns) == want["columns"]
                    and canonical_hash(sdf) == want["hash"],
                    f"{leaf}: result != oracle_sql()")

    def steps(self) -> list:
        return [(leaf, lambda leaf=leaf: self.run_leaf(leaf)) for leaf in self.LEAVES]

    def run_leaf(self, leaf: str) -> None:
        tr = self.tracer
        with tr.span("build", jobs=True, leaf=leaf):
            df = self.ops.action(lambda: self.queries[leaf](self.spark, self.sf),
                                 f"{leaf} build")
        if df is None:
            return
        if tr.enabled:
            with tr.span("plan", leaf=leaf) as rec:
                rec["phases"] = tr.catalyst_phases(df)
        with tr.span("exec", jobs=True, leaf=leaf):
            self.ops.action(
                lambda: df.write.format("noop").mode("overwrite").save(),
                f"{leaf} noop write")


WORKLOADS = {"points": Points, "registry": Registry}
LEAVES = list(Registry.LEAVES)
