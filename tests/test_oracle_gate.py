"""Oracle gate inside Tier-1 for the IVF/IVF-PQ, LM, Gopher, as-of,
point-in-polygon, subarea, merge/resume, AUID compaction, k-ring
(kring_xface and the point-pattern/accessibility leaves on it) and
cell-store (cells_io: write, then prefix read) leaves, and for every leaf
that joins, filters or iterates over expression-encoder output without a
lineage cut (the Expand (unpivot) barrier in encode_sql.spark_encode,
CLAUDE.md constraint 2), and for the exact-dedup, SimHash and epoch-shuffle
leaves, which have no second implementation: each leaf's Spark result must equal its DuckDB
``oracle_sql()`` on row count, column-name set and ``canonical_hash`` at
sf0.01 — the compare
``scripts/check_entry.py`` runs for the whole registry."""

import os
import sys

import pytest

from dggstools_spark.queries import ORACLES, QUERIES, TABLES

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts")

LEAVES = ["ivf_topk", "ivf_refined", "ann_ivfpq", "lm_score", "lm_score_sink",
          "gopher_quality", "asof_status", "pip_polygons", "zonal_stats",
          "subarea", "merge_resume", "auid_optimize", "is_optimal",
          "kring_xface", "ripley_k", "g_function", "cross_k", "fj_function",
          "access_2sfca", "voronoi_territories", "cells_io",
          # uncut encoder output
          "knn_cells", "line_error", "focal_mean", "morans_i", "hotspots",
          "local_moran", "bbox_cells", "focal_xface", "morans_xface",
          "hotspots_xface", "lisa_xface", "cell_trends", "cell_trends_dense",
          "od_flows", "cell_nbrs", "user_trips", "cell_rank", "near_pairs",
          "path_cells", "cell_visitors", "morph_close", "region_group",
          "idw_interp", "buffer_cells", "route_heat", "segregation",
          "location_quotient", "watershed", "slope_aspect", "mk_trend",
          "flow_accum", "emerging_hotspots", "flow_communities",
          "trip_balance", "region_shape", "viewshed", "theilsen_trend",
          # the only paths for exact dedup, SimHash and the epoch order
          "dedup_exact", "simhash", "epoch_shuffle"]


@pytest.fixture(scope="module")
def canonical_hash():
    # check_entry prepends a fixed path to sys.path at import; keep this
    # checkout's package first
    saved = list(sys.path)
    sys.path.insert(0, SCRIPTS)
    try:
        from check_entry import canonical_hash
    finally:
        sys.path[:] = saved
    return canonical_hash


@pytest.fixture(scope="module")
def sf01(sf_dir):
    """The sf0.01 tables next to the suite's default sf0.001 ones."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def duck(sf01):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf01}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", LEAVES)
def test_leaf_matches_oracle(spark, sf01, duck, canonical_hash, name):
    sdf = QUERIES[name](spark, sf01).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert canonical_hash(sdf) == canonical_hash(odf)
