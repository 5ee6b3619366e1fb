"""sf1 correctness gate (VERDICT r2 item 7): build a 10x-sf0.1 dataset and
run the shuffle-heavy driver queries against their DuckDB oracles at that
scale, recording CORRECTNESS_sf1.json + timings.

The sf1 tables are synthesized deterministically from sf0.1 by perturbed
replication (NOT plain copies — texts gain a per-replica token and
embeddings a per-replica component nudge, so near-dup buckets and LSH
planes see genuinely new rows; doc ids shift by a large stride, which also
relocates every derived lon/lat).  Both engines read the same parquet, so
the oracle comparison stays exact.

Usage: python scripts/sf1_gate.py [query ...]   (default: the shuffle-heavy
set minhash embed_pairs auid_optimize knn_cells)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_entry import canonical_hash  # noqa: E402

SF1_DIR = "/tmp/dggs_sf1"
SRC_DIR = "/root/testdata/sf0.1"
N_REPLICAS = 10
ID_STRIDE = 10_000_000
DEFAULT_QUERIES = ["minhash", "embed_pairs", "auid_optimize", "knn_cells",
                   "winnow_pairs",
                   # round-4 breadth (VERDICT r3 item 5): the remaining
                   # heavyweights + the two queries whose operators changed
                   # this round (relational simhash, quantized-mean IVF)
                   "ivf_refined", "ivf_topk", "ngram_pairs", "simhash",
                   "dedup_exact", "ann_topk", "salted_topk", "dedup_clusters",
                   # round-5: the stratified hash-rank sample exercises the
                   # pre-shuffle WindowGroupLimit at 500k rows; bm25 the
                   # pruned-explode + broadcast-stats rank shape
                   "stratified_sample", "bm25_topk",
                   # round-5 hygiene batch: decontaminate exercises the
                   # broadcast-probe + single-agg shape, gopher_quality the
                   # triple-explode rank-1 windows, ngram_sampled the
                   # bottom-k sketch estimator (the ngram_pairs lever)
                   "decontaminate", "gopher_quality", "ngram_sampled",
                   # pack_stats: the per-shard running-sum window shape
                   "pack_stats",
                   # round-5 batches 8-9: regex scrubbing (pii_scrub), the
                   # corpus-rewrite passage window (passage_dedup), the
                   # snapshot-vs-incoming join stack (cross_dedup), and the
                   # distribution-table percentile profile (corpus_stats)
                   "pii_scrub", "passage_dedup", "cross_dedup",
                   "corpus_stats",
                   # round-5 batch 10: planted-HTML regex extraction, the
                   # TakeOrderedAndProject vocab cut, the sharded
                   # epoch-order digest
                   "html_extract", "vocab_topk", "epoch_shuffle",
                   # round-5 batches 11-19 heavyweights: bigram-LM scoring
                   # (model-table checkpoint), PQ ADC scan, two-stage
                   # retrieval, cross-doc novelty, embedding CC (union-find
                   # oracle special case), the lattice analytics family,
                   # session windows, and the GIS trio
                   "lm_score", "dsir_select", "pq_topk", "hybrid_rerank",
                   "embed_clusters", "novelty_score", "cluster_keep",
                   "focal_mean", "morans_i", "hotspots", "local_moran",
                   "stream_sessions", "tile_pyramid", "bbox_cells",
                   "zonal_stats", "oov_rate", "text_normalize",
                   "mixture_plan", "dup_profile", "lang_confusion",
                   "len_histogram", "corpus_diff", "fertility",
                   # round-6: the cross-face seam-closure lattice family,
                   # append-mode (watermark-closed) sessions, the parquet
                   # LM model sink, URL-tier dedup (regexp-chain canon +
                   # hash agg), SemDeDup (IVF clusters + pair-sim prune),
                   # and the commutative-kept-hash dedup capstone
                   "focal_xface", "morans_xface", "hotspots_xface",
                   "lisa_xface", "stream_sessions_append", "lm_score_sink",
                   "url_dedup", "semantic_dedup", "dedup_pipeline",
                   "cell_trends"]
SMALL_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events"]


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    marker = f"{SF1_DIR}/_built_{N_REPLICAS}"
    if os.path.exists(marker):
        return
    os.makedirs(SF1_DIR, exist_ok=True)
    rep = F.explode(F.sequence(F.lit(0), F.lit(N_REPLICAS - 1))).alias("_r")

    docs = spark.read.parquet(f"{SRC_DIR}/documents.parquet").select("*", rep)
    docs.select(
        (F.col("doc_id") + F.col("_r") * ID_STRIDE).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"),
                 F.col("_r").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    ).repartition(32).write.mode("overwrite").parquet(f"{SF1_DIR}/documents.parquet")

    emb = spark.read.parquet(f"{SRC_DIR}/embeddings.parquet").select("*", rep)
    emb.select(
        (F.col("vec_id") + F.col("_r") * ID_STRIDE).alias("vec_id"),
        F.expr("transform(embedding, (x, i) -> CAST(CASE WHEN i = 0"
               " THEN x + _r * CAST(0.001 AS FLOAT) ELSE x END AS FLOAT))")
        .alias("embedding"),
        "label",
    ).repartition(32).write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet")

    # dimension tables pass through unchanged (query fixtures key off them)
    for t in SMALL_TABLES:
        spark.read.parquet(f"{SRC_DIR}/{t}.parquet") \
            .write.mode("overwrite").parquet(f"{SF1_DIR}/{t}.parquet")
    open(marker, "w").write("ok")


def _git_rev() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.strip()
    except Exception:
        return "unknown"


def main() -> int:
    import duckdb

    from dggstools_spark.session import get_spark
    from dggstools_spark.queries import QUERIES, ORACLES, TABLES
    from dggstools_spark.operators import spatial_join

    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark("sf1-gate")
    t0 = time.time()
    build_sf1(spark)
    print(f"sf1 tables ready in {time.time() - t0:.1f}s", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        # Spark writes parquet "files" as directories: glob the parts
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF1_DIR}/{t}.parquet/*.parquet')")

    def steal_jiffies() -> int:
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except Exception:
            return 0

    n_cpus = os.cpu_count() or 32  # /proc/stat steal is HOST-wide
    results: dict[str, dict] = {}
    failures = []
    for name in names:
        s0, t0 = steal_jiffies(), time.time()
        sdf = QUERIES[name](spark, SF1_DIR).toPandas()
        t_spark = time.time() - t0
        # per-run host-steal share, same accounting as bench.py — a gate
        # timing with steal_pct > ~1 is a contended sample, not a steady
        # state (the artifact numbers carry their own credibility marker)
        stl = (steal_jiffies() - s0) / (t_spark * n_cpus * 100) * 100
        rec: dict = {"spark_rows": len(sdf), "spark_sec": round(t_spark, 2),
                     "steal_pct": round(stl, 1),
                     # per-row provenance: partial reruns merge into the
                     # artifact, so each row must say which code produced it
                     "rev": _git_rev(), "ts": int(time.time())}
        if name == "knn_cells":
            rec["knn_stats"] = spatial_join.last_knn_stats
        if name == "embed_clusters":
            # the registered oracle is a recursive reachability CTE whose
            # row mass is Σ|component|² — tractable at sf0.01, intractable
            # over the ~2M near-clique sf1 edges (TODO_r6 #8).  At sf1 we
            # verify against an EXACT linear union-find over the pair list
            # (pairs themselves come from the oracle-side embed_pairs SQL,
            # which carries its own sf1 row).
            import pandas as pd

            from dggstools_spark.queries import ORACLES as _O

            t0 = time.time()
            pairs = con.execute(_O["embed_pairs"]).fetchall()
            parent: dict = {}

            def find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b, _ in pairs:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            odf = pd.DataFrame(
                sorted((n, find(n)) for n in parent),
                columns=["vec_id", "cluster_id"])
            rec.update(
                oracle_rows=len(odf), duckdb_sec=round(time.time() - t0, 2),
                oracle_kind="union_find_over_embed_pairs_sql",
                rows_match=len(sdf) == len(odf),
                schema_match=sorted(sdf.columns) == sorted(odf.columns),
                hash_match=canonical_hash(sdf) == canonical_hash(odf))
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            if not ok:
                failures.append(name)
            results[name] = rec
            print(f"{name}: {'OK' if ok else 'MISMATCH'} {rec}", flush=True)
            continue
        if name in ORACLES:
            t0 = time.time()
            odf = con.execute(ORACLES[name]).fetchdf()
            rec.update(
                oracle_rows=len(odf), duckdb_sec=round(time.time() - t0, 2),
                rows_match=len(sdf) == len(odf),
                schema_match=sorted(sdf.columns) == sorted(odf.columns),
                hash_match=canonical_hash(sdf) == canonical_hash(odf))
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        else:
            rec["err"] = "no_oracle"
            ok = len(sdf) > 0
        if not ok:
            failures.append(name)
        results[name] = rec
        print(f"{name}: {'OK' if ok else 'MISMATCH'} {rec}", flush=True)

    # merge into the existing artifact so partial reruns (a named subset)
    # refresh their own rows without clobbering the rest of the gate
    out_path = os.path.join(REPO, "CORRECTNESS_sf1.json")
    merged: dict = {}
    try:
        with open(out_path) as f:
            merged = json.load(f)
    except Exception:
        pass
    merged.update(results)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    print(f"FAILURES: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
