"""Superlinear-tail lever study at sf1 (VERDICT r4 item 4 / round-5 brief).

The sf0.1 -> sf1 gate shows four pair-generating queries scaling
superlinearly in wall-clock because their EMITTED PAIR MASS scales
superlinearly (the sf1 replication deliberately creates cross-replica
near-dup structure).  That is correct behavior — but at 100x data the pair
mass decides wall-clock, so each of these operators needs a demonstrated
LEVER that holds a fixed time budget by shrinking candidate/output mass,
with the accuracy trade stated.

Per query this script measures [default, levered] at sf1 — BEST OF 2 runs
per variant (these plan shapes take one full-size run to reach JIT steady
state: the first ngram_pairs run measured 9x its steady state in the r5
probe), quiet-window gated, per-run steal% sampled:

- ngram_pairs   lever: max_doc_freq 200 -> 100  (tighter shingle-DF cap:
                drops boilerplate shingles before the self-join; Jaccard
                for affected pairs biases DOWN, never up.  50 was probed
                first and zeroed the output — the synthetic corpus is so
                templated that every qualifying pair rides shingles with
                DF > 50 — so 100 is the demonstrated usable setting)
- minhash       lever: band_size 2 -> 4          (4 bands of 2 -> 2 bands
                of 4: a stricter band needs 4 matching minhashes, cutting
                false-candidate mass at some recall cost on weak near-dups)
- ann_topk      lever: probe_hamming 2 -> 1      (22 -> 7 probe buckets of
                the 64: the scan fraction is the knob that scales, recall
                drops on weakly-separated neighbors; n_planes 6 -> 8 was
                probed first and measured SLOWER at this N — the Hamming-2
                probe set grows 22 -> 37 buckets, outweighing the 4x
                smaller buckets)
- embed_pairs   lever: n_planes 6 -> 8 + max_bucket 2000 (finer buckets +
                the operator's hot-bucket cap, disabled in the registry
                query only for oracle parity)

Output: one JSON line per (query, variant) with sec, emitted rows,
sec-per-1k-pairs, steal%, plus a PASS/FAIL against TIME_BUDGET_S.
Results are folded into SCALE.md's superlinear-tail table.

Usage: python scripts/levers_sf1.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TIME_BUDGET_S = 15.0  # the fixed budget the levered variant must hold
SF1_DIR = "/tmp/dggs_sf1"


def _variants():
    """name -> {variant -> builder(spark) -> DataFrame}."""
    from pyspark.sql import functions as F

    from dggstools_spark.operators.dedup import (embedding_cosine_pairs,
                                                 minhash_lsh_pairs,
                                                 ngram_jaccard_pairs)
    from dggstools_spark.operators.similarity import ann_topk
    from dggstools_spark.queries3 import (ANN_HAMMING, ANN_K, ANN_PLANES,
                                          EMB_DIM, EP_PLANES, EP_THRESHOLD,
                                          load)
    from dggstools_spark.queries5 import NG_MAX_DF, NG_THRESHOLD

    def docs(spark):
        return load(spark, SF1_DIR, "documents")

    def emb(spark):
        return load(spark, SF1_DIR, "embeddings")

    def qs(spark):
        e = emb(spark)
        return e.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))

    return {
        "ngram_pairs": {
            "default": lambda s: ngram_jaccard_pairs(
                docs(s), "text", "doc_id", threshold=NG_THRESHOLD,
                max_doc_freq=NG_MAX_DF),
            "lever_maxdf100": lambda s: ngram_jaccard_pairs(
                docs(s), "text", "doc_id", threshold=NG_THRESHOLD,
                max_doc_freq=100),
        },
        "minhash": {
            # the scale-path operator (banded candidate join), not the
            # registry's signature-only query — the superlinear mass lives
            # in the band buckets
            "default": lambda s: minhash_lsh_pairs(
                docs(s), "text", "doc_id"),
            "lever_band4": lambda s: minhash_lsh_pairs(
                docs(s), "text", "doc_id", band_size=4),
        },
        "ann_topk": {
            "default": lambda s: ann_topk(
                emb(s), qs(s), ANN_K, n_planes=ANN_PLANES,
                probe_hamming=ANN_HAMMING, max_bucket=None, dim=EMB_DIM),
            "lever_hamming1": lambda s: ann_topk(
                emb(s), qs(s), ANN_K, n_planes=ANN_PLANES,
                probe_hamming=1, max_bucket=None, dim=EMB_DIM),
        },
        "embed_pairs": {
            "default": lambda s: embedding_cosine_pairs(
                emb(s), "embedding", "vec_id", threshold=EP_THRESHOLD,
                n_planes=EP_PLANES, max_bucket=None, dim=EMB_DIM),
            "lever_planes8_cap": lambda s: embedding_cosine_pairs(
                emb(s), "embedding", "vec_id", threshold=EP_THRESHOLD,
                n_planes=8, max_bucket=2000, dim=EMB_DIM),
        },
    }


def main() -> int:
    from bench import read_steal_jiffies, wait_for_quiet
    from dggstools_spark.session import get_spark
    from sf1_gate import build_sf1

    spark = get_spark("levers-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    build_sf1(spark)

    variants = _variants()
    names = sys.argv[1:] or list(variants)
    host = os.cpu_count() or 32

    # shared warm-up: touch both tables + one tiny pair join so JIT/worker
    # spin-up doesn't land on the first measured variant
    from pyspark.sql import functions as F
    d = spark.read.parquet(f"{SF1_DIR}/documents.parquet")
    d.limit(2000).groupBy("source").count().collect()
    spark.read.parquet(f"{SF1_DIR}/embeddings.parquet").limit(2000) \
        .withColumn("n", F.expr("aggregate(embedding, 0.0D, (a, x) -> a + x)")) \
        .agg(F.sum("n")).collect()

    out = {}
    for name in names:
        for variant, builder in variants[name].items():
            times, steals, n_rows = [], [], 0
            for _ in range(2):  # best-of-2: run 1 pays plan-shape JIT
                wait_for_quiet()
                s0, t0 = read_steal_jiffies(), time.time()
                n_rows = builder(spark).count()
                dt = time.time() - t0
                times.append(dt)
                steals.append(round(
                    (read_steal_jiffies() - s0) / (dt * host * 100) * 100, 1))
            best = min(times)
            rec = {
                "sec": round(best, 2), "rows": n_rows,
                "sec_per_1k_pairs": round(best / max(n_rows, 1) * 1000, 4),
                "runs": [round(t, 2) for t in times], "steal_pct": steals,
                "within_budget": best <= TIME_BUDGET_S,
            }
            out[f"{name}/{variant}"] = rec
            print(json.dumps({f"{name}/{variant}": rec}), flush=True)

    with open(os.path.join(REPO, "LEVERS_sf1.json"), "w") as f:
        json.dump(out, f, indent=2)
    print("wrote LEVERS_sf1.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
