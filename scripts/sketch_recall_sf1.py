"""Bottom-k sketch lever study at sf1 (TODO_r6 #6): does ngram_sampled hold
ngram_pairs' time budget WITHOUT the DF-cap recall cliff?

Context (SCALE.md round-5 lever table): ngram_pairs' only brake is the
shingle doc-frequency cap, and tightening it 200 -> 100 kept just 5,400 of
250,600 true pairs on the templated sf1 corpus — a recall cliff
concentrated on exactly the hottest near-dup families.  The bottom-k
estimator trades that cliff for uniform ~1/sqrt(k) sampling error: recall
should stay high at every family size, tunable by (k, threshold).

Protocol: at sf1 (500k docs), compute
  truth   = ngram_pairs(threshold=0.5, max_doc_freq=200)   [the gate query]
  sampled = bottomk_jaccard_pairs(k, threshold=t, max_hash_df=200)
for a small (k, t) grid, and report per variant: wall sec (best-of-2,
steal-stamped), emitted pairs, recall vs truth (true pairs recovered) and
precision proxy (emitted pairs that are true).  Threshold t below 0.5
compensates estimator noise around the decision boundary (a J=0.5 pair's
k=16 estimate has sigma ~ 0.125, so t=0.5 would coin-flip borderline
pairs).

Output: one JSON line per variant -> fold into SCALE.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.sf1_gate import SF1_DIR, build_sf1, _git_rev  # noqa: E402


def steal_jiffies() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def main() -> int:
    from dggstools_spark.session import get_spark
    from dggstools_spark.operators.dedup import (bottomk_jaccard_pairs,
                                                 ngram_jaccard_pairs)

    spark = get_spark("sketch-recall-sf1")
    build_sf1(spark)
    docs = spark.read.parquet(f"{SF1_DIR}/documents.parquet")
    n_cpus = os.cpu_count() or 32

    def timed_pairs(label, df_builder):
        best, stl_best, rows = None, None, None
        for _ in range(2):  # best-of-2: first run pays JIT (levers_sf1 protocol)
            s0, t0 = steal_jiffies(), time.time()
            got = {(r[0], r[1]) for r in df_builder().collect()}
            dt = time.time() - t0
            stl = (steal_jiffies() - s0) / (dt * n_cpus * 100) * 100
            if best is None or dt < best:
                best, stl_best, rows = dt, stl, got
        return best, stl_best, rows

    t_truth, stl_t, truth = timed_pairs(
        "ngram_pairs",
        lambda: ngram_jaccard_pairs(docs, "text", "doc_id",
                                    threshold=0.5, max_doc_freq=200)
        .select("a_id", "b_id"))
    print(json.dumps({"variant": "ngram_pairs(exact, cap=200)",
                      "sec": round(t_truth, 2), "steal_pct": round(stl_t, 1),
                      "pairs": len(truth), "rev": _git_rev()}), flush=True)

    for k, t in [(16, 0.5), (16, 0.35), (32, 0.4)]:
        sec, stl, got = timed_pairs(
            f"bottomk(k={k},t={t})",
            lambda k=k, t=t: bottomk_jaccard_pairs(
                docs, "text", "doc_id", k=k, threshold=t, max_hash_df=200)
            .select("a_id", "b_id"))
        inter = len(truth & got)
        print(json.dumps({
            "variant": f"bottomk k={k} t={t}",
            "sec": round(sec, 2), "steal_pct": round(stl, 1),
            "pairs": len(got),
            "recall_vs_truth": round(inter / len(truth), 4) if truth else None,
            "true_frac_of_emitted": round(inter / len(got), 4) if got else None,
            "rev": _git_rev()}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
