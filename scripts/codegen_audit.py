"""Generated-method bytecode-size audit (CLAUDE.md constraint 16 breadth).

The 8000-byte JIT cliff was found on one query (embed_pairs.count()); the
session now pins spark.sql.codegen.hugeMethodLimit=8000 so any stage whose
generated method crosses HotSpot's JIT limit falls back to volcano instead
of silently running in the bytecode interpreter.  This audit shows WHERE
each hot query sits relative to the cliff: per query, in a FRESH JVM (the
CodegenMetrics reservoir is process-global, so isolation is the only way
to attribute sizes to a query), it runs the query once at sf0.1 and reads
org.apache.spark.metrics.source.CodegenMetrics'
METRIC_GENERATED_METHOD_BYTECODE_SIZE histogram:

- n_methods   — generated methods compiled by janino
- max_bytes   — largest single method (reservoir snapshot)
- n_over_8000 — methods past the JIT limit = stages Spark now runs as
                volcano under the session conf (before r5 these ran in
                the bytecode interpreter at measured ~7x cost)
- p99_bytes   — distribution tail: a query whose p99 sits near 8000 is
                one added column away from the cliff (constraint 15's
                "one flat expression too many", now measurable instead of
                discovered through a benchmark regression)
- near_cliff  — methods in (6000, 8000]: still JIT-compiled today, but one
                added column/filter away from crossing (VERDICT r5 #3) —
                the split-candidate list to watch before they regress

The histogram records a method only when its class is compiled, and the
session keeps compiled classes (spark.sql.codegen.cache.maxEntries, CLAUDE.md
constraint 24): a class already in the cache is reused and not recorded
again.  The fresh JVM per query keeps this audit complete.  A sweep that
shares one session sees each distinct class once, so a Tier-1 codegen
check (ROADMAP item 6) must count a class whether or not it was already
cached — e.g. by reading each stage's generated code, not this histogram.

Usage: python scripts/codegen_audit.py [query ...]   (writes
CODEGEN_AUDIT.json; default set = the flat-fold and wide-stage suspects
plus the flagship plan; `--all` sweeps the ENTIRE registry)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    "embed_pairs", "ann_topk", "ivf_topk", "ivf_refined", "embed_knn",
    "ngram_pairs", "minhash", "simhash", "dedup_clusters", "winnow_pairs",
    "span_cells", "cell_counts", "knn_cells", "flagship",
]

CHILD = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
from dggstools_spark.session import get_spark
spark = get_spark("codegen-audit")
spark.sparkContext.setLogLevel("ERROR")
name = {name!r}
sf_dir = {sf_dir!r}
if name == "flagship":
    import bench
    bench.flagship(spark, 200000)
else:
    from dggstools_spark.queries import QUERIES
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
m = (spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
     .METRIC_GENERATED_METHOD_BYTECODE_SIZE())
snap = m.getSnapshot()
vals = sorted(int(v) for v in snap.getValues())
rec = {{
    "n_methods": int(m.getCount()),
    "max_bytes": int(snap.getMax()),
    "p99_bytes": int(snap.get99thPercentile()),
    "n_over_8000": sum(1 for v in vals if v > 8000),
    "over_8000": [v for v in vals if v > 8000],
    "near_cliff": [v for v in vals if 6000 < v <= 8000],
}}
print("AUDIT_JSON:" + json.dumps(rec))
spark.stop()
"""


def main() -> int:
    names = sys.argv[1:] or DEFAULT_QUERIES
    if names == ["--all"]:
        sys.path.insert(0, REPO)
        from dggstools_spark.queries import QUERIES
        names = ["flagship", *QUERIES]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = {}
    for name in names:
        code = CHILD.format(repo=REPO, name=name, sf_dir=sf_dir)
        try:
            r = subprocess.run([sys.executable, "-c", code], timeout=900,
                               capture_output=True, text=True, check=True)
            line = [l for l in r.stdout.splitlines()
                    if l.startswith("AUDIT_JSON:")][-1]
            rec = json.loads(line[len("AUDIT_JSON:"):])
        except Exception as e:  # keep auditing the rest
            rec = {"err": f"{type(e).__name__}: {e}"[:300]}
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    # MERGE into the committed artifact: a targeted run must not clobber
    # the full-registry sweep (it did once, r6 — 96 rows lost to a 7-row
    # file until restored from git)
    path = os.path.join(REPO, "CODEGEN_AUDIT.json")
    merged = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                merged = json.load(f)
        except Exception:
            merged = {}
    merged.update(out)
    with open(path, "w") as f:
        json.dump(merged, f, indent=2)
    print(f"wrote CODEGEN_AUDIT.json ({len(out)} updated, {len(merged)} total)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
