"""Replicates the driver's correctness gate locally:

runs entry(spark) and compares its rows with the cell_counts oracle over the
same documents file (top 50 by n_docs desc, cellid), then runs every
queries()[name] at sf0.01 and compares against oracle_sql()[name] via DuckDB
— row count, column-name set, and an order-insensitive value hash (columns
sorted by name, rows canonicalized).

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from urllib.parse import urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def canonical_hash(pdf) -> str:
    import numpy as np
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "NULL"
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        return str(v)

    rows = sorted(",".join(canon(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from dggstools_spark.session import get_spark
    from dggstools_spark.queries import TABLES

    # deploy-artifact freshness gate: the py-files zip must match the source
    # tree byte-for-byte (deterministic build); rebuild it if it diverged so
    # a green gate run always leaves a current artifact on disk.
    from make_pyfiles_zip import ensure_fresh, ZIP_PATH
    if ensure_fresh():
        print(f"deploy zip was STALE — rebuilt {ZIP_PATH}", flush=True)
    else:
        print(f"deploy zip fresh: {ZIP_PATH}", flush=True)

    spark = get_spark("check-entry")

    print("== entry(spark) smoke ==", flush=True)
    t0 = time.time()
    res = entry_mod.entry(spark)
    edf = res.toPandas()
    print(f"entry: {len(edf)} rows in {time.time() - t0:.1f}s; schema: {res.schema.simpleString()}")
    # entry is the cell_counts leaf, top 50 by (n_docs desc, cellid), over
    # the documents file it read; the oracle runs over that same file
    econ = duckdb.connect()
    files = [urlparse(f).path for f in res.inputFiles()]
    econ.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
    eodf = econ.execute(
        f"SELECT * FROM ({entry_mod.oracle_sql()['cell_counts']})"
        " ORDER BY n_docs DESC, cellid LIMIT 50").fetchdf()
    ok_entry = (len(edf) == len(eodf) > 0
                and sorted(edf.columns) == sorted(eodf.columns)
                and canonical_hash(edf) == canonical_hash(eodf))
    print(f"entry: {'OK' if ok_entry else 'MISMATCH'} rows={len(edf)}/{len(eodf)}"
          f" over {files}", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (rows-only check, no oracle) [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        odf = con.execute(oracles[name]).fetchdf()
        t_duck = time.time() - t0
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        h1, h2 = canonical_hash(sdf), canonical_hash(odf)
        ok_hash = h1 == h2
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        print(f"{name}: {status} rows={len(sdf)}/{len(odf)} cols_ok={ok_cols} "
              f"hash_ok={ok_hash} [spark {t_spark:.1f}s, duckdb {t_duck:.1f}s]")
        if status != "OK":
            failures.append(name)
            if not ok_cols:
                print(f"  spark cols: {sorted(sdf.columns)}\n  duck  cols: {sorted(odf.columns)}")
            if ok_cols and not ok_hash:
                merged = sdf.merge(odf, how="outer", indicator=True,
                                   on=list(sorted(sdf.columns)))
                diff = merged[merged["_merge"] != "both"]
                print(diff.head(10).to_string())
    if not ok_entry:
        failures.insert(0, "entry")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
