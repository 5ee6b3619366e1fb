"""Seeded doc-point generator for the benchmark (numpy + pyarrow only).

The points follow the skew of ``dggstools_spark.sources.synth``: a share of
them (``hot_share``) falls in a 2 deg x 2 deg box around one of 24 fixed hot
centres, the rest spread over lon [-180, 180), lat [-85, 85).  The same
(seed, size, hot_share) always gives the same files.

Usage: python3 perfbench/gen.py --seed 1 --size 100000 --hot-share 0.8 --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_CENTERS = 24
DONE = "_DONE"


def hot_centers() -> tuple[np.ndarray, np.ndarray]:
    """The 24 cluster centres of ``sources.synth.lonlat_steps``."""
    c = np.arange(HOT_CENTERS)
    return (c * 137) % 360 - 180.0 + 0.5, (c * 61) % 140 - 70.0 + 0.5


def make_points(seed: int, n: int, hot_share: float) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < hot_share
    centre = rng.integers(0, HOT_CENTERS, n)
    clon, clat = hot_centers()
    lon = np.where(hot, clon[centre] + rng.uniform(-1.0, 1.0, n),
                   rng.uniform(-180.0, 180.0, n))
    lat = np.where(hot, clat[centre] + rng.uniform(-1.0, 1.0, n),
                   rng.uniform(-85.0, 85.0, n))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "lon": lon,
        "lat": lat,
        "n_spans": rng.integers(1, 9, n, dtype=np.int32),
    }


def write_points(out_dir: str, seed: int, n: int, hot_share: float,
                 files: int = 8) -> dict[str, np.ndarray]:
    """Write the points as ``files`` parquet parts plus a completion marker,
    and return the columns.  An existing complete directory is reused."""
    if os.path.exists(os.path.join(out_dir, DONE)):
        table = pq.read_table(out_dir)
        return {name: table.column(name).to_numpy() for name in table.column_names}
    cols = make_points(seed, n, hot_share)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = pa.table({k: v[bounds[i]:bounds[i + 1]] for k, v in cols.items()})
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    with open(os.path.join(out_dir, DONE), "w") as f:
        f.write(f"seed={seed} n={n} hot_share={hot_share}\n")
    return cols


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--hot-share", type=float, default=0.8)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_points(a.out, a.seed, a.size, a.hot_share)


if __name__ == "__main__":
    main()
