"""Cell-table storage (SURVEY S3/S4/S6/S10 analogues).

Layout: ``data/cell_prefix=…/`` parquet partitioned by cell prefix (the
Iceberg truncate-transform layout), so cell-keyed joins and rollups prune
partitions, plus a JSON ``_meta.json`` sidecar carrying the reference's
gdf.attrs contract (rhpx_gdf_helper.py:149-186 and utils/storage.py:51-66
gpkg_metadata), the prefix length and the written schema.

The store costs what its data costs: ``write_cells`` rebalances rows by
prefix, so a prefix is one file rather than one file per write task, and
``read_cells`` takes the schema from the sidecar (no schema-inference
job) and opens the prefix directories it needs directly (a full read
is the prefix read that matches them all).  That read fires no
directory-listing job while it opens at most 32 directories
(``spark.sql.sources.parallelPartitionDiscovery.threshold``); above
that Spark lists them in a parallel job (measurements in SCALE.md,
Data layout)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG


def build_attrs(res_idx: int, nbands: int, nodata: float | None,
                cfg: RHEALPixConfig = DEFAULT_CONFIG,
                extra: dict | None = None) -> dict:
    attrs = {
        "res_idx": res_idx,
        "res": cfg.cell_width(res_idx),
        "nbands": nbands,
        "nodata": nodata,
        "nodatavals": [nodata] * nbands,
        "store_nodata": nodata is None,
        "rhealpixdggs": {
            "n_side": cfg.n_side,
            "north_square": cfg.north_square,
            "south_square": cfg.south_square,
            "max_resolution": cfg.max_resolution,
            "ellipsoid": "WGS84",
        },
    }
    attrs.update(extra or {})
    return attrs


def write_cells(df: DataFrame, path: str, attrs: dict,
                prefix_len: int = 2) -> None:
    """Overwrite a cell table at ``path``: parquet partitioned by the first
    ``prefix_len`` chars of ``cellid`` (``data/cell_prefix=…/``) plus the
    ``_meta.json`` sidecar (attrs, prefix_len and the written schema).

    The rows are rebalanced by ``cell_prefix`` before the partitioned
    write, so each prefix lands in one task and one file instead of one
    file per (task, prefix) pair.  AQE's rebalance still splits a hot
    prefix over several tasks and coalesces small ones.  The overwrite is
    static whatever the session's partitionOverwriteMode, so no prefix of
    an older table survives beside the new rows and the recorded schema."""
    out = (df.withColumn("cell_prefix", F.substring("cellid", 1, prefix_len))
           .hint("rebalance", "cell_prefix"))
    (out.write.mode("overwrite").option("partitionOverwriteMode", "static")
     .partitionBy("cell_prefix").parquet(f"{path}/data"))
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/_meta.json", "w") as f:
        json.dump({"attrs": attrs, "prefix_len": prefix_len,
                   "schema": out.schema.jsonValue()}, f, indent=2)


def read_cells(spark: SparkSession, path: str,
               prefix: str | None = None) -> tuple[DataFrame, dict]:
    """Read a cell table (+attrs), optionally only the cells under ``prefix``.

    The schema comes from the sidecar, so the read runs no footer job to
    infer it; a sidecar without one (a table written before it was
    recorded) pays one inference job.  It lists ``data/`` itself
    (os.listdir) and opens only the ``cell_prefix=…`` directories whose
    value starts with ``prefix[:prefix_len]`` (every one for a full
    read): no partition pruning left to do, no listing job while at most
    32 directories match (more fire Spark's parallel listing job), and a
    prefix matching no directory gives an empty frame with the table's
    columns.  A prefix FINER than the stored prefix_len also row-filters
    on the cellid (a bare startswith on the partition value would return
    nothing: 'N1'.startswith('N12') is false)."""
    with open(f"{path}/_meta.json") as f:
        meta = json.load(f)
    plen = int(meta.get("prefix_len", 2))
    data = f"{path}/data"
    schema = (StructType.fromJson(meta["schema"]) if "schema" in meta
              else spark.read.parquet(data).schema)
    prefix = prefix or ""
    dirs = sorted(f"{data}/{d}" for d in os.listdir(data)
                  if d.startswith(f"cell_prefix={prefix[:plen]}"))
    df = (spark.read.schema(schema).option("basePath", data).parquet(*dirs)
          if dirs else spark.createDataFrame([], schema))
    if len(prefix) > plen:
        df = df.filter(F.col("cellid").startswith(prefix))
    return df.drop("cell_prefix"), meta["attrs"]


def read_attrs(path: str) -> dict:
    """S10 metadata reader (print-*-metadata CLI analogue)."""
    with open(f"{path}/_meta.json") as f:
        return json.load(f)["attrs"]


def with_json_bands(df: DataFrame, value_cols: list[str] | None = None,
                    out: str = "all_bands", keep_bands: bool = False) -> DataFrame:
    """The reference's ``values_in_json`` cell-table shape: all band columns
    packed into ONE JSON string column {"band1": v, ...} (reference
    rhpx_gdf_helper.py:100-106).  Key order = column order, matching the
    reference's band-ordered dict."""
    if value_cols is None:
        value_cols = [c for c in df.columns if c.startswith("band")]
    df = df.withColumn(out, F.to_json(F.struct(*value_cols)))
    return df if keep_bands else df.drop(*value_cols)


def with_uuid(df: DataFrame, out: str = "uuid",
              deterministic_from: list[str] | None = None) -> DataFrame:
    """The reference's optional per-cell ``uuid`` column (rhpx_gdf_helper
    .py:112-113, uuid4 — nondeterministic there too).  Pass
    ``deterministic_from=[cols]`` for a content-derived RFC-4122-shaped id
    instead (reproducible pipelines, oracle-checkable)."""
    if deterministic_from is None:
        return df.withColumn(out, F.expr("uuid()"))
    h = F.md5(F.concat_ws("\x1f", *deterministic_from))
    return df.withColumn(out, F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12)))
