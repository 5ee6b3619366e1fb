"""Deterministic synthetic geo/doc inputs.

Two layers:

1. ``lonlat_steps`` — portable SQL steps deriving a skewed (lon, lat) from an
   integer id column.  Used inside driver-checked queries so the Spark side
   and the DuckDB oracle derive identical coordinates from the shared parquet
   tables (the BASELINE.json input hint's coordinates ride on hashes of
   doc_id; no external data).  80% of points cluster around 24 hot centers
   (city-skew for the skew-handling story), 20% spread globally.

2. ``interleaved_docs`` — the BASELINE.json input_hint table
   (doc_id string, spans array<struct<kind,text,media_ref,offset>>, lon, lat)
   generated as a Spark DataFrame for tests and bench.  Span sequences must
   survive every operator byte-identical (per-row invariant).
"""

from __future__ import annotations

MIX = 2654435761  # Knuth multiplicative hash constant


def lonlat_steps(id_col: str, prefix: str = "_syn") -> list[tuple[str, str]]:
    """Ordered (name, sql) steps adding ``lon`` and ``lat`` double columns,
    derived deterministically from integer column ``id_col``.  Portable
    between Spark SQL and DuckDB (arithmetic + floor only)."""
    h = f"{prefix}_h"
    hot = f"{prefix}_hot"
    c = f"{prefix}_c"
    steps = [
        (h, f"(CAST({id_col} AS BIGINT) * {MIX}) % 1000000007"),
        (hot, f"{h} % 10 < 8"),  # 80% of docs in hot clusters
        (c, f"{h} % 24"),  # hot-center id
        (
            "lon",
            f"CASE WHEN {hot} THEN"
            f" CAST(({c} * 137) % 360 AS DOUBLE) - 180.0 + 0.5"
            f"  + (CAST(floor({h} / 24) AS BIGINT) % 2000) / 1000 - 1.0"
            f" ELSE (CAST(floor({h} / 7) AS BIGINT) % 360000) / 1000 - 180.0 END",
        ),
        (
            "lat",
            f"CASE WHEN {hot} THEN"
            f" CAST(({c} * 61) % 140 AS DOUBLE) - 70.0 + 0.5"
            f"  + (CAST(floor({h} / 48000) AS BIGINT) % 2000) / 1000 - 1.0"
            f" ELSE (CAST(floor({h} / 2520000) AS BIGINT) % 170000) / 1000 - 85.0 END",
        ),
    ]
    return steps


def with_lonlat(df, id_col: str):
    """Spark side of ``lonlat_steps``."""
    from pyspark.sql import functions as F

    steps = lonlat_steps(id_col)
    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[n for n, _ in steps if n not in ("lon", "lat")])


def duckdb_lonlat_select(source_sql: str, id_col: str, keep: list[str]) -> str:
    """DuckDB side of ``lonlat_steps``: subquery exposing keep + lon + lat."""
    inner = f"SELECT * FROM {source_sql}"
    for name, expr in lonlat_steps(id_col):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    cols = ", ".join(keep + ["lon", "lat"])
    return f"SELECT {cols} FROM ({inner})"


SPANS_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>, lon double, lat double")


def interleaved_docs(spark, n_docs: int, partitions: int | None = None):
    """The interleaved text+media document table of BASELINE.json input_hint,
    built distributed (spark.range -> expressions; no driver-side loops)."""
    from pyspark.sql import functions as F

    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    df = df.withColumn("doc_id", F.format_string("doc%012d", F.col("id")))
    # 1-8 spans; kind cycles text/image/audio; offsets strictly increasing.
    # The count derivation is portable arithmetic (not Spark's murmur hash)
    # so a DuckDB oracle can reproduce the span rows exactly.
    df = df.withColumn("_n", ((F.col("id") * MIX) % 1000000007 % 8 + 1).cast("int"))
    df = df.withColumn(
        "spans",
        F.expr(
            "transform(sequence(0, _n - 1), j -> named_struct("
            "  'kind', element_at(array('text','image','audio'), CAST(pmod(id * 7 + j, 3) AS INT) + 1),"
            "  'text', CASE WHEN pmod(id * 7 + j, 3) = 0 THEN concat('tok', CAST(pmod(id + j * 31, 997) AS STRING),"
            "      ' word', CAST(pmod(id * 3 + j, 211) AS STRING), ' the data point') ELSE NULL END,"
            "  'media_ref', CASE WHEN pmod(id * 7 + j, 3) != 0 THEN concat('blob://', md5(concat(doc_id, ':', CAST(j AS STRING)))) ELSE NULL END,"
            "  'offset', CAST(j * 16 + pmod(id + j, 16) AS INT)))"
        ),
    )
    df = with_lonlat(df, "id")
    return df.select("doc_id", "spans", "lon", "lat")


def span_signature(df):
    """Canonical per-doc signature of the span sequence (kind,text,media_ref,
    order) used to assert the pass-through invariant across operators."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id",
        F.md5(F.to_json(F.col("spans"))).alias("span_sig"),
    )
