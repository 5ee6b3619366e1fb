"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship spatial-join + tile-assignment query on sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2).
oracle_sql()  — DuckDB-equivalent SQL per query (driver correctness gate).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: skewed doc points -> Arrow-batched rHEALPix cell encoding ->
    per-cell tile histogram, top tiles first (SURVEY §7.2)."""
    from dggstools_spark.queries import q_cell_counts

    # The worker-daemon setting of get_spark is static, read when the
    # context starts, so a session not made by get_spark keeps PySpark's
    # stock daemon and its per-task zip re-reads (CLAUDE.md constraint 23).
    return q_cell_counts(spark, "/root/testdata/sf0.001").orderBy(
        F.col("n_docs").desc(), "cellid"
    ).limit(50)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dggstools_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from dggstools_spark.queries import ORACLES

    return dict(ORACLES)
