"""Where every driver-contract leaf declares its query and DuckDB oracle.

Each ``queries*.py`` module calls :func:`register` once per leaf at import
time; ``queries.py`` orders the result into ``QUERIES``/``ORACLES``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: name -> (fn(spark, sf_dir) -> DataFrame, oracle SQL), in registration order
REGISTERED: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def register(name: str, query: Callable[[SparkSession, str], DataFrame],
             oracle: str) -> None:
    if name in REGISTERED:
        raise ValueError(f"query {name!r} is already registered")
    REGISTERED[name] = (query, oracle)
