"""The query registry is declared once and its order and oracle text are
pinned: a refactor that reorders QUERIES or changes one byte of any
oracle_sql() string fails here.  Starts no Spark session."""

import hashlib

import pytest

from dggstools_spark.queries import ORACLES, ORDER, QUERIES
from dggstools_spark.registry import REGISTERED, register

# sha256 of "\n".join(QUERIES)
ORDER_SHA256 = "417f63df6a9bd1b9d0eccdd9f398ef4383608084fb6c33e16d84343a85310c62"
# sha256 over name + "\0" + ORACLES[name] + "\0" for every name in order
ORACLES_SHA256 = "12ba0f5f6e4d7ef2ad984b9d72d4c8315f62000172d5b379571c7b87d932c6e4"


def test_registry_shape():
    assert len(QUERIES) == 155
    assert list(QUERIES) == list(ORACLES) == list(ORDER)
    assert all(callable(fn) for fn in QUERIES.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in ORACLES.values())


def test_order_digest():
    digest = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert digest == ORDER_SHA256


def test_oracle_digest():
    h = hashlib.sha256()
    for name in QUERIES:
        h.update(f"{name}\0{ORACLES[name]}\0".encode())
    assert h.hexdigest() == ORACLES_SHA256


def test_register_rejects_duplicate_name():
    fn, sql = REGISTERED["cell_counts"]
    with pytest.raises(ValueError, match="cell_counts"):
        register("cell_counts", lambda spark, sf_dir: None, "SELECT 1")
    assert REGISTERED["cell_counts"] == (fn, sql)
