"""Deterministic epoch shuffle: the keys of a global training order.

The last step of a training-data pipeline is writing the corpus in the
order the trainer will read it.  A true global sort (one total order) is
the classic anti-pattern at 100 TB — RangePartitioner samples the input
(non-deterministic boundaries) and every executor participates in one
giant range shuffle.  Standard practice instead is SHARDED order: each
example is assigned a pseudo-random shard and a pseudo-random position
within its shard; shards are written independently and the trainer
interleaves them.  Statistically this IS a uniform shuffle (the
composition of two hash draws).  This module defines the two draws
(shard_of, epoch_key) and the value-check form epoch_shuffle_stats, which
digests every shard's full sequence; query ``epoch_shuffle`` runs it.

Determinism contract (same spirit as operators/sampling.py): both the
shard and the in-shard position are pure functions of (seed, id), so the
epoch order is reproducible across runs, partitionings, task retries, and
engines — "epoch 3 of run B" is bit-identical to "epoch 3 of run A", and
a resumed job rewrites the identical shard bytes.  Different seeds
(epochs) give independent orders.

Key construction: key = md5('<seed>:<id>'); lower-case hex compares
lexicographically == numerically (sampling.py invariant), so ORDER BY key
needs no integer conversion anywhere.  The shard is the first two hex
nibbles of an INDEPENDENT draw (md5('<seed>#shard:<id>')) mod n_shards —
independent so that shard assignment and in-shard order don't share bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HEX = "0123456789abcdef"


def epoch_key(id_col: str, seed: str) -> Column:
    """The in-shard ordering key (32-hex md5)."""
    return F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))


def shard_of(id_col: str, seed: str, n_shards: int) -> Column:
    """Deterministic shard in [0, n_shards) from an independent hash draw
    (two nibbles = 256 buckets folded by mod — exactly uniform when
    n_shards divides 256, near-uniform otherwise; instr into the hex
    alphabet avoids engine-specific hex-to-int builtins)."""
    sh = f"md5(concat('{seed}#shard:', cast({id_col} as string)))"
    v = (F.expr(f"instr('{_HEX}', substring({sh}, 1, 1)) - 1") * 16
         + F.expr(f"instr('{_HEX}', substring({sh}, 2, 1)) - 1"))
    return (v % F.lit(n_shards)).cast("int")


def epoch_shuffle_stats(df: DataFrame, id_col: str, seed: str = "epoch0",
                        n_shards: int = 16) -> DataFrame:
    """Value-check form: per shard, the size and an order-sensitive digest
    of the ENTIRE shard sequence — md5 of the comma-joined id list in
    (key, id) order.  Any engine that agrees on md5 must reproduce the
    byte-identical digest, which pins shard assignment AND order, not just
    membership.  The collect_list is bounded by shard size (same bound the
    writer carries); for the driver-scale check that is the whole point,
    for production you'd digest per-file on write instead."""
    keyed = df.select(
        F.col(id_col),
        shard_of(id_col, seed, n_shards).alias("shard"),
        epoch_key(id_col, seed).alias("key"))
    return (keyed.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.min("key").alias("first_key"),
                 F.max("key").alias("last_key"),
                 F.md5(F.array_join(F.transform(
                     F.sort_array(F.collect_list(
                         F.struct(F.col("key"), F.col(id_col).alias("i")))),
                     lambda s: s.i.cast("string")), ",")).alias("order_md5")))


def epoch_shuffle_stats_sql(table: str, id_col: str, seed: str = "epoch0",
                            n_shards: int = 16) -> str:
    """DuckDB twin of epoch_shuffle_stats (shared-snippet rule: the oracle
    runs THIS text, so key/shard/order semantics cannot drift)."""
    key = f"md5(concat('{seed}:', CAST({id_col} AS VARCHAR)))"
    sh = f"md5(concat('{seed}#shard:', CAST({id_col} AS VARCHAR)))"
    shard = (f"CAST((((instr('{_HEX}', substring({sh}, 1, 1)) - 1) * 16"
             f" + instr('{_HEX}', substring({sh}, 2, 1)) - 1)"
             f" % {n_shards}) AS INT)")
    return f"""
    WITH keyed AS (SELECT {id_col} AS i, {shard} AS shard, {key} AS key
                   FROM {table})
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(key) AS first_key,
           max(key) AS last_key,
           md5(string_agg(CAST(i AS VARCHAR), ',' ORDER BY key, i))
               AS order_md5
    FROM keyed GROUP BY shard
    """
