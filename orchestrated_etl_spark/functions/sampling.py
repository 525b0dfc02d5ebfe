"""Deterministic hash-bucket sampling.

A key's bucket is a multiplicative hash (Knuth's 2^32 golden ratio)
written in plain int64 arithmetic, so Spark and the DuckDB oracle compute
bit-identical buckets and a rerun keeps the same rows, which
``df.sample()`` cannot promise. ``hash_bucket`` is the Column form and
``hash_bucket_sql`` the SQL text of the same expression; a sampler keeps
a key when its bucket falls below ``rate * HASH_MOD``. Production note:
swap for xxhash64(col) when cross-engine parity isn't required — same
pushdown behavior, better mixing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MULT = 2654435761
HASH_MOD = 4294967296


def hash_bucket(col: str) -> Column:
    """``(col * HASH_MULT) % HASH_MOD``: the bucket of key column ``col``,
    in ``[0, HASH_MOD)``."""
    return (F.col(col) * F.lit(HASH_MULT)) % F.lit(HASH_MOD)


def hash_bucket_sql(col: str) -> str:
    """``hash_bucket`` as SQL text, for the oracle twins."""
    return f"(({col} * {HASH_MULT}) % {HASH_MOD})"
