"""Explicit skew handling: salted joins.

north_rule: "partitioning / shuffle / skew handled explicitly". AQE's
skew-join splitting handles sort-merge joins automatically at runtime;
salting is the static complement for the cases AQE can't fix —
aggregations on hot keys, and joins where one hot key floods a single
reducer before AQE can split it (Zipf-headed entity labels in CC, hot
LSH bands, giant repos).

Pattern: explode the small/dimension side `salt_buckets` times, scatter
the fact side uniformly with a deterministic hash-salt, join on
(key, salt). Salt is derived from stable row content (never rand() —
determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_salt(df: DataFrame, cols: list[str], buckets: int, out: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, buckets) from the row's own columns."""
    return df.withColumn(out, F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)))


def explode_salt(df: DataFrame, buckets: int, out: str = "_salt") -> DataFrame:
    """Replicate each row once per salt bucket (the broadcastable side)."""
    return df.withColumn(out, F.explode(F.array(*[F.lit(i) for i in range(buckets)])))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_cols: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on `key` where `key` is Zipf-skewed in `fact`.

    The fact side is scattered across `buckets` reducers per key (salt
    from `salt_cols`, which must NOT include the key — they provide the
    uniformity); the dim side is replicated per bucket. Correctness is
    identical to a plain join; the hot key's rows now land on `buckets`
    reducers instead of one."""
    f = add_salt(fact, salt_cols, buckets)
    d = explode_salt(dim, buckets)
    return f.join(d, [key, "_salt"], how).drop("_salt")
