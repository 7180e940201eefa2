"""Skew-mitigation operators for hot keys.

AQE's skew-join splitting (on in session.py) repairs sort-merge joins
at runtime, but two shapes still die on a hot key at 100 TB:

1. a shuffle join where one key holds a double-digit percent of the
   fact and the dim is too big to broadcast — every row of the hot key
   lands on one reducer;
2. an exact distinct-count over a key whose distinct-value set is too
   large for one aggregation buffer (the two-phase rewrite Spark picks
   still routes each group to one reducer).

Both fix the same way: introduce a deterministic SALT that subdivides
the hot key's rows across reducers, compute per-(key, salt), then
merge. Everything below is pure DataFrame composition — no RDDs, no
custom partitioner — so Catalyst/AQE still optimize around it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def salted_join(skewed: DataFrame, other: DataFrame, on: Sequence[str],
                *, n_salt: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join a skewed big side against a non-broadcastable side.

    The skewed side gets a per-row deterministic salt in [0, n_salt);
    the other side is replicated n_salt times (explode of a literal
    range — n_salt× its size, which is why this is for MID-sized
    builds; tiny dims should just broadcast). The join key becomes
    (on..., salt), so a hot key's rows spread over n_salt reducers.

    Salt derivation: hash of every HASHABLE non-join column (falling
    back to every hashable column) —
    deterministic across task retries, unlike an id-generator salt.
    Caveat: rows IDENTICAL in the salted columns share a salt, so a
    hot key whose rows are exact duplicates does not spread — project
    a distinguishing column into the frame (or dedupe+count first) for
    that shape. Map-typed columns are skipped (Spark can't hash them).

    Row-identical to ``skewed.join(other, on, how)`` for equi-joins of
    'inner'/'left' type.
    """
    assert how in ("inner", "left"), "salted_join supports inner/left"
    hashable = [f.name for f in skewed.schema.fields
                if not isinstance(f.dataType, MapType)]
    # prefer non-join columns: they are what distinguishes a hot key's
    # rows from each other
    salt_on = [c for c in hashable if c not in on] or hashable
    assert salt_on, "no hashable columns to derive a salt from"
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_on]), F.lit(n_salt))
    s = skewed.withColumn("_salt", salt)
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    out = s.join(o, [*on, "_salt"], how)
    return out.drop("_salt")


def salted_count_distinct(df: DataFrame, keys: Sequence[str], col: str,
                          *, n_salt: int = 32,
                          out_name: str = "n_distinct") -> DataFrame:
    """Exact COUNT(DISTINCT col) per key, skew-proof.

    Salting BY THE COUNTED VALUE partitions the value space into
    disjoint shards, so per-shard exact distinct counts SUM to the
    exact total — no overlap, no approximation. Phase 1 groups by
    (keys, salt) and each reducer holds only its shard's values;
    phase 2 is a tiny sum. A key with 10^9 distinct values spreads
    over n_salt reducers instead of crushing one.
    """
    salt = F.pmod(F.xxhash64(F.col(col)), F.lit(n_salt))
    per_shard = (df.withColumn("_salt", salt)
                   .groupBy(*keys, "_salt")
                   .agg(F.countDistinct(col).alias("_n")))
    return (per_shard.groupBy(*keys)
                     .agg(F.sum("_n").cast("long").alias(out_name)))

