"""Portable Bloom filter as a DATA artifact (SURVEY extension — the
100 TB pre-filter pattern).

The production shape this exists for: incremental corpus dedupe
(operators.dedup.incremental_jaccard_dedupe / q100) probes every new
document against the accumulated survivor corpus. A Bloom filter over
the corpus fingerprints is a few MB where the corpus is TBs; BROADCAST
it and the probe side drops every definite-miss BEFORE the join — the
shuffle then carries only (actual overlap + ε false positives) instead
of the whole new batch. Spark has engine-internal runtime bloom
pruning (InjectRuntimeFilter, pinned by plan tests); THIS one is an
explicit, persistable, engine-portable artifact: bit positions derive
from md5 (portable_hash60 family), so DuckDB replays every bit and the
oracle gate can hash-check membership decisions — including the false
positives, which are deterministic given (m, k, seed).

Layout: 32-bit words in a (word_idx: long, bits: long) table —
masks stay in [1, 2^31], positive in every engine's signed 64-bit
arithmetic (a 64-bit word needs 1<<63, whose sign bit invites
engine-specific overflow rules). m_bits/8 bytes of state; fit is one
explode + bit_or aggregation with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash60

WORD_BITS = 32


def _bit_pos(key: Column, i: int, m_bits: int, seed: int) -> Column:
    """i-th bit position for a key: md5-derived, engine-replayable."""
    h = portable_hash60(F.concat_ws("#", key, F.lit(str(i)), F.lit(str(seed))))
    return F.pmod(h, F.lit(m_bits))


def bloom_fit(keys: DataFrame, key_col: str, *, m_bits: int = 1 << 16,
              k: int = 4, seed: int = 7) -> DataFrame:
    """Build the filter: one row per touched 32-bit word.

    Returns (word_idx, bits). Shuffle carries at most m_bits/32 rows
    (map-side bit_or partials) no matter the corpus size.
    """
    if m_bits % WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}, "
                         f"got {m_bits}")
    key = F.col(key_col)
    pos = F.explode(F.array(*[
        _bit_pos(key, i, m_bits, seed) for i in range(k)])).alias("_pos")
    # SQL-expr shiftleft: the DataFrame helper takes a literal shift
    # count, the SQL function accepts a column one
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                  f"CAST(pmod(_pos, {WORD_BITS}) AS INT))")
    return (keys.select(pos)
                .select((F.col("_pos") / WORD_BITS).cast("long")
                        .alias("word_idx"),
                        mask.alias("_mask"))
                .groupBy("word_idx")
                .agg(F.expr("bit_or(_mask)").alias("bits")))


def bloom_apply(probes: DataFrame, key_col: str, bloom: DataFrame, *,
                m_bits: int = 1 << 16, k: int = 4, seed: int = 7,
                flag_col: str = "bloom_hit") -> DataFrame:
    """Membership test: probes gain ``flag_col`` (true = maybe-member,
    false = DEFINITELY absent — the side you can safely drop).

    Plan: probe keys explode to their k (word, mask) probes, broadcast-
    join the filter words, and a probe is a hit iff ALL k bits are set
    (count of satisfied probes == k). The filter is the broadcast side
    by construction (≤ m_bits/32 rows); the probe side never shuffles —
    this is a map-side pre-filter, which is the whole point.
    """
    key = F.col(key_col)
    # distinct keys BEFORE exploding: duplicate probe rows would fan a
    # key's probe count past k and the all-bits check (sum == k) would
    # reject genuine members — a false NEGATIVE, the one error class a
    # Bloom filter must never produce (caught by the oracle gate on
    # duplicate-text documents)
    probes_k = probes.select(key.alias("_k")).distinct().select(
        "_k",
        F.explode(F.array(*[
            _bit_pos(F.col("_k"), i, m_bits, seed)
            for i in range(k)])).alias("_pos"))
    probes_k = probes_k.select(
        "_k",
        (F.col("_pos") / WORD_BITS).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), "
               f"CAST(pmod(_pos, {WORD_BITS}) AS INT))").alias("_mask"))
    hits = (probes_k.join(F.broadcast(bloom), "word_idx", "left")
                    .select("_k",
                            (F.coalesce(F.col("bits"), F.lit(0))
                             .bitwiseAND(F.col("_mask")) != 0)
                            .cast("int").alias("_ok"))
                    .groupBy("_k")
                    .agg((F.sum("_ok") == k).alias(flag_col)))
    # null-safe LEFT re-attach: a plain inner equi-join would silently
    # drop probe rows whose key is NULL (NULL never equals NULL), losing
    # rows the DuckDB oracle keeps. NULL keys hash like any other value
    # (concat_ws skips NULLs in both engines) so they get a real flag;
    # the coalesce(false) is belt-and-braces for an empty hits side.
    joined = probes.join(hits,
                         probes[key_col].eqNullSafe(hits["_k"]), "left")
    return joined.withColumn(
        flag_col, F.coalesce(F.col(flag_col), F.lit(False))).drop("_k")


def bloom_sql_bits(key_expr: str, i: int, m_bits: int, seed: int) -> str:
    """DuckDB twin of _bit_pos — embed in oracle SQL."""
    h = f"CAST(('0x' || substr(md5(concat_ws('#', {key_expr}, '{i}', '{seed}')), 1, 15)) AS BIGINT)"
    return f"({h} % {m_bits} + {m_bits}) % {m_bits}"
