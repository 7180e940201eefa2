"""Sequence packing for LLM training: turn a curated corpus into
fixed-length context windows.

Training consumes fixed ``ctx_len``-token sequences, not documents;
the packing step decides how documents map onto those windows. Two
standard disciplines, both deterministic and engine-portable:

- ``pack_concat_chunk`` — GPT-style concatenate-and-chunk: the token
  stream is concatenated in a deterministic pseudo-random order and
  sliced every ``ctx_len`` tokens; documents may SPAN window
  boundaries. Zero padding waste by construction. Pure window
  algebra: hash-shard, per-shard exclusive prefix sum, arithmetic.
- ``pack_greedy_bins`` — whole-document greedy packing: documents
  never split; each shard's documents are scanned in order and a new
  bin opens when the next document would overflow. Some padding
  waste, no cross-document attention contamination. The running
  (bin, fill) state RESETS on overflow, which no window function
  expresses — this is the custom-stateful path (applyInPandas per
  shard), with a recursive-CTE DuckDB oracle replaying the same scan.

Scale shape (100 TB): both operators first assign documents to
``n_shards`` hash shards (portable_bucket — a pure projection, no
shuffle), then do per-shard work after ONE shuffle on the shard key.
Shard count scales with the corpus (pick total_tokens /
tokens_per_writer); every shard's sort/scan is independent, there is
no global order, no driver-side state, and no collect. The hash
order inside a shard doubles as the corpus "shuffle" training wants —
deterministic, so a re-run (or another engine) reproduces every
window byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StructField, StructType)

from .dedup import portable_hash60
from .sampling import portable_bucket


def _sharded(df: DataFrame, id_col: str, tokens_col, n_shards: int,
             seed: int):
    key = F.col(id_col).cast("string")
    return df.select(
        F.col(id_col).alias("_id"),
        tokens_col.cast("long").alias("_t"),
        portable_bucket(F.col(id_col), seed=seed,
                        n_buckets=n_shards).alias("shard"),
        # independent hash (different tag) orders docs pseudo-randomly
        # WITHIN the shard — the deterministic corpus shuffle
        portable_hash60(F.concat_ws("#", key, F.lit("order"),
                                    F.lit(str(seed)))).alias("_h"))


def pack_concat_chunk(df: DataFrame, id_col: str, tokens_col, *,
                      ctx_len: int, n_shards: int = 64,
                      seed: int = 7) -> DataFrame:
    """Concatenate-and-chunk packing coordinates, one row per document:
    (id, shard, n_tokens, seq_first, seq_last, offset) where
    ``seq_first``/``seq_last`` are the first/last ctx_len-windows the
    document's tokens land in (documents span boundaries) and
    ``offset`` is the position of its first token inside ``seq_first``.

    One shuffle (the shard key); the per-shard exclusive prefix sum is
    a window over the shard partition — fully parallel across shards,
    no driver participation (contrast token_budget_shards, whose
    single-global-order contract needs a per-partition offset fixup).
    """
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    d = _sharded(df, id_col, tokens_col, n_shards, seed)
    w = (Window.partitionBy("shard").orderBy("_h", "_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("_t").over(w), F.lit(0))
    d = d.select("_id", "shard", "_t", cum.alias("_cum"))
    seq_first = F.floor(F.col("_cum") / ctx_len)
    # empty documents occupy no tokens: they "sit at" seq_first
    seq_last = F.when(F.col("_t") > 0,
                      F.floor((F.col("_cum") + F.col("_t") - 1) / ctx_len)) \
                .otherwise(seq_first)
    return d.select(
        F.col("_id").alias(id_col),
        F.col("shard").cast("long").alias("shard"),
        F.col("_t").alias("n_tokens"),
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
        F.pmod(F.col("_cum"), F.lit(ctx_len)).cast("long").alias("offset"))


_BIN_SCHEMA_FIELDS = [
    StructField("shard", LongType(), False),
    StructField("bin", LongType(), False),
    StructField("fill_after", LongType(), False),
]


def pack_greedy_bins(df: DataFrame, id_col: str, tokens_col, *,
                     ctx_len: int, n_shards: int = 64,
                     seed: int = 7) -> DataFrame:
    """Whole-document greedy packing, one row per document:
    (id, shard, n_tokens, bin, fill_after). Scanning the shard's
    documents in deterministic hash order: a document joins the
    current bin if it fits, otherwise a new bin opens for it — an
    oversized document (n_tokens > ctx_len) gets a bin of its own and
    overflows it (the writer's truncate-or-reject policy is a
    downstream choice; packing records the honest fill).

    The (bin, fill) state resets on overflow — inherently sequential
    per shard, so this is applyInPandas over the shard group: a
    bounded, single-pass, O(shard) scan. DuckDB oracle: a recursive
    CTE advancing all shards in lockstep, one row per step.
    """
    import pandas as pd

    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    d = _sharded(df, id_col, tokens_col, n_shards, seed)
    id_field = d.schema["_id"]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType, True),
         StructField("n_tokens", LongType(), True)] + _BIN_SCHEMA_FIELDS)

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", "_id"], kind="mergesort")
        bins, fills = [], []
        cur_bin, fill = 0, 0
        for t in pdf["_t"]:
            t = int(t)
            if fill > 0 and fill + t > ctx_len:
                cur_bin += 1
                fill = 0
            fill += t
            bins.append(cur_bin)
            fills.append(fill)
        return pd.DataFrame({
            id_col: pdf["_id"].values,
            "n_tokens": pdf["_t"].values,
            "shard": pdf["shard"].values,
            "bin": bins,
            "fill_after": fills})

    return d.groupBy("shard").applyInPandas(_scan, schema=out_schema)
