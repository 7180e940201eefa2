"""Deterministic, engine-portable sampling & splitting for training
corpora.

``df.sample`` draws from a per-partition RNG stream: results change
with partitioning, task retries, and Spark versions — useless for a
train/test split that must be stable across reruns and auditable by
another engine. These operators derive every decision from a HASH OF
THE ROW'S OWN KEY (md5-based, portable_hash60), so:

- membership is a pure function of (key, seed) — reproducible on any
  engine with md5 (the DuckDB oracle re-derives it),
- resampling/reprocessing any subset yields consistent assignments
  (a doc never migrates between train and test when the corpus grows),
- the plan is one codegen'd projection — no shuffle, no RNG state.

This is the assignment discipline a 100 TB corpus needs: the split is
data, not an artifact of the job that produced it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import portable_hash60

BUCKETS = 1_000
TEST_PERMILLE = 100  # assign_split's test share, in buckets of BUCKETS


def portable_bucket(key: Column, *, seed: int = 7,
                    n_buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, n_buckets) from a key column:
    md5-derived 60-bit hash of 'key#seed', mod n_buckets. DuckDB twin:
    ``CAST(('0x' || substr(md5(key || '#seed'), 1, 15)) AS BIGINT)
    % n_buckets``."""
    h = portable_hash60(F.concat_ws("#", key.cast("string"),
                                    F.lit(str(seed))))
    return F.pmod(h, F.lit(n_buckets))


def assign_split(df: DataFrame, key_col: str, *,
                 split_col: str = "split") -> DataFrame:
    """Tag each row 'test' (≈TEST_PERMILLE/1000 of keys) or 'train'.

    Hash-based, so the same key lands in the same split forever —
    growing the corpus, changing partitioning, or re-running never
    moves a document across the boundary (the leak-proofing property
    random sampling lacks).
    """
    bucket = portable_bucket(F.col(key_col))
    return df.withColumn(
        split_col,
        F.when(bucket < TEST_PERMILLE, F.lit("test"))
         .otherwise(F.lit("train")))


def stratified_sample(df: DataFrame, key_col: str,
                      strata: Sequence[tuple[Column, int]], *,
                      default_permille: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling: ``strata`` is
    [(predicate, permille)], first match wins — e.g. keep 100% of rare
    languages, 5% of english. Same hash discipline as assign_split, so
    per-stratum membership is stable under corpus growth."""
    bucket = portable_bucket(F.col(key_col))
    rate: Column | None = None
    for pred, pm in strata:
        rate = F.when(pred, pm) if rate is None else rate.when(pred, pm)
    rate = (rate.otherwise(default_permille) if rate is not None
            else F.lit(default_permille))
    return df.filter(bucket < rate)


def weighted_sample(df: DataFrame, key_col: str, weight: Column, *,
                    k: int, seed: int = 7,
                    key_out: str = "es_key") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows:
    Efraimidis–Spirakis A-ES. Each row gets the key u^(1/w) for a
    uniform u — the k largest keys are a weighted sample where
    inclusion probability tracks weight. Ranking ln(u)/w descending is
    the same order in a numerically safe form (ln u < 0, w > 0).

    u derives from the row's OWN key (md5 → 60-bit → (0,1]), same
    discipline as assign_split: no RNG state, stable under corpus
    growth/partitioning/retries, re-derivable by any engine with md5.
    Rows with weight <= 0 are excluded (A-ES precondition).

    Plan: one codegen'd projection + TakeOrderedAndProject (per-
    partition k-row heaps, driver merges k, never a global sort) — the
    scale shape for "sample 10k docs from 100 TB by quality weight".
    """
    from .windows import top_n_global
    h = portable_hash60(F.concat_ws("#", F.col(key_col).cast("string"),
                                    F.lit(str(seed))))
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    w = weight.cast("double")
    scored = df.withColumn(key_out, F.log(u) / w).filter(w > 0)
    # Rank on the key QUANTIZED to 12 decimals (row key as tiebreak),
    # not the raw double: ln() is a libm call and Spark (Math.log) vs
    # an external engine's log differ by an ulp on some inputs. At
    # small corpora the top-k boundary gap dwarfs an ulp; at sf1 (50k
    # candidates) the 100th/101st keys landed within log-noise and the
    # selected SET diverged cross-engine. Quantizing puts selection
    # boundaries ~1e9 ulps away from the noise (residual risk: a true
    # key within an ulp of a 1e-12 rounding edge), and the key-column
    # tiebreak keeps equal quantized keys deterministic.
    rank_key = F.round(F.col(key_out), 12)
    return top_n_global(scored, [rank_key.desc(), F.col(key_col)], k)


def token_budget_shards(df: DataFrame, id_col: str, tokens_col: Column, *,
                        budget: int, shard_col: str = "shard",
                        n_partitions: int | None = None) -> DataFrame:
    """Assign each row a shard id so consecutive rows (in ``id_col``
    order) fill ~``budget`` tokens per shard — the packing step that
    turns a curated corpus into bounded training shards.

    shard = floor(exclusive_prefix_sum(tokens) / budget), computed as a
    DISTRIBUTED PREFIX SUM: range-partition on the order key (so
    partition p holds a contiguous key range), window-cumsum WITHIN
    each partition, then add per-partition offsets (one tiny aggregate
    collected to the driver — one row per partition, a bounded scalar
    exchange, not data). A single global-order window would funnel the
    corpus through ONE task; this shape keeps every stage parallel and
    is exact for any partitioning because offsets + local prefix
    reconstruct the global running total.
    """
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    d = (df.select(F.col(id_col).alias("_id"), tokens_col.alias("_t"))
           .repartitionByRange(n_partitions, "_id")
           .withColumn("_pid", F.spark_partition_id())
           # PIN the range partitioning: repartitionByRange samples its
           # boundaries per execution, so without materializing here the
           # offsets job and the final select could see DIFFERENT _pid
           # assignments near boundaries — silently wrong shards
           .localCheckpoint(eager=True))
    w = (Window.partitionBy("_pid").orderBy("_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(F.sum("_t").over(w), F.lit(0))
    totals = {r["_pid"]: r["_s"]
              for r in d.groupBy("_pid").agg(F.sum("_t").alias("_s")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    # map-literal lookup stays one compact expression even at cluster
    # partition counts (a when-chain would grow the plan per partition)
    if offsets:
        omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        off = F.coalesce(omap[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    return d.select(F.col("_id").alias(id_col),
                    F.floor((off + local) / F.lit(budget)).cast("long")
                     .alias(shard_col))


def budget_select(df: DataFrame, group_col: str, score_col: Column,
                  cost_col: Column, budget: int, *,
                  order_tiebreak: str, cum_name: str = "cum_cost"
                  ) -> DataFrame:
    """Greedy per-group budget curation: within each group, rank rows
    by ``score_col`` descending (ties on ``order_tiebreak``) and keep
    the prefix whose RUNNING ``cost_col`` total (including the current
    row) stays within ``budget`` — "fill N tokens per domain with the
    highest-quality documents first", the mixture-building step after
    quality scoring and before shard writing.

    One cumulative window per group (single shuffle on the group key).
    Per-group ordering funnels a group through one reducer — right
    when groups are domains/sources (bounded); for ONE giant group use
    ``token_budget_shards``'s distributed prefix-sum instead. Note the
    greedy prefix can undershoot: a row that overflows the budget is
    dropped but later (smaller) rows below it are NOT pulled forward —
    greedy-prefix is the documented semantics (deterministic and
    oracle-replayable; knapsack-filling is not).
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col)
               .orderBy(score_col.desc(), F.col(order_tiebreak))
               .rowsBetween(Window.unboundedPreceding, 0))
    cum = F.sum(cost_col).over(w)
    return (df.withColumn(cum_name, cum.cast("long"))
              .filter(F.col(cum_name) <= budget))
