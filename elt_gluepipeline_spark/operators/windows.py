"""Window operators (SURVEY.md §2.5 W1-W4, §2.6 O1).

Scale notes baked in:
- dedupe/top-n partition by the entity key, so the shuffle is the
  unavoidable one (by key) and no single task sees more than one key
  group's rows.
- the reference's global rank (W4: row_number over an UNPARTITIONED
  window, go-metric-elt.py:245) funnels the whole table through one
  task; ``ranked()`` here keeps that shape ONLY for provably-small
  inputs (post-aggregation tables), and ``top_n_global`` gives the
  scale-safe orderBy+limit alternative (TakeOrderedAndProject — a
  per-partition heap + driver merge, no single-partition shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedupe_keep_latest(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column],
                       tie_breakers: Sequence[Column] = ()) -> DataFrame:
    """W1/T3: keep the newest row per key (reference:
    go-incremental-ingest-elt.py:207-212 — row_number over
    PARTITION BY pk ORDER BY watermark DESC NULLS LAST, keep rn=1).

    ``order_by`` should already be desc() columns; pass unique
    ``tie_breakers`` for deterministic output when watermarks collide.
    One shuffle by key; no driver round-trips.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by, *tie_breakers)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .drop("_rn"))


def top_n_per_key(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column],
                  n: int) -> DataFrame:
    """O1 (per-key variant): top-N rows per key via ranked window
    (reference dashboard's top_n_by_restaurant,
    streamlit/go_streamlit.py:163-177). Shuffles once by key; rank
    filter is pushed into the window operator (WindowGroupLimit in
    Spark 3.5+/4.x keeps only N rows per key per partition before the
    final sort — no full materialization)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= n)
              .drop("_rn"))


def top_n_global(df: DataFrame, order_by: Sequence[Column], n: int) -> DataFrame:
    """Scale-safe global top-N: orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heaps, driver-side merge of
    N-row heaps) instead of a single-partition window."""
    return df.orderBy(*order_by).limit(n)


def ranked(df: DataFrame, order_by: Sequence[Column], rank_col: str = "rank") -> DataFrame:
    """W4: global dense ranking column. Single-partition window — use
    ONLY on post-aggregation tables whose cardinality is bounded (e.g.
    per-restaurant rollups). For raw-fact ranking use top_n_global."""
    w = Window.orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w))


def scd2_history(df: DataFrame, keys: Sequence[str],
                 order_by: Sequence[Column], state_cols: Sequence[str], *,
                 ts_col: str, collapse: bool = True) -> DataFrame:
    """Build a slowly-changing-dimension (type 2) history from a change
    feed: one validity interval per observed state, per key — the
    warehouse-side shape the reference's CDC ingest feeds
    (go-incremental-ingest-elt.py:200-213 lands the latest row; SCD2
    keeps every version with [valid_from, valid_to) bounds).

    With ``collapse=True`` consecutive rows whose ``state_cols`` are
    unchanged merge into one interval (a feed that re-emits identical
    state doesn't mint phantom versions). NULL-safe comparison via
    eqNullSafe, so NULL→NULL is "unchanged" while NULL→value versions.

    Plan: two windows over the SAME (keys, order) spec — Catalyst
    reuses the first exchange+sort for the second window, so the whole
    history costs ONE shuffle by key. ``order_by`` must be a total
    order within key (pass a unique tiebreaker); ``ts_col`` supplies
    valid_from and the lead-derived valid_to (NULL = current row).

    Output: key cols + state cols + (version, valid_from, valid_to,
    is_current).
    """
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order_by)
    changed = F.lit(False)
    for c in state_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    first = F.row_number().over(w) == 1
    d = df
    if collapse:
        d = (df.withColumn("_keep", first | changed)
               .filter(F.col("_keep")).drop("_keep"))
    w2 = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order_by)
    return (d.withColumn("version", F.row_number().over(w2))
             .withColumn("valid_from", F.col(ts_col))
             .withColumn("valid_to", F.lead(F.col(ts_col)).over(w2))
             .withColumn("is_current", F.col("valid_to").isNull()))
