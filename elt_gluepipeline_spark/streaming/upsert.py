"""Versioned-snapshot foreachBatch sink for merges that are NOT
idempotent: streaming incremental aggregation (SURVEY.md §2.8 T1-T3 as
a continuously merged sink). The keyed
keep-latest upsert is idempotent and lives in
``streaming.bucketed_upsert``.

Snapshot layout: a manifest table (``sources.table``) at
``snapshot_dir`` whose ``data`` sub-table is the published state and
whose state holds the streaming query id and the id of the batch that
produced it. A merge writes the next state as new files and commits
them together with both ids in one manifest write (the
commit-after-write discipline of sources.state.BookmarkStore, without
its window: data and bookmark are one write).

``streaming.stream.replay_guard`` skips a replayed batch, merges any
other batch into the committed state and rebuilds from empty at a new
query's batch 0, so at-least-once delivery composes to exactly-once
state; the commit deletes the replaced state's files.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.table import Table
from .stream import drain_foreach_batch, replay_guard

_DATA = "data"


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The published snapshot (None before the first commit)."""
    return Table(spark, snapshot_dir).read(_DATA)


def _merge_batch(spark: SparkSession, snapshot_dir: str,
                 checkpoint_path: str, batch_id: int,
                 step: Callable[[DataFrame | None], DataFrame]) -> None:
    """Commit ``step(predecessor)`` as the state after ``batch_id``,
    unless this query already committed that batch (a replay)."""
    table = Table(spark, snapshot_dir)
    guard = replay_guard(table, checkpoint_path, batch_id)
    if guard is None:
        return
    query_id, fresh = guard
    prev = None if fresh else table.read(_DATA)
    table.commit({_DATA: table.write(_DATA, step(prev))},
                 batch_id=batch_id, query_id=query_id)


def foreach_batch_incremental_agg(
    source: DataFrame,
    *,
    delta_fn,
    keys: Sequence[str],
    count_col: str,
    sum_cols: Sequence[str],
    snapshot_dir: str,
    checkpoint_path: str,
) -> None:
    """Streaming incremental view maintenance: per micro-batch,
    ``delta_fn(batch)`` aggregates the batch into a keyed
    (count + exact-sum) delta, which MERGEs into the published
    aggregate state via operators.aggregates.merge_agg_states — the
    aggregate stays current at cost ∝ batch volume, and the state
    lives in a bucketable snapshot table instead of the state store
    (no state-store sizing, queryable between batches, survives
    checkpoint loss: the new query rebuilds the state from batch 0).

    Exactly-once under replay: additive merges are NOT idempotent, so
    a batch this query already committed is skipped (module
    docstring) — a replayed batch does not double-count itself.

    ``delta_fn`` must emit keys + ``count_col`` + ``sum_cols`` with
    sums in an EXACT type (decimal/integer — see merge_agg_states);
    merged sums are cast back to the delta's dtype so the state schema
    is stable no matter how many merges compound (ANSI mode turns a
    true overflow into an error, never silent corruption).
    """
    spark = source.sparkSession

    from pyspark.sql import functions as F

    from ..operators.aggregates import merge_agg_states

    def merge(batch: DataFrame, batch_id: int) -> None:
        delta = delta_fn(batch)
        dtypes = dict(delta.dtypes)

        def step(prev: DataFrame | None) -> DataFrame:
            merged = delta if prev is None else merge_agg_states(
                prev, delta, list(keys), count_col=count_col,
                sum_cols=list(sum_cols))
            return merged.select(
                *keys, count_col,
                *[F.col(s).cast(dtypes[s]).alias(s) for s in sum_cols])

        _merge_batch(spark, snapshot_dir, checkpoint_path, batch_id, step)

    drain_foreach_batch(source, merge, checkpoint_path)

