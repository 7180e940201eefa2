"""Versioned-snapshot foreachBatch sinks for merges that are NOT
idempotent: streaming incremental aggregation and incremental corpus
dedup (SURVEY.md §2.8 T1-T3 as continuously merged sinks). The keyed
keep-latest upsert is idempotent and lives in
``streaming.bucketed_upsert``.

Snapshot layout: versioned directories ``v{batch_id}`` under
``snapshot_dir``, plus a tiny ``_LATEST`` pointer file written last —
readers resolve the pointer, writers never mutate a published version
(the commit is the pointer write, the same commit-after-write
discipline as sources.state.BookmarkStore). Each merge reads the
newest version STRICTLY BELOW its batch_id, so a batch replayed after
a crash recomputes its version from the same predecessor instead of
merging into its own output: at-least-once delivery composes to
exactly-once state.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.writers import write_atomic
from .stream import drain_foreach_batch

_POINTER = "_LATEST"


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """Resolve the pointer and read the published snapshot version
    (None before the first commit)."""
    ptr = os.path.join(snapshot_dir, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        version = f.read().strip()
    return spark.read.parquet(os.path.join(snapshot_dir, version))


def _publish_version(snapshot_dir: str, batch_id: int, df: DataFrame,
                     ) -> None:
    """Write ``df`` as version ``v{batch_id}``, then point ``_LATEST``
    at it: the pointer only ever names a fully written version, and a
    replayed batch overwrites its own version."""
    version = f"v{batch_id}"
    df.write.mode("overwrite").parquet(os.path.join(snapshot_dir, version))
    write_atomic(os.path.join(snapshot_dir, _POINTER), version)


def _latest_version_before(snapshot_dir: str, batch_id: int) -> str | None:
    """Newest committed version directory with id STRICTLY below
    ``batch_id`` (None before the first)."""
    import re
    best = -1
    for d in os.listdir(snapshot_dir):
        m = re.fullmatch(r"v(\d+)", d)
        if m and int(m.group(1)) < batch_id:
            best = max(best, int(m.group(1)))
    return None if best < 0 else f"v{best}"


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
    checkpoint loss).

    Exactly-once under replay: additive merges are NOT idempotent, so
    the previous state is the newest version strictly below this
    batch_id (module docstring), never the pointer — a replayed batch
    does not double-count itself.

    ``delta_fn`` must emit keys + ``count_col`` + ``sum_cols`` with
    sums in an EXACT type (decimal/integer — see merge_agg_states);
    merged sums are cast back to the delta's dtype so the state schema
    is stable no matter how many merges compound (ANSI mode turns a
    true overflow into an error, never silent corruption).
    """
    spark = source.sparkSession
    os.makedirs(snapshot_dir, exist_ok=True)

    from ..operators.aggregates import merge_agg_states

    def merge(batch: DataFrame, batch_id: int) -> None:
        delta = delta_fn(batch)
        dtypes = dict(delta.dtypes)
        prev_v = _latest_version_before(snapshot_dir, batch_id)
        if prev_v is None:
            merged = delta
        else:
            prev = spark.read.parquet(os.path.join(snapshot_dir, prev_v))
            merged = merge_agg_states(prev, delta, list(keys),
                                      count_col=count_col,
                                      sum_cols=list(sum_cols))
        from pyspark.sql import functions as F
        merged = merged.select(
            *keys, count_col,
            *[F.col(s).cast(dtypes[s]).alias(s) for s in sum_cols])
        _publish_version(snapshot_dir, batch_id, merged)

    drain_foreach_batch(source, merge, checkpoint_path)


def foreach_batch_incremental_dedupe(
    source: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_cols_fn,
    snapshot_dir: str,
    checkpoint_path: str,
    k: int = 3,
    threshold: float = 0.4,
) -> None:
    """Continuous corpus dedup: each micro-batch keeps only the docs
    that survive ``operators.dedup.incremental_jaccard_dedupe`` against
    the accumulated survivor snapshot, then publishes
    ``survivors ∪ batch-survivors`` as the next version — the streaming
    form of the daily-crawl dedup loop, with per-batch cost
    O(batch × overlap) because the corpus side contributes only its
    inverted index (never corpus×corpus).

    Replay safety: survivor accumulation is not idempotent (a replayed
    batch must not dedupe against a snapshot that already contains its
    own survivors), so the previous state is the newest version
    strictly below this batch_id (module docstring).

    ``block_cols_fn()`` returns the blocking Column expressions
    (unbound, evaluated against both batch and snapshot frames). The
    snapshot stores full survivor rows, so blocking/text columns stay
    available to future batches.
    """
    spark = source.sparkSession
    os.makedirs(snapshot_dir, exist_ok=True)

    from ..operators.dedup import incremental_jaccard_dedupe

    def merge(batch: DataFrame, batch_id: int) -> None:
        prev_v = _latest_version_before(snapshot_dir, batch_id)
        corpus = (batch.limit(0) if prev_v is None
                  else spark.read.parquet(
                      os.path.join(snapshot_dir, prev_v)))
        kept = incremental_jaccard_dedupe(
            batch, corpus, id_col, text_col, block_cols_fn(),
            k=k, threshold=threshold)
        merged = corpus.unionByName(kept.select(*corpus.columns)
                                    if prev_v is not None else kept)
        _publish_version(snapshot_dir, batch_id, merged)

    drain_foreach_batch(source, merge, checkpoint_path)
