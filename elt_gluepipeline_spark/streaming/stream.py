"""Structured Streaming re-expression of the incremental pipeline
(SURVEY.md §2.8: T1→readStream, T2→checkpoint commit log,
T3→dropDuplicatesWithinWatermark, A4→windowed aggregation).

The batch pipeline's bookmark/dedupe/commit machinery maps 1:1 onto
Spark's streaming runtime: the checkpoint directory IS the bookmark
store (offsets + commit log), and watermark-scoped dedupe replaces the
whole-history keep-latest window.
"""

from __future__ import annotations

import itertools
import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.table import Table


def stream_ingest(
    spark: SparkSession,
    *,
    source_dir: str,
    schema: StructType,
    watermark_col: str,
    primary_keys: Sequence[str],
    sink_path: str,
    checkpoint_path: str,
    lateness: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """File-source streaming ingest: dedupe-within-watermark → parquet.

    Trigger.AvailableNow drains everything currently present then
    stops — the streaming twin of one scheduled batch run (T5), with
    restart-safe progress in the checkpoint instead of a JSON bookmark.
    """
    src = (spark.readStream.schema(schema).parquet(source_dir)
           .withWatermark(watermark_col, lateness)
           .dropDuplicatesWithinWatermark([*primary_keys]))
    writer = (src.writeStream
              .format("parquet")
              .option("path", sink_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_rollup(
    spark: SparkSession,
    *,
    source_dir: str,
    schema: StructType,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    window: str = "1 hour",
    lateness: str = "30 minutes",
    sink_path: str | None = None,
    checkpoint_path: str | None = None,
) -> DataFrame | StreamingQuery:
    """Streaming twin of the A4 time-bucket rollups: tumbling-window
    aggregation with late-data handling via watermark. Returns the
    aggregated streaming DataFrame (caller attaches a sink), or starts
    an append-mode parquet sink when paths are given."""
    src = (spark.readStream.schema(schema).parquet(source_dir)
           .withWatermark(ts_col, lateness))
    agg = (src.groupBy(F.window(F.col(ts_col), window).alias("bucket"),
                       *[F.col(k) for k in keys])
              .agg(F.sum(F.col(value_col).cast("decimal(18,4)"))
                    .cast("double").alias("total_value"),
                   F.count(F.lit(1)).alias("n_events"))
              .select(F.col("bucket.start").alias("bucket_start"),
                      *keys, "total_value", "n_events"))
    if sink_path is None:
        return agg
    return (agg.writeStream.format("parquet")
               .option("path", sink_path)
               .option("checkpointLocation", checkpoint_path)
               .outputMode("append")
               .trigger(availableNow=True)
               .start())


def drain_foreach_batch(source: DataFrame, fn, checkpoint_path: str,
                        ) -> None:
    """Drain streaming ``source`` with Trigger.AvailableNow, calling
    ``fn(batch, batch_id)`` on every micro-batch; blocks until every
    file present at start is processed. After a restart the checkpoint
    replays an unacknowledged batch under the same ``batch_id``."""
    q = (source.writeStream
               .foreachBatch(fn)
               .option("checkpointLocation", checkpoint_path)
               .trigger(availableNow=True)
               .start())
    q.awaitTermination()


def replay_guard(table: Table, checkpoint_path: str,
                 batch_id: int) -> tuple[str, bool] | None:
    """None if the query checkpointed at ``checkpoint_path`` already
    committed ``batch_id`` to ``table`` (a replay: skip it), else
    ``(query_id, fresh)`` to commit with. ``fresh`` is a new query's
    batch 0 (after a lost checkpoint: a new id in
    ``<checkpoint>/metadata``, re-reading every source file), which
    rebuilds the table from empty; a new query at a later batch raises
    ``ValueError``."""
    with open(os.path.join(checkpoint_path, "metadata"),
              encoding="utf-8") as fh:
        query_id = json.loads(fh.readline())["id"]
    if table.state.get("query_id") == query_id:
        replay = batch_id <= table.state["batch_id"]
        return None if replay else (query_id, False)
    if batch_id == 0:
        return query_id, True
    raise ValueError(f"{table.root} was last committed by query "
                     f"{table.state.get('query_id')}, but query {query_id} "
                     f"is at batch {batch_id}: one streaming query per table")


_MEM_SINK_SEQ = itertools.count(1)


def run_rollup_available_now(agg: DataFrame,
                             output_mode: str = "complete",
                             state_partitions: int | None = None) -> DataFrame:
    """Drain a streaming aggregation with Trigger.AvailableNow into a
    memory sink (complete mode) and return the final result as a BATCH
    DataFrame.

    This is the bridge that lets a streaming plan answer a declared
    query: AvailableNow processes every input file exactly once through
    the streaming runtime (micro-batches, state store, watermark
    machinery) and stops; complete mode emits the full aggregate, so
    the result equals the batch rollup over the same data —
    oracle-checkable. Complete mode (default — holds all windows in the
    state store) fits bounded backfills of aggregations; stateful
    flatMapGroups operators require output_mode='append'. A production
    continuous stream uses the append-mode parquet sink above instead.
    """
    spark = agg.sparkSession
    name = f"_stream_rollup_{next(_MEM_SINK_SEQ)}"
    # state_partitions sizes the stateful-operator shard count for the
    # drain (a real deployment knob — shards ∝ sustained rate): every
    # micro-batch pays a state-store commit PER shard, so a bounded
    # backfill wants few. Restored once the drain completes (blocking).
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (agg.writeStream.format("memory").queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start())
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    lateness: str = "2 hours",
    prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (the streaming twin of
    operators.joins.range_join): right rows within
    ``[left_ts + lower_s, left_ts + upper_s]`` seconds of each left row,
    equi-matched on ``on``.

    Both sides carry watermarks and the join condition bounds event
    time in both directions, which is exactly what lets Spark evict
    join state: a buffered right row can be dropped once the left
    watermark passes ``right_ts - lower_s``. Without the time bound the
    state store grows forever — the interval is load-bearing at scale,
    not a convenience. Right columns come back ``prefix``-renamed.
    Event-time columns must be instant TIMESTAMP (watermarks reject
    NTZ); keep outputs timezone-stable by extracting ``unix_micros``
    downstream rather than formatting.
    """
    r = right.select([F.col(c).alias(prefix + c) for c in right.columns])
    lw = left.withWatermark(left_ts, lateness)
    rw = r.withWatermark(prefix + right_ts, lateness)
    cond = None
    for k in on:
        c = lw[k] == rw[prefix + k]
        cond = c if cond is None else cond & c
    rts, lts = rw[prefix + right_ts], lw[left_ts]
    # literal INTERVAL terms, not make_interval(): outer joins REQUIRE
    # the analyzer to extract a state watermark from the condition, and
    # StreamingJoinHelper only recognizes attr <op> attr + literal
    # interval forms (make_interval is an opaque function call to it —
    # fine for inner joins where eviction is an optimization, fatal for
    # outer joins where it gates null-emission)
    cond = (cond
            & (rts >= lts + F.expr(f"INTERVAL '{lower_s}' SECOND"))
            & (rts <= lts + F.expr(f"INTERVAL '{upper_s}' SECOND")))
    # left_outer additionally emits unmatched left rows once the
    # watermark proves no future right row can match (state-eviction
    # driven — rows near the head of the stream finalize only after
    # the global watermark clears their band + lateness)
    return lw.join(rw, cond, how)
