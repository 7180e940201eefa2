"""The FULL reference chain (ingest → transform → quality → metric) as
ONE Structured-Streaming ``foreachBatch`` pipeline (SURVEY.md §2.8 T5;
reference: cloudformation/06_glueworkflow.yml:24-88 wires the four Glue
scripts into a cron chain — here the chain runs per MICRO-BATCH instead
of per nightly run, which is how a production deployment turns the
nightly ELT into continuous ingest without rewriting a stage).

Stage mapping inside each micro-batch:
  ingest     → the micro-batch itself (file-source readStream; Spark's
               checkpoint offsets replace the JSON high-watermark)
  transform  → normalize_names + normalize_strings (go-transform-elt.py
               :185-201, 82-86)
  quality    → route_violations → final/ + quarantine/
               (go-quality-elt.py:108-312)
  metric     → computed over final/ AFTER the drain (go-metric-elt.py
               reads FINAL_PATH — metrics see only quality-gated rows)

Exactly-once discipline (SURVEY §7.4 crash-window invariant):
``final`` and ``quarantine`` are two sub-tables of ONE manifest table
(``sources.table``) at ``table_dir``. A micro-batch writes its clean
and quarantined rows as new files, then commits both in one manifest
write with the streaming query id and batch id, which
``streaming.stream.replay_guard`` checks: a replayed batch whose
commit landed is skipped; a crash before the commit left its files
unlisted (the replay's first write deletes them), so the replay writes
the batch once; a new query after a lost checkpoint rebuilds both
sub-tables from its batch 0.
That closes the at-least-once window of the reference's
commit-after-write bookmark (go-incremental-ingest-elt.py:305-318):
the stream chain is exactly-once.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..functions.conform import normalize_names, normalize_strings
from ..operators.quality import route_violations
from ..sources.table import Table
from .stream import drain_foreach_batch, replay_guard


def make_chain_batch_handler(
    *,
    table_dir: str,
    checkpoint_dir: str,
    rules: Sequence[tuple[str, str]],
) -> Callable[[DataFrame, int], None]:
    """The per-micro-batch transform+quality+sink stage of the query
    checkpointed at ``checkpoint_dir``. Exposed separately so tests can
    drive the replay-idempotence contract directly (call it twice with
    the same batch_id — the second call must be a no-op)."""

    def handle(bdf: DataFrame, batch_id: int) -> None:
        table = Table(bdf.sparkSession, table_dir)
        guard = replay_guard(table, checkpoint_dir, batch_id)
        if guard is None:
            return
        query_id, fresh = guard
        clean, bad = route_violations(
            normalize_strings(normalize_names(bdf)), rules)
        entries = {sub: table.write(sub, df)
                   for sub, df in (("final", clean), ("quarantine", bad))}
        if not fresh:  # append to the committed rows
            entries = {s: table.appended(s, e) for s, e in entries.items()}
        table.commit(entries, batch_id=batch_id, query_id=query_id)

    return handle


def run_stream_chain(
    spark: SparkSession,
    *,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    rules: Sequence[tuple[str, str]],
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``source_dir`` through the chain with Trigger.AvailableNow
    (the streaming twin of one scheduled nightly run) into the
    ``final`` and ``quarantine`` sub-tables of the manifest table at
    ``table_dir`` (read them with ``sources.table.Table``). Each batch
    goes through ``route_violations``, the route the batch pipeline
    (pipeline.stage_quality) uses — the invariant the q190 oracle gates.
    ``max_files_per_trigger=1`` forces one micro-batch per staged file,
    so a multi-file source genuinely exercises multi-batch commits, not
    one giant batch."""
    schema = spark.read.parquet(source_dir).schema
    handler = make_chain_batch_handler(
        table_dir=table_dir, checkpoint_dir=checkpoint_dir, rules=rules)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    drain_foreach_batch(src, handler, checkpoint_dir)
