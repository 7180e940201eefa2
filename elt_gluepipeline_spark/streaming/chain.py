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
  quality    → extract_violations + split_clean → final/ + quarantine/
               (go-quality-elt.py:108-312)
  metric     → computed over final/ AFTER the drain (go-metric-elt.py
               reads FINAL_PATH — metrics see only quality-gated rows)

Exactly-once discipline (SURVEY §7.4 crash-window invariant): the
file-sink appends inside foreachBatch are not transactional, so the
chain keeps its own BOOKMARK — the last batch_id whose sinks BOTH
committed, persisted via BookmarkStore's atomic rename only AFTER the
writes succeed (T2 commit-after-write). On restart the streaming
runtime replays the in-flight batch with the SAME batch_id, the handler
sees batch_id <= bookmark for every batch that already committed, and
skips it — replay-idempotent. A crash INSIDE the window (after the
final/ append, before the bookmark commit) re-appends that one batch,
the same at-least-once window the reference's bookmark has
(go-incremental-ingest-elt.py:305-318); pair the chain with
PK-keep-latest compaction downstream when that window matters.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.conform import normalize_names, normalize_strings
from ..operators.quality import extract_violations, split_clean
from ..sources.state import BookmarkStore
from .stream import drain_foreach_batch

CHAIN_BOOKMARK_TABLE = "stream_chain_batches"


def make_chain_batch_handler(
    *,
    final_dir: str,
    quarantine_dir: str,
    bookmarks: BookmarkStore,
    rules: Sequence[tuple[str, str]],
) -> Callable[[DataFrame, int], None]:
    """The per-micro-batch transform+quality+sink stage. Exposed
    separately so tests can drive the replay-idempotence contract
    directly (call it twice with the same batch_id — the second call
    must be a no-op)."""

    def handle(bdf: DataFrame, batch_id: int) -> None:
        last = bookmarks.get(CHAIN_BOOKMARK_TABLE)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: both sinks already committed
        out = normalize_strings(normalize_names(bdf))
        # the SAME operators the batch pipeline's quality stage uses
        # (pipeline.stage_quality) — identical row routing is the
        # invariant the oracle-gated q190 certification relies on
        tagged = extract_violations(
            out, [(name, F.expr(sql)) for name, sql in rules])
        clean, bad = split_clean(tagged)
        clean.write.mode("append").parquet(final_dir)
        (bad.withColumn("violated", F.array_join("violated", ","))
            .write.mode("append").parquet(quarantine_dir))
        bookmarks.set(CHAIN_BOOKMARK_TABLE, batch_id)  # commit LAST

    return handle


def run_stream_chain(
    spark: SparkSession,
    *,
    source_dir: str,
    final_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    bookmark_dir: str,
    rules: Sequence[tuple[str, str]],
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``source_dir`` through the chain with Trigger.AvailableNow
    (the streaming twin of one scheduled nightly run). Uses
    extract_violations' exact semantics via the inline predicate array
    so the batch pipeline (pipeline.stage_quality) and this stream
    route every row identically — the invariant the q190 oracle gates.
    ``max_files_per_trigger=1`` forces one micro-batch per staged file,
    so a multi-file source genuinely exercises multi-batch append +
    bookmark progression, not one giant batch."""
    schema = spark.read.parquet(source_dir).schema
    bookmarks = BookmarkStore(bookmark_dir)
    handler = make_chain_batch_handler(
        final_dir=final_dir, quarantine_dir=quarantine_dir,
        bookmarks=bookmarks, rules=rules)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    drain_foreach_batch(src, handler, checkpoint_dir)


# re-exported for callers that build the same tagging in batch and need
# byte-identical routing (the oracle-gated certification relies on it)
__all__ = ["CHAIN_BOOKMARK_TABLE", "make_chain_batch_handler",
           "run_stream_chain", "extract_violations", "normalize_names",
           "normalize_strings"]
