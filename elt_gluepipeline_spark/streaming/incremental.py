"""Batch-incremental ingest with high-watermark bookmarks (SURVEY.md
§2.8; reference: scripts/go-incremental-ingest-elt.py).

Exactly-once-ish invariant (SURVEY.md §7.4): the bookmark commits only
AFTER the sink write succeeds. A crash between write and commit causes
a re-ingest of the same window on retry, which the keep-latest dedupe
(W1) makes idempotent — replays are safe by construction.

The source is pluggable: any callable returning a DataFrame of new
rows given the last bookmark (parquet-backed in tests, JDBC-pushdown
via sources.readers.read_jdbc_incremental in production).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.observe import observed
from ..operators.windows import dedupe_keep_latest
from ..sources.state import BookmarkStore, RunManifest
from ..sources.writers import write_parquet


@dataclass
class IncrementalResult:
    table: str
    rows_ingested: int
    new_bookmark: object | None
    skipped: bool


def add_audit_columns(df: DataFrame, source_table: str) -> DataFrame:
    """Ingest audit columns (reference: go-incremental-ingest-elt.py:200-205)."""
    return (df.withColumn("ingest_ts_utc", F.current_timestamp())
              .withColumn("ingest_date", F.current_date().cast("string"))
              .withColumn("source_table", F.lit(source_table)))


def incremental_ingest(
    spark: SparkSession,
    *,
    table: str,
    read_since: Callable[[object | None], DataFrame],
    watermark_col: str,
    primary_keys: Sequence[str],
    sink_path: str,
    bookmarks: BookmarkStore,
    manifest: RunManifest | None = None,
    load_mode: str = "incremental",
    max_files: int | None = 8,
) -> IncrementalResult:
    """One incremental load: read > bookmark → dedupe keep-latest per PK
    → audit cols → partitioned parquet append → commit bookmark.

    ``load_mode='full'`` ignores the bookmark (reference LOAD_MODE,
    go-incremental-ingest-elt.py:162-173).
    """
    last = None if load_mode == "full" else bookmarks.get(table)
    df = read_since(last)

    deduped = dedupe_keep_latest(
        df, list(primary_keys),
        [F.col(watermark_col).desc_nulls_last()],
    )
    # row count and new bookmark (max watermark of THIS batch) ride the
    # write: one pass over the increment, and a mid-write crash never
    # advances the bookmark. An empty increment writes no file, and its
    # observed count of 0 is the skip: no separate emptiness probe.
    prepared, obs = observed(add_audit_columns(deduped, table),
                             f"ingest_{table}", n=F.count(F.lit(1)),
                             bookmark=F.max(watermark_col))
    write_parquet(prepared, sink_path, mode="append",
                  partition_by=("ingest_date", "source_table"),
                  max_files=max_files)
    rows, new_bm = obs.get["n"], obs.get["bookmark"]
    if not rows:
        if manifest:
            manifest.log("ingest", table, "skipped_empty", bookmark=str(last))
        return IncrementalResult(table, 0, last, skipped=True)

    # commit AFTER successful write (T2)
    if new_bm is not None:
        bookmarks.set(table, str(new_bm))
    if manifest:
        manifest.log("ingest", table, "success", rows=rows,
                     bookmark=str(new_bm))
    return IncrementalResult(table, rows, new_bm, skipped=False)
