"""Sinks (SURVEY.md §2.1 S5-S9, S11).

Writers keep the reference's layout contracts (partition columns,
bounded file counts, snappy parquet) while letting AQE size the
shuffles. File-count control uses coalesce at the sink only — never
upstream, where it would cap stage parallelism.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LAYOUT_FILE = "_layout.json"


def write_parquet(df: DataFrame, path: str, *, mode: str = "overwrite",
                  partition_by: tuple[str, ...] = (), max_files: int | None = None,
                  sort_by: tuple[str, ...] = (),
                  compression: str = "snappy") -> None:
    """S5/S6/S7: (partitioned) parquet sink.

    ``max_files`` bounds output file count per the reference's layout
    budget (landing ≤8, final ≤64 — go-incremental-ingest-elt.py:222,
    go-quality-elt.py:311-312). Applied as a sink-side coalesce so the
    preceding stages keep full parallelism; at 100 TB prefer
    spark.sql.files.maxRecordsPerFile + AQE coalescing instead.

    ``sort_by`` clusters rows WITHIN each output task before writing
    (sortWithinPartitions — no extra shuffle): parquet row-group
    min/max statistics on the sort keys become tight and disjoint, so
    later selective scans skip row groups wholesale. This is the poor
    man's clustering index — the single cheapest layout lever for a
    100 TB table that is mostly read through key/time predicates.
    """
    out = df
    if max_files is not None:
        out = out.coalesce(max_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(df: DataFrame, url: str, table: str, *, mode: str = "append",
               properties: dict[str, str] | None = None,
               create_table_column_types: str | None = None,
               batch_size: int = 10_000) -> None:
    """S8/S9: JDBC batch-insert sink with optional DDL type overrides
    (replaces the loader's fast_executemany path,
    rds/load_to_sqlserver.py:149-264 — Spark's JDBC writer batches
    inserts per partition and creates the table with inferred or
    overridden column types)."""
    writer = (df.write.format("jdbc").mode(mode)
              .option("url", url)
              .option("dbtable", table)
              .option("batchsize", str(batch_size)))
    if create_table_column_types:
        writer = writer.option("createTableColumnTypes", create_table_column_types)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def move_path(src: str, dst: str) -> None:
    """S11: post-process archival move (landing → processed). Local-FS
    stand-in for the reference's S3 copy+delete
    (go-transform-elt.py:295-311); out-of-plane file management, not a
    query operator."""
    dst_p = Path(dst)
    dst_p.parent.mkdir(parents=True, exist_ok=True)
    if dst_p.exists():
        shutil.rmtree(dst)
    shutil.move(src, dst)


def swap_dir(live: str, staged: str, aside: str) -> None:
    """Replace directory ``live`` by ``staged``: rename live→aside,
    rename staged→live, delete aside. A missing ``staged`` removes
    ``live`` (through the aside).

    Invariant: one complete copy of the table is on disk at every
    instant, at ``live`` or at ``aside``, so a crash at any step is
    healed by ``recover_swap(live, aside)``; every caller runs it at
    entry. Two renames are not one atomic operation, so local-FS
    readers must not race a swap (an object store swaps a manifest
    pointer instead)."""
    recover_swap(live, aside)
    if os.path.isdir(live):
        os.makedirs(os.path.dirname(aside), exist_ok=True)
        shutil.move(live, aside)
    if os.path.isdir(staged):
        os.makedirs(os.path.dirname(live), exist_ok=True)
        shutil.move(staged, live)
    shutil.rmtree(aside, ignore_errors=True)


def recover_swap(live: str, aside: str) -> None:
    """Heal an interrupted ``swap_dir``. An aside without its live dir
    holds the only copy (the crash fell between the renames): move it
    back. An aside next to a live dir is superseded: delete it."""
    if not os.path.isdir(aside):
        return
    if os.path.isdir(live):
        shutil.rmtree(aside, ignore_errors=True)
    else:
        os.makedirs(os.path.dirname(live), exist_ok=True)
        shutil.move(aside, live)


def write_atomic(path: str, text: str) -> None:
    """Commit a small file atomically (temp file, then ``os.replace``):
    readers see the old contents or the new, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, path)


def bucket_of(keys: Sequence[str], n_buckets: int) -> Column:
    """A row's hash bucket: pmod(xxhash64(keys...), n_buckets). xxhash64
    is a seed-stable Spark builtin, so the mapping is reproducible
    across sessions and versions — required of an on-disk layout."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                  F.lit(n_buckets)).cast("int")


def write_bucketed(df: DataFrame, path: str, *, col: str,
                   keys: Sequence[str], n_buckets: int,
                   n_written: int | None = None,
                   mode: str = "overwrite") -> None:
    """Write ``df`` as a parquet table Hive-partitioned by ``col`` =
    ``bucket_of(keys, n_buckets)``, then commit the layout
    ``{col, keys, n_buckets}`` to ``<path>/_layout.json``.

    Every bucket is routed to ONE task, so a write leaves one file per
    bucket: partition discovery lists the whole table before pruning,
    and tasks x buckets small files would dominate every later read.
    ``n_written`` (the number of buckets this write fills, default
    all) sets the task count, capped at 8 x
    ``spark.sql.shuffle.partitions`` so a huge bucket count does not
    serialize the write.

    The layout file lives inside the table directory (the underscore
    hides it from Spark's listing): a ``swap_dir`` of the table moves
    data and layout in one rename, and an overwrite removes the old
    layout with the old files."""
    n_tasks = min(int(n_written or n_buckets),
                  int(df.sparkSession.conf.get(
                      "spark.sql.shuffle.partitions", "32")) * 8)
    (df.withColumn(col, bucket_of(keys, n_buckets))
       .repartition(n_tasks, F.col(col))
       .write.mode(mode).partitionBy(col).parquet(path))
    os.makedirs(path, exist_ok=True)
    write_atomic(os.path.join(path, LAYOUT_FILE), json.dumps(
        {"col": col, "keys": list(keys), "n_buckets": int(n_buckets)}))


def read_layout(path: str) -> dict | None:
    """The layout ``write_bucketed`` committed under ``path``, or None
    for a table written without one."""
    try:
        with open(os.path.join(path, LAYOUT_FILE), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def compact_parquet(spark, path: str, *, target_files: int = 8,
                    partition_by: tuple[str, ...] = (),
                    compression: str = "snappy") -> int:
    """Small-file compaction: rewrite a parquet folder into a bounded
    file count and swap it in. The operational counterpart of an
    append-mode sink (incremental ingest appends a few files per
    run — go-incremental-ingest-elt.py:224-233 — and a year of runs
    makes thousands of tiny files whose open/footer cost dominates
    scans).

    The rewrite is one read→write job into a sibling temp dir (no
    driver-side file handling), swapped in by ``swap_dir``; a crashed
    earlier swap is recovered at entry. Returns the row count (cheap
    parity check for callers).
    """
    base = path.rstrip("/")
    tmp, aside = base + "__compact_tmp", base + "__compact_old"
    recover_swap(base, aside)
    df = spark.read.parquet(base)
    out = df.coalesce(target_files)
    writer = (out.write.mode("overwrite")
                 .option("compression", compression))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    n = spark.read.parquet(tmp).count()
    swap_dir(base, tmp, aside)
    # the live path now holds different files; drop any cached footer
    # schema so the next read re-resolves (readers also key on a leaf
    # signature, but an in-place rewrite is the explicit case)
    from .readers import invalidate_schema_cache
    invalidate_schema_cache(base)
    return n


def zorder_key(*cols, bits: int = 16):
    """Morton (Z-order) interleave key for multi-dimensional layout
    clustering: pass it to ``write_parquet(..., sort_by=(key,))`` to
    cluster rows so parquet row-group min/max stats stay tight on ALL
    the interleaved dimensions at once — a single-column sort gives
    perfect pruning on one predicate column and none on the others;
    Z-order gives good (log-factor) pruning on each. The cheapest
    layout lever after partitioning for a 100 TB table read through
    multiple independent predicates.

    Each column is rank-normalized by the caller into [0, 2^bits)
    (e.g. ``F.pmod(F.xxhash64(c), F.lit(1 << bits))`` for opaque keys,
    or a scaled/clamped numeric). Bits interleave LSB-first across
    columns; 2 cols × 16 bits → a 32-bit key in a LongType.

    Pure JVM bit arithmetic (shifts/ors folded by codegen) — no UDF.
    """
    n = len(cols)
    assert n >= 2, "zorder needs >= 2 columns"
    assert n * bits <= 63, "interleaved key must fit a signed long"
    norm = [(F.col(c) if isinstance(c, str) else c).cast("long")
            for c in cols]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(norm):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key
