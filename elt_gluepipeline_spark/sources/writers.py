"""Sinks (SURVEY.md §2.1 S5-S9, S11).

Writers keep the reference's layout contracts (partition columns,
bounded file counts, snappy parquet) while letting AQE size the
shuffles. File-count control uses coalesce at the sink only — never
upstream, where it would cap stage parallelism.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, *, mode: str = "overwrite",
                  partition_by: tuple[str, ...] = (), max_files: int | None = None,
                  sort_by: tuple[str, ...] = ()) -> None:
    """S5/S6/S7: (partitioned) snappy parquet sink.

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
    writer = out.write.mode(mode).option("compression", "snappy")
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


def write_atomic(path: str, text: str) -> None:
    """Commit a small file atomically (temp file, then ``os.replace``):
    readers see the old contents or the new, never a torn write. Both
    the data and the rename are synced to disk, so an OS crash or a
    power loss cannot leave the rename without the data."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def bucket_of(keys: Sequence[str], n_buckets: int) -> Column:
    """A row's hash bucket: pmod(xxhash64(keys...), n_buckets). xxhash64
    is a seed-stable Spark builtin, so the mapping is reproducible
    across sessions and versions — required of an on-disk layout."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                  F.lit(n_buckets)).cast("int")


def compact_parquet(spark, path: str, *, target_files: int = 8) -> int:
    """Small-file compaction of one append-only sub-table of a manifest
    table (``sources.table``): ``path`` is ``<table>/<sub>``. The
    append-only sub-tables are the stream chain's ``final`` and
    ``quarantine`` (``streaming.chain``), which gain a few files per
    micro-batch; a long-running stream makes thousands of tiny files
    whose open/footer cost dominates scans.

    One read→write job rewrites the sub-table into at most
    ``target_files`` files, and one manifest commit replaces the old
    files, so a crash leaves the old files or the new, never both. A
    plain folder has no commit point, and a hash-bucketed sub-table
    already holds one file per bucket per write, so both raise. The
    rewrite keeps the session's parquet codec and writes no Hive
    partitions. Returns the row count, observed on the write.
    """
    from ..functions.observe import observed
    from .table import Table

    root, sub = os.path.split(path.rstrip("/"))
    table = Table(spark, root)
    if sub not in table.tables:
        raise FileNotFoundError(f"no sub-table {sub!r} in a manifest "
                                f"table at {root}")
    if table.layout(sub) is not None:
        raise ValueError(f"{path} is hash-bucketed: rewrite it with its "
                         "own layout migration instead")
    df, obs = observed(table.read(sub), "compact", n=F.count(F.lit(1)))
    table.commit({sub: table.write(sub, df.coalesce(target_files))})
    return int(obs.get["n"])


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
