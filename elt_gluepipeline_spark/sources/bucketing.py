"""Bucketed tables: co-located joins and aggregations without a
runtime shuffle.

The reference pre-repartitions both join sides on the key every run
(go-quality-elt.py:262-263) — that is a per-run shuffle of the whole
fact. Bucketing moves the shuffle to WRITE time, once: a table written
with ``bucketBy(n, key)`` is physically hash-partitioned on disk, so a
join or groupBy on the bucket key needs NO Exchange at read time —
Spark's planner proves co-partitioning from the catalog metadata. At
100 TB this converts the nightly fact×fact join from (shuffle 2 tables)
to (zip matching buckets).

Requirements worth knowing: both sides bucketed by the same key into
the same (or a divisor) bucket count; tables must be saved through the
catalog (saveAsTable) — plain parquet paths carry no bucket metadata.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_keys: Sequence[str],
                   n_buckets: int, *, sort_keys: Sequence[str] = (),
                   single_file_buckets: bool = False) -> None:
    """Write df as a catalog-managed bucketed parquet table, replacing
    any table of that name.

    ``sort_keys`` additionally sorts within each bucket file, which
    upgrades bucket joins from hash to sort-merge-without-sort — but
    Spark only trusts the sort order when each bucket is ONE file.
    ``single_file_buckets`` pre-repartitions by the bucket keys into
    n_buckets tasks (repartition and bucketBy share the murmur3-pmod
    assignment, so every task holds exactly one bucket): one file per
    bucket, sort metadata honored, and no small-file spray — the
    layout you want for a dimension or moderate fact; for a huge fact
    leave it False and let each task write its shard of every bucket.
    """
    if single_file_buckets:
        df = df.repartition(n_buckets, *bucket_keys)
    writer = (df.write.mode("overwrite").format("parquet")
                .bucketBy(n_buckets, *bucket_keys))
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket spec intact."""
    return spark.table(table)


def trust_bucket_sort(spark: SparkSession) -> None:
    """Opt this SESSION into sort-free merge joins over single-file
    bucketed tables by enabling
    ``spark.sql.legacy.bucketedTableScan.outputOrdering``.

    WARNING — session-global planning flag. With it on, EVERY bucketed
    table scan in the session reports its per-bucket sortBy order to
    the planner, which elides Sort nodes under merge joins. Spark only
    trusts the order after verifying each bucket is one file, so tables
    written via ``write_bucketed(..., single_file_buckets=True)`` are
    always safe; multi-file bucketed tables fall back to sorting. The
    flag cannot be scoped to one query: physical planning happens at
    action time, long after a builder returns. Call this from session
    setup (or accept the session-wide opt-in), not ad hoc."""
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
                   "true")
