"""Manifest-committed tables: the one commit protocol of every stateful
on-disk writer — the CDC snapshot (``streaming.bucketed_upsert``), the
LSH dedup index (``operators.dedup``), the versioned streaming sink
(``streaming.upsert``), the stream chain (``streaming.chain``) and
``sources.writers.compact_parquet``.

A table is a directory of parquet sub-tables ``<root>/<sub>/`` (plain
or Hive-partitioned) plus one ``<root>/_manifest.json``. For each
sub-table the manifest lists its live files, its schema and its hash
layout (``{col, keys, n_buckets}`` or null); it also holds the writer's
state (tombstone counts, the last committed batch id).

- A writer adds NEW files next to the live ones (Spark names every
  part file uniquely per write job, so nothing live is overwritten),
  then commits with ONE ``write_atomic`` of the manifest. A commit can
  replace several sub-tables and the state at once.
- Readers read only the files the manifest lists: a crash before the
  commit leaves the old state, a crash after it the new one. A read
  deletes nothing.
- A writer's first write deletes every file the manifest does not list
  (the leftovers of a crashed write), and every commit deletes the
  files it replaced, so the disk holds one generation of each table.

A read names its files, so it lists no directory and no cached listing
can go stale. The commit is one small-file write, which an object store
makes atomic; a directory rename it does not.

One writer per table: a writer's cleanup deletes any file the manifest
does not list, a concurrent writer's in-flight files included. Readers
may run alongside the writer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.observe import observed
from .writers import bucket_of, write_atomic

MANIFEST = "_manifest.json"
_EMPTY = {"tables": {}, "state": {}}


def _is_data(relpath: str) -> bool:
    """Spark's listing rule: a name starting with "." or "_" is
    metadata, except a partition directory ("_bucket=3")."""
    return not any(p.startswith(".") or (p.startswith("_") and "=" not in p)
                   for p in relpath.split(os.sep))


class Table:
    """Open the table at ``root``. ``tables`` maps each sub-table to its
    manifest entry ``{files, schema, layout}``; ``state`` is the writer
    state of the last commit. A directory without a manifest reads as an
    empty table; the first ``write`` creates the manifest."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self._path = os.path.join(self.root, MANIFEST)
        try:
            with open(self._path, encoding="utf-8") as fh:
                manifest = json.load(fh)
        except FileNotFoundError:
            manifest = None
        self._exists = manifest is not None
        self.tables: dict[str, dict] = (manifest or _EMPTY)["tables"]
        self.state: dict = (manifest or _EMPTY)["state"]
        self._swept = False

    def layout(self, sub: str) -> dict | None:
        entry = self.tables.get(sub)
        return None if entry is None else entry["layout"]

    def read(self, sub: str, entry: dict | None = None) -> DataFrame | None:
        """Sub-table ``sub`` as the manifest lists it (None if absent),
        or the files of an uncommitted ``entry`` returned by ``write``.
        Partition columns stay partition columns (``basePath``), so a
        filter on them prunes files at plan time."""
        entry = entry or self.tables.get(sub)
        if entry is None:
            return None
        schema = StructType.fromJson(entry["schema"])
        if not entry["files"]:
            return self.spark.createDataFrame([], schema)
        d = os.path.join(self.root, sub)
        return (self.spark.read.schema(schema).option("basePath", d)
                .parquet(*[os.path.join(d, f) for f in entry["files"]]))

    def write(self, sub: str, df: DataFrame, *, layout: dict | None = None,
              n_written: int | None = None) -> dict:
        """Write ``df`` as new, uncommitted files of ``sub`` and return
        the manifest entry naming exactly them (pass it to ``commit``,
        whole or via ``appended``). The first write deletes the
        leftovers of a crashed write, so that none of them can be taken
        for a file of this one.

        With a ``layout``, rows are Hive-partitioned by ``col`` =
        ``bucket_of(keys, n_buckets)`` and every bucket goes to ONE
        task, so a write leaves one file per bucket; ``n_written`` (the
        number of buckets this write fills, default all) sets the task
        count, ``layout_tasks``. A frame that already carries ``col``
        keeps it: a caller that partitioned by it upstream, into the
        same task count, saves this write its shuffle. The write then
        checks the column in the same job: a row whose ``col`` is not
        ``bucket_of(keys, n_buckets)`` raises before the entry is
        returned, its files stay uncommitted and the next write deletes
        them. A caller that changes the layout drops the column first."""
        if not self._exists:
            self._create()
        elif not self._swept:
            self._sweep()
        partition_by: tuple[str, ...] = ()
        obs = None
        if layout is not None:
            col = layout["col"]
            expect = bucket_of(layout["keys"], layout["n_buckets"])
            given = col in df.columns
            if not given:
                df = df.withColumn(col, expect)
            df = df.repartition(layout_tasks(self.spark, layout, n_written),
                                F.col(col))
            if given:
                # above the exchange: AQE replaces an exchange that
                # comes out empty, and metrics below it with it
                df, obs = observed(df, f"layout_{sub}", n_off=F.count(
                    F.when(~F.col(col).eqNullSafe(expect), 1)))
            partition_by = (col,)
        d = os.path.join(self.root, sub)
        before = set(_data_files(d))
        writer = df.write.mode("append").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(d)
        if obs is not None and obs.get["n_off"]:
            self._swept = False
            raise ValueError(
                f"{obs.get['n_off']} rows of {self.root}/{sub} have a "
                f"{layout['col']} that is not bucket_of({layout['keys']}, "
                f"{layout['n_buckets']}); the write is not committed.")
        # a read puts partition columns last
        fields = ([f for f in df.schema.fields if f.name not in partition_by]
                  + [df.schema[c] for c in partition_by])
        return {"files": sorted(set(_data_files(d)) - before),
                "schema": StructType(fields).jsonValue(),
                "layout": layout}

    def appended(self, sub: str, entry: dict) -> dict:
        """The entry of ``sub`` with ``entry``'s files added."""
        old = self.tables.get(sub)
        if old is None:
            return entry
        return {**old, "files": old["files"] + entry["files"]}

    def commit(self, tables: dict[str, dict | None], **state) -> None:
        """Replace the named sub-tables (None drops one) and update the
        state in one atomic manifest write, then delete every file the
        new manifest does not list."""
        merged = {**self.tables, **tables}
        manifest = {"tables": {k: v for k, v in merged.items()
                               if v is not None},
                    "state": {**self.state, **state}}
        write_atomic(self._path, json.dumps(manifest))
        self.tables, self.state = manifest["tables"], manifest["state"]
        self._sweep()

    def _create(self) -> None:
        """Commit an empty manifest. Only into an empty directory: one
        without a manifest may hold anything, and a sweep would delete
        it."""
        if os.path.isdir(self.root) and set(os.listdir(self.root)) - {
                MANIFEST + ".tmp"}:
            raise ValueError(f"{self.root} is not empty and has no "
                             f"{MANIFEST}: not a manifest table")
        os.makedirs(self.root, exist_ok=True)
        write_atomic(self._path, json.dumps(_EMPTY))
        self._exists = self._swept = True

    def _sweep(self) -> None:
        """Delete every file under the root that the manifest does not
        list (a listed file keeps its Hadoop ``.crc``), then the
        directories that leaves empty."""
        keep = {self._path}
        for sub, entry in self.tables.items():
            for f in entry["files"]:
                head, name = os.path.split(os.path.join(self.root, sub, f))
                keep |= {os.path.join(head, name),
                         os.path.join(head, f".{name}.crc")}
        for d, _dirs, files in os.walk(self.root, topdown=False):
            for name in files:
                if os.path.join(d, name) not in keep:
                    os.remove(os.path.join(d, name))
            if d != self.root and not os.listdir(d):
                os.rmdir(d)
        self._swept = True


def layout_tasks(spark: SparkSession, layout: dict,
                 n_written: int | None = None) -> int:
    """The task count of a write under ``layout`` that fills
    ``n_written`` buckets (default all): one task per bucket, capped at
    8 x ``spark.sql.shuffle.partitions`` so a huge bucket count does
    not serialize the write."""
    return min(int(n_written or layout["n_buckets"]),
               int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 8)


def _data_files(d: str) -> list[str]:
    """Data files under ``d``, relative to it."""
    out = []
    for root, _dirs, files in os.walk(d):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), d)
            if _is_data(rel):
                out.append(rel)
    return out
