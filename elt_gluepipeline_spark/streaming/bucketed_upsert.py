"""Bucket-pruned CDC MERGE: the keyed keep-latest snapshot
(reference analog: the keep-latest dedupe of
go-incremental-ingest-elt.py:200-213, applied continuously — with
per-merge cost proportional to the BATCH, not the snapshot).

Layout: the snapshot is the ``data`` sub-table of a manifest table
(``sources.table``) at ``snapshot_dir``, Hive-partitioned as
``data/_bucket=K/`` with K = pmod(xxhash64(pk), B). The manifest
records the primary keys and B as the sub-table's layout. Every merge
reads them from there, so the table keeps one hash layout until
``rebucket`` migrates it. A merge then:

1. runs one aggregate over the batch grouped by bucket: the touched
   bucket set and the batch's delete rows per bucket (≤B rows back,
   never data-sized);
2. reads ONLY the touched partitions back (an ``isin`` filter on the
   partition column — Catalyst turns it into PartitionFilters, so
   untouched buckets are never opened, pinned by
   tests/test_bucketed_upsert.py);
3. shuffles prev ∪ batch ONCE, by bucket, into the task count of the
   bucket write (``sources.table.layout_tasks``), and keeps the newest
   row per (bucket, key) (operators.windows.dedupe_keep_latest). The
   bucket is a function of the key, so the winners are keep-latest's
   per key, and the write's own repartition by bucket meets a child
   already partitioned that way, which Spark drops: one exchange of
   O(batch + touched·snapshot/B) rows;
4. writes the merged buckets as new files, one per touched bucket, and
   commits them in place of the touched buckets' old files. Untouched
   buckets are not rewritten and not read.

So a batch that touches t of B buckets costs
O(|batch| + t·|snapshot|/B). With B sized so a
bucket is a few GB, a trickle batch into a 100 TB snapshot rewrites
gigabytes, not the table. When the snapshot outgrows its bucket
count, ``rebucket`` migrates the table to a larger B in one rewrite
and one commit, after which merges regain their pruning. A table
format with native MERGE (Iceberg/Delta/Hudi) replaces step 4 with its
own commit and keeps steps 1-3 verbatim.

Crash safety: each merge, expiry and rebucket is one manifest commit
covering the data files, the layout and the tombstone counts together.
A crash before it leaves the previous snapshot, a crash after it the
new one, and the next entry point deletes the uncommitted files. A
replayed batch then re-merges idempotently.

Deletes: change rows may carry an op column; a key whose NEWEST
change is the delete op disappears from reads. Tombstones are
RETAINED in the stored snapshot (they win keep-latest like any other
version), so a late-arriving OLDER update can never resurrect a
deleted key — ``read_bucketed_snapshot`` filters them out (null-safe:
rows with a NULL op are ordinary upserts, never dropped). The delete op
is ``DELETE_OP``. Expiring
tombstones past a replay horizon is a compaction-time policy
(``expire_tombstones``), not a merge-time one. Passing ``op_col`` to
the merge keeps per-bucket tombstone counts
in the manifest, so that compaction reads only tombstone-bearing
buckets instead of scanning the table. A count is an UPPER BOUND: a
merge adds the batch's delete rows to it without reading back what it
wrote (a batch tombstone that loses keep-latest, or replaces an older
one, is still counted), and ``expire_tombstones`` and ``rebucket`` make
it exact for every bucket they scan. The invariant pruning rests on: a
bucket that holds a tombstone never has count 0.

Idempotence: keep-latest is a join-semilattice fold (max by
(order_by, tiebreak) per key), so re-merging an already-applied batch
reproduces the same winners — a replayed micro-batch after a crash
rewrites the same bucket contents. This REQUIRES a deterministic
total order: pass unique tiebreakers when the ordering columns can
collide. The merge consumes the batch twice (the per-bucket aggregate,
the bucket write), so it localCheckpoints the batch first: the plan is
EVALUATED ONCE, an expensive upstream plan is not recomputed, and a
nondeterministic batch (limit without order, rand()) merges exactly
the rows it materialized.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import dedupe_keep_latest
from ..sources.table import Table, layout_tasks
from ..sources.writers import bucket_of
from .stream import drain_foreach_batch

BUCKET_COL = "_bucket"
DEFAULT_N_BUCKETS = 64  # a new table's B when the first merge names none
DELETE_OP = "D"  # the op column value that marks a delete
_DATA = "data"


def _layout(table: Table) -> dict:
    """The snapshot's stored layout ({col, keys, n_buckets})."""
    layout = table.layout(_DATA)
    if layout is None:
        raise FileNotFoundError(f"no bucketed snapshot at {table.root}")
    return layout


def _merge_n_buckets(table: Table, primary_keys: Sequence[str],
                     n_buckets: int | None) -> int:
    """The B a merge writes under: the stored one on an existing table
    (a caller's ``n_buckets`` or ``primary_keys`` that differs from the
    stored layout raises — rows hashed under another layout would land
    in the wrong buckets and duplicate their keys), else the caller's,
    or ``DEFAULT_N_BUCKETS``."""
    if _DATA not in table.tables:
        return n_buckets or DEFAULT_N_BUCKETS
    layout = _layout(table)
    for name, passed, stored in (
            ("n_buckets", n_buckets, layout["n_buckets"]),
            ("primary_keys", list(primary_keys), layout["keys"])):
        if passed is not None and passed != stored:
            raise ValueError(
                f"{name}={passed} does not match the stored layout "
                f"{name}={stored} of {table.root}: omit n_buckets to "
                "merge under the stored B, or migrate with rebucket().")
    return layout["n_buckets"]


def _resolve_op_col(table: Table, op_col: str | None) -> str | None:
    """Reconcile the caller's ``op_col`` with the one the manifest
    records. Once a snapshot keeps tombstone counts, its op column is
    adopted, so a merge without ``op_col`` still counts its tombstones
    (an uncounted one would be pruned out of every expiry); a
    CONFLICTING op_col raises rather than counting the wrong column."""
    stored = table.state.get("op_col")
    if stored is None or op_col is None:
        return stored or op_col
    if op_col != stored:
        raise ValueError(
            f"mixed op_col usage on {table.root}: the manifest records "
            f"op_col={stored!r} but this call passed op_col={op_col!r} — "
            "the op column is part of the table contract.")
    return op_col


def _tombstone_state(op_col: str, counts: dict[int, int]) -> dict:
    """Manifest state for per-bucket tombstone counts (zero counts
    omitted): each an upper bound on the bucket's tombstones, exact
    for the buckets the last expiry or rebucket scanned (module
    docstring)."""
    return {"op_col": op_col,
            "tombstones": {str(k): v for k, v in sorted(counts.items())
                           if v > 0}}


def _tombstones(table: Table) -> dict[int, int] | None:
    """The committed per-bucket tombstone counts, or None when merges
    never kept them."""
    raw = table.state.get("tombstones")
    return None if raw is None else {int(k): v for k, v in raw.items()}


def _count_tombstones(df: DataFrame, op_col: str) -> dict[int, int]:
    """Exact per-bucket delete-row counts of ``df`` (zero counts for a
    frame that does not carry the op column)."""
    if op_col not in df.columns:
        return {}
    rows = (df.filter(F.col(op_col).eqNullSafe(DELETE_OP))
              .groupBy(BUCKET_COL).count().collect())
    return {int(r[0]): int(r[1]) for r in rows}


def _bucket_of_file(relpath: str) -> int:
    return int(relpath.split(os.sep, 1)[0].split("=", 1)[1])


def _replace_buckets(table: Table, entry: dict,
                     buckets: Sequence[int]) -> dict:
    """The data entry with ``buckets``' files replaced by ``entry``'s
    (a bucket ``entry`` has no file for disappears)."""
    old = table.tables.get(_DATA)
    if old is None:
        return entry
    drop = set(buckets)
    kept = [f for f in old["files"] if _bucket_of_file(f) not in drop]
    return {**entry, "files": kept + entry["files"]}


def bucketed_merge(
    batch: DataFrame,
    *,
    snapshot_dir: str,
    primary_keys: Sequence[str],
    order_by: Sequence[Column],
    n_buckets: int | None = None,
    tiebreak: Sequence[Column] = (),
    op_col: str | None = None,
) -> list[int]:
    """Apply one change batch to the bucketed snapshot. Returns the
    sorted list of bucket ids this merge rewrote (≤ B ints).

    ``order_by``/``tiebreak`` follow dedupe_keep_latest's contract
    (pass desc() columns for newest-wins). The first merge into a
    snapshot records ``primary_keys`` and ``n_buckets`` (default
    ``DEFAULT_N_BUCKETS``) as its layout; later merges use the stored
    B, and an ``n_buckets`` or ``primary_keys`` that differs from it
    raises (``rebucket`` migrates a table to a new B). Pass ``op_col``
    to keep the tombstone counts that let ``expire_tombstones`` prune
    its scan; once the snapshot keeps them, later merges maintain them
    automatically (the op column is recorded in the manifest) and a
    conflicting ``op_col`` raises. Counts start with the first merge
    into a new snapshot; on one merged without them, the first
    ``expire_tombstones`` starts them.

    The batch is localCheckpointed so it is EVALUATED ONCE: the merge
    consumes it twice (the per-bucket aggregate that finds the touched
    buckets and counts their delete rows, and the bucket write), which
    for an expensive upstream plan would double real work and for a
    nondeterministic one (rand(), bare limit) would change rows between
    the two passes. Both consumers read the same materialized rows (a
    lost block fails the job rather than silently recomputing)."""
    spark = batch.sparkSession
    table = Table(spark, snapshot_dir)
    n_buckets = _merge_n_buckets(table, primary_keys, n_buckets)
    op_col = _resolve_op_col(table, op_col)
    layout = {"col": BUCKET_COL, "keys": list(primary_keys),
              "n_buckets": n_buckets}

    b = (batch.withColumn(BUCKET_COL, bucket_of(primary_keys, n_buckets))
              .localCheckpoint(eager=True))
    is_del = (F.col(op_col).eqNullSafe(DELETE_OP)
              if op_col in b.columns else F.lit(False))
    per_bucket = {r[0]: r[1] for r in b.groupBy(BUCKET_COL).agg(
        F.count(F.when(is_del, 1))).collect()}
    touched = sorted(per_bucket)
    if not touched:
        return []

    prev = table.read(_DATA)
    merged = b if prev is None else b.unionByName(
        prev.filter(F.col(BUCKET_COL).isin(touched)))
    merged = merged.repartition(layout_tasks(spark, layout, len(touched)),
                                F.col(BUCKET_COL))
    merged = dedupe_keep_latest(merged, [BUCKET_COL, *primary_keys],
                                list(order_by), list(tiebreak))
    entry = table.write(_DATA, merged, n_written=len(touched), layout=layout)

    # Invariant: every written bucket is in the touched set, or its
    # prev rows were never read into the merge and the commit would
    # drop them. The checkpointed batch guarantees it; check anyway and
    # fail loudly (the files stay uncommitted) rather than lose rows if
    # a batch ever reaches here re-evaluated.
    extra = {_bucket_of_file(f) for f in entry["files"]} - set(touched)
    if extra:
        raise ValueError(
            f"the merge wrote buckets {sorted(extra)} outside the touched "
            f"set {touched} — their prev rows were never merged.")

    state = {}
    counts = _tombstones(table)
    # counts start on a new table; on one merged without them, the
    # buckets this merge does not touch are unknown, so the first
    # expiry's full scan starts them instead
    if op_col is not None and (counts is not None or prev is None):
        counts = counts or {}
        for k in touched:
            counts[k] = counts.get(k, 0) + per_bucket[k]
        state = _tombstone_state(op_col, counts)
    table.commit({_DATA: _replace_buckets(table, entry, touched)}, **state)
    return touched


def read_bucketed_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    op_col: str | None = None,
) -> DataFrame | None:
    """Current state of the bucketed snapshot (None before the first
    merge). With ``op_col`` set, keys whose newest change is the
    delete op are filtered out (their tombstone rows stay on disk —
    see module docstring); rows with a NULL op are upserts and are
    kept (null-safe predicate)."""
    df = Table(spark, snapshot_dir).read(_DATA)
    if df is None:
        return None
    df = df.drop(BUCKET_COL)
    if op_col is not None:
        df = df.filter(~F.col(op_col).eqNullSafe(DELETE_OP))
    return df


def expire_tombstones(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    op_col: str,
    expire_if: Column,
) -> list[int]:
    """Compaction-time tombstone expiry: rewrite the buckets that hold
    delete tombstones matching ``expire_if`` (e.g. ``F.col("seq") <
    horizon``), dropping those rows. Returns the rewritten bucket ids.

    Choose the horizon STRICTLY older than the change feed's maximum
    replay/late-arrival lateness: once a tombstone is gone, an even
    older update for that key would win keep-latest again (the
    resurrection the retained tombstone exists to prevent).

    Scan pruning: when merges kept tombstone counts
    (``bucketed_merge(op_col=...)``), only buckets with a positive
    count are READ — a PartitionFilters-pruned scan, same shape as the
    merge's (pinned by pytest). Without counts the first run scans the
    whole table once and starts them, so the NEXT expiry prunes.

    One aggregate over the scanned buckets, grouped by bucket, gives
    both the buckets to rewrite (those holding an expirable tombstone)
    and the number of tombstones each scanned bucket keeps. The rewrite
    commits with those counts, which are exact, and reads nothing back
    (``expire_if`` must be deterministic: the rewrite evaluates it
    again). An expiry that rewrites nothing commits only when the
    counts changed.
    Null-op rows are upserts: they are never expirable and never
    dropped by the rewrite (null-safe predicates throughout)."""
    table = Table(spark, snapshot_dir)
    cur = table.read(_DATA)
    if cur is None:
        return []
    op_col = _resolve_op_col(table, op_col)
    counts = _tombstones(table)
    if counts is not None:
        candidates = sorted(k for k, v in counts.items() if v > 0)
        if not candidates:
            return []
        cur = cur.filter(F.col(BUCKET_COL).isin(candidates))
    is_del = F.col(op_col).eqNullSafe(DELETE_OP)
    expirable = is_del & F.coalesce(expire_if, F.lit(False))
    exact, touched = {}, []
    for bucket, n_expire, n_keep in cur.groupBy(BUCKET_COL).agg(
            F.count(F.when(expirable, 1)),
            F.count(F.when(is_del & ~expirable, 1))).collect():
        exact[bucket] = n_keep
        if n_expire:
            touched.append(bucket)
    # a bucket the scan skipped has count 0 and so holds no tombstone:
    # these are the exact counts of every bucket
    state = _tombstone_state(op_col, exact)
    if not touched:
        if any(table.state.get(k) != v for k, v in state.items()):
            table.commit({}, **state)
        return []
    touched.sort()
    kept = cur.filter(F.col(BUCKET_COL).isin(touched)).filter(~expirable)
    entry = table.write(_DATA, kept, layout=_layout(table),
                        n_written=len(touched))
    table.commit({_DATA: _replace_buckets(table, entry, touched)}, **state)
    return touched


def rebucket(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    new_n_buckets: int,
    op_col: str | None = None,
) -> int:
    """Migrate the snapshot to a new bucket count — the compaction job
    that keeps merge pruning effective as the table grows (touched-
    bucket pruning holds only while B grows with the snapshot). One
    full rewrite: read every row (tombstones INCLUDED — they carry
    their replay-protection across the migration), recompute the
    bucket id from the stored primary keys under the new B, and commit
    the new files, the new layout and recounted tombstones together.
    Later merges pick up the new B from the layout.
    Returns the number of rows migrated."""
    table = Table(spark, snapshot_dir)
    layout = _layout(table)
    op_col = _resolve_op_col(table, op_col)
    from ..functions.observe import observed

    cur, obs = observed(table.read(_DATA).drop(BUCKET_COL),
                        "rebucket", n=F.count(F.lit(1)))
    entry = table.write(_DATA, cur,
                        layout={**layout, "n_buckets": new_n_buckets})
    n_rows = int(obs.get["n"])
    state = {}
    if op_col is not None:
        state = _tombstone_state(op_col, _count_tombstones(
            table.read(_DATA, entry), op_col))
    table.commit({_DATA: entry}, **state)
    return n_rows


def foreach_batch_bucketed_upsert(
    source: DataFrame,
    *,
    primary_keys: Sequence[str],
    order_by: Sequence[Column],
    snapshot_dir: str,
    checkpoint_path: str,
    n_buckets: int | None = None,
    tiebreak: Sequence[Column] = (),
    op_col: str | None = None,
) -> None:
    """Drain ``source`` AvailableNow, merging every micro-batch into
    the snapshot via ``bucketed_merge`` (the stored B, or ``n_buckets``
    on a new table). At-least-once replay composes
    to exactly-once state because the merge is idempotent (see module
    docstring); the merge's manifest write is the commit."""
    def merge(batch: DataFrame, batch_id: int) -> None:
        bucketed_merge(batch, snapshot_dir=snapshot_dir,
                       primary_keys=primary_keys, order_by=order_by,
                       n_buckets=n_buckets, tiebreak=tiebreak,
                       op_col=op_col)

    drain_foreach_batch(source, merge, checkpoint_path)
