"""Bucket-pruned CDC MERGE: the keyed keep-latest snapshot
(reference analog: the keep-latest dedupe of
go-incremental-ingest-elt.py:200-213, applied continuously — with
per-merge cost proportional to the BATCH, not the snapshot).

Layout: the snapshot lives as a Hive-partitioned parquet table
``<snapshot_dir>/data/_bucket=K/`` with K = pmod(xxhash64(pk), B),
written by ``sources.writers.write_bucketed``, which records the
primary keys and B in ``data/_layout.json``. Every merge reads them
from there, so the table keeps one hash layout until ``rebucket``
migrates it. A merge then:

1. computes the batch's touched bucket set (bounded by B — a ≤B-row
   collect, never data-sized);
2. reads ONLY those partitions back (an ``isin`` filter on the
   partition column — Catalyst turns it into PartitionFilters, so
   untouched buckets are never opened, pinned by
   tests/test_bucketed_upsert.py);
3. unions prev ∪ batch and keeps the newest row per key
   (operators.windows.dedupe_keep_latest — one shuffle, by key,
   of O(batch + touched·snapshot/B) rows);
4. writes the merged buckets to a staging dir and swaps each touched
   ``_bucket=K`` directory into the live table with
   ``sources.writers.swap_dir`` (the first merge swaps in the whole
   staged table, layout included). Untouched bucket directories are
   not rewritten, not read, not even listed by the merge job.

So a batch that touches t of B buckets costs
O(|batch| + t·|snapshot|/B). With B sized so a
bucket is a few GB, a trickle batch into a 100 TB snapshot rewrites
gigabytes, not the table. When the snapshot outgrows its bucket
count, ``rebucket`` migrates the table to a larger B through the
same staging+swap protocol (one full rewrite, after which merges
regain their pruning). On an object store the per-directory swap
becomes a manifest-pointer update; a table format with native MERGE
(Iceberg/Delta/Hudi) replaces step 4 with its own commit protocol and
keeps steps 1-3 verbatim.

Crash safety: swaps follow ``sources.writers.swap_dir``, with the
aside directory OUTSIDE the live table
(``<snapshot_dir>/.aside/_bucket=K``) so partition discovery never
sees a half-swapped bucket under a bogus partition value. Every entry
point first runs ``recover_swap`` over the asides; a restored bucket
is simply re-merged by the replayed batch, idempotently.

Deletes: change rows may carry an op column; a key whose NEWEST
change is the delete op disappears from reads. Tombstones are
RETAINED in the stored snapshot (they win keep-latest like any other
version), so a late-arriving OLDER update can never resurrect a
deleted key — ``read_bucketed_snapshot`` filters them out (null-safe:
rows with a NULL op are ordinary upserts, never dropped). Expiring
tombstones past a replay horizon is a compaction-time policy
(``expire_tombstones``), not a merge-time one; passing
``op_col``/``delete_op`` to the merge maintains a per-bucket
tombstone-count sidecar so that compaction reads only
tombstone-bearing buckets instead of scanning the table.

Idempotence: keep-latest is a join-semilattice fold (max by
(order_by, tiebreak) per key), so re-merging an already-applied batch
reproduces the same winners — a replayed micro-batch after a crash
rewrites the same bucket contents. This REQUIRES a deterministic
total order: pass unique tiebreakers when the ordering columns can
collide. The merge consumes the batch twice (touched-bucket collect,
staging write), so it localCheckpoints the batch first: the plan is
EVALUATED ONCE, an expensive upstream plan is not recomputed, and a
nondeterministic batch (limit without order, rand()) merges exactly
the rows it materialized.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import dedupe_keep_latest
from ..sources.writers import (bucket_of, read_layout, recover_swap,
                               swap_dir, write_atomic, write_bucketed)
from .stream import drain_foreach_batch

BUCKET_COL = "_bucket"
DEFAULT_N_BUCKETS = 64  # a new table's B when the first merge names none
_DATA = "data"
_ASIDE = ".aside"
_WHOLE_TABLE = "__data__"  # aside of a whole-table swap of the data dir
_SIDECAR = "tombstone_bounds.json"


def _live_dir(snapshot_dir: str) -> str:
    return os.path.join(snapshot_dir, _DATA)


def _aside_dir(snapshot_dir: str) -> str:
    return os.path.join(snapshot_dir, _ASIDE)


def _layout(snapshot_dir: str) -> dict:
    """The snapshot's stored layout ({col, keys, n_buckets})."""
    layout = read_layout(_live_dir(snapshot_dir))
    if layout is None:
        raise FileNotFoundError(f"no bucketed snapshot at {snapshot_dir}")
    return layout


def _merge_n_buckets(snapshot_dir: str, primary_keys: Sequence[str],
                     n_buckets: int | None) -> int:
    """The B a merge writes under: the stored one on an existing table
    (a caller's ``n_buckets`` or ``primary_keys`` that differs from the
    stored layout raises — rows hashed under another layout would land
    in the wrong buckets and duplicate their keys), else the caller's,
    or ``DEFAULT_N_BUCKETS``."""
    if not os.path.isdir(_live_dir(snapshot_dir)):
        return n_buckets or DEFAULT_N_BUCKETS
    layout = _layout(snapshot_dir)
    for name, passed, stored in (
            ("n_buckets", n_buckets, layout["n_buckets"]),
            ("primary_keys", list(primary_keys), layout["keys"])):
        if passed is not None and passed != stored:
            raise ValueError(
                f"{name}={passed} does not match the stored layout "
                f"{name}={stored} of {snapshot_dir}: omit n_buckets to "
                "merge under the stored B, or migrate with rebucket().")
    return layout["n_buckets"]


def _recover_asides(snapshot_dir: str) -> None:
    """``recover_swap`` every aside; runs at every entry point, so a
    crashed swap heals on the next touch of the table. The whole-table
    aside sorts first, so the table is back before its buckets."""
    aside_root = _aside_dir(snapshot_dir)
    if not os.path.isdir(aside_root):
        return
    live = _live_dir(snapshot_dir)
    for name in sorted(os.listdir(aside_root)):
        recover_swap(live if name == _WHOLE_TABLE
                     else os.path.join(live, name),
                     os.path.join(aside_root, name))


def _swap_in(snapshot_dir: str, staging: str, bucket_ids: Sequence[int],
             ) -> None:
    """``swap_dir`` each staged ``_bucket=K`` into the live table. A
    bucket that staged EMPTY (no directory) is removed from the live
    table — ``expire_tombstones`` relies on this to drop a bucket whose
    every row expired; ``bucketed_merge`` never stages a live bucket
    empty (keep-latest retains a winner per key)."""
    for k in bucket_ids:
        part = f"{BUCKET_COL}={k}"
        swap_dir(os.path.join(_live_dir(snapshot_dir), part),
                 os.path.join(staging, part),
                 os.path.join(_aside_dir(snapshot_dir), part))


def _load_sidecar(snapshot_dir: str
                  ) -> tuple[dict[int, int], str, str] | None:
    """-> (bounds, op_col, delete_op), or None if no sidecar. The op
    column is recorded in the sidecar so that every later merge keeps
    the bounds current whether or not the caller re-passes
    ``op_col``."""
    p = os.path.join(snapshot_dir, _SIDECAR)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        raw = json.load(fh)
    return ({int(k): int(v) for k, v in raw["bounds"].items()},
            raw["op_col"], raw["delete_op"])


def _write_sidecar(snapshot_dir: str, bounds: dict[int, int],
                   op_col: str, delete_op: str) -> None:
    """Atomic sidecar write. Values are UPPER BOUNDS on
    per-bucket tombstone counts: raises happen before a swap, exact
    lowerings after — a crash anywhere leaves a valid bound, so the
    sidecar can prune ``expire_tombstones``'s scan but never hide a
    tombstone-bearing bucket from it."""
    write_atomic(os.path.join(snapshot_dir, _SIDECAR), json.dumps(
        {"op_col": op_col, "delete_op": delete_op,
         "bounds": {str(k): v for k, v in sorted(bounds.items()) if v > 0}}))


def _resolve_op_col(snapshot_dir: str, op_col: str | None, delete_op: str,
                    ) -> tuple[str | None, str]:
    """Reconcile the caller's ``op_col`` with the sidecar's recorded
    one. Once a snapshot has a sidecar, its op column is adopted, so a
    merge without ``op_col`` still counts its tombstones (an uncounted
    one would be pruned out of every expiry); a CONFLICTING op_col
    raises rather than maintaining bounds for the wrong column."""
    sc = _load_sidecar(snapshot_dir)
    if sc is None:
        return op_col, delete_op
    _, sc_op, sc_del = sc
    if op_col is None:
        return sc_op, sc_del
    if (op_col, delete_op) != (sc_op, sc_del):
        raise ValueError(
            f"mixed op_col usage on {snapshot_dir}: the sidecar records "
            f"(op_col={sc_op!r}, delete_op={sc_del!r}) but this call "
            f"passed (op_col={op_col!r}, delete_op={delete_op!r}) — the "
            "op column is part of the table contract.")
    return op_col, delete_op


def _staged_tombstone_counts(spark: SparkSession, staging: str,
                             op_col: str, delete_op: str) -> dict[int, int]:
    """Exact per-bucket delete-row counts of a staged write (reads
    back only the freshly staged buckets — merge-sized, not
    table-sized). A staging dir with no bucket partitions (everything
    compacted away) has no readable schema — that's zero counts; so is
    a staged batch that doesn't carry the op column at all."""
    if not any(d.startswith(f"{BUCKET_COL}=") for d in os.listdir(staging)):
        return {}
    staged = spark.read.parquet(staging)
    if op_col not in staged.columns:
        return {}
    rows = (staged
            .filter(F.col(op_col).eqNullSafe(delete_op))
            .groupBy(BUCKET_COL).count().collect())
    return {int(r[0]): int(r[1]) for r in rows}


def bucketed_merge(
    batch: DataFrame,
    *,
    snapshot_dir: str,
    primary_keys: Sequence[str],
    order_by: Sequence[Column],
    n_buckets: int | None = None,
    tiebreak: Sequence[Column] = (),
    op_col: str | None = None,
    delete_op: str = "D",
) -> list[int]:
    """Apply one change batch to the bucketed snapshot. Returns the
    sorted list of bucket ids this merge rewrote (≤ B ints).

    ``order_by``/``tiebreak`` follow dedupe_keep_latest's contract
    (pass desc() columns for newest-wins). The first merge into a
    snapshot records ``primary_keys`` and ``n_buckets`` (default
    ``DEFAULT_N_BUCKETS``) as its layout; later merges use the stored
    B, and an ``n_buckets`` or ``primary_keys`` that differs from it
    raises (``rebucket`` migrates a table to a new B). Pass ``op_col``
    to maintain the tombstone-count sidecar that lets
    ``expire_tombstones`` prune its scan; once the snapshot has a
    sidecar, later merges maintain it automatically (the op column is
    recorded in it) and a conflicting ``op_col`` raises.

    The batch is localCheckpointed so it is EVALUATED ONCE: the merge
    consumes it twice (touched-bucket collect + staging write), which
    for an expensive upstream plan would double real work and for a
    nondeterministic one (rand(), bare limit) would change rows between
    the two passes. Both consumers read the same materialized rows (a
    lost block fails the job rather than silently recomputing)."""
    spark = batch.sparkSession
    live = _live_dir(snapshot_dir)
    os.makedirs(snapshot_dir, exist_ok=True)
    _recover_asides(snapshot_dir)
    n_buckets = _merge_n_buckets(snapshot_dir, primary_keys, n_buckets)
    op_col, delete_op = _resolve_op_col(snapshot_dir, op_col, delete_op)

    b = (batch.withColumn(BUCKET_COL, bucket_of(primary_keys, n_buckets))
              .localCheckpoint(eager=True))
    touched = sorted(
        r[0] for r in b.select(BUCKET_COL).distinct().collect())
    if not touched:
        return []

    new_table = not os.path.isdir(live)
    merged = b
    if not new_table:
        prev = (spark.read.parquet(live)
                .filter(F.col(BUCKET_COL).isin(touched))
                .withColumn(BUCKET_COL, F.col(BUCKET_COL).cast("int")))
        merged = b.unionByName(prev)
    merged = dedupe_keep_latest(merged, list(primary_keys),
                                list(order_by), list(tiebreak))

    staging = os.path.join(snapshot_dir, ".staging")
    shutil.rmtree(staging, ignore_errors=True)
    write_bucketed(merged, staging, col=BUCKET_COL, keys=primary_keys,
                   n_buckets=n_buckets, n_written=len(touched))

    # Invariant: every staged bucket is in the touched set, or its prev
    # rows were never read into the merge and the swap would drop them.
    # The checkpointed batch guarantees it; check anyway and fail loudly
    # rather than lose rows if a batch ever reaches here re-evaluated.
    staged = {int(d.split("=", 1)[1]) for d in os.listdir(staging)
              if d.startswith(f"{BUCKET_COL}=")}
    extra = staged - set(touched)
    if extra:
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"staging wrote buckets {sorted(extra)} outside the touched set"
            f" {touched} — their prev rows were never merged.")

    if op_col is not None:
        # pre-swap RAISE of the sidecar bounds (crash-safe direction):
        # new exact counts may be lower than the old bound (a newer
        # upsert can displace a stored tombstone), so lower only after
        # every swap landed.
        exact = _staged_tombstone_counts(spark, staging, op_col, delete_op)
        sc = _load_sidecar(snapshot_dir)
        bounds = sc[0] if sc is not None else {}
        raised = dict(bounds)
        for k in touched:
            raised[k] = max(bounds.get(k, 0), exact.get(k, 0))
        _write_sidecar(snapshot_dir, raised, op_col, delete_op)

    if new_table:
        swap_dir(live, staging,
                 os.path.join(_aside_dir(snapshot_dir), _WHOLE_TABLE))
    else:
        _swap_in(snapshot_dir, staging, touched)
    shutil.rmtree(staging, ignore_errors=True)

    if op_col is not None:
        for k in touched:
            raised[k] = exact.get(k, 0)
        _write_sidecar(snapshot_dir, raised, op_col, delete_op)

    from ..sources.readers import invalidate_schema_cache
    invalidate_schema_cache(live)
    return touched


def read_bucketed_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame | None:
    """Current state of the bucketed snapshot (None before the first
    merge). With ``op_col`` set, keys whose newest change is the
    delete op are filtered out (their tombstone rows stay on disk —
    see module docstring); rows with a NULL op are upserts and are
    kept (null-safe predicate)."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    if not os.path.isdir(live):
        return None
    df = spark.read.parquet(live).drop(BUCKET_COL)
    if op_col is not None:
        df = df.filter(~F.col(op_col).eqNullSafe(delete_op))
    return df


def expire_tombstones(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    op_col: str,
    expire_if: Column,
    delete_op: str = "D",
) -> list[int]:
    """Compaction-time tombstone expiry: rewrite the buckets that hold
    delete tombstones matching ``expire_if`` (e.g. ``F.col("seq") <
    horizon``), dropping those rows. Returns the rewritten bucket ids.

    Choose the horizon STRICTLY older than the change feed's maximum
    replay/late-arrival lateness: once a tombstone is gone, an even
    older update for that key would win keep-latest again (the
    resurrection the retained tombstone exists to prevent).

    Scan pruning: when merges maintained the tombstone-count sidecar
    (``bucketed_merge(op_col=...)``), only buckets whose bound is
    positive are READ — a PartitionFilters-pruned scan, same shape as
    the merge's (pinned by pytest). Without a sidecar the first run
    scans the whole table once and bootstraps exact counts for every
    bucket, so the NEXT expiry prunes. Null-op rows are upserts: they
    are never expirable and never dropped by the rewrite (null-safe
    predicates throughout)."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    if not os.path.isdir(live):
        return []
    op_col, delete_op = _resolve_op_col(snapshot_dir, op_col, delete_op)
    sc = _load_sidecar(snapshot_dir)
    bounds = sc[0] if sc is not None else None
    cur = spark.read.parquet(live)
    bootstrap: dict[int, int] | None = None
    if bounds is not None:
        candidates = sorted(k for k, v in bounds.items() if v > 0)
        if not candidates:
            return []
        cur = cur.filter(F.col(BUCKET_COL).isin(candidates))
    else:
        # full scan (documented fallback); piggyback exact per-bucket
        # tombstone counts so this is the LAST unpruned expiry
        bootstrap = {
            int(r[0]): int(r[1])
            for r in cur.filter(F.col(op_col).eqNullSafe(delete_op))
                        .groupBy(BUCKET_COL).count().collect()}
    expirable = F.col(op_col).eqNullSafe(delete_op) & \
        F.coalesce(expire_if, F.lit(False))
    touched = sorted(r[0] for r in cur.filter(expirable)
                     .select(BUCKET_COL).distinct().collect())
    if not touched:
        if bootstrap is not None:
            _write_sidecar(snapshot_dir, bootstrap, op_col, delete_op)
        return []
    kept = (cur.filter(F.col(BUCKET_COL).isin(touched))
               .filter(~F.coalesce(expirable, F.lit(False))))
    layout = _layout(snapshot_dir)
    staging = os.path.join(snapshot_dir, ".staging")
    shutil.rmtree(staging, ignore_errors=True)
    write_bucketed(kept, staging, col=BUCKET_COL, keys=layout["keys"],
                   n_buckets=layout["n_buckets"], n_written=len(touched))
    exact = _staged_tombstone_counts(spark, staging, op_col, delete_op)
    _swap_in(snapshot_dir, staging, touched)
    shutil.rmtree(staging, ignore_errors=True)
    # post-swap exact LOWERING (crash before this keeps the old bound
    # — still a valid upper bound)
    new_bounds = bootstrap if bootstrap is not None else dict(bounds)
    for k in touched:
        new_bounds[k] = exact.get(k, 0)
    _write_sidecar(snapshot_dir, new_bounds, op_col, delete_op)
    from ..sources.readers import invalidate_schema_cache
    invalidate_schema_cache(live)
    return touched


def rebucket(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    new_n_buckets: int,
    op_col: str | None = None,
    delete_op: str = "D",
) -> int:
    """Migrate the snapshot to a new bucket count — the compaction job
    that keeps merge pruning effective as the table grows (SCALE_r09:
    touched-bucket pruning holds only if B grows with the snapshot; a
    table seeded at B=64 that reached 100 TB needs this, not a frozen
    B). One full rewrite: read every row (tombstones INCLUDED — they
    carry their replay-protection across the migration), recompute the
    bucket id from the stored primary keys under the new B, stage the
    whole table with its new layout, then ``swap_dir`` the entire
    ``data`` directory (after a crash the old table and its layout
    return and the rebucket is simply re-run). Later merges pick up
    the new B from the layout.

    The tombstone sidecar is DELETED before the swap and rebuilt with
    exact counts after it (old bucket ids are meaningless under the
    new B; a crash in between leaves no sidecar, which
    ``expire_tombstones`` treats as a full-scan bootstrap — safe).
    Returns the number of rows migrated."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    keys = _layout(snapshot_dir)["keys"]
    op_col, delete_op = _resolve_op_col(snapshot_dir, op_col, delete_op)
    from ..functions.observe import observed

    cur, obs = observed(spark.read.parquet(live).drop(BUCKET_COL),
                        "rebucket", n=F.count(F.lit(1)))
    staging = os.path.join(snapshot_dir, ".staging_rebucket")
    shutil.rmtree(staging, ignore_errors=True)
    write_bucketed(cur, staging, col=BUCKET_COL, keys=keys,
                   n_buckets=new_n_buckets)
    n_rows = int(obs.get["n"])

    sidecar = os.path.join(snapshot_dir, _SIDECAR)
    if os.path.isfile(sidecar):
        os.remove(sidecar)
    swap_dir(live, staging,
             os.path.join(_aside_dir(snapshot_dir), _WHOLE_TABLE))

    if op_col is not None:
        exact = {
            int(r[0]): int(r[1])
            for r in spark.read.parquet(live)
                          .filter(F.col(op_col).eqNullSafe(delete_op))
                          .groupBy(BUCKET_COL).count().collect()}
        _write_sidecar(snapshot_dir, exact, op_col, delete_op)
    from ..sources.readers import invalidate_schema_cache
    invalidate_schema_cache(live)
    return n_rows


def auto_n_buckets(snapshot_bytes: int, *,
                   target_mb_per_bucket: float = 1024) -> int:
    """Bucket count advice from the measured merge economics: a
    power-of-two B targeting ``target_mb_per_bucket`` per bucket dir,
    clamped to [16, 65536]. SCALE_r09/r10 are the evidence base: at a
    4.1 GB snapshot, 257 MB/bucket (outgrown B=16) cost 65 s/merge
    while ~4 MB/bucket (B=1024) cost 4.5 s reading 3.4% of the table —
    pruning wins scale with B — but every bucket is a directory the
    merge's partition discovery must list (one file each, the pinned
    write discipline), so B is capped and the default keeps buckets at
    ~1 GB: small enough that a trickle merge rewrites gigabytes at
    100 TB, large enough that listing stays trivial."""
    target_bytes = max(1, int(target_mb_per_bucket * 1024 * 1024))
    want = 1 << max(0, snapshot_bytes // target_bytes - 1).bit_length()
    return max(16, min(65536, want))


def maintain_bucket_layout(
    spark: SparkSession,
    snapshot_dir: str,
    *,
    target_mb_per_bucket: float = 1024,
    drift_factor: int = 4,
    op_col: str | None = None,
    delete_op: str = "D",
) -> int | None:
    """Keep the snapshot's bucket count matched to its SIZE — the
    maintenance policy around ``rebucket``, mirroring the LSH index's
    ``maintain_entries_layout``: measure the on-disk bytes (a pure
    file listing, no Spark job), compute what ``auto_n_buckets`` would
    pick today, and migrate only when the stored B is off by at least
    ``drift_factor`` in either direction. Hysteresis matters because a
    rebucket is a FULL table rewrite (SCALE_r10: it pays for itself
    within one outgrown merge, but only once actually outgrown), so
    routine growth should not churn the layout.

    Returns the new B when a migration ran (later merges read it from
    the layout), else None."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    cur = _layout(snapshot_dir)["n_buckets"]
    total = 0
    for root, _dirs, files in os.walk(live):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    want = auto_n_buckets(total, target_mb_per_bucket=target_mb_per_bucket)
    if cur * drift_factor > want and want * drift_factor > cur:
        return None
    rebucket(spark, snapshot_dir, new_n_buckets=want, op_col=op_col,
             delete_op=delete_op)
    return want


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
    delete_op: str = "D",
) -> None:
    """Drain ``source`` AvailableNow, merging every micro-batch into
    the snapshot via ``bucketed_merge`` (the stored B, or ``n_buckets``
    on a new table). At-least-once replay composes
    to exactly-once state because the merge is idempotent (see module
    docstring); the per-bucket directory swap is the commit."""
    def merge(batch: DataFrame, batch_id: int) -> None:
        bucketed_merge(batch, snapshot_dir=snapshot_dir,
                       primary_keys=primary_keys, order_by=order_by,
                       n_buckets=n_buckets, tiebreak=tiebreak,
                       op_col=op_col, delete_op=delete_op)

    drain_foreach_batch(source, merge, checkpoint_path)
