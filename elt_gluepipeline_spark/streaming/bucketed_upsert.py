"""Bucket-pruned CDC MERGE: the 100 TB scale path for the keyed
snapshot that ``streaming.upsert`` maintains (reference analog: the
keep-latest dedupe of go-incremental-ingest-elt.py:200-213, applied
continuously — here with per-merge cost proportional to the BATCH,
not the snapshot).

Layout: the snapshot lives as a Hive-partitioned parquet table
``<snapshot_dir>/data/_bucket=K/`` with K = pmod(xxhash64(pk), B).
A merge then:

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
   ``_bucket=K`` directory into the live table through the
   two-rename protocol below. Untouched bucket directories are not
   rewritten, not read, not even listed by the merge job.

So a batch that touches t of B buckets costs
O(|batch| + t·|snapshot|/B) — the docstring contract of
``foreach_batch_upsert``'s scale note, now real. With B sized so a
bucket is a few GB, a trickle batch into a 100 TB snapshot rewrites
gigabytes, not the table. When the snapshot outgrows its bucket
count, ``rebucket`` migrates the table to a larger B through the
same staging+swap protocol (one full rewrite, after which merges
regain their pruning). On an object store the per-directory swap
becomes a manifest-pointer update; a table format with native MERGE
(Iceberg/Delta/Hudi) replaces step 4 with its own commit protocol and
keeps steps 1-3 verbatim.

Crash safety: a swap is move(live→aside), move(staging→live),
delete(aside), with the aside directory OUTSIDE the live table
(``<snapshot_dir>/.aside/_bucket=K``) so partition discovery and
concurrent readers of ``data/`` never see a half-swapped bucket
under a bogus partition value. Every entry point first runs
straggler recovery: an aside bucket whose live directory is missing
is moved back (crash fell between the two renames — the replayed
batch re-merges it, idempotently); one whose live directory exists
is deleted (crash fell before the aside cleanup). Local-FS renames
are not atomic ACROSS directories for readers racing a merge, so
reads must not overlap a merge on local FS; on an object store the
swap is a manifest update and this window disappears.

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

BUCKET_COL = "_bucket"
_DATA = "data"
_ASIDE = ".aside"
_SIDECAR = "tombstone_bounds.json"


def bucket_of(primary_keys: Sequence[str], n_buckets: int) -> Column:
    """The snapshot's bucket id for a row: pmod(xxhash64(pk...), B).
    xxhash64 is a pinned, seed-stable Spark builtin, so the mapping is
    reproducible across sessions/versions — required for an on-disk
    layout contract."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in primary_keys]),
                  F.lit(n_buckets)).cast("int")


def _live_dir(snapshot_dir: str) -> str:
    return os.path.join(snapshot_dir, _DATA)


def _aside_dir(snapshot_dir: str) -> str:
    return os.path.join(snapshot_dir, _ASIDE)


def _recover_asides(snapshot_dir: str) -> None:
    """Straggler recovery (see module docstring): restore any aside
    bucket whose live twin is missing; drop asides that were already
    superseded. Runs at every entry point, so a crashed swap heals on
    the next touch of the table."""
    aside_root = _aside_dir(snapshot_dir)
    if not os.path.isdir(aside_root):
        return
    live = _live_dir(snapshot_dir)
    for name in os.listdir(aside_root):
        src = os.path.join(aside_root, name)
        dst = live if name == "__data__" else os.path.join(live, name)
        if os.path.isdir(dst):
            shutil.rmtree(src, ignore_errors=True)
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)


def _swap_in(snapshot_dir: str, staging: str, bucket_ids: Sequence[int],
             ) -> None:
    """Two-rename swap of each staged ``_bucket=K`` into the live
    table, aside dirs outside the read path (crash-recoverable via
    ``_recover_asides``). A bucket in ``bucket_ids`` that staged
    EMPTY (no directory) EMPTIES the live table: its live directory
    is moved aside and deleted — ``expire_tombstones`` relies on this
    to drop a bucket whose every row expired. ``bucketed_merge``
    never stages empty for a bucket holding live data (keep-latest
    retains a winner per key), so the merge path never hits it."""
    live = _live_dir(snapshot_dir)
    aside_root = _aside_dir(snapshot_dir)
    os.makedirs(live, exist_ok=True)
    os.makedirs(aside_root, exist_ok=True)
    for k in bucket_ids:
        part = f"{BUCKET_COL}={k}"
        src = os.path.join(staging, part)
        dst = os.path.join(live, part)
        aside = os.path.join(aside_root, part)
        shutil.rmtree(aside, ignore_errors=True)
        has_src = os.path.isdir(src)
        if os.path.isdir(dst) and has_src:
            shutil.move(dst, aside)
        if has_src:
            shutil.move(src, dst)
        elif os.path.isdir(dst):
            # staged empty: expiry may compact a bucket to nothing —
            # the live dir must then disappear too
            shutil.move(dst, aside)
        shutil.rmtree(aside, ignore_errors=True)


def _load_sidecar(snapshot_dir: str
                  ) -> tuple[dict[int, int], str | None, str] | None:
    """-> (bounds, op_col, delete_op), or None if no sidecar. The op
    column is recorded IN the sidecar (since round 11) so that every
    later merge can keep the bounds current whether or not the caller
    re-passes ``op_col``; a legacy flat-format sidecar loads with
    op_col=None."""
    p = os.path.join(snapshot_dir, _SIDECAR)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        raw = json.load(fh)
    if isinstance(raw.get("bounds"), dict):
        return ({int(k): int(v) for k, v in raw["bounds"].items()},
                raw.get("op_col"), raw.get("delete_op", "D"))
    return ({int(k): int(v) for k, v in raw.items()}, None, "D")


def _write_sidecar(snapshot_dir: str, bounds: dict[int, int],
                   op_col: str, delete_op: str) -> None:
    """Atomic (temp+rename) sidecar write. Values are UPPER BOUNDS on
    per-bucket tombstone counts: raises happen before a swap, exact
    lowerings after — a crash anywhere leaves a valid bound, so the
    sidecar can prune ``expire_tombstones``'s scan but never hide a
    tombstone-bearing bucket from it."""
    p = os.path.join(snapshot_dir, _SIDECAR)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"op_col": op_col, "delete_op": delete_op,
                   "bounds": {str(k): v for k, v in sorted(bounds.items())
                              if v > 0}},
                  fh)
    os.replace(tmp, p)


def _resolve_op_col(snapshot_dir: str, op_col: str | None, delete_op: str,
                    ) -> tuple[str | None, str]:
    """Reconcile the caller's ``op_col`` with the sidecar's recorded
    one (the mixed-usage hole: a merge WITHOUT op_col into a snapshot
    WITH a sidecar used to leave new tombstones uncounted, so a pruned
    expiry silently never rewrote their bucket). Once a snapshot has a
    sidecar, its recorded op column is adopted automatically; a
    CONFLICTING op_col raises rather than maintaining bounds for the
    wrong column."""
    sc = _load_sidecar(snapshot_dir)
    if sc is None:
        return op_col, delete_op
    _, sc_op, sc_del = sc
    if sc_op is None:
        if op_col is None:
            raise ValueError(
                f"snapshot {snapshot_dir} has a legacy tombstone-count "
                "sidecar with no recorded op column — pass op_col= so its "
                "bounds stay current (this call upgrades the sidecar).")
        return op_col, delete_op
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
    n_buckets: int = 64,
    tiebreak: Sequence[Column] = (),
    op_col: str | None = None,
    delete_op: str = "D",
) -> list[int]:
    """Apply one change batch to the bucketed snapshot. Returns the
    sorted list of bucket ids this merge rewrote (≤ n_buckets ints).

    ``order_by``/``tiebreak`` follow dedupe_keep_latest's contract
    (pass desc() columns for newest-wins). ``n_buckets`` is part of
    the table layout — it must match across merges into the same
    snapshot (``rebucket`` migrates a table to a new B). Pass
    ``op_col`` to maintain the tombstone-count sidecar that lets
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
    op_col, delete_op = _resolve_op_col(snapshot_dir, op_col, delete_op)

    b = (batch.withColumn(BUCKET_COL, bucket_of(primary_keys, n_buckets))
              .localCheckpoint(eager=True))
    touched = sorted(
        r[0] for r in b.select(BUCKET_COL).distinct().collect())
    if not touched:
        return []

    merged = b
    if os.path.isdir(live):
        prev = (spark.read.parquet(live)
                .filter(F.col(BUCKET_COL).isin(touched))
                .withColumn(BUCKET_COL, F.col(BUCKET_COL).cast("int")))
        merged = b.unionByName(prev)
    merged = dedupe_keep_latest(merged, list(primary_keys),
                                list(order_by), list(tiebreak))

    staging = os.path.join(snapshot_dir, ".staging")
    shutil.rmtree(staging, ignore_errors=True)
    # ONE file per bucket per write: without this, every shuffle task
    # writes its own file into every bucket dir (~tasks x buckets small
    # files), and partition DISCOVERY — which lists the whole table
    # before pruning — comes to dominate the merge at large B
    # (measured: a 35/1024-bucket merge spent most of its clock listing
    # ~32k files). Hash-repartitioning on the bucket column routes each
    # bucket to exactly one task.
    (merged.repartition(len(touched), F.col(BUCKET_COL))
           .write.mode("overwrite").partitionBy(BUCKET_COL)
           .parquet(staging))

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
               .filter(~F.coalesce(expirable, F.lit(False)))
               .withColumn(BUCKET_COL, F.col(BUCKET_COL).cast("int")))
    staging = os.path.join(snapshot_dir, ".staging")
    shutil.rmtree(staging, ignore_errors=True)
    (kept.repartition(len(touched), F.col(BUCKET_COL))
         .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging))
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
    primary_keys: Sequence[str],
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
    bucket id under the new B, stage the whole table, then swap the
    entire ``data`` directory through the aside protocol (crash
    between the two renames heals via ``_recover_asides``: the old
    table returns, the rebucket is simply re-run). Subsequent merges
    into the snapshot must pass ``n_buckets=new_n_buckets``.

    The tombstone sidecar is DELETED before the swap and rebuilt with
    exact counts after it (old bucket ids are meaningless under the
    new B; a crash in between leaves no sidecar, which
    ``expire_tombstones`` treats as a full-scan bootstrap — safe).
    Returns the number of rows migrated."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no snapshot at {snapshot_dir}")
    op_col, delete_op = _resolve_op_col(snapshot_dir, op_col, delete_op)
    cur = (spark.read.parquet(live)
           .drop(BUCKET_COL)
           .withColumn(BUCKET_COL, bucket_of(primary_keys, new_n_buckets)))
    staging = os.path.join(snapshot_dir, ".staging_rebucket")
    shutil.rmtree(staging, ignore_errors=True)
    from ..functions.observe import observed

    cur, obs = observed(cur, "rebucket", n=F.count(F.lit(1)))
    # one file per bucket (see bucketed_merge): B files total instead
    # of B x shuffle-tasks — the listing cost every later merge pays
    n_tasks = min(int(new_n_buckets),
                  int(spark.conf.get("spark.sql.shuffle.partitions",
                                     "32")) * 8)
    (cur.repartition(n_tasks, F.col(BUCKET_COL))
        .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging))
    n_rows = int(obs.get["n"])

    sidecar = os.path.join(snapshot_dir, _SIDECAR)
    if os.path.isfile(sidecar):
        os.remove(sidecar)
    aside_root = _aside_dir(snapshot_dir)
    os.makedirs(aside_root, exist_ok=True)
    aside = os.path.join(aside_root, "__data__")
    shutil.rmtree(aside, ignore_errors=True)
    shutil.move(live, aside)
    shutil.move(staging, live)
    shutil.rmtree(aside, ignore_errors=True)

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
    primary_keys: Sequence[str],
    current_n_buckets: int,
    target_mb_per_bucket: float = 1024,
    drift_factor: int = 4,
    op_col: str | None = None,
    delete_op: str = "D",
) -> int | None:
    """Keep the snapshot's bucket count matched to its SIZE — the
    maintenance policy around ``rebucket``, mirroring the LSH index's
    ``maintain_entries_layout``: measure the on-disk bytes (a pure
    file listing, no Spark job), compute what ``auto_n_buckets`` would
    pick today, and migrate only when the layout is off by at least
    ``drift_factor`` in either direction. Hysteresis matters doubly
    here: a rebucket is a FULL table rewrite (SCALE_r10: it pays for
    itself within one outgrown merge, but only once actually
    outgrown), and the caller must start passing the returned B to
    every later merge — so routine growth should not churn the
    contract. ``current_n_buckets`` is explicit because B is part of
    the merge call contract, not stored state.

    Returns the new B when a migration ran (callers MUST use it as
    ``n_buckets`` from then on), else None."""
    _recover_asides(snapshot_dir)
    live = _live_dir(snapshot_dir)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no snapshot at {snapshot_dir}")
    total = 0
    for root, _dirs, files in os.walk(live):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    want = auto_n_buckets(total, target_mb_per_bucket=target_mb_per_bucket)
    cur = int(current_n_buckets)
    if cur * drift_factor > want and want * drift_factor > cur:
        return None
    rebucket(spark, snapshot_dir, primary_keys=primary_keys,
             new_n_buckets=want, op_col=op_col, delete_op=delete_op)
    return want


def foreach_batch_bucketed_upsert(
    source: DataFrame,
    *,
    primary_keys: Sequence[str],
    order_by: Sequence[Column],
    snapshot_dir: str,
    checkpoint_path: str,
    n_buckets: int = 64,
    tiebreak: Sequence[Column] = (),
    op_col: str | None = None,
    delete_op: str = "D",
) -> None:
    """Streaming twin of upsert.foreach_batch_upsert with the
    bucket-pruned merge as the sink: drain ``source`` AvailableNow,
    merging every micro-batch via bucketed_merge. At-least-once
    replay composes to exactly-once state because the merge is
    idempotent (see module docstring); the per-bucket directory swap
    plays the role the version-pointer commit plays in the
    full-rewrite path."""
    def merge(batch: DataFrame, batch_id: int) -> None:
        bucketed_merge(batch, snapshot_dir=snapshot_dir,
                       primary_keys=primary_keys, order_by=order_by,
                       n_buckets=n_buckets, tiebreak=tiebreak,
                       op_col=op_col, delete_op=delete_op)

    q = (source.writeStream
               .foreachBatch(merge)
               .option("checkpointLocation", checkpoint_path)
               .trigger(availableNow=True)
               .start())
    q.awaitTermination()
