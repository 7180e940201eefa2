"""Bucket-pruned CDC MERGE (streaming/bucketed_upsert.py): the merge
must (a) compute exactly the keep-latest-minus-deletes state a
single-pass window computes, (b) physically touch ONLY the buckets the
batch hashes into, (c) be idempotent under replay, and (d) never let
a late-arriving older update resurrect a deleted key (tombstones are
retained in the stored snapshot)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.sources.table import Table
from elt_gluepipeline_spark.streaming.bucketed_upsert import (
    BUCKET_COL, bucket_of, bucketed_merge, foreach_batch_bucketed_upsert,
    read_bucketed_snapshot)

SCHEMA = "k long, seq long, v string, op string"


def _state(spark, snap):
    df = read_bucketed_snapshot(spark, snap, op_col="op")
    return {r.k: (r.seq, r.v) for r in df.collect()}


def _bucket_files(snap):
    """{bucket_dir: {relpath: (size, mtime_ns)}} for the live table."""
    live = os.path.join(snap, "data")
    out = {}
    for d in os.listdir(live):
        if not d.startswith(f"{BUCKET_COL}="):
            continue
        files = {}
        for root, _, names in os.walk(os.path.join(live, d)):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                files[os.path.relpath(p, live)] = (st.st_size,
                                                   st.st_mtime_ns)
        out[d] = files
    return out


def _on_disk_tombstones(spark, snap):
    """{bucket: tombstone rows the manifest's files hold}."""
    rows = (Table(spark, snap).read("data").filter(F.col("op") == "D")
            .groupBy(BUCKET_COL).count().collect())
    return {r[0]: r[1] for r in rows}


def _counts(spark, snap):
    raw = Table(spark, snap).state["tombstones"]
    return {int(k): v for k, v in raw.items()}


def test_merge_matches_single_pass_and_handles_deletes(spark, tmp_path):
    snap = str(tmp_path / "snap")
    rows = [(1, 1, "a", "U"), (2, 2, "b", "U"), (3, 3, "c", "U"),
            (1, 4, "a2", "U"),                 # newer update wins
            (2, 5, None, "D"),                 # newest change: delete
            (3, 1, "stale", "U"),              # older than seq 3: loses
            (4, 6, "d", "U")]
    df = spark.createDataFrame(rows, SCHEMA)
    # three batches in a deliberately shuffled order: the final state
    # must be batching-invariant
    for i in (1, 2, 0):
        bucketed_merge(df.filter(F.col("seq") % 3 == i),
                       snapshot_dir=snap, primary_keys=["k"],
                       order_by=[F.col("seq").desc()], n_buckets=8)
    assert _state(spark, snap) == {1: (4, "a2"), 3: (3, "c"),
                                   4: (6, "d")}
    # the tombstone row for k=2 is physically retained on disk
    raw = read_bucketed_snapshot(spark, snap)
    assert raw.filter((F.col("k") == 2) & (F.col("op") == "D")).count() == 1


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    snap = str(tmp_path / "snap")
    seed = [(k, 1, f"v{k}", "U") for k in range(1, 33)]
    bucketed_merge(spark.createDataFrame(seed, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=8)
    before = _bucket_files(snap)
    assert len(before) > 2               # seed spread over several buckets

    batch = spark.createDataFrame([(1, 2, "v1b", "U")], SCHEMA)
    touched = bucketed_merge(batch, snapshot_dir=snap,
                             primary_keys=["k"],
                             order_by=[F.col("seq").desc()], n_buckets=8)
    expect = [r[0] for r in batch.select(
        bucket_of(["k"], 8)).distinct().collect()]
    assert touched == sorted(expect) and len(touched) == 1

    after = _bucket_files(snap)
    touched_dir = f"{BUCKET_COL}={touched[0]}"
    for d, files in before.items():
        if d == touched_dir:
            assert after[d] != files     # rewritten
        else:
            assert after[d] == files     # same file sizes AND mtimes

    assert _state(spark, snap)[1] == (2, "v1b")


def test_replay_idempotent_and_no_resurrection(spark, tmp_path):
    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame([(1, 1, "a", "U"), (2, 2, "b", "U")], SCHEMA)
    b2 = spark.createDataFrame([(1, 9, None, "D")], SCHEMA)
    for b in (b1, b2, b2):               # b2 replayed
        bucketed_merge(b, snapshot_dir=snap, primary_keys=["k"],
                       order_by=[F.col("seq").desc()], n_buckets=4)
    assert _state(spark, snap) == {2: (2, "b")}
    # late-arriving OLDER update for the deleted key: tombstone wins
    bucketed_merge(
        spark.createDataFrame([(1, 5, "zombie", "U")], SCHEMA),
        snapshot_dir=snap, primary_keys=["k"],
        order_by=[F.col("seq").desc()], n_buckets=4)
    assert _state(spark, snap) == {2: (2, "b")}


def test_partition_pruned_read(spark, tmp_path):
    # the prev-state scan inside a merge (a read of the files the
    # manifest lists) must prune to the touched buckets at the PLAN
    # level, not filter after reading
    snap = str(tmp_path / "snap")
    seed = [(k, 1, "x", "U") for k in range(64)]
    bucketed_merge(spark.createDataFrame(seed, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=8)
    pruned = (Table(spark, snap).read("data")
              .filter(F.col(BUCKET_COL).isin([3])))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and f"{BUCKET_COL}#" in plan
    # and the pruned scan really returns only that bucket's rows
    got = {r[0] for r in pruned.select(BUCKET_COL).distinct().collect()}
    assert got == {3}


def test_expire_tombstones(spark, tmp_path):
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)
    snap = str(tmp_path / "snap")
    rows = [(1, 1, "a", "U"), (2, 2, None, "D"), (3, 30, None, "D"),
            (4, 4, "d", "U")]
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=4)
    # expire tombstones with seq < 10: k=2's goes, k=3's stays
    touched = expire_tombstones(spark, snap, op_col="op",
                                expire_if=F.col("seq") < 10)
    assert touched           # at least the bucket holding k=2
    raw = read_bucketed_snapshot(spark, snap)
    ops = {r.k: r.op for r in raw.collect()}
    assert 2 not in ops and ops[3] == "D"
    # live state unchanged (reads already filtered tombstones)
    assert _state(spark, snap) == {1: (1, "a"), 4: (4, "d")}
    # no expirable tombstones left → no-op
    assert expire_tombstones(spark, snap, op_col="op",
                             expire_if=F.col("seq") < 10) == []


def test_streaming_wrapper_matches_full_rewrite(spark, tmp_path):
    # Draining three micro-batches through the bucketed sink must leave
    # the state a full rewrite computes: one keep-latest window over
    # every change row at once.
    import datetime as dt

    from elt_gluepipeline_spark.operators.windows import dedupe_keep_latest

    src_dir = str(tmp_path / "chg")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "k long, event_id long, ts timestamp, v string"
    h = dt.timedelta(hours=1)
    batches = [[(1, 1, base, "a"), (2, 2, base, "b")],
               [(1, 3, base + h, "a2"), (2, 4, base - h, "stale"),
                (3, 5, base, "c")],
               [(3, 6, base, "c2")]]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(src_dir)

    kw = dict(order_by=[F.col("ts").desc()],
              tiebreak=[F.col("event_id").desc()])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    snap = str(tmp_path / "snap")
    foreach_batch_bucketed_upsert(
        stream, snapshot_dir=snap, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, primary_keys=["k"], **kw)

    bucketed = {tuple(r) for r in read_bucketed_snapshot(spark, snap)
                .select("k", "event_id", "v").collect()}
    full = {tuple(r) for r in dedupe_keep_latest(
        spark.read.schema(schema).parquet(src_dir), ["k"], kw["order_by"],
        kw["tiebreak"]).select("k", "event_id", "v").collect()}
    assert bucketed == full == {(1, 3, "a2"), (2, 2, "b"), (3, 6, "c2")}


def _wallclock_batch(spark):
    """3 rows whose keys change on every plan evaluation."""
    from pyspark.sql.functions import udf

    def _wallclock_key(i):
        import time
        return time.time_ns() + i

    _wallclock_udf = udf(_wallclock_key, "long").asNondeterministic()
    return (spark.range(3)
            .withColumn("k", _wallclock_udf("id"))
            .selectExpr("k", "id as seq", "'x' as v", "'U' as op"))


def test_nondeterministic_batch_succeeds_by_default(spark, tmp_path):
    # The merge localCheckpoints the batch, so both consumers read the
    # SAME materialized rows: a batch whose keys change on every
    # evaluation merges exactly the rows it produced.
    snap = str(tmp_path / "snap")
    touched = bucketed_merge(_wallclock_batch(spark), snapshot_dir=snap,
                             primary_keys=["k"],
                             order_by=[F.col("seq").desc()],
                             n_buckets=65536)
    assert touched
    assert read_bucketed_snapshot(spark, snap).count() == 3


def test_merge_evaluates_batch_once(spark, tmp_path):
    # Side-effect instrumentation: an accumulator-bumping UDF in the
    # batch plan must fire once per row, whatever the batch's source —
    # the merge consumes the batch twice (touched-bucket collect,
    # staging write), and each consumer re-evaluating the plan fires
    # it 2x per row.
    from pyspark.sql.functions import udf

    sources = {
        "range": spark.range(7).selectExpr("id as k", "id as seq"),
        "in_memory": spark.createDataFrame([(i, i) for i in range(7)],
                                           "k long, seq long"),
    }
    for name, rows in sources.items():
        acc = spark.sparkContext.accumulator(0)

        def bump(i, acc=acc):
            acc.add(1)
            return int(i)

        batch = (rows.withColumn("k", udf(bump, "long")("k"))
                     .selectExpr("k", "seq", "'x' as v", "'U' as op"))
        bucketed_merge(batch, snapshot_dir=str(tmp_path / name),
                       primary_keys=["k"], order_by=[F.col("seq").desc()],
                       n_buckets=4)
        assert acc.value == 7, \
            f"{name}: batch plan evaluated {acc.value / 7:.1f}x"


def test_null_op_rows_are_upserts(spark, tmp_path):
    # NULL op = ordinary upsert: visible in reads, never expired
    # (a non-null-safe predicate would silently destroy them).
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    snap = str(tmp_path / "snap")
    rows = [(1, 1, "a", None), (2, 2, None, "D"), (3, 3, "c", "U")]
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=4,
                   op_col="op")
    assert _state(spark, snap) == {1: (1, "a"), 3: (3, "c")}
    expire_tombstones(spark, snap, op_col="op",
                      expire_if=F.col("seq") < 10)
    assert _state(spark, snap) == {1: (1, "a"), 3: (3, "c")}
    raw = read_bucketed_snapshot(spark, snap)
    assert raw.filter(F.col("k") == 2).count() == 0      # expired
    assert raw.filter(F.col("k") == 1).count() == 1      # null-op kept


def test_rebucket_preserves_state_and_restores_pruning(spark, tmp_path):
    from elt_gluepipeline_spark.streaming.bucketed_upsert import rebucket

    snap = str(tmp_path / "snap")
    feed = [(k, s, f"v{k}.{s}", "D" if (k, s) == (7, 3) else "U")
            for k in range(1, 41) for s in (1, 2, 3)]
    df = spark.createDataFrame(feed, SCHEMA)
    # merge first two thirds at B=8, REBUCKET to 32 mid-feed, then the
    # final third at B=32: final state must equal a single-window
    # replay (rebucket is state-transparent)
    bucketed_merge(df.filter(F.col("seq") <= 2), snapshot_dir=snap,
                   primary_keys=["k"], order_by=[F.col("seq").desc()],
                   n_buckets=8, op_col="op")
    n = rebucket(spark, snap, new_n_buckets=32, op_col="op")
    assert n == 40                        # one keep-latest winner per key
    assert Table(spark, snap).layout("data")["n_buckets"] == 32
    touched = bucketed_merge(df.filter(F.col("seq") == 3),
                             snapshot_dir=snap, primary_keys=["k"],
                             order_by=[F.col("seq").desc()],
                             n_buckets=32, op_col="op")
    # the new layout really is 32-way: bucket ids beyond the old B=8
    # range appear, and the merge pruned to the batch's buckets
    live = os.path.join(snap, "data")
    dirs = {int(d.split("=")[1]) for d in os.listdir(live)
            if d.startswith(f"{BUCKET_COL}=")}
    assert max(dirs) >= 8 and set(touched) <= dirs

    expect = {k: (3, f"v{k}.3") for k in range(1, 41) if k != 7}
    assert _state(spark, snap) == expect
    # the tombstone row survived the migration (k=7 deleted at seq 3;
    # wait — (7,3) is the delete, so k=7 absent from reads but present
    # raw)
    raw = read_bucketed_snapshot(spark, snap)
    assert raw.filter((F.col("k") == 7) & (F.col("op") == "D")).count() == 1
    # late OLDER update for the deleted key still loses post-rebucket
    # (merged under the stored B: no n_buckets passed)
    bucketed_merge(spark.createDataFrame([(7, 0, "zombie", "U")], SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], op_col="op")
    assert 7 not in _state(spark, snap)

    # a merge that still passes the pre-rebucket B, or other keys, must
    # raise instead of hashing rows into the wrong buckets, where every
    # key would gain a second live row
    snap = str(tmp_path / "stale")
    kw = dict(snapshot_dir=snap, order_by=[F.col("seq").desc()])
    newer = spark.createDataFrame(
        [(k, 2, f"w{k}", "U") for k in range(1, 41)], SCHEMA)
    bucketed_merge(df.filter(F.col("seq") == 1), primary_keys=["k"],
                   n_buckets=4, **kw)
    rebucket(spark, snap, new_n_buckets=16)
    with pytest.raises(ValueError, match="stored layout n_buckets=16"):
        bucketed_merge(newer, primary_keys=["k"], n_buckets=4, **kw)
    with pytest.raises(ValueError, match=r"primary_keys=\['k', 'seq'\]"):
        bucketed_merge(newer, primary_keys=["k", "seq"], **kw)
    bucketed_merge(newer, primary_keys=["k"], **kw)
    got = read_bucketed_snapshot(spark, snap).collect()
    assert sorted((r.k, r.seq, r.v) for r in got) == \
        [(k, 2, f"w{k}") for k in range(1, 41)]


def test_expire_prunes_scan_via_sidecar(spark, tmp_path):
    # With tombstone counts in the manifest, expiry must never OPEN a
    # bucket whose count is zero. Pin it physically: corrupt a
    # no-tombstone bucket's parquet file — a pruned scan succeeds, an
    # unpruned one would fail to read the garbage.
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    snap = str(tmp_path / "snap")
    rows = [(k, k, f"v{k}", "U") for k in range(1, 33)]
    rows.append((100, 1, None, "D"))
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=8,
                   op_col="op")
    bounds = Table(spark, snap).state["tombstones"]
    tomb_bucket = [int(k) for k, v in bounds.items() if v > 0]
    assert len(tomb_bucket) == 1
    live = os.path.join(snap, "data")
    for d in os.listdir(live):
        if not d.startswith(f"{BUCKET_COL}="):
            continue
        if int(d.split("=")[1]) in tomb_bucket:
            continue
        for f in os.listdir(os.path.join(live, d)):
            if f.endswith(".parquet"):
                with open(os.path.join(live, d, f), "wb") as fh:
                    fh.write(b"not parquet")
    touched = expire_tombstones(spark, snap, op_col="op",
                                expire_if=F.col("seq") < 10)
    assert touched == tomb_bucket
    # exact counts committed with the rewrite: no positive count
    # remains → the next expiry is a no-op without reading anything
    bounds2 = Table(spark, snap).state["tombstones"]
    assert all(v == 0 for v in bounds2.values()) or bounds2 == {}
    assert expire_tombstones(spark, snap, op_col="op",
                             expire_if=F.lit(True)) == []


def test_expire_bootstraps_sidecar_on_first_full_scan(spark, tmp_path):
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    snap = str(tmp_path / "snap")
    rows = [(1, 1, "a", "U"), (2, 2, None, "D"), (3, 30, None, "D")]
    # merged WITHOUT op_col: no tombstone counts kept
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=4)
    assert "tombstones" not in Table(spark, snap).state
    expire_tombstones(spark, snap, op_col="op",
                      expire_if=F.col("seq") < 10)
    # the full-scan run bootstrapped exact counts: k=3's tombstone
    # bucket has bound 1, everything else is pruned away next time
    raw = Table(spark, snap).state
    bounds = {int(k): v for k, v in raw["tombstones"].items()}
    assert sum(bounds.values()) == 1
    # the bootstrap records its op column, so later merges WITHOUT
    # op_col keep the bounds current
    assert raw["op_col"] == "op" and "delete_op" not in raw


def test_sidecar_maintained_without_op_col_after_adoption(spark, tmp_path):
    # A merge WITHOUT op_col into a snapshot that keeps tombstone
    # counts must still count its tombstones (a count left at 0 means a
    # pruned expiry never expires them): the manifest records the op
    # column and every merge maintains the counts; a CONFLICTING op_col
    # raises.
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    snap = str(tmp_path / "snap")
    bucketed_merge(spark.createDataFrame([(1, 1, "a", "U")], SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=4,
                   op_col="op")          # starts the tombstone counts
    # tombstone merged WITHOUT op_col: the count must still rise
    bucketed_merge(spark.createDataFrame([(2, 2, None, "D")], SCHEMA),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=4)
    bounds = {int(k): v for k, v in
              Table(spark, snap).state["tombstones"].items()}
    assert sum(bounds.values()) == 1
    # and a pruned expiry (no full scan) still finds and expires it
    touched = expire_tombstones(spark, snap, op_col="op",
                                expire_if=F.col("seq") < 10)
    assert len(touched) == 1
    assert read_bucketed_snapshot(spark, snap).filter(
        F.col("k") == 2).count() == 0

    # conflicting op column is a contract violation, not a silent
    # second set of counts
    with pytest.raises(ValueError, match="mixed op_col"):
        bucketed_merge(spark.createDataFrame([(3, 3, "c", "U")], SCHEMA),
                       snapshot_dir=snap, primary_keys=["k"],
                       order_by=[F.col("seq").desc()], n_buckets=4,
                       op_col="v")


def test_counts_start_on_a_new_table_only(spark, tmp_path):
    # Tombstones merged before the snapshot kept counts can sit in
    # buckets a later op_col merge does not touch. Counting only the
    # touched buckets would leave theirs at 0, and every pruned expiry
    # would skip them, so such a merge starts no counts: the next
    # expiry's full scan starts them, and expires those tombstones.
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    snap = str(tmp_path / "snap")
    kw = dict(snapshot_dir=snap, primary_keys=["k"],
              order_by=[F.col("seq").desc()], n_buckets=8)
    bucketed_merge(spark.createDataFrame(
        [(k, 1, None, "D") for k in range(16)], SCHEMA), **kw)
    bucketed_merge(spark.createDataFrame([(100, 2, "x", "U")], SCHEMA),
                   op_col="op", **kw)          # touches one bucket
    assert "tombstones" not in Table(spark, snap).state
    expire_tombstones(spark, snap, op_col="op",
                      expire_if=F.col("seq") < 2)
    assert _on_disk_tombstones(spark, snap) == {}
    assert _counts(spark, snap) == {}


def test_one_data_file_per_bucket_per_write(spark, tmp_path):
    # every file is one more path the manifest names and every later
    # read opens, so file count per bucket is a per-merge cost every
    # later reader pays: each write must route a bucket to exactly one
    # task
    from elt_gluepipeline_spark.streaming.bucketed_upsert import rebucket

    snap = str(tmp_path / "snap")
    rows = [(k, 1, f"v{k}", "U") for k in range(1, 257)]
    bucketed_merge(spark.createDataFrame(rows, SCHEMA).repartition(8),
                   snapshot_dir=snap, primary_keys=["k"],
                   order_by=[F.col("seq").desc()], n_buckets=8)
    rebucket(spark, snap, new_n_buckets=32)
    live = os.path.join(snap, "data")
    for d in os.listdir(live):
        if d.startswith(f"{BUCKET_COL}="):
            files = [f for f in os.listdir(os.path.join(live, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


def test_tombstone_counts_bound_on_random_feed(spark, tmp_path):
    # A merge adds its batch's deletes to the per-bucket counts without
    # reading back what it wrote, so a count is an upper bound (never 0
    # for a bucket that holds a tombstone, or pruning would skip it);
    # an expiry recounts the buckets it scans, which makes every count
    # exact. Feed: upserts, deletes, re-inserts after a delete, and
    # replayed batches, in seeded random order.
    import random

    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)

    rng = random.Random(13)
    snap = str(tmp_path / "snap")
    kw = dict(snapshot_dir=snap, primary_keys=["k"],
              order_by=[F.col("seq").desc()], n_buckets=8, op_col="op")
    seq, batches, deleted = 0, [], set()
    reinserts = loose = 0
    for step in range(8):
        if step in (3, 6):
            expire_tombstones(spark, snap, op_col="op",
                              expire_if=F.col("seq") < seq - 20)
            assert _counts(spark, snap) == _on_disk_tombstones(spark, snap)
            continue
        if step == 5:
            rows = batches[1]                    # a replayed batch
        else:
            rows = []
            for k in rng.sample(range(40), 16):
                seq += 1
                op = "U" if k in deleted else rng.choice("UUD")
                reinserts += k in deleted
                (deleted.add if op == "D" else deleted.discard)(k)
                rows.append((k, seq, f"v{seq}", op))
            batches.append(rows)
        bucketed_merge(spark.createDataFrame(rows, SCHEMA), **kw)
        counts, disk = _counts(spark, snap), _on_disk_tombstones(spark, snap)
        for bucket, n in disk.items():
            assert counts.get(bucket, 0) >= n, (step, bucket)
        loose += counts != disk
    assert reinserts and loose        # the feed exercised both cases


def test_write_rejects_a_wrong_layout_column(spark, tmp_path):
    # A frame that carries the layout column keeps it, and the write
    # checks it: rows hashed into the wrong bucket would give their key
    # a second live row. The failed write commits nothing and the next
    # write deletes its files.
    snap = str(tmp_path / "snap")
    kw = dict(snapshot_dir=snap, primary_keys=["k"],
              order_by=[F.col("seq").desc()], n_buckets=8)
    bucketed_merge(spark.createDataFrame(
        [(k, 1, f"v{k}", "U") for k in range(16)], SCHEMA), **kw)
    table = Table(spark, snap)
    manifest = (table.tables, table.state)
    rows = sorted(tuple(r) for r in table.read("data").collect())
    listed = set(table.tables["data"]["files"])

    off = spark.createDataFrame([(k, 2, "w", "U") for k in range(4)],
                                SCHEMA).withColumn(
        BUCKET_COL, ((bucket_of(["k"], 8) + 1) % 8).cast("int"))
    with pytest.raises(ValueError, match="is not bucket_of"):
        table.write("data", off, layout=table.layout("data"))
    after = Table(spark, snap)
    assert (after.tables, after.state) == manifest
    assert sorted(tuple(r) for r in after.read("data").collect()) == rows

    def on_disk():
        live = os.path.join(snap, "data")
        return {os.path.relpath(os.path.join(r, n), live)
                for r, _, names in os.walk(live) for n in names
                if n.endswith(".parquet")}

    assert on_disk() - listed                    # uncommitted orphans
    bucketed_merge(spark.createDataFrame([(1, 3, "x", "U")], SCHEMA), **kw)
    assert on_disk() == set(Table(spark, snap).tables["data"]["files"])
    assert _state(spark, snap)[1] == (3, "x")


def test_merge_and_expire_job_budget(spark, tmp_path):
    # Every Spark job is a fixed driver cost. A merge runs 5: the batch
    # checkpoint, the per-bucket aggregate (2 under AQE) and the write,
    # whose one exchange serves both keep-latest and the bucket layout
    # (2); no read-back. An expiry runs 4: the aggregate over the
    # candidate buckets (2) and the write (2). An ingest runs 3: the
    # source read's schema job, then the write's keep-latest exchange
    # and the write; the write's observed row count is the emptiness
    # check.
    from elt_gluepipeline_spark.sources.state import BookmarkStore
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        expire_tombstones)
    from elt_gluepipeline_spark.streaming.incremental import (
        incremental_ingest)

    sched = spark._jsc.sc().dagScheduler()

    def jobs(fn):
        n0 = sched.numTotalJobs()
        fn()
        return sched.numTotalJobs() - n0

    snap = str(tmp_path / "snap")
    kw = dict(snapshot_dir=snap, primary_keys=["k"],
              order_by=[F.col("seq").desc()], op_col="op")
    seed = [(k, 1, f"v{k}", "D" if k % 5 == 0 else "U") for k in range(200)]
    bucketed_merge(spark.createDataFrame(seed, SCHEMA), n_buckets=8, **kw)
    batch = spark.createDataFrame(
        [(k, 2, f"w{k}", "D" if k % 3 == 0 else "U")
         for k in range(1, 300, 7)], SCHEMA)
    assert jobs(lambda: bucketed_merge(batch, **kw)) <= 5
    touched = []
    assert jobs(lambda: touched.extend(expire_tombstones(
        spark, snap, op_col="op", expire_if=F.col("seq") < 2))) <= 4
    assert touched

    src = str(tmp_path / "src")
    spark.createDataFrame([(i, i, "x") for i in range(100)],
                          "pk long, wm long, v string").write.parquet(src)
    result = []
    assert jobs(lambda: result.append(incremental_ingest(
        spark, table="t", read_since=lambda last: spark.read.parquet(src),
        watermark_col="wm", primary_keys=["pk"],
        sink_path=str(tmp_path / "sink"),
        bookmarks=BookmarkStore(str(tmp_path / "bm"))))) <= 3
    assert result[0].rows_ingested == 100
