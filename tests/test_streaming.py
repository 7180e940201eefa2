"""Structured Streaming variants: AvailableNow ingest with
dedupe-within-watermark, and windowed rollup parity with the batch A4
rollup."""

from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from elt_gluepipeline_spark.streaming.stream import (stream_ingest,
                                                     stream_windowed_rollup)

SCHEMA = StructType([
    StructField("pk", LongType()),
    StructField("ts", TimestampType()),
    StructField("v", DoubleType()),
    StructField("cat", StringType()),
])


def _write_source(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (1, base, 1.0, "a"),
        (1, base + dt.timedelta(minutes=1), 2.0, "a"),  # dup pk within watermark
        (2, base + dt.timedelta(hours=1), 3.0, "b"),
    ]


def test_stream_ingest_available_now(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_source(spark, src, _rows(spark))
    q = stream_ingest(spark, source_dir=src, schema=SCHEMA,
                      watermark_col="ts", primary_keys=["pk"],
                      sink_path=str(tmp_path / "sink"),
                      checkpoint_path=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sink"))
    assert out.count() == 2  # pk=1 deduped within watermark
    assert {r.pk for r in out.collect()} == {1, 2}


def test_stream_windowed_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_source(spark, src, _rows(spark))
    q = stream_windowed_rollup(
        spark, source_dir=src, schema=SCHEMA, ts_col="ts", keys=["cat"],
        value_col="v", window="1 hour", lateness="0 seconds",
        sink_path=str(tmp_path / "roll"),
        checkpoint_path=str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    got = {(r.cat, r.total_value, r.n_events)
           for r in spark.read.parquet(str(tmp_path / "roll")).collect()}
    # append mode emits only windows CLOSED by the watermark: with
    # max(ts)=01:00 the [00:00,01:00) window is final, [01:00,02:00)
    # is held in state awaiting later data — correct late-data behavior
    batch = (spark.read.parquet(src)
             .groupBy(F.window("ts", "1 hour").alias("w"), "cat")
             .agg(F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("tv"),
                  F.count(F.lit(1)).alias("n")))
    max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    want = {(r.cat, r.tv, r.n) for r in batch.collect() if r.w.end <= max_ts}
    assert got == want and len(got) >= 1


def test_stream_enrich_matches_batch_join(spark):
    # q50's property, pinned at sf0.001: the stream-static broadcast
    # enrichment join + aggregation must equal the same plan run as a
    # batch join
    from elt_gluepipeline_spark.plans import registry
    from elt_gluepipeline_spark.sources.readers import read_table
    sf = "/root/testdata/sf0.001"
    stream = {tuple(r) for r in
              registry()["q50_stream_enrich"].build(spark, sf).collect()}
    ev = read_table(spark, sf, "events")
    dim = read_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch = (ev.join(dim, ev.user_id == dim.c_custkey)
               .groupBy("event_type", "c_mktsegment")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                     .cast("double").alias("total_value")))
    want = {tuple(r) for r in batch.collect()}
    assert stream == want and len(stream) > 0


def test_stream_hourly_matches_batch_rollup(spark):
    # q29's property, pinned at sf0.001: the streaming tumbling-window
    # rollup drained with AvailableNow must equal the batch hourly
    # rollup (q06_trend_hourly) — this is what catches a testdata
    # timestamp-encoding change in pytest instead of the driver gate
    from elt_gluepipeline_spark.plans import registry
    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in
             registry()["q06_trend_hourly"].build(spark, sf).collect()}
    stream = {tuple(r) for r in
              registry()["q29_stream_hourly"].build(spark, sf).collect()}
    assert stream == batch and len(stream) > 0


def test_stream_sessions_match_batch_sessionize(spark):
    # q35's property, pinned at sf0.001: stateful streaming
    # sessionization == batch sessionization minus each user's trailing
    # open session (completed-sessions semantics)
    from pyspark.sql import Window
    from elt_gluepipeline_spark.plans import registry
    sf = "/root/testdata/sf0.001"
    batch_df = registry()["q34_sessionize"].build(spark, sf)
    w = Window.partitionBy("user_id")
    closed = (batch_df
              .withColumn("_max_sid", F.max("session_id").over(w))
              .filter(F.col("session_id") < F.col("_max_sid"))
              .drop("_max_sid"))
    want = {tuple(r) for r in closed.collect()}
    stream = {tuple(r) for r in
              registry()["q35_stream_sessions"].build(spark, sf).collect()}
    assert stream == want and len(stream) > 0


def test_stream_interval_join_matches_batch_range_join(spark):
    # q48's property, pinned at sf0.001: the watermarked stream-stream
    # interval join must agree row-for-row with the batch range join
    from elt_gluepipeline_spark.plans import registry
    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in
             registry()["q39_range_clicks"].build(spark, sf).collect()}
    stream = {tuple(r) for r in
              registry()["q48_stream_attribution"].build(spark, sf).collect()}
    assert stream == batch and len(stream) > 0


def test_stateful_sessions_across_micro_batches(spark, tmp_path):
    # multi-batch drain (maxFilesPerTrigger=1): state carries across
    # micro-batches, and a LATE event delivered in a later batch —
    # inside the session gap — must extend the open session's bounds
    # monotonically, not move them backward
    import datetime as dt
    from elt_gluepipeline_spark.streaming.sessionize import \
        sessionize_stateful
    src_dir = str(tmp_path / "ev")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, event_id long, ts timestamp"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(src_dir)

    m = dt.timedelta(minutes=1)
    # batch 1: u1 events at 12:00, 12:10
    write_file([(1, 1, base), (1, 2, base + 10 * m)])
    # batch 2: LATE event 12:05 (inside the open session) + 12:20
    write_file([(1, 3, base + 5 * m), (1, 4, base + 20 * m)])
    # batch 3: u1 at 13:30 — 70min gap closes session 1 (4 events)
    write_file([(1, 5, base + 90 * m)])

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir)
              .select("user_id", "event_id",
                      F.unix_micros("ts").alias("ts_us")))
    sessions = sessionize_stateful(stream, gap_minutes=30)
    name = "_mb_sessions"
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = [tuple(r) for r in spark.table(name).collect()]
    # one closed session: 4 events spanning 12:00-12:20 (20 min)
    assert got == [(1, 1, 4, 20 * 60 * 1_000_000)]


def test_foreach_batch_upsert_multi_batch(spark, tmp_path):
    # the foreachBatch keyed upsert must fold three micro-batches into
    # the same keep-latest result a single batch pass computes, with
    # later batches overwriting earlier keys and ties broken by
    # event_id; a batch replayed after a crash (its commit never
    # written) and a second drain over the same checkpoint leave the
    # state unchanged: exactly-once state under at-least-once delivery
    import datetime as dt
    from elt_gluepipeline_spark.streaming.bucketed_upsert import (
        foreach_batch_bucketed_upsert, read_bucketed_snapshot)
    src_dir = str(tmp_path / "chg")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "k long, event_id long, ts timestamp, v string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(src_dir)

    h = dt.timedelta(hours=1)
    write_file([(1, 1, base, "a"), (2, 2, base, "b")])
    write_file([(1, 3, base + h, "a2"),          # newer → wins
                (2, 4, base - h, "stale"),       # older → loses
                (3, 5, base, "c")])
    write_file([(3, 6, base, "c2")])             # same ts: event_id wins

    snap_dir, ckpt = str(tmp_path / "snap"), tmp_path / "ckpt"

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        foreach_batch_bucketed_upsert(stream, primary_keys=["k"],
                                      order_by=[F.col("ts").desc()],
                                      tiebreak=[F.col("event_id").desc()],
                                      snapshot_dir=snap_dir,
                                      checkpoint_path=str(ckpt), n_buckets=4)

    def state():
        return {r.k: (r.event_id, r.v)
                for r in read_bucketed_snapshot(spark, snap_dir).collect()}

    want = {1: (3, "a2"), 2: (2, "b"), 3: (6, "c2")}
    drain()
    assert state() == want
    commits = ckpt / "commits"
    assert sorted(p.name for p in commits.iterdir()
                  if not p.name.startswith(".")) == ["0", "1", "2"]
    for name in ("2", ".2.crc"):   # batch 2 ran but its commit was lost
        (commits / name).unlink()
    drain()
    assert state() == want
    assert (commits / "2").exists()
    drain()
    assert state() == want


def test_stream_incremental_agg_matches_batch_and_replay_safe(spark, sf_dir, tmp_path):
    import os
    import shutil

    from elt_gluepipeline_spark.functions.deterministic import dec
    from elt_gluepipeline_spark.sources.readers import read_table
    from elt_gluepipeline_spark.streaming.upsert import (
        foreach_batch_incremental_agg, read_snapshot)

    ev = read_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    ev.repartition(3).write.mode("overwrite").parquet(src_dir)

    def delta_fn(b):
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("s"))

    def drain(ckpt, files_per_batch=1):
        src = (spark.readStream
                    .schema(spark.read.parquet(src_dir).schema)
                    .option("maxFilesPerTrigger", files_per_batch)
                    .parquet(src_dir))
        foreach_batch_incremental_agg(
            src, delta_fn=delta_fn, keys=["user_id"], count_col="n",
            sum_cols=["s"], snapshot_dir=str(tmp_path / "snap"),
            checkpoint_path=ckpt)
        return {r.user_id: (r.n, float(r.s)) for r in
                read_snapshot(spark, str(tmp_path / "snap")).collect()}

    got = drain(str(tmp_path / "ckpt1"))
    want = {r.user_id: (r.n, float(r.s)) for r in delta_fn(ev).collect()}
    assert got == want  # 3 incremental merges == one full aggregation

    # FULL REPLAY: lose the checkpoint, keep the snapshot. The new
    # checkpoint is a new query: it re-reads every file from batch 0,
    # which rebuilds from an empty state, so nothing double-counts.
    shutil.rmtree(str(tmp_path / "ckpt1"))
    assert drain(str(tmp_path / "ckpt2")) == want
    # ... also when the new query batches the files differently: a 4th
    # file arrives and 2 files make a batch, so batches 0 and 1 cover
    # other files than the committed batches 0 and 1 did
    ev.limit(40).coalesce(1).write.mode("append").parquet(src_dir)
    assert len([f for f in os.listdir(src_dir) if f.endswith(".parquet")]) == 4
    shutil.rmtree(str(tmp_path / "ckpt2"))
    want = {r.user_id: (r.n, float(r.s))
            for r in delta_fn(spark.read.parquet(src_dir)).collect()}
    assert drain(str(tmp_path / "ckpt3"), files_per_batch=2) == want
    # schema stability: compounding merges must not widen the sum type
    snap = read_snapshot(spark, str(tmp_path / "snap"))
    assert dict(snap.dtypes)["s"] == dict(delta_fn(ev).dtypes)["s"]


def test_update_mode_multibatch_converges_to_batch_agg(spark, tmp_path):
    """UPDATE output mode across several micro-batches: each batch
    re-emits only the CHANGED groups; taking the last emission per key
    must converge to the plain batch aggregate. (complete mode re-emits
    everything — update is the mode that scales output ∝ change.)"""
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [("a", 1.0), ("b", 2.0)],
        [("a", 10.0), ("c", 3.0)],
        [("b", 5.0), ("a", 0.5)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k string, v double") \
             .coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)

    stream = (spark.readStream.schema("k string, v double")
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src) + "/*"))
    agg = (stream.groupBy("k")
                 .agg(F.sum(F.col("v").cast("decimal(18,4)"))
                       .cast("double").alias("total"),
                      F.count(F.lit(1)).alias("n")))
    name = "_upd_sink_test"
    q = (agg.writeStream.format("memory").queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())
    q.awaitTermination()
    # the memory sink accumulates one row per (batch, changed key):
    # more rows than keys proves update-mode re-emission happened
    log = spark.table(name).collect()
    assert len(log) > 3, log
    # last emission per key == batch aggregate
    final = {}
    for r in log:   # memory sink appends in batch order
        final[r.k] = (r.total, r.n)
    batch_rows = [(k, v) for rows in batches for k, v in rows]
    expect_df = (spark.createDataFrame(batch_rows, "k string, v double")
                 .groupBy("k")
                 .agg(F.sum(F.col("v").cast("decimal(18,4)"))
                       .cast("double").alias("total"),
                      F.count(F.lit(1)).alias("n")))
    expect = {r.k: (r.total, r.n) for r in expect_df.collect()}
    assert final == expect


def test_append_rollup_emits_only_watermark_closed_windows(spark, sf_dir):
    """q117 semantics pinned: every emitted window END is <= final
    watermark (max event time - lateness), windows past it stay in
    state unemitted, and emitted rows equal the batch rollup exactly
    for those windows."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.plans.reference import (
        _Q117_LATENESS_S, q117_stream_append_rollup)
    from elt_gluepipeline_spark.sources.readers import ntz_micros, read_table

    got = q117_stream_append_rollup(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    max_us = ev.agg(F.max(ntz_micros("ts"))).collect()[0][0]
    wm_us = max_us - _Q117_LATENESS_S * 1_000_000
    rows = got.collect()
    assert rows and all(
        r.bucket_start_us + 3_600_000_000 <= wm_us for r in rows)
    # the batch rollup has MORE windows (the open tail) — eviction is
    # observable, not vacuous
    batch = (ev.groupBy(F.date_trunc("hour", "ts").alias("b"), "event_type")
               .count())
    assert batch.count() > len(rows)
    # and the emitted prefix matches the batch rollup per-window
    batch_closed = {
        (ntz_micros_val, et): n for ntz_micros_val, et, n in
        (batch.select(F.unix_micros(F.to_timestamp("b")).alias("us"),
                      "event_type", "count").collect())
        if ntz_micros_val + 3_600_000_000 <= wm_us}
    got_map = {(r.bucket_start_us, r.event_type): r.n_events for r in rows}
    assert got_map == batch_closed


def test_read_table_stream_directory_layout(spark, sf_dir, tmp_path):
    """Directory-layout tables (Spark-written part files) must stream
    ALL rows: the old pathGlobFilter='<name>.parquet' matched zero
    leaf files against part-*.parquet and silently streamed nothing
    (surfaced by a 4x scale check on q117)."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.sources.readers import (read_table,
                                                        read_table_stream)

    out = str(tmp_path / "dirly")
    ev = read_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(f"{out}/events.parquet")
    src = read_table_stream(spark, out, "events")
    q = (src.groupBy().agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory").queryName("dirly_n")
            .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("dirly_n").collect()[0]["n"] == ev.count()
    # timestamp normalization still applies in the dir branch
    assert dict(src.dtypes)["ts"].startswith("timestamp")


def test_drain_runs_on_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state story: HDFS-backed state holds everything in
    executor heap; RocksDB spills to local disk and is the provider a
    large stateful deployment actually runs. Prove the engine's drain
    path works unchanged under it (provider is a session conf — the
    plans don't care, but only a test makes that claim true)."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.sources.readers import read_table_stream
    from elt_gluepipeline_spark.streaming.stream import (
        run_rollup_available_now)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")
    try:
        src = read_table_stream(spark, sf_dir, "events")
        agg = (src.groupBy(F.window("ts", "1 hour").alias("b"),
                           "event_type")
                  .agg(F.count(F.lit(1)).alias("n")))
        got = run_rollup_available_now(agg, state_partitions=4)
        from elt_gluepipeline_spark.sources.readers import read_table
        exact = (read_table(spark, sf_dir, "events")
                 .groupBy(F.date_trunc("hour", "ts").alias("h"),
                          "event_type")
                 .agg(F.count(F.lit(1)).alias("n")))
        assert got.count() == exact.count()
        assert got.agg(F.sum("n")).collect()[0][0] == \
            exact.agg(F.sum("n")).collect()[0][0]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_chain_handler_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """SURVEY §7.4 crash-window invariant: after a batch commits, the
    streaming runtime replaying that batch_id (restart after a crash
    between checkpoint and shutdown) must append NOTHING — drive the
    foreachBatch handler directly, twice. And a crash AFTER the final/
    write but BEFORE the commit must not append the batch twice when it
    is replayed: exactly-once, not at-least-once."""
    from pyspark.sql.readwriter import DataFrameWriter

    from elt_gluepipeline_spark.sources.table import Table
    from elt_gluepipeline_spark.streaming.chain import (
        make_chain_batch_handler)

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text('{"id":"query-0"}\n')
    table_dir = str(tmp_path / "chain")
    handler = make_chain_batch_handler(table_dir=table_dir,
                                       checkpoint_dir=str(ckpt),
                                       rules=(("neg", "v <= 0"),))

    def counts():
        t = Table(spark, table_dir)
        return t.read("final").count(), t.read("quarantine").count()

    batch = spark.createDataFrame(
        [(1, 5.0, " A "), (2, -1.0, "B"), (3, 2.0, "c")],
        "id long, v double, tag string")
    handler(batch, 0)
    assert counts() == (2, 1)
    # transform stage ran inside the chain: strings lower+trim
    tags = {r.tag for r in Table(spark, table_dir).read("final").collect()}
    assert tags == {"a", "c"}

    handler(batch, 0)  # replayed micro-batch → no-op
    assert counts() == (2, 1)

    handler(batch.withColumn("id", batch.id + 10), 1)  # next batch lands
    assert counts() == (4, 2)

    # crash between the final/ write and the commit, then replay
    crashed = str(tmp_path / "crashed")
    handler = make_chain_batch_handler(table_dir=crashed,
                                       checkpoint_dir=str(ckpt),
                                       rules=(("neg", "v <= 0"),))
    hundred = spark.range(100).selectExpr("id", "1.0 AS v", "'x' AS tag")
    real_parquet, calls = DataFrameWriter.parquet, []

    def parquet(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("crash after the final/ write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        handler(hundred, 0)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert calls[0].endswith("final")
    handler(hundred, 0)  # the runtime replays the uncommitted batch
    assert Table(spark, crashed).read("final").count() == 100


def test_stream_chain_multibatch_equals_batch_route(spark, sf_dir,
                                                    tmp_path):
    """Drain the full foreachBatch chain over a 3-file source with
    maxFilesPerTrigger=1 (3 genuine micro-batches) and check final/ +
    quarantine/ is a clean partition of the input routed identically
    to the batch quality stage. Then a 4th file arrives, the
    checkpoint is lost and the new query drains 2 files per batch: its
    batches 0 and 1 cover other files than the committed ones did, and
    the result must equal the batch route over all 4 files."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.functions.conform import (
        normalize_names, normalize_strings)
    from elt_gluepipeline_spark.operators.quality import (
        extract_violations, split_clean)
    from elt_gluepipeline_spark.sources.readers import read_table
    from elt_gluepipeline_spark.sources.table import Table
    from elt_gluepipeline_spark.streaming.chain import run_stream_chain

    rules = (("price_nonpos", "l_extendedprice <= 0"),
             ("qty_out_of_band", "l_quantity IS NULL OR l_quantity >= 48"))
    li = read_table(spark, sf_dir, "lineitem")
    src = str(tmp_path / "src")
    li.repartitionByRange(3, "l_orderkey").write.parquet(src)

    def drain_and_check(ckpt, files_per_batch):
        run_stream_chain(
            spark, source_dir=src, table_dir=str(tmp_path / "chain"),
            checkpoint_dir=str(tmp_path / ckpt),
            rules=rules, max_files_per_trigger=files_per_batch)
        rows = spark.read.parquet(src)
        table = Table(spark, str(tmp_path / "chain"))
        got_clean = table.read("final")
        got_quar = table.read("quarantine")
        want_clean, want_quar = split_clean(extract_violations(
            normalize_strings(normalize_names(rows)),
            [(n, F.expr(s)) for n, s in rules]))
        want_quar = want_quar.withColumn(
            "violated", F.array_join("violated", ","))
        assert got_clean.count() + got_quar.count() == rows.count()
        # value-level: both sides match the batch route exactly
        for got, want in ((got_clean, want_clean), (got_quar, want_quar)):
            assert got.count() == want.count()
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0

    drain_and_check("ckpt1", 1)
    # a 4th file with new keys, then the checkpoint is lost
    (li.limit(40).withColumn("l_orderkey", F.col("l_orderkey") + 10**9)
       .coalesce(1).write.mode("append").parquet(src))
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 4
    shutil.rmtree(str(tmp_path / "ckpt1"))
    drain_and_check("ckpt2", 2)
