"""Operator stress run on GENERATED data — scale evidence beyond the
testdata SFs, with zero driver materialization and zero disk.

Uses the seedgen Python DataSource (sources/generate.py) to stream N
deterministic events-shaped rows straight from executors into a
representative slice of the engine's operator families:

  rollup   A4  hourly time-bucket aggregation
  lag      W2  per-entity window lag (gap seconds)
  keep1    W1  dedupe-keep-latest per key
  sdist    A6  salted exact distinct (skew kit)
  sessions     gap-based sessionization count
  pack         sequence packing: hash-shard + per-shard
               prefix-sum window over synthesized token counts
  chain    T5  the q190 continuous-ELT shape at scale: multi-
               micro-batch foreachBatch drain through
               run_stream_chain — normalize → rule split → real
               final/ + quarantine/ parquet files committed with the
               batch id — under the RocksDB provider; reports
               rows/s, routed row counts, checkpoint bytes.
  stream   T5  STATEFUL STREAMING drain: the
               production state shape — RocksDB state-store provider
               AND append-mode watermark eviction together — over a
               seedgen-sized input (default 10M rows, ~rows-sized
               state: one entry per (hour-window, user)). Multiple
               micro-batches via maxFilesPerTrigger so state commits
               and watermark advancement actually cycle; noop sink so
               the figure is the streaming runtime, not a sink.

Prints ONE JSON line {"rows": N, "timings": {...}, "rates_mrows_s":
{...}}. Rates are the honest end-to-end figure (generation included;
the stream figure excludes the one-time parquet staging write, which
is reported separately as stream_stage_sec).

Usage: python tools/stress.py [rows] [partitions] [stream_rows]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from elt_gluepipeline_spark.session import get_spark  # noqa: E402
from elt_gluepipeline_spark.sources.generate import SeedGen  # noqa: E402


def main() -> int:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    parts = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(SeedGen)

    def gen():
        return (spark.read.format("seedgen")
                     .option("rows", rows).option("seed", 7)
                     .option("partitions", parts).load())

    def rollup():
        return (gen().groupBy(F.date_trunc("hour", "ts").alias("h"))
                     .agg(F.count(F.lit(1)), F.sum("value")))

    def lag():
        w = Window.partitionBy("user_id").orderBy("ts", "id")
        return (gen().select("user_id",
                             (F.unix_micros(F.to_timestamp("ts"))
                              - F.lag(F.unix_micros(F.to_timestamp("ts")))
                                 .over(w)).alias("gap"))
                     .groupBy().agg(F.avg("gap")))

    def keep1():
        from elt_gluepipeline_spark.operators.windows import (
            dedupe_keep_latest)
        return (dedupe_keep_latest(gen(), ["user_id"],
                                   order_by=[F.col("ts").desc()],
                                   tie_breakers=[F.col("id").desc()])
                .groupBy().agg(F.count(F.lit(1))))

    def sdist():
        from elt_gluepipeline_spark.operators.skew import (
            salted_count_distinct)
        return salted_count_distinct(
            gen().withColumn("day", F.date_trunc("day", "ts")),
            ["day"], "user_id")

    def sessions():
        from pyspark.sql import Window as W
        w = W.partitionBy("user_id").orderBy("ts", "id")
        flagged = (gen().withColumn("_prev", F.lag("ts").over(w))
                        .withColumn("_new", F.when(
                            F.col("_prev").isNull()
                            | (F.expr("timestampdiff(SECOND, _prev, ts)")
                               > 3600), 1).otherwise(0)))
        return flagged.groupBy().agg(F.sum("_new"))

    def pack():
        # sequence packing at generated scale — hash-shard +
        # per-shard prefix-sum window; token counts synthesized from
        # the value column (1..200), shard count sized so a shard is
        # a writer's working set (~rows/shards docs each)
        from elt_gluepipeline_spark.operators.packing import (
            pack_concat_chunk)
        docs = gen().select("id", (F.pmod("value", F.lit(200)) + 1)
                            .alias("_n"))
        packed = pack_concat_chunk(docs, "id", F.col("_n"),
                                   ctx_len=2048, n_shards=parts * 4)
        per_shard = packed.groupBy("shard").agg(
            (F.max("seq_last") + 1).alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"))
        return per_shard.groupBy().agg(F.sum("n_seqs"), F.sum("n_tokens"))

    from bench import calibration_sec
    from elt_gluepipeline_spark.operators._cache import (
        release_operator_caches)

    # host-state probe + best-of-N: the batch families swung 2-15x
    # between identical runs (rollup 14.9/131.4/23.2 s) — the
    # same host noise the bench protocol handles with best-of-N and a
    # fixed-work calibration. SPARK_GRAFT_STRESS_RUNS (default 3)
    # applies to the batch families only; the stream/chain drains are
    # minutes-long and stay single-shot.
    cal_start = calibration_sec(spark)
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_STRESS_RUNS", "3")))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name, fn in (("rollup", rollup), ("lag", lag), ("keep1", keep1),
                     ("sdist", sdist), ("sessions", sessions),
                     ("pack", pack)):
        samples = []
        for _ in range(n_runs):
            release_operator_caches()
            t0 = time.time()
            fn().collect()
            samples.append(round(time.time() - t0, 2))
        timings[name] = min(samples)
        spread[name] = samples
        release_operator_caches()

    import shutil
    import tempfile

    extra: dict[str, float] = {}

    # ---- bucketed CDC merge + rebucket family. Seed the snapshot
    # once with the full corpus at B=64 (reported separately), then
    # best-of-N an idempotent 10%-batch re-merge — identical work per
    # pass because keep-latest reproduces the same winners — and
    # best-of-N full rebucket rewrites alternating 64<->128 so every
    # pass migrates the same 10M rows.
    merge_tmp = tempfile.mkdtemp(prefix="stress_merge_")
    try:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            bucketed_merge, rebucket)
        snap = f"{merge_tmp}/snap"
        base = gen().select("id", "user_id", "ts", "value")
        mkw = dict(snapshot_dir=snap, primary_keys=["id"],
                   order_by=[F.col("ts").desc()],
                   tiebreak=[F.col("id").desc()])
        t0 = time.time()
        bucketed_merge(base, n_buckets=64, **mkw)
        extra["bmerge_seed_sec"] = round(time.time() - t0, 2)
        batch = base.filter(F.pmod("id", F.lit(10)) == 0)
        samples = []
        for _ in range(n_runs):
            release_operator_caches()
            t0 = time.time()
            bucketed_merge(batch, n_buckets=64, **mkw)
            samples.append(round(time.time() - t0, 2))
        timings["bmerge"] = min(samples)
        spread["bmerge"] = samples
        samples = []
        for i in range(n_runs):
            release_operator_caches()
            t0 = time.time()
            rebucket(spark, snap, new_n_buckets=128 if i % 2 == 0 else 64)
            samples.append(round(time.time() - t0, 2))
        timings["rebucket"] = min(samples)
        spread["rebucket"] = samples
    finally:
        shutil.rmtree(merge_tmp, ignore_errors=True)

    # ---- stream family: RocksDB + append-mode watermarked drain ----

    stream_rows = (int(sys.argv[3]) if len(sys.argv) > 3
                   else min(rows, 10_000_000))
    tmp = tempfile.mkdtemp(prefix="stress_stream_")
    try:
        src_dir = f"{tmp}/in"
        t0 = time.time()
        (spark.read.format("seedgen")
              .option("rows", stream_rows).option("seed", 7)
              .option("partitions", 32).load()
              .write.parquet(src_dir))
        extra["stream_stage_sec"] = round(time.time() - t0, 2)

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                            "state.RocksDBStateStoreProvider")
        try:
            from elt_gluepipeline_spark.sources.readers import \
                ntz_to_instant
            schema = spark.read.parquet(src_dir).schema
            src = (spark.readStream.schema(schema)
                        .option("maxFilesPerTrigger", 8)
                        .parquet(src_dir)
                        .withColumn("ts_i", ntz_to_instant("ts")))
            agg = (src.withWatermark("ts_i", "1 hour")
                      .groupBy(F.window("ts_i", "1 hour").alias("b"),
                               "user_id")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("v")))
            t0 = time.time()
            q = (agg.writeStream.format("noop")
                    .option("checkpointLocation", f"{tmp}/ckpt")
                    .outputMode("append")
                    .trigger(availableNow=True).start())
            q.awaitTermination()
            timings["stream"] = round(time.time() - t0, 2)

            # ---- chain family: the q190 production shape at
            # generated scale — multi-micro-batch foreachBatch drain
            # through run_stream_chain (normalize → rule split →
            # final/ + quarantine/ rows committed with the batch id),
            # still under the RocksDB provider. This is what the
            # reference's nightly cron becomes as continuous ELT; the
            # figure includes the real parquet sink appends.
            from elt_gluepipeline_spark.sources.table import Table
            from elt_gluepipeline_spark.streaming.chain import (
                run_stream_chain)
            # seedgen value is uniform [0, 10000): rules route ~5% to
            # quarantine — a realistic bad-row rate, so the final/
            # append path carries the bulk of the volume
            chain_rules = [
                ("value_nonpos", "value <= 0"),
                ("value_high", "value > 9500"),
                ("user_null", "user_id IS NULL"),
            ]
            t0 = time.time()
            run_stream_chain(
                spark, source_dir=src_dir,
                table_dir=f"{tmp}/chain",
                checkpoint_dir=f"{tmp}/chain_ckpt",
                rules=chain_rules,
                max_files_per_trigger=4)   # 32 staged files -> 8 batches
            timings["chain"] = round(time.time() - t0, 2)
            chain = Table(spark, f"{tmp}/chain")
            extra["chain_final_rows"] = chain.read("final").count()
            extra["chain_quarantine_rows"] = \
                chain.read("quarantine").count()
            state_bytes = 0
            for root, _dirs, files in os.walk(f"{tmp}/chain_ckpt"):
                state_bytes += sum(os.path.getsize(os.path.join(root, f))
                                   for f in files)
            extra["chain_checkpoint_bytes"] = state_bytes
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cal_end = calibration_sec(spark)
    rows_for = {k: (stream_rows if k in ("stream", "chain") else rows)
                for k in timings}
    print(json.dumps({
        "rows": rows, "partitions": parts, "stream_rows": stream_rows,
        **extra, "timings": timings,
        "batch_best_of": n_runs, "batch_samples": spread,
        "calibration_sec": {"start": cal_start, "end": cal_end},
        "rates_mrows_s": {k: round(rows_for[k] / v / 1e6, 1)
                          for k, v in timings.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
