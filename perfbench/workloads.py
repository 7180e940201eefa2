"""The benchmark's workloads. Each one turns a seed into inputs before timing,
yields operations pass by pass (a pass is a fixed multiset of operations in a
seed-permuted order), and checks its outputs after the timed loop.

An operation is a callable ``fn(ctx, op_id) -> source_rows``; ``ctx`` is the
harness (``run.Harness``), which supplies the Spark session, the tracer, job
groups and the untimed-work clock.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# a fixed sample of plans/reference.py SPECS: twelve oracle-checked batch
# queries that run in about 0.2 s each once warm on a 4-core host, so that
# fixed driver cost is most of every operation. Each run warms the sample
# once and then times whole passes over it, which the full list would not
# allow.
REFERENCE_SAMPLE = (
    "q01_line_revenue", "q06_trend_monthly", "q12_incr_dedupe",
    "q23_json_props", "q27_surrogate_keys", "q44_urgent_customers",
    "q52_status_cube", "q79_trailing_features", "q94_priority_argmax",
    "q96_bitmap_distinct", "q102_price_histogram", "q111_grouping_sets")
# the nightly chain's metric query: one of q02-q08, which all read the
# piped orders table
NIGHT_METRICS = ("q02_clv",)


def dir_bytes(path: str, newer_than: float | None = None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if newer_than is None or st.st_mtime >= newer_than:
                total += st.st_size
    return total


class Op:
    __slots__ = ("kind", "fn")

    def __init__(self, kind: str, fn):
        self.kind, self.fn = kind, fn


# --------------------------------------------------------------------------
# reference_mix: many short queries, where fixed driver cost dominates
# --------------------------------------------------------------------------

class ReferenceMix:
    """One operation is one reference query built and run to a ``noop``
    sink, followed by ``release_operator_caches()``. Preparation runs every
    query of the sample once, collecting its rows for the correctness check,
    so the timed passes see warm code paths."""

    sf = 0.01
    min_passes = 3      # 36 operations: the tail is p72

    def __init__(self):
        from elt_gluepipeline_spark.plans import reference
        from elt_gluepipeline_spark.sql import STREAMING_QUERIES
        self.specs = {s.name: s for s in reference.SPECS
                      if s.oracle is not None
                      and s.name not in STREAMING_QUERIES}
        self.names = REFERENCE_SAMPLE

    def prepare(self, ctx) -> None:
        """Warm every query of the sample and check its rows: each query's
        canonical hash against its DuckDB oracle's over the same inputs.
        The oracle side is untimed."""
        from elt_gluepipeline_spark.operators._cache import (
            release_operator_caches)
        from tools.check_correctness import _connect, canonical_hash
        self.table_rows = ctx.table_rows
        self.bad: set[str] = set()
        with ctx.untimed():
            con = _connect(ctx.sf_dir)
        try:
            for name in self.names:
                got = self.specs[name].build(ctx.spark, ctx.sf_dir).toPandas()
                release_operator_caches()
                with ctx.untimed():
                    want = con.sql(self.specs[name].oracle).df()
                    if (sorted(got.columns) != sorted(want.columns)
                            or canonical_hash(got) != canonical_hash(want)):
                        self.bad.add(name)
        finally:
            con.close()

    def source_rows(self, name: str) -> int:
        """Rows of the input tables the query's oracle reads (its DuckDB
        twin names every table the Spark plan reads)."""
        sql = self.specs[name].oracle
        return sum(n for t, n in self.table_rows.items()
                   if re.search(rf"\b{t}\b", sql))

    def pass_ops(self, rng: np.random.Generator) -> list[Op]:
        return [Op(self.names[i],
                   lambda ctx, op_id, n=self.names[i]: self._run(ctx, op_id, n))
                for i in rng.permutation(len(self.names))]

    def _run(self, ctx, op_id: int, name: str) -> int:
        from elt_gluepipeline_spark.operators._cache import (
            release_operator_caches)
        with ctx.layer("plans.build", op_id, group=f"op{op_id}.build"):
            df = self.specs[name].build(ctx.spark, ctx.sf_dir)
        with ctx.layer("plans.run", op_id, group=f"op{op_id}"):
            df.write.format("noop").mode("overwrite").save()
        with ctx.layer("operators.release", op_id):
            ctx.count("operators.caches", release_operator_caches())
        return self.source_rows(name)

    def check(self, ctx) -> set[str]:
        """Queries whose rows differed from the oracle's in preparation."""
        return self.bad

    def space_amp(self, ctx) -> float:
        return ctx.source_disk_bytes / ctx.source_logical_bytes


# --------------------------------------------------------------------------
# elt_nightly: the four-stage chain, one night after another
# --------------------------------------------------------------------------

_WATERMARK = {"orders": "o_orderdate"}
# the quality gate's rule on orders: about 5% of the generated orders
# violate it and go to quarantine
PRICE_RULE = "o_totalprice <= 0 OR o_totalprice >= 475000"
INITIAL_SHARE = 0.5     # of the piped table's rows, loaded by night 0
NIGHTS = 60             # each later night brings 1/NIGHTS of those rows
N_BUCKETS = 8
NIGHT_OPS = ("ingest", "transform", "quality", "metric", "merge", "read",
             "expire")


def _ts_literal(us: int) -> str:
    return str(np.datetime64(int(us), "us")).replace("T", " ")


class EltNightly:
    """One pass is one night: ``stage_ingest`` → ``stage_transform`` →
    ``stage_quality`` → ``stage_metric`` over ``orders``, then the
    incremental path's keyed upsert: ``bucketed_merge`` of the night's gated
    orders into an 8-bucket snapshot keyed by customer (newest order wins;
    orders whose key is a multiple of 7 are tombstones), a
    ``read_bucketed_snapshot`` followed by an aggregate, and
    ``expire_tombstones`` of the tombstones dated up to the previous night's
    cutoff.

    Night k's source holds every order up to its cutoff; cutoffs sit at
    fixed row quantiles of the order dates, so every night brings
    about the same number of rows whatever the seed. Night 0, the initial
    load, runs during preparation."""

    sf = 0.01
    # 14 operations: the median falls between two of the four quality and
    # expiry calls instead of on whichever single call is fourth of seven
    min_passes = 2

    def prepare(self, ctx) -> None:
        from elt_gluepipeline_spark.pipeline import PipelineConfig
        from elt_gluepipeline_spark.sources.state import RunManifest
        self.sf_dir = ctx.sf_dir
        self.base = {}
        for t in _WATERMARK:
            self.base[t] = pq.read_table(
                os.path.join(ctx.sf_dir, f"{t}.parquet"))
        dates = np.sort(np.concatenate([
            self.base[t][c].to_numpy().astype("datetime64[us]").astype(
                np.int64) for t, c in _WATERMARK.items()]))
        n = len(dates)
        self.cutoffs = [int(dates[min(n - 1, int(n * INITIAL_SHARE)
                                      + k * (n // NIGHTS))])
                        for k in range(NIGHTS)]
        self.root = os.path.join(ctx.root, "elt")
        self.cfg = PipelineConfig(
            source_dir="", warehouse=os.path.join(self.root, "warehouse"),
            tables=tuple(_WATERMARK),
            pk_config="orders:o_orderkey", watermarks=dict(_WATERMARK),
            quality_rules={"orders": (("price_out_of_band", PRICE_RULE),)},
            metric_queries=NIGHT_METRICS)
        self.snap = self.cfg.path("cdc_snapshot")
        self.manifest = RunManifest(self.cfg.path("_state", "manifests"),
                                    "bench")
        self.night = 0
        self.bookmarks: list[dict] = []
        self.failed = False
        self.stage_out: dict[str, object] = {}
        self.layer: dict[str, list[float]] = {}
        self._night_source()
        for stage in NIGHT_OPS:
            self._op(ctx, -1, stage)

    def _night_source(self) -> None:
        """Write the night's source dir (untimed): the piped table cut at
        the night's cutoff, the other tables linked from the inputs."""
        k = self.night
        src = os.path.join(self.root, f"source{k}")
        os.makedirs(src)
        self.live_logical = self.new_bytes = 0
        for t, col in _WATERMARK.items():
            d = self.base[t][col]
            cur = self.base[t].filter(pc.less_equal(
                d, pa.scalar(self.cutoffs[k], d.type)))
            pq.write_table(cur, os.path.join(src, f"{t}.parquet"))
            self.live_logical += cur.nbytes
            if k:
                self.new_bytes += cur.filter(pc.greater(
                    cur[col], pa.scalar(self.cutoffs[k - 1], d.type))).nbytes
        for t in datagen.TABLES:
            if t not in _WATERMARK:
                os.symlink(os.path.join(self.sf_dir, f"{t}.parquet"),
                           os.path.join(src, f"{t}.parquet"))
        self.cfg.source_dir = src

    def pass_ops(self, rng) -> list[Op]:
        return [Op(s, lambda ctx, i, s=s: self._op(ctx, i, s))
                for s in NIGHT_OPS]

    def _op(self, ctx, op_id: int, kind: str) -> int:
        if kind == "ingest":
            with ctx.untimed():
                if op_id >= 0:
                    self.night += 1
                    self._night_source()
                self.night_start = time.time()
        if kind in ("merge", "read", "expire"):
            return getattr(self, f"_{kind}")(ctx, op_id)
        from elt_gluepipeline_spark import pipeline
        with ctx.layer(f"pipeline.{kind}", op_id, group=f"op{op_id}"):
            out = getattr(pipeline, f"stage_{kind}")(
                ctx.spark, self.cfg, self.manifest)
        self.stage_out[kind] = out
        if kind == "metric":
            with ctx.untimed():
                self._check_night(ctx)
        if kind != "ingest":
            return 0
        rows = sum(out.values())
        if op_id >= 0:
            ctx.count("pipeline.rows_ingested", rows)
        return rows

    def _cutoff(self, k: int):
        """Night k's cutoff as a literal of the warehouse's date type."""
        from pyspark.sql import functions as F
        return F.lit(_ts_literal(self.cutoffs[k])).cast(self.date_type)

    def _merge(self, ctx, op_id: int) -> int:
        from pyspark.sql import functions as F

        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            bucketed_merge)
        orders = ctx.spark.read.parquet(self.cfg.path("final", "orders"))
        self.date_type = orders.schema["o_orderdate"].dataType
        win = F.col("o_orderdate") <= self._cutoff(self.night)
        if self.night:
            win &= F.col("o_orderdate") > self._cutoff(self.night - 1)
        batch = orders.filter(win).select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
             .otherwise(F.lit("U")).alias("op"))
        t0 = time.time()
        with ctx.layer("streaming.merge", op_id, group=f"op{op_id}"):
            touched = bucketed_merge(
                batch, snapshot_dir=self.snap, primary_keys=["o_custkey"],
                order_by=[F.col("o_orderdate").desc()],
                tiebreak=[F.col("o_orderkey").desc()],
                n_buckets=N_BUCKETS, op_col="op")
        if op_id >= 0:
            with ctx.untimed():
                live = os.path.join(self.snap, "data")
                written = sum(dir_bytes(os.path.join(live, f"_bucket={b}"),
                                        newer_than=t0) for b in touched)
                self._note("streaming.buckets_touched_frac",
                           len(touched) / N_BUCKETS)
                self._note("streaming.write_amp",
                           written / max(1, self._night_orders_bytes()))
        return 0

    def _night_orders_bytes(self) -> int:
        d = self.base["orders"]["o_orderdate"]
        lo = pa.scalar(self.cutoffs[self.night - 1], d.type)
        hi = pa.scalar(self.cutoffs[self.night], d.type)
        return self.base["orders"].filter(pc.and_(
            pc.greater(d, lo), pc.less_equal(d, hi))).nbytes

    def _read(self, ctx, op_id: int) -> int:
        from pyspark.sql import functions as F

        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            read_bucketed_snapshot)
        with ctx.layer("streaming.read", op_id, group=f"op{op_id}"):
            read_bucketed_snapshot(ctx.spark, self.snap, op_col="op").agg(
                F.count("*"), F.sum("o_totalprice")).collect()
        if op_id >= 0:
            with ctx.untimed():
                files = sum(len([f for f in fs if f.endswith(".parquet")])
                            for _r, _d, fs in os.walk(
                                os.path.join(self.snap, "data")))
                self._note("streaming.files_per_bucket", files / N_BUCKETS)
        return 0

    def _expire(self, ctx, op_id: int) -> int:
        from pyspark.sql import functions as F

        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            expire_tombstones)
        expire_if = (F.col("o_orderdate") <= self._cutoff(self.night - 1)
                     if self.night else F.lit(False))
        t0 = time.time()
        with ctx.layer("streaming.maintain", op_id, group=f"op{op_id}"):
            touched = expire_tombstones(ctx.spark, self.snap, op_col="op",
                                        expire_if=expire_if)
        if op_id >= 0:
            with ctx.untimed():
                live = os.path.join(self.snap, "data")
                self._note("streaming.maintain_bytes", sum(
                    dir_bytes(os.path.join(live, f"_bucket={b}"),
                              newer_than=t0) for b in touched))
                self.written = dir_bytes(self.cfg.warehouse,
                                         newer_than=self.night_start)
                if self.night:
                    self._note("sources.write_amp",
                               self.written / self.new_bytes)
        return 0

    def _note(self, name: str, v: float) -> None:
        self.layer.setdefault(name, []).append(v)

    def _check_night(self, ctx) -> None:
        """landed = clean + quarantined per table, bookmarks never move
        backwards, and (on timed nights) every metric output equals its
        DuckDB oracle over the night's quality-gated tables."""
        from elt_gluepipeline_spark.plans import registry
        from elt_gluepipeline_spark.sources.state import BookmarkStore
        from tools.check_correctness import _connect, canonical_hash
        ok = True
        staged, split = self.stage_out["transform"], self.stage_out["quality"]
        for t in _WATERMARK:
            ok &= staged[t] == split[t][0] + split[t][1]
        bm = BookmarkStore(self.cfg.path("_state", "bookmarks"))
        now = {t: bm.get(t) for t in _WATERMARK}
        ok &= all(now[t] is not None for t in _WATERMARK)
        if ok and self.bookmarks:
            ok &= all(now[t] >= self.bookmarks[-1][t] for t in _WATERMARK)
        self.bookmarks.append(now)
        clean, bad = split["orders"]
        self._note("pipeline.quarantine_frac", bad / max(1, clean + bad))
        if not self.night:
            self.failed |= not ok
            return
        specs = registry()
        con = _connect(self.cfg.path("_state", "metric_src"))
        try:
            for name in NIGHT_METRICS:
                got = ctx.spark.read.parquet(
                    self.cfg.path("metrics", name)).toPandas()
                want = con.sql(specs[name].oracle).df()
                ok &= (sorted(got.columns) == sorted(want.columns)
                       and canonical_hash(got) == canonical_hash(want))
        finally:
            con.close()
        self.failed |= not ok

    def check(self, ctx) -> set[str]:
        """Every night's chain checks passed, and the snapshot equals the
        newest gated order per customer with delete winners removed,
        computed in one window over every order up to the last cutoff that
        passes the quality rule."""
        import duckdb

        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            read_bucketed_snapshot)
        from tools.check_correctness import canonical_hash
        cols = ["o_custkey", "o_orderkey", "o_totalprice"]
        got = read_bucketed_snapshot(ctx.spark, self.snap, op_col="op") \
            .select(*cols).toPandas()
        orders = self.base["orders"]
        orders = orders.filter(pc.less_equal(orders["o_orderdate"], pa.scalar(
            self.cutoffs[self.night], orders["o_orderdate"].type)))
        con = duckdb.connect()
        try:
            con.register("orders", orders)
            want = con.sql(f"""
                SELECT o_custkey, o_orderkey, o_totalprice FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                  FROM orders WHERE NOT ({PRICE_RULE}))
                WHERE rn = 1 AND o_orderkey % 7 <> 0""").df()
        finally:
            con.close()
        if self.failed or canonical_hash(got) != canonical_hash(want):
            return set(NIGHT_OPS)
        return set()

    def layer_values(self) -> dict[str, float]:
        out = {k: float(np.median(v)) for k, v in self.layer.items()}
        out["streaming.maintain_bytes"] = float(
            sum(self.layer.get("streaming.maintain_bytes", [])))
        return out

    def space_amp(self, ctx) -> float:
        return dir_bytes(self.cfg.warehouse) / self.live_logical


WORKLOADS = {"reference_mix": ReferenceMix, "elt_nightly": EltNightly}
