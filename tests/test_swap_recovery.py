"""Crash recovery of every manifest-committed writer
(``sources.table``): the CDC snapshot's merge, tombstone expiry and
rebucket; the LSH index's save, append, delete, compaction and entries
repartition; ``compact_parquet``; the stream chain's batch handler;
and the versioned streaming sink.

A writer touches the disk through three primitives — ``step`` 1: the
Spark write action, 2: the ``os.replace`` inside ``write_atomic`` (the
commit), 3: a file delete. Each case counts the operations of one
primitive in an uncrashed run, then crashes at each of them in turn:
after a write or a delete has run, and both before and after a
replace. A read must then give back exactly the state before the run
or the state of the uncrashed run — every sub-table's rows and layout,
and the writer state (tombstone counts, batch id), and each sub-table's
file count — and delete nothing. Re-running the writer must give
exactly the uncrashed state (writers that are not idempotent, an
append, re-run only when the crash left the old state, as their caller
would), and the next commit must leave no file on disk that the
manifest does not list. Writers that replace no file in an uncrashed
run have no step 3."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import elt_gluepipeline_spark.streaming.upsert as upsert
from elt_gluepipeline_spark.functions.deterministic import dec
from elt_gluepipeline_spark.operators.dedup import (
    append_lsh_dedup_index, compact_lsh_dedup_index,
    delete_from_lsh_dedup_index, fit_lsh_dedup_index, repartition_entries,
    save_lsh_dedup_index)
from elt_gluepipeline_spark.sources.table import Table
from elt_gluepipeline_spark.sources.writers import compact_parquet
from elt_gluepipeline_spark.streaming.bucketed_upsert import (
    bucketed_merge, expire_tombstones, rebucket)
from elt_gluepipeline_spark.streaming.chain import make_chain_batch_handler

SCHEMA = "k long, seq long, v string, op string"


def _merge_kw():
    return dict(primary_keys=["k"], order_by=[F.col("seq").desc()],
                n_buckets=4, op_col="op")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _read(spark, d):
    """Every sub-table's rows, layout and file count, and the writer
    state."""
    table = Table(spark, d)
    return ({sub: (_rows(table.read(sub)), entry["layout"],
                   len(entry["files"]))
             for sub, entry in table.tables.items()}, table.state)


def _files(d):
    return {os.path.join(root, f) for root, _, files in os.walk(d)
            for f in files}


def _only_listed(d):
    """The data files on disk are exactly the ones the manifest lists."""
    table = Table(None, d)
    listed = {os.path.join(d, sub, f)
              for sub, entry in table.tables.items() for f in entry["files"]}
    return {f for f in _files(d)
            if not os.path.basename(f).startswith((".", "_"))} == listed


# --- the CDC snapshot ----------------------------------------------------

def _snapshot(spark, d):
    rows = [(k, 1, f"v{k}", "U") for k in range(1, 33)]
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=d, **_merge_kw())
    dels = [(k, 2, None, "D") for k in range(1, 33) if k % 5 == 0]
    bucketed_merge(spark.createDataFrame(dels, SCHEMA),
                   snapshot_dir=d, **_merge_kw())


def _merge(spark, d):
    rows = [(k, 3, f"w{k}", "U") for k in range(1, 33, 2)]
    bucketed_merge(spark.createDataFrame(rows, SCHEMA),
                   snapshot_dir=d, **_merge_kw())


def _expire(spark, d):
    expire_tombstones(spark, d, op_col="op", expire_if=F.col("seq") < 10)


def _rebucket(spark, d):
    rebucket(spark, d, new_n_buckets=8, op_col="op")


# --- the LSH index -------------------------------------------------------

def _docs(spark, lo=0, hi=40):
    rows = [(i, " ".join(f"w{(i * 3 + j) % 25}" for j in range(12)))
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _fit(spark, lo, hi):
    return fit_lsh_dedup_index(
        _docs(spark, lo, hi), "doc_id", "text", k=3, n_hashes=32, bands=8)


def _index(spark, d):
    save_lsh_dedup_index(_fit(spark, 0, 40), d)
    delete_from_lsh_dedup_index(
        _docs(spark).filter(F.col("doc_id") % 3 == 1).select("doc_id"), d)


def _resave(spark, d):
    save_lsh_dedup_index(_fit(spark, 10, 30), d, partition_entries=4)


def _append(spark, d):
    append_lsh_dedup_index(_fit(spark, 40, 60), d)


def _delete(spark, d):
    delete_from_lsh_dedup_index(
        spark.createDataFrame([(2,), (5,)], ["doc_id"]), d)


# --- a manifest sub-table of many small files ----------------------------

def _folder(spark, d):
    table = Table(spark, d)
    table.commit({"f": table.write(
        "f", spark.range(200).selectExpr("id", "id % 7 AS g",
                                         "uuid() AS u").repartition(10))})


# --- the stream chain and the versioned streaming sink ------------------

_RULES = (("neg", "v <= 0"),)


def _chain_batch(spark, batch_id):
    rows = [(batch_id * 10 + i, float(i % 3) - 0.5, f" T{i} ")
            for i in range(6)]
    return spark.createDataFrame(rows, "id long, v double, tag string")


def _checkpoint(d):
    """A streaming query's checkpoint dir next to the table ``d``."""
    ckpt = os.path.join(os.path.dirname(d), "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        fh.write('{"id":"query-0"}\n')
    return ckpt


def _chain_seed(spark, d):
    make_chain_batch_handler(table_dir=d, checkpoint_dir=_checkpoint(d),
                             rules=_RULES)(_chain_batch(spark, 0), 0)


def _chain_next(spark, d):
    make_chain_batch_handler(table_dir=d, checkpoint_dir=_checkpoint(d),
                             rules=_RULES)(_chain_batch(spark, 1), 1)


def _sink_handler(sink, spark, d, **kw):
    """The per-batch handler ``sink`` drains its source with, captured
    instead of starting a stream."""
    ckpt = _checkpoint(d)
    handlers = []
    real = upsert.drain_foreach_batch
    upsert.drain_foreach_batch = lambda source, handler, ckpt: \
        handlers.append(handler)
    try:
        sink(spark.range(0), snapshot_dir=d, checkpoint_path=ckpt, **kw)
    finally:
        upsert.drain_foreach_batch = real
    return handlers[0]


def _events(spark, batch_id):
    rows = [(u, float(batch_id * 10 + u)) for u in range(5)]
    return spark.createDataFrame(rows, "user_id long, value double")


def _agg_handler(spark, d):
    return _sink_handler(
        upsert.foreach_batch_incremental_agg, spark, d,
        delta_fn=lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("s")),
        keys=["user_id"], count_col="n", sum_cols=["s"])


# writer -> (build the table, run the writer on it)
CASES = {
    "bucketed_merge": (_snapshot, _merge),
    "expire_tombstones": (_snapshot, _expire),
    "rebucket": (_snapshot, _rebucket),
    "save_lsh_dedup_index": (_index, _resave),
    "append_lsh_dedup_index": (_index, _append),
    "delete_from_lsh_dedup_index": (_index, _delete),
    "compact_lsh_dedup_index": (_index, compact_lsh_dedup_index),
    "repartition_entries": (_index,
                            lambda spark, d: repartition_entries(spark, d, 4)),
    "compact_parquet": (_folder,
                        lambda spark, d: compact_parquet(
                            spark, f"{d}/f", target_files=2)),
    "chain_batch_handler": (_chain_seed, _chain_next),
    # a new table: the first batch creates it
    "foreach_batch_incremental_agg": (
        lambda spark, d: None,
        lambda spark, d: _agg_handler(spark, d)(_events(spark, 0), 0)),
}
_NOT_IDEMPOTENT = {"append_lsh_dedup_index", "delete_from_lsh_dedup_index"}
# writers that only add files in an uncrashed run: no step 3
_DELETES_NOTHING = {"append_lsh_dedup_index", "delete_from_lsh_dedup_index",
                    "chain_batch_handler", "foreach_batch_incremental_agg"}
_BUILT: dict[str, str] = {}    # writer -> pristine table to copy
_CLEAN: dict[str, tuple] = {}  # writer -> (state before, after, op counts)


def _fresh(spark, tmp_path_factory, entry, name):
    """A private copy of the writer's pristine table (built once)."""
    if entry not in _BUILT:
        d = str(tmp_path_factory.mktemp(entry) / "t")
        os.makedirs(d)
        CASES[entry][0](spark, d)
        _BUILT[entry] = d
    d = str(tmp_path_factory.mktemp(name) / "t")
    shutil.copytree(_BUILT[entry], d)
    return d


class _Crash(Exception):
    pass


def _instrument(monkeypatch, root, crash=None):
    """Patch the three primitives so each call on a path under ``root``
    passes its crash points — after a write or a delete, before and
    after a replace — and raise at ``crash`` = (step, point index).
    Returns {step: number of points passed}."""
    points = {1: 0, 2: 0, 3: 0}

    def point(step):
        if crash == (step, points[step]):
            raise _Crash(f"crash at point {points[step]} of step {step}")
        points[step] += 1

    def wrap(real, step, path_of, before=False):
        def patched(*args, **kwargs):
            if not str(path_of(*args)).startswith(root):
                return real(*args, **kwargs)
            if before:
                point(step)
            out = real(*args, **kwargs)
            point(step)
            return out
        return patched

    monkeypatch.setattr(DataFrameWriter, "parquet", wrap(
        DataFrameWriter.parquet, 1, lambda self, path, *a: path))
    monkeypatch.setattr(os, "replace", wrap(
        os.replace, 2, lambda src, dst, *a: dst, before=True))
    monkeypatch.setattr(os, "remove", wrap(
        os.remove, 3, lambda path, *a: path))
    return points


@pytest.mark.parametrize("entry,step", [
    (entry, step) for entry in CASES for step in (1, 2, 3)
    if step != 3 or entry not in _DELETES_NOTHING])
def test_crashed_swap_recovers(spark, tmp_path_factory, monkeypatch,
                               entry, step):
    rewrite = CASES[entry][1]
    if entry not in _CLEAN:
        d = _fresh(spark, tmp_path_factory, entry, "clean")
        before = _read(spark, d)
        counts = _instrument(monkeypatch, d)
        rewrite(spark, d)
        monkeypatch.undo()
        _CLEAN[entry] = (before, _read(spark, d), dict(counts))
    before, clean, counts = _CLEAN[entry]
    assert clean != before
    # the writer reaches the step it is crashed at, and a writer that
    # deletes in an uncrashed run is crashed at its deletes
    assert counts[step]
    assert (counts[3] == 0) == (entry in _DELETES_NOTHING)

    for i in range(counts[step]):
        d = _fresh(spark, tmp_path_factory, entry, f"crash{i}")
        _instrument(monkeypatch, d, crash=(step, i))
        with pytest.raises(_Crash):
            rewrite(spark, d)
        monkeypatch.undo()

        on_disk = _files(d)
        healed = _read(spark, d)
        assert healed in (before, clean), (step, i)
        assert _files(d) == on_disk, (step, i)  # a read deletes nothing
        if entry not in _NOT_IDEMPOTENT or healed == before:
            rewrite(spark, d)
            assert _read(spark, d) == clean, (step, i)
        if healed == before:  # the re-run committed, which cleans up
            assert _only_listed(d), (step, i)
        Table(spark, d).commit({})  # so does any later commit
        assert _only_listed(d) and _read(spark, d) == clean, (step, i)
