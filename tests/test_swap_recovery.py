"""Crash recovery of every on-disk table rewrite that goes through
``sources.writers.swap_dir``: the CDC snapshot's merge, tombstone
expiry and rebucket, the LSH index's compaction and entries
repartition, and parquet small-file compaction.

Each case crashes the rewrite at one step of the swap —
1: the live→aside rename, 2: the staged→live rename, 3: the aside
delete — then checks that the table's next entry point heals it, and
that re-running the rewrite gives exactly the rows an uninterrupted
run gives. A crash at step 1 or 2 (in the first swap) must leave the
previous state readable, row for row; a crash at step 3 of a
whole-table swap must leave the new state. The read of each table
includes its stored layout, so the layout must always belong to the
copy that survived."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.dedup import (
    PortableMinhashFamily, compact_lsh_dedup_index,
    delete_from_lsh_dedup_index, fit_lsh_dedup_index, load_lsh_dedup_index,
    portable_band_hash, repartition_entries, save_lsh_dedup_index)
from elt_gluepipeline_spark.sources.writers import (compact_parquet,
                                                    read_layout)
from elt_gluepipeline_spark.streaming.bucketed_upsert import (
    bucketed_merge, expire_tombstones, read_bucketed_snapshot, rebucket)

SCHEMA = "k long, seq long, v string, op string"


def _merge_kw():
    return dict(primary_keys=["k"], order_by=[F.col("seq").desc()],
                n_buckets=4, op_col="op")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


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
    assert expire_tombstones(spark, d, op_col="op",
                             expire_if=F.col("seq") < 10)


def _rebucket(spark, d):
    rebucket(spark, d, new_n_buckets=8, op_col="op")


def _read_snapshot(spark, d):
    return _rows(read_bucketed_snapshot(spark, d)), read_layout(f"{d}/data")


# --- the LSH index -------------------------------------------------------

def _docs(spark):
    rows = [(i, " ".join(f"w{(i * 3 + j) % 25}" for j in range(12)))
            for i in range(40)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _index(spark, d):
    save_lsh_dedup_index(
        fit_lsh_dedup_index(_docs(spark), "doc_id", "text", k=3,
                            n_hashes=32, bands=8,
                            pair_family=PortableMinhashFamily(32, seed=1),
                            band_hash=portable_band_hash), d)
    delete_from_lsh_dedup_index(
        _docs(spark).filter(F.col("doc_id") % 3 == 1).select("doc_id"), d)


def _read_index(spark, d):
    index = load_lsh_dedup_index(spark, d)
    tables = (index.entries, index.sizes, index.postings, index.tombstones)
    return ([None if t is None else _rows(t) for t in tables],
            index.entries_partitions)


# --- a parquet folder ----------------------------------------------------

def _folder(spark, d):
    spark.range(200).selectExpr("id", "id % 7 AS g", "uuid() AS u") \
         .repartition(10).write.parquet(d)


def _compacted_rows(spark, d):
    compact_parquet(spark, d, target_files=2)
    return _rows(spark.read.parquet(d))


# entry point -> (build the table, rewrite it, open it and read its rows)
CASES = {
    "bucketed_merge": (_snapshot, _merge, _read_snapshot),
    "expire_tombstones": (_snapshot, _expire, _read_snapshot),
    "rebucket": (_snapshot, _rebucket, _read_snapshot),
    "compact_lsh_dedup_index": (_index, compact_lsh_dedup_index,
                                _read_index),
    "repartition_entries": (_index,
                            lambda spark, d: repartition_entries(spark, d, 4),
                            _read_index),
    "compact_parquet": (_folder,
                        lambda spark, d: compact_parquet(spark, d,
                                                         target_files=2),
                        _compacted_rows),
}

# one whole-table swap: a crash at step 3 leaves the staged copy live
_ONE_SWAP = {"rebucket", "repartition_entries"}
_BUILT: dict[str, str] = {}   # entry point -> pristine table to copy
_CLEAN: dict[str, object] = {}  # entry point -> rows of an uncrashed run


def _fresh(spark, tmp_path_factory, entry, name):
    """A private copy of the entry point's pristine table (built once)."""
    if entry not in _BUILT:
        d = str(tmp_path_factory.mktemp(entry) / "t")
        CASES[entry][0](spark, d)
        _BUILT[entry] = d
    d = str(tmp_path_factory.mktemp(name) / "t")
    shutil.copytree(_BUILT[entry], d)
    return d


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, step):
    """Make the swap raise at ``step``: the ``step``-th rename (1, 2),
    or the aside delete that follows the second rename (3)."""
    moves = {"n": 0}
    real_move, real_rmtree = shutil.move, shutil.rmtree

    def move(src, dst, *a, **kw):
        moves["n"] += 1
        if step < 3 and moves["n"] == step:
            raise _Crash(f"crash at rename {step}")
        return real_move(src, dst, *a, **kw)

    def rmtree(path, *a, **kw):
        if step == 3 and moves["n"] == 2:
            raise _Crash("crash before the aside delete")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "move", move)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize("step", [1, 2, 3])
@pytest.mark.parametrize("entry", list(CASES))
def test_crashed_swap_recovers(spark, tmp_path_factory, monkeypatch,
                               entry, step):
    _, rewrite, read = CASES[entry]
    if entry not in _CLEAN:
        d = _fresh(spark, tmp_path_factory, entry, "clean")
        rewrite(spark, d)
        _CLEAN[entry] = read(spark, d)

    d = _fresh(spark, tmp_path_factory, entry, "crashed")
    before = read(spark, d)
    _crash_at(monkeypatch, step)
    with pytest.raises(_Crash):
        rewrite(spark, d)
    monkeypatch.undo()

    healed = read(spark, d)
    if step < 3:
        assert healed == before
    elif entry in _ONE_SWAP:
        assert healed == _CLEAN[entry]
    rewrite(spark, d)
    assert read(spark, d) == _CLEAN[entry]
