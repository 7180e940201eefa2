"""Sequence packing (operators.packing): concat-and-chunk coordinates,
greedy whole-doc bins, determinism under repartitioning."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.packing import (pack_concat_chunk,
                                                      pack_greedy_bins)

CTX = 100


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, (i * 37) % 180) for i in range(200)]  # some > CTX, some 0
    rows[5] = (5, 0)
    return spark.createDataFrame(rows, "doc_id long, n long")


def test_concat_chunk_coordinates(corpus):
    out = pack_concat_chunk(corpus, "doc_id", F.col("n"), ctx_len=CTX,
                            n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    total_tokens = sum(r.n_tokens for r in out)
    assert total_tokens == sum(n for _, n in
                               [(i, (i * 37) % 180) for i in range(200)
                                if i != 5])
    for shard, rows in by_shard.items():
        # per-shard: offsets/seqs must be consistent with SOME total
        # order — reconstruct it by (seq_first, offset); zero-token
        # docs share their successor's cum, so they must sort first
        # within a tie (their order among themselves is immaterial)
        rows.sort(key=lambda r: (r.seq_first, r.offset, r.n_tokens,
                                 r.doc_id))
        cum = 0
        for r in rows:
            assert r.offset == cum % CTX
            assert r.seq_first == cum // CTX
            expect_last = (cum + r.n_tokens - 1) // CTX \
                if r.n_tokens else r.seq_first
            assert r.seq_last == expect_last
            cum += r.n_tokens
        # zero padding waste except the final window's tail
        n_windows = rows[-1].seq_last + 1
        assert (n_windows - 1) * CTX < cum <= n_windows * CTX or cum == 0


def test_concat_chunk_docs_span_boundaries(corpus):
    out = pack_concat_chunk(corpus, "doc_id", F.col("n"), ctx_len=CTX,
                            n_shards=1).collect()
    spanning = [r for r in out if r.seq_last > r.seq_first]
    assert spanning, "corpus has >CTX docs; some must span windows"
    for r in spanning:
        assert r.n_tokens > CTX - r.offset


def test_greedy_bins_invariants(corpus):
    out = pack_greedy_bins(corpus, "doc_id", F.col("n"), ctx_len=CTX,
                           n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        bins = {}
        for r in rows:
            bins.setdefault(r.bin, []).append(r)
        assert sorted(bins) == list(range(len(bins)))  # contiguous ids
        for b, members in bins.items():
            total = sum(r.n_tokens for r in members)
            # a bin only exceeds ctx when a single oversized doc owns it
            if total > CTX:
                assert len(members) == 1 and members[0].n_tokens > CTX
            assert max(r.fill_after for r in members) == total


def test_packing_determinism_under_repartitioning(spark, corpus):
    a = pack_greedy_bins(corpus, "doc_id", F.col("n"), ctx_len=CTX,
                         n_shards=4)
    b = pack_greedy_bins(corpus.repartition(13), "doc_id", F.col("n"),
                         ctx_len=CTX, n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = pack_concat_chunk(corpus, "doc_id", F.col("n"), ctx_len=CTX,
                          n_shards=4)
    d = pack_concat_chunk(corpus.coalesce(1), "doc_id", F.col("n"),
                          ctx_len=CTX, n_shards=4)
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, d.collect()))


def test_bad_ctx_raises(corpus):
    with pytest.raises(ValueError):
        pack_concat_chunk(corpus, "doc_id", F.col("n"), ctx_len=0)
    with pytest.raises(ValueError):
        pack_greedy_bins(corpus, "doc_id", F.col("n"), ctx_len=-5)
