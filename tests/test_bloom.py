"""Portable Bloom filter (operators.bloom): structural no-false-
negative, deterministic false positives, duplicate-key probes, and
the broadcast plan shape."""

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.bloom import bloom_apply, bloom_fit


@pytest.fixture()
def keysets(spark):
    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(300)], "k string")
    probes = spark.createDataFrame(
        [(f"key{i}",) for i in range(400)]      # 300 members + 100 not
        + [("key7",), ("key7",)],               # duplicates
        "k string")
    return members, probes


def test_bloom_no_false_negatives_and_dup_probes(spark, keysets):
    members, probes = keysets
    bloom = bloom_fit(members, "k", m_bits=1 << 12, k=4)
    out = bloom_apply(probes, "k", bloom, m_bits=1 << 12, k=4)
    rows = out.collect()
    # structural: every true member (incl. the duplicated key7 rows)
    # must hit — a miss here is the one error class a Bloom can't have
    for r in rows:
        if int(r.k[3:]) < 300:
            assert r.bloom_hit, f"false negative on {r.k}"
    # duplicate probe rows each come back, flagged identically
    assert sum(1 for r in rows if r.k == "key7") == 3
    assert all(r.bloom_hit for r in rows if r.k == "key7")


def test_bloom_false_positive_rate_bounded_and_deterministic(spark, keysets):
    members, _ = keysets
    bloom = bloom_fit(members, "k", m_bits=1 << 12, k=4)
    strangers = spark.createDataFrame(
        [(f"other{i}",) for i in range(2000)], "k string")
    out = bloom_apply(strangers, "k", bloom, m_bits=1 << 12, k=4)
    fp1 = {r.k for r in out.collect() if r.bloom_hit}
    # load 300*4/4096 ≈ 0.29 → fp ≈ (1-e^-0.29)^4 ≈ 0.4%; allow 5×
    assert len(fp1) < 0.02 * 2000
    # determinism: same inputs → the same false-positive SET
    out2 = bloom_apply(strangers, "k", bloom, m_bits=1 << 12, k=4)
    fp2 = {r.k for r in out2.collect() if r.bloom_hit}
    assert fp1 == fp2


def test_bloom_filter_is_broadcast_side(spark, keysets):
    members, probes = keysets
    bloom = bloom_fit(members, "k", m_bits=1 << 12, k=4)
    out = bloom_apply(probes, "k", bloom, m_bits=1 << 12, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan        # filter words broadcast
    # filter size bounded by m_bits/32 words regardless of corpus
    assert bloom.count() <= (1 << 12) // 32


# ---------------- count-min sketch ----------------

def test_cms_one_sided_and_mergeable(spark):
    from elt_gluepipeline_spark.operators.sketches import (cms_estimate,
                                                           cms_fit)

    rows = [(f"k{i % 37}",) for i in range(1000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "k string")
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    cms = cms_fit(df, "k", depth=4, width=64)
    est = cms_estimate(exact, "k", cms, depth=4, width=64)
    for r in est.collect():
        assert r.est_n >= r.exact_n          # structural one-sidedness
    hot = est.filter(F.col("k") == "hot").collect()[0]
    assert hot.exact_n == 500 and hot.est_n >= 500

    # mergeability: sketch(union) == cellwise sum of the half-sketches
    h1 = df.limit(700)
    h2 = df.exceptAll(h1)
    merged = (cms_fit(h1, "k", depth=4, width=64)
              .unionByName(cms_fit(h2, "k", depth=4, width=64))
              .groupBy("row", "col").agg(F.sum("cnt").alias("cnt")))
    full = cms_fit(df, "k", depth=4, width=64)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


# ---------------- portable HyperLogLog ----------------

def test_hll_accuracy_and_merge(spark):
    from elt_gluepipeline_spark.operators.sketches import (hll_estimate,
                                                           hll_fit)

    df = spark.createDataFrame([(f"u{i}",) for i in range(20_000)],
                               "k string")
    est = hll_estimate(hll_fit(df, "k")).collect()[0].n_hll
    # p=10 -> sigma ~ 1.04/sqrt(1024) ~ 3.25%; allow 4 sigma
    assert abs(est - 20_000) / 20_000 < 0.13
    # mergeability: registers of the union == bucketwise max of halves
    h1, h2 = df.limit(12_000), df.exceptAll(df.limit(12_000))
    merged = (hll_fit(h1, "k").unionByName(hll_fit(h2, "k"))
              .groupBy("bucket").agg(F.max("r").alias("r")))
    full = hll_fit(df, "k")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))
    # merged sketch estimates identically to the one-shot sketch
    a = hll_estimate(merged).collect()[0].n_hll
    b = hll_estimate(full).collect()[0].n_hll
    assert a == b


def test_hll_duplicates_do_not_inflate(spark):
    from elt_gluepipeline_spark.operators.sketches import (hll_estimate,
                                                           hll_fit)

    once = spark.createDataFrame([(f"u{i}",) for i in range(1000)],
                                 "k string")
    tenfold = once.crossJoin(spark.range(10)).select("k")
    a = hll_estimate(hll_fit(once, "k")).collect()[0].n_hll
    b = hll_estimate(hll_fit(tenfold, "k")).collect()[0].n_hll
    assert a == b                      # cardinality, not row count


def test_bloom_and_cms_keep_null_key_probes(spark):
    """The re-attach join must not drop NULL-key probe rows
    (inner equi-join on key never matches NULL). NULL keys hash like a
    missing concat_ws element — same in DuckDB — and get a real flag."""
    from elt_gluepipeline_spark.operators.sketches import (cms_estimate,
                                                           cms_fit)

    members = spark.createDataFrame([(f"key{i}",) for i in range(50)],
                                    "k string")
    probes = spark.createDataFrame(
        [("key1",), (None,), ("other",), (None,)], "k string")
    bloom = bloom_fit(members, "k", m_bits=1 << 12, k=4)
    out = bloom_apply(probes, "k", bloom, m_bits=1 << 12, k=4).collect()
    assert len(out) == 4                       # NULL rows preserved
    assert sum(1 for r in out if r.k is None) == 2
    assert all(r.bloom_hit is not None for r in out)
    assert next(r.bloom_hit for r in out if r.k == "key1")

    cms = cms_fit(members, "k", depth=4, width=64)
    est = cms_estimate(probes, "k", cms, depth=4, width=64).collect()
    assert len(est) == 4
    assert sum(1 for r in est if r.k is None) == 2
    assert all(r.est_n is not None and r.est_n >= 0 for r in est)


def test_hll_sql_twin_empty_input(spark):
    """The DuckDB twin must return 0.0 (not NULL) on an
    empty relation, mirroring hll_estimate's empty-sketch semantics."""
    import duckdb

    from elt_gluepipeline_spark.operators.sketches import (hll_estimate,
                                                           hll_fit, hll_sql)

    empty = spark.createDataFrame([], "k string")
    spark_est = hll_estimate(hll_fit(empty, "k")).collect()[0].n_hll
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR)")
    duck_est = con.execute(hll_sql("k", "FROM t")).fetchone()[0]
    assert spark_est == 0.0
    assert duck_est == 0.0


def test_hll_grouped_matches_per_group_fit(spark):
    """hll_estimate_grouped must equal running the scalar estimator
    on each group's own register table (same exact-integer path), and
    its DuckDB twin must replay both groups bit-for-bit."""
    import duckdb

    from elt_gluepipeline_spark.operators.sketches import (
        _hll_bucket_rank, hll_estimate, hll_estimate_grouped,
        hll_sql_grouped)

    rows = [(f"g{i % 3}", f"u{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, k string")
    bucket, rank = _hll_bucket_rank(F.col("k"))
    regs = (df.select("g", bucket.alias("bucket"), rank.alias("_r"))
              .groupBy("g", "bucket").agg(F.max("_r").alias("r")))
    grouped = {r.g: r.n_hll
               for r in hll_estimate_grouped(regs, ["g"]).collect()}
    assert set(grouped) == {"g0", "g1", "g2"}
    for g in grouped:
        solo = hll_estimate(regs.filter(F.col("g") == g).select(
            "bucket", "r")).collect()[0].n_hll
        assert grouped[g] == solo
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(hll_sql_grouped("k", "g", "FROM t")).fetchall())
    assert duck == grouped
