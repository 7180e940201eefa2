"""Deterministic sampling/splitting + decontamination — the curation
operators a training corpus needs to be stable and leak-free across
reruns."""

from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.dedup import cross_corpus_containment
from elt_gluepipeline_spark.operators.sampling import (assign_split,
                                                       deterministic_sample,
                                                       stratified_sample)


def _docs(spark, n=1000):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_split_deterministic_and_stable_under_growth(spark):
    small = assign_split(_docs(spark, 500), "doc_id")
    big = assign_split(_docs(spark, 1000), "doc_id")
    small_map = dict(small.collect())
    big_map = dict(big.collect())
    # growing the corpus never moves an existing key across the split
    assert all(big_map[k] == v for k, v in small_map.items())
    # split rate lands near 10% (hash uniformity, loose band)
    frac = sum(v == "test" for v in big_map.values()) / len(big_map)
    assert 0.05 < frac < 0.16


def test_split_disjoint_and_total(spark):
    out = assign_split(_docs(spark), "doc_id")
    assert out.filter(~F.col("split").isin("train", "test")).count() == 0
    assert out.count() == 1000


def test_deterministic_sample_is_subset_property(spark):
    s10 = {r.doc_id for r in
           deterministic_sample(_docs(spark), "doc_id", permille=100).collect()}
    s20 = {r.doc_id for r in
           deterministic_sample(_docs(spark), "doc_id", permille=200).collect()}
    assert s10 <= s20  # raising the rate only ADDS members


def test_stratified_sample_first_match_rates(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "en").otherwise("yo").alias("lang"))
    kept = stratified_sample(
        df, "doc_id",
        [(F.col("lang") == "yo", 1000),   # keep ALL rare-language docs
         (F.col("lang") == "en", 100)])   # ~10% of english
    counts = {r.lang: r.n for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["yo"] == 1000
    assert 50 < counts.get("en", 0) < 160


def test_containment_catches_swallowed_benchmark(spark):
    # corpus doc 1 contains the whole bench doc verbatim inside longer
    # text: Jaccard is low but containment is 1.0 — the leak signal
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "padding words here " +
             "the quick brown fox jumps over dogs" +
             " and then a very long tail of unrelated filler text "
             "continues for a while with many extra tokens"),
         (2, "completely different content about ships and harbors")],
        "doc_id long, text string")
    out = cross_corpus_containment(corpus, bench, k=3, threshold=0.9)
    rows = [(r.corpus_id, r.bench_id, r.containment) for r in out.collect()]
    assert len(rows) == 1 and rows[0][:2] == (1, 100) and rows[0][2] == 1.0


def test_containment_hot_shingle_guard(spark):
    bench = spark.createDataFrame([(9, "alpha beta gamma")],
                                  "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(5)],
        "doc_id long, text string")
    exact = cross_corpus_containment(corpus, bench, k=3, threshold=0.5)
    assert exact.count() == 5
    # dropping shingles shared by >3 corpus docs removes those pairs
    guarded = cross_corpus_containment(corpus, bench, k=3, threshold=0.5,
                                       max_shingle_df=3)
    assert guarded.count() == 0


def test_token_budget_shards_exact_prefix(spark):
    from elt_gluepipeline_spark.operators.sampling import token_budget_shards
    rows = [(i, 10 * (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    got = {r.doc_id: r.shard for r in
           token_budget_shards(df, "doc_id", F.col("toks"),
                               budget=100, n_partitions=8).collect()}
    run = 0
    for i, t in rows:  # serial reference: exclusive prefix / budget
        assert got[i] == run // 100, (i, got[i], run)
        run += t
    # shard ids are dense from 0
    assert min(got.values()) == 0


def test_token_budget_shards_partitioning_invariant(spark):
    from elt_gluepipeline_spark.operators.sampling import token_budget_shards
    df = spark.createDataFrame([(i, i % 13) for i in range(500)],
                               "doc_id long, toks long")
    a = {tuple(r) for r in token_budget_shards(
        df, "doc_id", F.col("toks"), budget=50, n_partitions=3).collect()}
    b = {tuple(r) for r in token_budget_shards(
        df.repartition(17), "doc_id", F.col("toks"), budget=50,
        n_partitions=11).collect()}
    assert a == b  # offsets + local prefix reconstruct the same global sum


def test_scrub_pii_cross_engine(spark):
    # the same RE2-compatible patterns must behave identically in Spark
    # (Java regex) and DuckDB (RE2) — tested, not assumed
    import duckdb
    from elt_gluepipeline_spark.functions.cleaning import (PII_PATTERNS,
                                                           scrub_pii)
    rows = [(1, "mail me at jane.doe+x@corp.example.org today"),
            (2, "call +1 (555) 123-4567 or 555.987.6543"),
            (3, "server at 192.168.0.1 responded"),
            (4, "clean text, nothing sensitive"),
            (5, "two addrs: a@b.io c@d.net")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spark_out = {r.doc_id: r.clean for r in
                 df.select("doc_id",
                           scrub_pii(F.col("text")).alias("clean")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, '{s}')" for i, s in rows)
                + ") v(doc_id, text)")
    expr = "text"
    for name, pat in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '<{name}>', 'g')"
    duck_out = dict(con.sql(f"SELECT doc_id, {expr} FROM t").fetchall())
    assert spark_out == duck_out
    assert "<email>" in spark_out[1] and "jane" not in spark_out[1]
    assert spark_out[2].count("<phone>") == 2
    assert "<ipv4>" in spark_out[3]
    assert spark_out[4] == rows[3][1]  # clean text untouched


def test_chunk_documents_windows_and_overlap(spark):
    from elt_gluepipeline_spark.operators.textstats import chunk_documents
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),  # 10 toks → 3 chunks
         (2, "a b"),                                  # short → 1 chunk
         (3, "   ")],                                 # empty → 0 chunks
        "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", size=4, overlap=1)
    got = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_chunk_tokens)
           for r in out.collect()}
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w3 w4 w5 w6", 4)   # 1-token overlap carried
    assert got[(1, 2)] == ("w6 w7 w8 w9", 4)   # tail covered exactly
    assert got[(2, 0)] == ("a b", 2)           # short doc: one ragged chunk
    assert set(got) == {(1, 0), (1, 1), (1, 2), (2, 0)}  # empty doc: none
    # every token of doc 1 appears in ≥1 chunk (coverage property)
    covered = set(" ".join(t for t, _ in
                           [got[(1, i)] for i in range(3)]).split())
    assert covered == {f"w{i}" for i in range(10)}


def test_weighted_sample_deterministic_and_weighted(spark):
    from elt_gluepipeline_spark.operators.sampling import weighted_sample
    rows = [(i, 1000 if i < 50 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample(df, "doc_id", F.col("w"), k=40, seed=7)
    ids = {r.doc_id for r in out.collect()}
    assert len(ids) == 40
    # heavy keys (1000x weight, 5% of rows) must dominate the sample
    assert sum(1 for i in ids if i < 50) >= 30
    # determinism under repartition: identical sample, identical keys
    again = weighted_sample(df.repartition(13), "doc_id", F.col("w"),
                            k=40, seed=7)
    assert {r.doc_id for r in again.collect()} == ids


def test_weighted_sample_excludes_nonpositive_and_small_input(spark):
    from elt_gluepipeline_spark.operators.sampling import weighted_sample
    df = spark.createDataFrame([(1, 5), (2, 0), (3, -2)],
                               "doc_id long, w long")
    out = weighted_sample(df, "doc_id", F.col("w"), k=10, seed=7)
    assert [r.doc_id for r in out.collect()] == [1]


def test_split_drift_flags_test_only_tokens(spark):
    from elt_gluepipeline_spark.plans.training import q80_split_drift
    # use the real query over testdata: smoothed KL must be finite
    # everywhere and ~zero for tokens split proportionally
    out = q80_split_drift(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    import math
    for r in out:
        assert math.isfinite(r.kl_term)
        assert r.c_train + r.c_test > 0
    # overall smoothed KL(test||train) over the union vocab is >= ~0
    # (strictly, KL >= 0 holds for the full normalized distributions;
    # smoothing keeps each term finite and the sum near-nonnegative)
    total = sum(r.kl_term for r in out)
    assert total > -1e-6


def test_budget_select_greedy_prefix_semantics(spark):
    """Greedy PREFIX, not knapsack: once the running total overflows,
    everything below the overflow row is out — even combinations that
    would have fit."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.sampling import budget_select

    df = spark.createDataFrame(
        [("a", 1, 50, 5), ("a", 2, 40, 4), ("a", 3, 30, 3),
         ("a", 4, 20, 1), ("b", 9, 10, 8)],
        "grp string, id int, score int, cost int")
    got = budget_select(df, "grp", F.col("score"), F.col("cost"),
                        8, order_tiebreak="id").collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, []).append((r.id, r.cum_cost))
    # a: cum 5, 9(x) -> prefix ends; 3+1 would fit but are not pulled in
    assert by_grp["a"] == [(1, 5)]
    assert by_grp["b"] == [(9, 8)]


def test_histogram_quantiles_accuracy_and_edges(spark):
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.aggregates import (
        histogram_quantiles)

    # uniform 0..9999: estimates must land within one bin width
    df = spark.range(10_000).select(F.col("id").cast("double").alias("v"))
    got = {r.q: r for r in histogram_quantiles(df, "v", qs=(0.5, 0.9),
                                               n_bins=100).collect()}
    width = 9999 / 100
    assert got[0.5].n_rows == 10_000
    assert abs(got[0.5].estimate - 5000) <= width
    assert abs(got[0.9].estimate - 9000) <= width
    # constant column: width 0 -> min for every q
    const = spark.range(50).select(F.lit(7.5).alias("v"))
    for r in histogram_quantiles(const, "v").collect():
        assert r.estimate == 7.5
    # all-null column -> empty result, no division blowup
    nul = spark.range(10).select(F.lit(None).cast("double").alias("v"))
    assert histogram_quantiles(nul, "v").count() == 0
