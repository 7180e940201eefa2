from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.textstats import (bpe_ish_tokens,
                                                        fingerprint_md5,
                                                        fingerprint_tokens,
                                                        langid_en_heuristic,
                                                        n_tokens,
                                                        stopword_ratio)


def _one(spark, col, value):
    return (spark.createDataFrame([(value,)], "text string")
                 .select(col.alias("out")).collect()[0].out)


def test_n_tokens(spark):
    assert _one(spark, n_tokens(F.col("text")), "a  b\tc") == 3
    assert _one(spark, n_tokens(F.col("text")), "   ") == 0


def test_stopword_ratio(spark):
    assert _one(spark, stopword_ratio(F.col("text")), "the cat") == 0.5
    assert _one(spark, stopword_ratio(F.col("text")), "cat dog") == 0.0


def test_langid(spark):
    en = "the cat sat on the mat and it was happy for a while"
    other = "gato perro casa arbol cielo mar tierra fuego agua viento"
    assert _one(spark, langid_en_heuristic(F.col("text")), en) == "en"
    assert _one(spark, langid_en_heuristic(F.col("text")), other) == "other"


def test_fingerprint_md5_normalizes_whitespace(spark):
    a = _one(spark, fingerprint_md5(F.col("text")), "Hello   World")
    b = _one(spark, fingerprint_md5(F.col("text")), "  hello world ")
    assert a == b


def test_fingerprint_tokens_order_and_case_sensitive(spark):
    a = _one(spark, fingerprint_tokens(F.col("text")), "a b c")
    assert a != _one(spark, fingerprint_tokens(F.col("text")), "c b a")
    assert a != _one(spark, fingerprint_tokens(F.col("text")), "A b c")
    assert a == _one(spark, fingerprint_tokens(F.col("text")), " a  b\tc ")


def test_bpe_ish_tokens(spark):
    toks = _one(spark, bpe_ish_tokens(F.col("text")), "don't stop, now!")
    assert "don" in toks and "stop" in toks


def test_bpe_ish_tokens_matches_re2_extraction(spark):
    """The Java lookaround split and the RE2 'word runs + punct runs'
    extraction (used by the DuckDB oracle) must agree on hostile input."""
    import duckdb
    cases = ["hello, world!", "a!b?c", " !a", "!? ", "a ! ! b", "",
             "  spaced   out  ", "under_score-y 3.14 (x)", "...", "a..b..c"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, text string")
    spark_counts = {r.i: r.n for r in df.select(
        "i", F.size(bpe_ish_tokens(F.col("text"))).alias("n")).collect()}
    con = duckdb.connect()
    for i, c in enumerate(cases):
        want = con.sql(
            r"SELECT len(regexp_extract_all(?, '\w+|[^\w\s]'))",
            params=[c]).fetchone()[0]
        assert spark_counts[i] == want, (c, spark_counts[i], want)


def test_repetition_signals(spark):
    from elt_gluepipeline_spark.operators.textstats import (bigrams,
                                                            singleton_count,
                                                            top_count,
                                                            tokens)
    tok = tokens(F.col("text"))
    assert _one(spark, top_count(tok), "a b a c a b") == 3
    assert _one(spark, top_count(tok), "   ") == 0
    assert _one(spark, singleton_count(tok), "a b a c a b") == 1
    assert _one(spark, bigrams(tok), "a b c") == ["a b", "b c"]
    assert _one(spark, bigrams(tok), "solo") == []
    assert _one(spark, bigrams(tok), "") == []


def test_quantize_int8_roundtrip(spark):
    import math

    from elt_gluepipeline_spark.operators.similarity import quantize_int8
    df = spark.createDataFrame(
        [(1, [0.5, -1.25, 0.0, 0.75]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    r1 = rows[1]
    # max|v| maps to ±127; everything else scales linearly, half-up
    assert r1.code == [51, -127, 0, 76]
    assert math.isclose(r1.scale, 1.25 / 127.0, rel_tol=0, abs_tol=5e-7)
    assert r1.code_sum == 0 and r1.code_l1 == 254
    # reconstruction error bounded by half a quantization step
    assert 0.0 <= r1.mse <= (r1.scale / 2) ** 2
    r2 = rows[2]  # all-zero vector: scale-0 guard
    assert r2.code == [0, 0, 0, 0] and r2.scale == 0.0 and r2.mse == 0.0


def test_tfidf_top_terms_scores_and_ranking(spark):
    import math

    from elt_gluepipeline_spark.operators.textstats import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "apple apple banana"),   # apple tf=2 rare-ish
         (2, "banana cherry"),
         (3, "banana banana banana"),  # banana in every doc -> low idf
         (4, "")],
        "doc_id long, text string")
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    got = {(r.doc_id, r.token): (r.tf, r.tfidf) for r in out.collect()}
    # N=4; apple df=1 -> idf=ln(5/2); banana df=3 -> idf=ln(5/4)
    assert got[(1, "apple")] == (2, round(2 * math.log(5 / 2), 6))
    assert got[(3, "banana")] == (3, round(3 * math.log(5 / 4), 6))
    # k=2 cap per doc, empty doc contributes nothing
    assert len([k for k in got if k[0] == 1]) == 2
    assert not [k for k in got if k[0] == 4]
    # per-doc ranking: apple (rarer) outranks banana in doc 1
    assert got[(1, "apple")][1] > got[(1, "banana")][1]


def test_hashing_trick_vectors_portable_and_exact(spark):
    import hashlib

    from elt_gluepipeline_spark.operators.textstats import \
        hashing_trick_vectors
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "alpha")],
        "doc_id long, text string")
    out = {r.doc_id: (list(r.vec), r.sq_norm, r.l1_norm)
           for r in hashing_trick_vectors(docs, "doc_id", "text",
                                          dim=16, seed=7).collect()}

    def ref_vec(toks):
        v = [0] * 16
        for t in toks:
            h = int(hashlib.md5(f"{t}#7".encode()).hexdigest()[:15], 16)
            v[h % 16] += 1 if h % 32 < 16 else -1
        return v
    assert out[1][0] == ref_vec(["alpha", "beta", "alpha"])
    assert out[2] == ([0] * 16, 0, 0)              # empty doc -> zero vector
    assert out[3][0] == ref_vec(["alpha"])
    vec1 = out[1][0]
    assert out[1][1] == sum(x * x for x in vec1)   # norms audit the vector
    assert out[1][2] == sum(abs(x) for x in vec1) == 3  # no collisions here


def test_bigram_perplexity_orders_quality_and_is_deterministic(spark):
    from elt_gluepipeline_spark.operators.textstats import bigram_perplexity
    common = "the cat sat on the mat " * 10
    docs = spark.createDataFrame(
        [(1, common.strip()),                    # high-probability transitions
         (2, (common + "the cat sat on the mat").strip()),
         (3, "zq xv jk wp qn rr ty ui op as"),   # every bigram unseen elsewhere
         (4, "single"),                          # no bigram -> excluded
         (5, "")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_bigrams, r.nll, r.ppl)
           for r in bigram_perplexity(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}                 # 4, 5 have no bigrams
    # the repetitive docs' transitions dominate the corpus model ->
    # far lower perplexity than the gibberish doc
    assert out[1][2] < out[3][2] and out[2][2] < out[3][2]
    assert all(v[2] >= 1.0 for v in out.values())  # ppl = exp(mean -ln p) >= 1
    again = {r.doc_id: (r.n_bigrams, r.nll, r.ppl)
             for r in bigram_perplexity(docs.repartition(7),
                                        "doc_id", "text").collect()}
    assert again == out                          # decimal log-sum: exact


def test_repetition_linear_equals_hof_on_long_docs(spark):
    """The explode+agg twin must be value-identical to the per-row HOF
    composition — including repeated-heavy and empty docs."""
    import random

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.textstats import (
        bigrams, repetition_stats_linear, singleton_count, tokens,
        top_count)

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(120)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(200, 400))))
            for i in range(30)]
    rows += [(97, None), (98, ""), (99, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = docs.select("doc_id", tokens(F.col("text")).alias("_tok"))
    b = base.select("doc_id", "_tok", bigrams(F.col("_tok")).alias("_big"))
    n, nb = F.size("_tok"), F.size("_big")
    hof = b.select(
        "doc_id", n.cast("long").alias("n_tokens"),
        F.round(F.when(n == 0, F.lit(0.0))
                 .otherwise(top_count(F.col("_tok")) / n), 6)
         .alias("top_token_frac"),
        F.round(F.when(nb == 0, F.lit(0.0))
                 .otherwise(top_count(F.col("_big")) / nb), 6)
         .alias("top_bigram_frac"),
        F.round(F.when(n == 0, F.lit(0.0))
                 .otherwise((n - singleton_count(F.col("_tok"))) / n), 6)
         .alias("dup_token_frac"))
    lin = repetition_stats_linear(docs, "doc_id", "text")
    assert sorted(map(tuple, hof.collect())) == \
        sorted(map(tuple, lin.collect()))
