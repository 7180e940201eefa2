"""Distributed BPE fit (operators/bpe.py) vs a pure-python reference:
the rule list, the encoded sequences, and determinism under
repartitioning must all match exactly."""

import pytest


def _py_bpe_fit(texts, n_merges, min_pair_count=2):
    from collections import Counter
    vocab = Counter()
    for t in texts:
        for w in t.strip().split():
            if w:
                vocab[w] += 1
    seqs = {w: list(w) for w in vocab}
    rules = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, n in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        top = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if top[1] < min_pair_count:
            break
        (a, b), _ = top
        rules.append((a, b))
        for w in seqs:
            s, out = seqs[w], []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return rules, seqs


def _py_encode(text, seqs):
    out = []
    for w in text.strip().split():
        if w:
            out.extend(seqs[w])
    return out


TEXTS = ["the cat sat on the mat",
         "the bat and the cat chat",
         "that hat is the best hat",
         "thin mats that cats pat"]


def test_bpe_fit_matches_python_reference(spark):
    from elt_gluepipeline_spark.operators.bpe import (bpe_encode,
                                                      bpe_fit_batched)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    rules = bpe_fit_batched(df, "text", n_merges=8)
    py_rules, seqs = _py_bpe_fit(TEXTS, 8)
    assert rules == py_rules and len(rules) > 3

    enc = {r.doc_id: list(r.tokens)
           for r in bpe_encode(df, "doc_id", "text", rules).collect()}
    for i, t in enumerate(TEXTS):
        assert enc[i] == _py_encode(t, seqs), (i, enc[i])


def test_bpe_fit_partitioning_invariant(spark):
    from elt_gluepipeline_spark.operators.bpe import bpe_fit_batched

    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    r1 = bpe_fit_batched(df, "text", n_merges=5)
    r2 = bpe_fit_batched(df.repartition(7), "text", n_merges=5)
    assert r1 == r2


def test_bpe_fit_on_real_docs(spark, sf_dir):
    from elt_gluepipeline_spark.operators.bpe import bpe_fit_batched

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "text").limit(100))
    rules = bpe_fit_batched(docs, "text", n_merges=4)
    texts = [r.text for r in docs.collect()]
    py_rules, _ = _py_bpe_fit(texts, 4)
    assert rules == py_rules and len(rules) == 4


def test_bpe_empty_corpus(spark):
    from elt_gluepipeline_spark.operators.bpe import bpe_fit_batched

    df = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_fit_batched(df, "text", n_merges=3) == []


def test_bpe_batched_same_rules_fewer_rounds(spark, sf_dir):
    """Batched rounds must reproduce the sequential rule list EXACTLY
    (the equivalence-guarded batch — same encode output follows) in
    measurably fewer driver rounds; sequential pays one round per
    merge."""
    from elt_gluepipeline_spark.operators.bpe import bpe_fit_batched
    from elt_gluepipeline_spark.sources.readers import read_table

    texts = [r.text for r in read_table(spark, sf_dir, "documents")
             .select("text").limit(200).collect()]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    st: dict = {}
    bat = bpe_fit_batched(docs, "text", n_merges=12, batch_size=6, stats=st)
    seq, _ = _py_bpe_fit(texts, 12)
    assert seq == bat                      # identical ordered rule list
    assert len(seq) == 12
    assert st["rounds"] <= 6               # vs 12 sequential rounds


def test_bpe_batched_batch_size_one_degenerates_to_sequential(spark):
    from elt_gluepipeline_spark.operators.bpe import bpe_fit_batched

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer newest wide wider widest low low")],
        "doc_id long, text string")
    st: dict = {}
    want, _ = _py_bpe_fit(
        ["low lower lowest newer newest wide wider widest low low"], 6)
    assert bpe_fit_batched(docs, "text", n_merges=6, batch_size=1,
                           stats=st) == want
    assert st["rounds"] >= 6
