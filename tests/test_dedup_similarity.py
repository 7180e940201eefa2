from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.dedup import (blocked_jaccard_pairs,
                                                    exact_dedupe,
                                                    minhash_lsh_pairs,
                                                    minhash_signatures,
                                                    shingle_base, simhash64,
                                                    simhash_table,
                                                    word_shingles)
from elt_gluepipeline_spark.operators.similarity import (cosine,
                                                         knn_bruteforce,
                                                         lsh_ann)


def test_exact_dedupe(spark):
    df = spark.createDataFrame([(1, "same"), (2, "same"), (3, "other")],
                               "doc_id long, text string")
    out = exact_dedupe(df, "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")))
    got = {r.canonical_id: r.n_copies for r in out.collect()}
    assert got == {1: 2, 3: 1}


def test_word_shingles_edges(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = df.select(word_shingles(F.col("t"), 3).alias("sh")).collect()
    assert list(out[0].sh) == ["a b c", "b c d"]
    assert list(out[1].sh) == []  # shorter than k


NEAR_A = "the quick brown fox jumps over the lazy dog again and again today"
NEAR_B = "the quick brown fox jumps over the lazy dog again and again tomorrow"
FAR = "completely different words appear in this unrelated document about spark"


def _docs(spark):
    return spark.createDataFrame(
        [(1, NEAR_A, "en"), (2, NEAR_B, "en"), (3, FAR, "en")],
        "doc_id long, text string, lang string")


def test_minhash_finds_planted_near_dup(spark):
    pairs = minhash_lsh_pairs(_docs(spark), "doc_id", "text",
                              k=2, n_hashes=32, bands=16, threshold=0.3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)


def test_blocked_jaccard_finds_planted_near_dup(spark):
    pairs = blocked_jaccard_pairs(
        _docs(spark), "doc_id", "text",
        [F.col("lang")], k=2, threshold=0.3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert 0.3 <= pairs[0].jaccard <= 1.0


def test_simhash_table_matches_expression_version(spark):
    """The scalable explode+agg plan and the per-row expression fold
    must produce identical hashes."""
    docs = _docs(spark)
    via_table = {r.doc_id: r.simhash
                 for r in simhash_table(docs, "doc_id", "text").collect()}
    via_expr = {r.doc_id: r.h
                for r in docs.select("doc_id",
                                     simhash64(F.col("text")).alias("h")).collect()}
    assert via_table == via_expr


def test_minhash_signatures_shape(spark):
    base = shingle_base(_docs(spark), "doc_id", "text", [], k=2)
    sig = minhash_signatures(base, n_hashes=8)
    assert sig.count() == 3 and len(sig.columns) == 9  # doc_id + 8 mins


def test_simhash_similar_texts_close(spark):
    df = _docs(spark).select("doc_id", simhash64(F.col("text")).alias("h"))
    h = {r.doc_id: r.h for r in df.collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming(h[1], h[2]) < hamming(h[1], h[3])
    # identical text → identical hash
    df2 = spark.createDataFrame([(9, NEAR_A, "en")], "doc_id long, text string, lang string")
    h9 = df2.select(simhash64(F.col("text")).alias("h")).collect()[0].h
    assert h9 == h[1]


def _vecs(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [-1.0, 0.0, 0.0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_bruteforce_exact(spark):
    v = _vecs(spark)
    out = knn_bruteforce(v.filter(F.col("vec_id") == 1), v, k=2)
    rows = sorted(out.collect(), key=lambda r: -r.cosine)
    assert [r.neighbor_id for r in rows] == [2, 3]
    assert rows[0].cosine > 0.99


def test_lsh_ann_subset_of_bruteforce_schema(spark):
    v = _vecs(spark)
    out = lsh_ann(v.filter(F.col("vec_id") == 1), v, k=2, dim=3, n_planes=2)
    assert out.columns == ["query_id", "neighbor_id", "cosine"]
    for r in out.collect():  # only same-bucket candidates, never self
        assert r.neighbor_id != 1


def test_cosine_expression(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])],
                               "a array<double>, b array<double>")
    assert df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c == 0.0


def _recall(approx_rows, exact_rows):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    hit = sum(1 for r in approx_rows
              if r.neighbor_id in exact.get(r.query_id, set()))
    tot = sum(len(v) for v in exact.values())
    return hit / tot if tot else 1.0


def test_ivf_ann_recall_floor(spark, sf_dir):
    from elt_gluepipeline_spark.operators.similarity import ivf_ann
    from elt_gluepipeline_spark.sources.readers import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = knn_bruteforce(q, emb, k=3).collect()
    approx = ivf_ann(q, emb, k=3, n_cells=8, n_probe=4, seed=42).collect()
    assert len(approx) > 0
    # every returned neighbor really lives in a probed cell and is
    # correctly scored; with half the cells probed expect decent recall
    assert _recall(approx, exact) >= 0.4


def test_ivf_ann_full_probe_equals_bruteforce(spark, sf_dir):
    from elt_gluepipeline_spark.operators.similarity import ivf_ann
    from elt_gluepipeline_spark.sources.readers import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(q, emb, k=3).collect()}
    # probing EVERY cell makes IVF exhaustive → must equal brute force
    full = {(r.query_id, r.neighbor_id)
            for r in ivf_ann(q, emb, k=3, n_cells=8, n_probe=8, seed=42).collect()}
    assert full == exact


def test_simhash_portable_matches_python_reference(spark):
    import hashlib
    import re

    from elt_gluepipeline_spark.operators.dedup import portable_hash60

    texts = {1: "the quick brown fox jumps", 2: "hello world hello again"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def py_simhash(text: str) -> int:
        votes = [0] * 60
        for tok in re.split(r"\s+", text.strip()):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    got = {r.doc_id: r.simhash
           for r in simhash_table(df, "doc_id", "text",
                                  hash_col=portable_hash60, bits=60).collect()}
    assert got == {i: py_simhash(t) for i, t in texts.items()}


def test_minhash_portable_finds_near_dups(spark):
    from elt_gluepipeline_spark.operators.dedup import (
        PortableMinhashFamily, portable_band_hash)
    # identical shingle sets → identical signatures → guaranteed band
    # collision (a 0.7-jaccard pair can legitimately miss all bands:
    # P(miss) ≈ (1 - 0.7^4)^8 ≈ 10%, deterministic per family seed)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
         (3, "completely different words with no overlap here")],
        "doc_id long, text string")
    out = minhash_lsh_pairs(df, "doc_id", "text", k=3, n_hashes=32, bands=8,
                            threshold=0.3,
                            pair_family=PortableMinhashFamily(32, seed=1),
                            band_hash=portable_band_hash).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == 1.0


def test_kmeans_lloyd_assigns_nearest_and_converges(spark):
    from elt_gluepipeline_spark.operators.similarity import (
        fit_pq_artifact, kmeans_assign_serve)
    # two tight planted clusters far apart -> k=2 must separate them
    rows = ([(i, [10.0 + 0.01 * i, 10.0]) for i in range(6)]
            + [(100 + i, [-10.0 - 0.01 * i, -10.0]) for i in range(6)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    art = fit_pq_artifact(df, m=1, k=2, n_iter=3, seed=7)
    out = kmeans_assign_serve(df, art).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell, set()).add(r.vec_id)
    assert len(by_cell) == 2
    clusters = sorted(by_cell.values(), key=min)
    assert clusters[0] == {0, 1, 2, 3, 4, 5}
    assert clusters[1] == {100 + i for i in range(6)}
    # converged assignment: every dist is within the tight cluster radius
    assert all(r.dist < 1.0 for r in out)


def test_kmeans_lloyd_deterministic_under_repartition(spark, sf_dir):
    from elt_gluepipeline_spark.operators.similarity import (
        fit_pq_artifact, kmeans_assign_serve)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def fit_serve(df):
        art = fit_pq_artifact(df, m=1, k=4, n_iter=2, seed=7)
        return art, kmeans_assign_serve(df, art).collect()

    art_a, a = fit_serve(emb)
    art_b, b = fit_serve(emb.repartition(7))
    assert art_a == art_b
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_lloyd_empty_input(spark):
    from elt_gluepipeline_spark.operators.similarity import fit_pq_artifact
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert fit_pq_artifact(df, m=1, k=3, n_iter=2) is None


def test_edit_distance_pairs_exact_recall_vs_bruteforce(spark):
    import itertools

    from elt_gluepipeline_spark.operators.dedup import edit_distance_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    names = ["red widget", "red widgit", "red widgets", "blue bolt",
             "blue belt", "bolt", "bot", "xx", "x", "green ring",
             "green rings", "greem ring", "completely different"]
    df = spark.createDataFrame([(n,) for n in names], "nm string")
    got = {(r.id_a, r.id_b): r.dist
           for r in edit_distance_pairs(df, "nm", "nm", max_dist=2).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(names), 2):
        d = lev(a, b)
        if d <= 2:
            want[(a, b)] = d
    # exact recall AND precision, including short strings (x, xx, bot)
    assert got == want
    assert got[("bolt", "bot")] == 1   # short <-> long branch pair
    assert ("x", "xx") in got          # both-short branch pair


def test_edit_distance_pairs_no_self_or_dup_pairs(spark):
    from elt_gluepipeline_spark.operators.dedup import edit_distance_pairs
    df = spark.createDataFrame([("aaaa bbbb",), ("aaaa bbbc",)], "nm string")
    rows = edit_distance_pairs(df, "nm", "nm", max_dist=2).collect()
    assert len(rows) == 1 and rows[0].dist == 1


def test_product_quantize_exact_when_k_covers_corpus(spark):
    from elt_gluepipeline_spark.operators.similarity import product_quantize
    rows = [(i, [float(i), float(-i), float(2 * i), float(i * i)])
            for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k=8 > 6 rows: the codebooks hold the 6 seeds the corpus has
    for k in (6, 8):
        out = product_quantize(df, m=2, k=k, n_iter=2, seed=7).collect()
        # every vector is a seed -> its own codeword -> zero distortion
        assert len(out) == 6
        assert all(r.dist == 0.0 for r in out)
        assert all(len(r.codes) == 2 for r in out)
        assert all(0 <= c < 6 for r in out for c in r.codes)


def test_product_quantize_deterministic_and_groups_duplicates(spark):
    from elt_gluepipeline_spark.operators.similarity import product_quantize
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = product_quantize(emb, m=4, k=8, n_iter=2, seed=7).collect()
    b = product_quantize(emb.repartition(7), m=4, k=8,
                         n_iter=2, seed=7).collect()
    assert sorted((r.vec_id, tuple(r.codes), r.dist) for r in a) \
        == sorted((r.vec_id, tuple(r.codes), r.dist) for r in b)
    # distortion bounded: dist is the summed subspace squared error and
    # must be finite and non-negative everywhere
    assert all(r.dist >= 0.0 for r in a)


def test_pq_adc_exact_when_k_covers_corpus(spark):
    from elt_gluepipeline_spark.operators.similarity import (
        fit_pq_artifact, pq_adc_topk_serve)
    rows = [(i, [float(i), float(3 - i), float(i * i % 5), 1.0])
            for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2)
    got = {}
    art = fit_pq_artifact(df, m=2, k=6, n_iter=2, seed=7)
    for r in pq_adc_topk_serve(q, df, 2, art).collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_dist))

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))
    vecs = dict(rows)
    for qid in (0, 1):
        want = sorted(((j, round(l2(vecs[qid], vecs[j]), 6))
                       for j in vecs if j != qid),
                      key=lambda t: (t[1], t[0]))[:2]
        # every vector is its own codeword -> ADC distance IS exact L2
        assert sorted(got[qid], key=lambda t: (t[1], t[0])) == want


def test_ivf_pq_full_probe_equals_exhaustive_adc(spark, sf_dir):
    from elt_gluepipeline_spark.operators.similarity import (
        fit_pq_artifact, ivf_pq_topk_serve, pq_adc_topk_serve)
    from elt_gluepipeline_spark.sources.readers import read_table
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    art = fit_pq_artifact(emb, m=4, k=8, n_iter=2, n_cells=4)
    # probing EVERY cell removes the IVF approximation: identical to
    # q77's exhaustive ADC ranking, code for code and distance for
    # distance
    full = sorted(map(tuple, ivf_pq_topk_serve(
        q, emb, 3, art, n_probe=4).collect()))
    adc = sorted(map(tuple, pq_adc_topk_serve(q, emb, 3, art).collect()))
    assert full == adc
    # and a partial probe returns a subset of the exhaustive candidates
    part = sorted(map(tuple, ivf_pq_topk_serve(
        q, emb, 3, art, n_probe=1).collect()))
    assert len(part) <= len(full)


def test_hamming_banded_pairs_complete_below_band_bound(spark):
    """Pigeonhole completeness: with 4 bands, every pair at hamming <= 3
    must be found; verify against a brute-force popcount join."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import hamming_banded_pairs

    base = 0b10110011101011001110101100111010101100111010110011101010
    vals = [base, base ^ 1, base ^ (1 << 20) ^ (1 << 45),
            base ^ 0b111 << 30, (~base) & ((1 << 56) - 1), 12345]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "fid long, h long")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in hamming_banded_pairs(df, "fid", "h", bits=56,
                                         bands=4, max_hamming=3).collect()}
    a = df.selectExpr("fid AS id_a", "h AS h_a")
    b = df.selectExpr("fid AS id_b", "h AS h_b")
    brute = (a.crossJoin(b).filter("id_a < id_b")
              .withColumn("hamming",
                          F.bit_count(F.col("h_a")
                                       .bitwiseXOR(F.col("h_b")))
                           .cast("long"))
              .filter("hamming <= 3"))
    want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    assert got == want and len(want) >= 3


def test_dhash_brightness_invariant_and_exact(spark):
    """dHash over the real BMP round-trip equals the direct integer
    comparison hash, and a +k brightness shift (no overflow) does not
    change it."""
    import numpy as np
    import pandas as pd

    from elt_gluepipeline_spark.operators.multimodal import (dhash_images,
                                                             encode_bmp)

    rng = np.random.RandomState(7)
    img = rng.randint(0, 240, size=(8, 8)).astype(np.uint8)

    def expected(arr):
        bits = (arr[:, :-1].astype(int) < arr[:, 1:].astype(int))
        return sum(1 << i for i, b in enumerate(bits.reshape(-1)) if b)

    rows = [(0, bytearray(encode_bmp(img))),
            (1, bytearray(encode_bmp((img + 9).astype(np.uint8))))]
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": [r[0] for r in rows],
                      "payload": [bytes(r[1]) for r in rows]}))
    got = {r.asset_id: r.dhash for r in dhash_images(assets).collect()}
    assert got[0] == expected(img)
    assert got[1] == got[0]  # brightness-shift invariance


def test_sampled_recall_certifies_against_full(spark, sf_dir,
                                               monkeypatch):
    """q189's sampled estimator == q171's full certification when the
    sample is forced to cover the whole corpus: pooled n_true and
    n_hit must agree exactly (the estimator is exact per pair — LSH
    banding is a pure per-pair function, so restriction commutes)."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.plans import training
    from elt_gluepipeline_spark.plans.training import (
        q171_lsh_recall, q189_lsh_recall_sampled)

    monkeypatch.setattr(training, "_Q189_SAMPLE_N", 10**6)
    full = q171_lsh_recall(spark, sf_dir).collect()
    sampled = (q189_lsh_recall_sampled(spark, sf_dir)
               .agg(F.sum("n_true").alias("n_true"),
                    F.sum("n_hit").alias("n_hit")).collect()[0])
    if not full:  # empty corpus guard — nothing to certify
        assert sampled.n_true is None
        return
    assert sampled.n_true == full[0].n_true
    assert sampled.n_hit == full[0].n_hit
