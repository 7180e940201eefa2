import pytest


def test_connected_components_transitive_chain(spark):
    from elt_gluepipeline_spark.operators.dedup import (connected_components,
                                                        keep_canonical)
    # chain 1-2-3 must collapse to ONE component even though (1,3) was
    # never a pair; 7-8 is a separate component; 99 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    comp = {(r.id, r.component)
            for r in connected_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 99)],
                                 "doc_id long")
    kept = sorted(r.doc_id for r in
                  keep_canonical(docs, connected_components(pairs),
                                 "doc_id").collect())
    assert kept == [1, 7, 99]  # one survivor per component + unpaired


def test_connected_components_long_chain_converges(spark):
    from elt_gluepipeline_spark.operators.dedup import connected_components
    # a 12-node path exercises multiple propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    comp = connected_components(pairs).collect()
    assert {r.component for r in comp} == {0}
    assert len(comp) == 13


def test_star_contraction_matches_min_label(spark):
    # star contraction (the distributed path) must label exactly like
    # union-find (the small-graph path): component = min reachable id.
    # Self-loops stay in the random edges; a node seen only in a
    # self-loop (500) is a singleton, and a pair with a NULL id is not
    # an edge (node 600 appears nowhere else, so it must vanish).
    import random
    from elt_gluepipeline_spark.operators.dedup import (
        connected_components, connected_components_star)
    rng = random.Random(11)
    # random graph: 60 nodes, 50 random edges → many components
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    assert any(a == b for a, b in edges)
    edges += [(500, 500), (None, 600)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {(r.id, r.component)
            for r in connected_components_star(pairs).collect()}
    uf = {(r.id, r.component)
          for r in connected_components(pairs).collect()}
    assert star == uf and len(star) > 0
    assert (500, 500) in star
    assert not any(600 in row for row in star)


def test_star_contraction_long_chain_few_rounds(spark):
    from elt_gluepipeline_spark.operators.dedup import \
        connected_components_star
    # a 40-hop path converges in O(log n) rounds — max_iters=8 would
    # be nowhere near enough for per-hop propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    comp = connected_components_star(pairs, max_iters=8).collect()
    assert {r.component for r in comp} == {0}
    assert len(comp) == 41


def _brute_incremental(new_rows, corpus_rows, k, threshold):
    """Python reference for incremental_jaccard_dedupe's contract."""
    def shingles(text):
        tok = text.split()
        return {" ".join(tok[i:i + k]) for i in range(len(tok) - k + 1)}

    docs = {i: (shingles(t), blk, True) for i, t, blk in new_rows}
    docs.update({i: (shingles(t), blk, False) for i, t, blk in corpus_rows})
    ids = sorted(docs)
    edges = {}
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            sx, bx, nx = docs[x]
            sy, by, ny = docs[y]
            if not (nx or ny) or bx != by or not sx or not sy:
                continue
            j = len(sx & sy) / len(sx | sy)
            if j >= threshold:
                edges.setdefault(x, set()).add(y)
                edges.setdefault(y, set()).add(x)
    # components via BFS
    comp = {}
    for s in ids:
        if s in comp or s not in edges:
            continue
        stack, members = [s], []
        seen = {s}
        while stack:
            u = stack.pop()
            members.append(u)
            for v in edges.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        label = min(members)
        for m in members:
            comp.setdefault(m, label)
    new_ids = {i for i, _, _ in new_rows}
    corpus_ids = {i for i, _, _ in corpus_rows}
    dirty = {comp[m] for m in corpus_ids if m in comp}
    survivors = set()
    for i in new_ids:
        if i not in comp:
            survivors.add(i)
        elif comp[i] not in dirty and comp[i] == i:
            survivors.add(i)
    return survivors


def test_incremental_jaccard_dedupe_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import \
        incremental_jaccard_dedupe

    # corpus ids NOT all smaller than new ids (order independence)
    corpus = [(2, "the quick brown fox jumps over the lazy dog", 0),
              (40, "pack my box with five dozen liquor jugs", 0),
              (41, "a completely different corpus document here now", 0)]
    new = [(10, "the quick brown fox jumps over the lazy cat", 0),   # ~2
           (11, "the quick brown fox jumps over the lazy cat", 0),   # dup of 10
           (12, "sphinx of black quartz judge my vow today", 0),     # clean
           (13, "sphinx of black quartz judge my vow tonight", 0),   # ~12
           (14, "totally unrelated text with no matches at all", 0),
           (15, "pack my box with six dozen liquor jugs", 0)]        # ~40
    expect = _brute_incremental(new, corpus, 3, 0.3)
    # sanity on the fixture: corpus-matched docs die, 12 beats 13
    assert 12 in expect and 13 not in expect and 14 in expect
    assert 10 not in expect and 11 not in expect and 15 not in expect

    new_df = spark.createDataFrame(new, "doc_id long, text string, blk int")
    corpus_df = spark.createDataFrame(corpus,
                                      "doc_id long, text string, blk int")
    out = incremental_jaccard_dedupe(
        new_df, corpus_df, "doc_id", "text", [F.col("blk")],
        k=3, threshold=0.3)
    assert {r.doc_id for r in out.collect()} == expect
    assert out.columns == new_df.columns


def test_incremental_dedupe_real_docs_vs_bruteforce(spark, sf_dir):
    """documents split even/odd: evens (pre-deduped) are the corpus,
    odds the new batch — Spark result == python brute force."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        blocked_jaccard_pairs, connected_components,
        incremental_jaccard_dedupe, keep_canonical)
    from elt_gluepipeline_spark.operators.textstats import n_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text").limit(200).cache()
    blocks = [F.col("lang"),
              F.floor(n_tokens(F.col("text")) / 10).cast("long")]
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    pairs = blocked_jaccard_pairs(evens, "doc_id", "text", blocks,
                                  k=3, threshold=0.2)
    corpus = keep_canonical(evens, connected_components(pairs), "doc_id")
    out = incremental_jaccard_dedupe(odds, corpus, "doc_id", "text",
                                     blocks, k=3, threshold=0.2)

    def block_of(lang, text):
        return (lang, len(text.strip().split()) // 10 if text.strip() else 0)

    new_rows = [(r.doc_id, r.text, block_of(r.lang, r.text))
                for r in odds.collect()]
    corpus_rows = [(r.doc_id, r.text, block_of(r.lang, r.text))
                   for r in corpus.collect()]
    expect = _brute_incremental(new_rows, corpus_rows, 3, 0.2)
    got = {r.doc_id for r in out.collect()}
    assert got == expect and len(got) > 0


def test_connected_components_fast_path_equals_distributed(spark,
                                                            monkeypatch):
    """The small-graph union-find path must produce exactly the same
    (id, component) labeling as the distributed star contraction, and
    graphs above the edge cap must be routed to the latter."""
    from elt_gluepipeline_spark.operators import dedup
    from elt_gluepipeline_spark.operators.dedup import (
        connected_components, connected_components_star)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23),
         (5, 99), (99, 4), (7, 7)],
        "id_a long, id_b long")
    fast = connected_components(pairs).collect()
    slow = connected_components_star(pairs).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    comp = {r.id: r.component for r in fast}
    assert comp[3] == 1 and comp[23] == 20 and comp[5] == 4 == comp[99]
    assert comp[7] == 7
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    routed = connected_components(pairs).collect()
    assert sorted(map(tuple, routed)) == sorted(map(tuple, fast))


def test_connected_components_fast_path_empty(spark):
    from elt_gluepipeline_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    assert connected_components(empty).columns == ["id", "component"]


def test_repeated_ngram_spans_handcrafted(spark):
    from elt_gluepipeline_spark.operators.dedup import repeated_ngram_spans
    # docs 1 and 2 share the 6-token run "a b c d e f" (two overlapping
    # repeated 5-grams -> ONE merged span of 6 tokens in each); doc 3 is
    # unique; doc 4 is an exact copy of doc 1 (fully covered -> empty);
    # doc 5 is too short to shingle; doc 6 is blank.
    rows = [
        (1, "x a b c d e f y z q"),
        (2, "m n a b c d e f o p"),
        (3, "u v w just unique words here today"),
        (4, "x a b c d e f y z q"),
        (5, "tiny doc"),
        (6, "   "),
    ]
    out = {r.doc_id: r for r in
           repeated_ngram_spans(
               spark.createDataFrame(rows, "doc_id long, text string"),
               "doc_id", "text", k=5, min_count=2).collect()}
    assert len(out) == 6
    # docs 1 & 4 are identical -> every 5-gram repeats -> fully excised
    assert out[1].covered_tokens == 10 and out[1].clean_text == ""
    assert out[4].covered_tokens == 10 and out[4].n_spans == 1
    # doc 2 shares only the middle run: grams starting at the 6-token
    # overlap window... the shared contiguous run "a b c d e f" gives
    # grams at positions 2 and 3 -> one island covering tokens 2..7
    assert out[2].n_spans == 1
    assert out[2].covered_tokens == 6
    assert out[2].clean_text == "m n o p"
    assert out[3].covered_tokens == 0 and out[3].n_spans == 0
    assert out[3].clean_text == "u v w just unique words here today"
    assert out[5].n_tokens == 2 and out[5].clean_text == "tiny doc"
    assert out[6].n_tokens == 0 and out[6].clean_text == ""


def test_tfidf_cosine_pairs_handcrafted(spark):
    from elt_gluepipeline_spark.operators.dedup import tfidf_cosine_pairs
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact clone of 1
        (3, "one two three four five six seven"),     # disjoint
        (4, "alpha beta gamma delta nine ten eleven"),  # partial overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.cosine
           for r in tfidf_cosine_pairs(docs, "doc_id", "text",
                                       k=3, df_min=2, df_max=25,
                                       threshold=0.01).collect()}
    # identical docs -> cosine exactly 1.0 after rounding
    assert out[(1, 2)] == 1.0
    # partial overlap -> a true fraction, symmetric across the clones
    assert 0.0 < out[(1, 4)] < 1.0
    assert out[(1, 4)] == out[(2, 4)]
    # doc 3 shares no shingle with anyone -> never appears
    assert not any(3 in p for p in out)


def test_prefix_filter_join_is_complete(spark):
    from pyspark.sql import functions as F
    from elt_gluepipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs, shingle_base, blocked_jaccard_pairs)
    # prefix filtering must find EVERY pair >= t — compare against the
    # unblocked SSJoin ground truth (single trivial block)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "a b c d e f g h", "a b c d e f g h",      # exact clones
            "a b c d e f x y", "p q r s t u v w",      # near + unrelated
            "p q r s t u zz ww", "only two",           # near + short
        ])], "doc_id long, text string")
    t = 0.3
    got = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
           prefix_filter_jaccard_pairs(docs, "doc_id", "text",
                                       k=3, threshold=t).collect()}
    want = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
            blocked_jaccard_pairs(docs, "doc_id", "text",
                                  [F.lit(1)], k=3, threshold=t).collect()}
    assert got == want and (0, 1) in got and got[(0, 1)] == 1.0


def test_incremental_lsh_matches_full_and_index_appends(spark):
    """incremental_lsh_dedup's cross-side pairs must equal the full
    minhash_lsh_pairs output restricted to (batch, corpus) pairs, and
    the band index must satisfy append == rebuild."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        incremental_lsh_dedup, lsh_band_entries, minhash_lsh_pairs,
        minhash_signatures, shingle_base)

    rows = []
    for i in range(40):
        words = [f"w{(i * 3 + j) % 25}" for j in range(12)]
        rows.append((i, " ".join(words)))
    rows.append((100, rows[7][1]))          # exact clone of doc 7
    rows.append((110, rows[12][1] + " zz"))  # near-dup of doc 12
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)

    inc = {(r.id_new, r.id_existing, round(r.jaccard, 9))
           for r in incremental_lsh_dedup(
               corpus, batch, "doc_id", "text", k=3, n_hashes=32,
               bands=8, threshold=0.3).collect()}
    full = minhash_lsh_pairs(docs, "doc_id", "text", k=3, n_hashes=32,
                             bands=8, threshold=0.3).collect()
    cross = {(max(r.id_a, r.id_b), min(r.id_a, r.id_b),
              round(r.jaccard, 9))
             for r in full
             if (r.id_a >= 100) != (r.id_b >= 100)}
    assert inc == cross and len(inc) >= 2   # the clone + the near-dup

    # append == rebuild: index over corpus+batch equals corpus index
    # UNION batch entries (band rows are a per-doc projection)
    def entries(df):
        sig = minhash_signatures(shingle_base(df, "doc_id", "text", [], k=3),
                                 n_hashes=32)
        return {tuple(r) for r in lsh_band_entries(
            sig, bands=8, rows_per_band=4).collect()}

    assert entries(docs) == entries(corpus) | entries(batch)


def _inc_docs(spark):
    rows = []
    for i in range(40):
        words = [f"w{(i * 3 + j) % 25}" for j in range(12)]
        rows.append((i, " ".join(words)))
    rows.append((100, rows[7][1]))          # exact clone of doc 7
    rows.append((110, rows[12][1] + " zz"))  # near-dup of doc 12
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_lsh_index_paths_agree(spark):
    """The three corpus-side plans — fit-in-plan (semi-joined verify),
    in-memory index with postings, and the parquet-round-tripped
    artifact — must produce identical decision rows."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        fit_lsh_dedup_index, incremental_lsh_dedup, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    kw = dict(k=3, n_hashes=32, bands=8, threshold=0.3)

    def rows(out):
        return {(r.id_new, r.id_existing, round(r.jaccard, 9))
                for r in out.collect()}

    base = rows(incremental_lsh_dedup(corpus, batch, "doc_id", "text", **kw))
    assert len(base) >= 2  # the clone + the near-dup

    idx = fit_lsh_dedup_index(corpus, "doc_id", "text", k=3, n_hashes=32,
                              bands=8)
    served = rows(incremental_lsh_dedup(None, batch, "doc_id", "text",
                                        index=idx, **kw))
    assert served == base

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        save_lsh_dedup_index(idx, f"{d}/lsh")
        loaded = load_lsh_dedup_index(spark, f"{d}/lsh")
        assert loaded.postings is not None
        stored = rows(incremental_lsh_dedup(None, batch, "doc_id", "text",
                                            index=loaded, **kw))
    assert stored == base


def test_incremental_lsh_artifact_append_equals_rebuild(spark,
                                                      monkeypatch):
    """Admitting a batch via append_lsh_dedup_index must leave the
    stored artifact identical to a from-scratch fit over corpus∪batch —
    for ALL THREE tables (entries, sizes, postings), row for row. An
    append that crashes after its entries write and is retried must
    leave the same rows: the retry may not store the delta twice."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from elt_gluepipeline_spark.operators.dedup import (
        append_lsh_dedup_index, fit_lsh_dedup_index, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    kw = dict(k=3, n_hashes=32, bands=8)

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text", **kw), f"{d}/a")
        append_lsh_dedup_index(
            fit_lsh_dedup_index(batch, "doc_id", "text", **kw), f"{d}/a")
        save_lsh_dedup_index(
            fit_lsh_dedup_index(docs, "doc_id", "text", **kw), f"{d}/b")

        # the same append, crashed after its entries write, then retried
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text", **kw), f"{d}/c")
        real_parquet, calls = DataFrameWriter.parquet, []

        def parquet(self, path, *args, **kwargs):
            calls.append(path)
            if len(calls) == 2:
                raise RuntimeError("crash after the entries write")
            return real_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError):
            append_lsh_dedup_index(
                fit_lsh_dedup_index(batch, "doc_id", "text", **kw), f"{d}/c")
        monkeypatch.undo()
        assert calls[0].endswith("entries")
        append_lsh_dedup_index(
            fit_lsh_dedup_index(batch, "doc_id", "text", **kw), f"{d}/c")

        a = load_lsh_dedup_index(spark, f"{d}/a")
        b = load_lsh_dedup_index(spark, f"{d}/b")
        c = load_lsh_dedup_index(spark, f"{d}/c")
        for got in (a, c):
            for ta, tb in ((got.entries, b.entries), (got.sizes, b.sizes),
                           (got.postings, b.postings)):
                assert sorted(tuple(r) for r in ta.collect()) == \
                       sorted(tuple(r) for r in tb.collect())


def _plan_subtree(plan: str, anchor) -> list[str]:
    """Lines of the (first) subtree rooted at the line matching
    ``anchor`` (a substring or predicate) in a Spark tree-formatted
    plan string (children print with strictly deeper node offsets)."""
    if isinstance(anchor, str):
        a, anchor = anchor, (lambda line: a in line)
    def offset(line):
        return len(line) - len(line.lstrip(" :+-"))
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if anchor(line):
            d = offset(line)
            sub = [line]
            for nxt in lines[i + 1:]:
                if offset(nxt) <= d:
                    break
                sub.append(nxt)
            return sub
    return []


def test_incremental_lsh_verify_touches_only_candidate_docs(spark):
    """The O(batch+candidates) pin: in BOTH verify modes the corpus
    side of the exact-Jaccard verify must be candidate-restricted — a
    LeftSemi join on the candidate id set sits BELOW the corpus-side
    shingle explode (no-postings mode) / directly above the postings
    relation (artifact mode). Without it the full corpus's shingles
    would be exploded and shuffled into the verify join."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        fit_lsh_dedup_index, incremental_lsh_dedup, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    kw = dict(k=3, n_hashes=32, bands=8, threshold=0.3)

    # mode 1: no postings -> verify re-shingles candidate docs only.
    # The BATCH side is also an explode_outer (the single-evaluation
    # shingling idiom), so the plan has several outer=true Generates:
    # the batch one has no join below it at all, while the corpus
    # verify one must sit above the candidate-id LeftSemi. Pin: at
    # least one outer-generate subtree carries the LeftSemi, and any
    # outer generate WITHOUT one must be join-free (batch side) rather
    # than an unrestricted corpus explode.
    out = incremental_lsh_dedup(corpus, batch, "doc_id", "text", **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # an outer generate prints as "Generate explode(...), <qualifier>,
    # true, [s...]"
    lines = plan.splitlines()
    subs = [_plan_subtree("\n".join(lines[i:]),
                          lambda l: "Generate explode" in l
                          and "], true, [" in l)
            for i, l in enumerate(lines)
            if "Generate explode" in l and "], true, [" in l]
    assert subs, f"verify explode(outer) missing from plan:\n{plan}"
    assert any(any("LeftSemi" in ln for ln in sub) for sub in subs), \
        f"corpus shingle explode is not candidate-restricted:\n{plan}"
    for sub in subs:
        if not any("LeftSemi" in ln for ln in sub):
            assert not any(" Join " in ln or "Join " in ln.lstrip(" :+-")
                           for ln in sub), \
                f"unrestricted shingle explode feeds a join:\n{plan}"

    # mode 2: stored artifact -> verify reads postings AND sizes, each
    # semi-joined to candidate ids; corpus text appears nowhere in the
    # plan. (sizes is one row per CORPUS doc: scanned unrestricted it
    # would be a per-batch linear-in-corpus term.)
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text", k=3, n_hashes=32,
                                bands=8), f"{d}/lsh")
        loaded = load_lsh_dedup_index(spark, f"{d}/lsh")
        served = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                       index=loaded, **kw)
        splan = served._jdf.queryExecution().optimizedPlan().toString()
        lines = splan.splitlines()
        semis = [_plan_subtree("\n".join(lines[i:]), "LeftSemi")
                 for i, line in enumerate(lines) if "LeftSemi" in line]
        assert semis, f"postings verify has no LeftSemi:\n{splan}"
        assert any(any("Relation" in ln and "parquet" in ln and ",s" in ln
                       for ln in sub) for sub in semis), \
            f"LeftSemi does not restrict the postings scan:\n{splan}"
        assert any(any("n_shingles" in ln and "parquet" in ln
                       for ln in sub) for sub in semis), \
            f"sizes scan is not candidate-restricted (LeftSemi):\n{splan}"


def test_lsh_index_delete_suppresses_and_is_broadcast(spark):
    """delete_from_lsh_dedup_index: tombstoned corpus docs must never
    appear as id_existing, everything else byte-identical — and the
    suppression must be a BROADCAST anti-join on the candidate set
    (delete-sized build side), pinned in the executed plan."""
    import tempfile

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        delete_from_lsh_dedup_index, fit_lsh_dedup_index,
        incremental_lsh_dedup, load_lsh_dedup_index, save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    kw = dict(k=3, n_hashes=32, bands=8, threshold=0.3)

    def rows(out):
        return {(r.id_new, r.id_existing, round(r.jaccard, 9))
                for r in out.collect()}

    with tempfile.TemporaryDirectory() as d:
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text", k=3, n_hashes=32,
                                bands=8), f"{d}/lsh")
        base = rows(incremental_lsh_dedup(
            None, batch, "doc_id", "text",
            index=load_lsh_dedup_index(spark, f"{d}/lsh"), **kw))
        assert any(ex == 7 for _, ex, _j in base)   # clone target matched

        # tombstone doc 7 (the clone's corpus twin): its pairs vanish,
        # every other pair is untouched
        delete_from_lsh_dedup_index(
            spark.createDataFrame([(7,)], ["doc_id"]), f"{d}/lsh")
        idx = load_lsh_dedup_index(spark, f"{d}/lsh")
        assert idx.tombstones is not None
        out = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                    index=idx, **kw)
        assert rows(out) == {p for p in base if p[1] != 7}

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, \
            f"tombstone suppression is not a broadcast anti-join:\n{plan}"


def test_lsh_index_compact_equals_rebuild(spark):
    """compact_lsh_dedup_index must leave the stored tables identical
    to a fresh fit over the surviving corpus and clear the tombstones
    (crash recovery: tests/test_swap_recovery.py)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        compact_lsh_dedup_index, delete_from_lsh_dedup_index,
        fit_lsh_dedup_index, incremental_lsh_dedup, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)
    kw = dict(threshold=0.3, **fit_kw)

    def rows(out):
        return {(r.id_new, r.id_existing, round(r.jaccard, 9))
                for r in out.collect()}

    with tempfile.TemporaryDirectory() as d:
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw),
            f"{d}/lsh")
        dead = corpus.filter(F.col("doc_id") % 3 == 1).select("doc_id")
        delete_from_lsh_dedup_index(dead, f"{d}/lsh")
        before = rows(incremental_lsh_dedup(
            None, batch, "doc_id", "text",
            index=load_lsh_dedup_index(spark, f"{d}/lsh"), **kw))

        compact_lsh_dedup_index(spark, f"{d}/lsh")
        assert not os.path.isdir(f"{d}/lsh/tombstones")
        got = load_lsh_dedup_index(spark, f"{d}/lsh")
        assert got.tombstones is None
        survivors = corpus.join(dead, "doc_id", "left_anti")
        want = fit_lsh_dedup_index(survivors, "doc_id", "text", **fit_kw)
        for ta, tb in ((got.entries, want.entries), (got.sizes, want.sizes),
                       (got.postings, want.postings)):
            assert {tuple(r) for r in ta.collect()} == \
                   {tuple(r) for r in tb.collect()}
        # serve answer unchanged by the physical reclaim
        assert rows(incremental_lsh_dedup(
            None, batch, "doc_id", "text", index=got, **kw)) == before


def test_lsh_partitioned_entries_prunes_probe_scan(spark):
    """save_lsh_dedup_index(partition_entries=P): serve output must be
    identical to the unpartitioned layout, the probe join's entries
    scan must carry PartitionFilters (the O(corpus)-scan kill), append
    must reuse the stored P and equal a rebuild, and compaction must
    preserve the layout."""
    import tempfile

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        ENTRIES_PBUCKET, append_lsh_dedup_index, compact_lsh_dedup_index,
        delete_from_lsh_dedup_index, fit_lsh_dedup_index,
        incremental_lsh_dedup, load_lsh_dedup_index, save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)
    kw = dict(threshold=0.3, **fit_kw)

    def rows(out):
        return {(r.id_new, r.id_existing, round(r.jaccard, 9))
                for r in out.collect()}

    with tempfile.TemporaryDirectory() as d:
        flat, part = f"{d}/flat", f"{d}/part"
        idx = fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw)
        save_lsh_dedup_index(idx, flat)
        save_lsh_dedup_index(idx, part, partition_entries=8)

        base = rows(incremental_lsh_dedup(
            None, batch, "doc_id", "text",
            index=load_lsh_dedup_index(spark, flat), **kw))
        loaded = load_lsh_dedup_index(spark, part)
        assert loaded.entries_partitions == 8
        served = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                       index=loaded, **kw)
        assert rows(served) == base

        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and ENTRIES_PBUCKET in plan, \
            f"entries scan is not partition-pruned:\n{plan}"

        # append reuses the stored P: admitted-batch index == rebuild
        corpus2 = docs  # corpus ∪ batch
        append_lsh_dedup_index(
            fit_lsh_dedup_index(batch, "doc_id", "text", **fit_kw), part)
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus2, "doc_id", "text", **fit_kw),
            f"{d}/part2", partition_entries=8)
        a = load_lsh_dedup_index(spark, part)
        b = load_lsh_dedup_index(spark, f"{d}/part2")
        assert {tuple(r) for r in a.entries.collect()} == \
               {tuple(r) for r in b.entries.collect()}

        # compaction keeps the partitioned layout serving + pruned
        delete_from_lsh_dedup_index(
            spark.createDataFrame([(7,)], ["doc_id"]), part)
        compact_lsh_dedup_index(spark, part)
        got = load_lsh_dedup_index(spark, part)
        assert got.entries_partitions == 8
        out2 = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                     index=got, **kw)
        assert rows(out2) == {p for p in base if p[1] != 7}
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan2 and ENTRIES_PBUCKET in plan2


def test_repartition_entries_migrates_layout(spark, tmp_path):
    """repartition_entries: rebucket's analog for the LSH serve layout.
    Pins: (a) unpartitioned->P and P->P' migrations
    serve the SAME pairs as a flat fit, partition-pruned; (b) appends
    after migration land under the NEW P (≡ a fresh partitioned
    rebuild)."""
    import os

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        ENTRIES_PBUCKET, append_lsh_dedup_index, fit_lsh_dedup_index,
        incremental_lsh_dedup, load_lsh_dedup_index, repartition_entries,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)
    kw = dict(threshold=0.3, **fit_kw)

    def rows(out):
        return {(r.id_new, r.id_existing, round(r.jaccard, 9))
                for r in out.collect()}

    d = str(tmp_path)
    idx = fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw)
    save_lsh_dedup_index(idx, f"{d}/lsh")            # UNPARTITIONED seed
    base = rows(incremental_lsh_dedup(
        None, batch, "doc_id", "text",
        index=load_lsh_dedup_index(spark, f"{d}/lsh"), **kw))

    # (a) flat -> P=4: same pairs, pruned probe scan
    repartition_entries(spark, f"{d}/lsh", 4)
    m1 = load_lsh_dedup_index(spark, f"{d}/lsh")
    assert m1.entries_partitions == 4
    out1 = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                 index=m1, **kw)
    assert rows(out1) == base
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and ENTRIES_PBUCKET in plan

    # P=4 -> P=16 must also hold (the grown-corpus migration)
    repartition_entries(spark, f"{d}/lsh", 16)
    m2 = load_lsh_dedup_index(spark, f"{d}/lsh")
    assert m2.entries_partitions == 16
    assert rows(incremental_lsh_dedup(None, batch, "doc_id", "text",
                                      index=m2, **kw)) == base

    # (b) an append AFTER migration uses the new P: stored entries ==
    # a fresh P=16 rebuild over corpus ∪ batch, directory-for-directory
    append_lsh_dedup_index(
        fit_lsh_dedup_index(batch, "doc_id", "text", **fit_kw), f"{d}/lsh")
    save_lsh_dedup_index(
        fit_lsh_dedup_index(docs, "doc_id", "text", **fit_kw),
        f"{d}/fresh", partition_entries=16)
    got = load_lsh_dedup_index(spark, f"{d}/lsh")
    want = load_lsh_dedup_index(spark, f"{d}/fresh")
    assert {tuple(r) for r in got.entries.collect()} == \
           {tuple(r) for r in want.entries.collect()}
    parts = {p for p in os.listdir(f"{d}/lsh/entries")
             if p.startswith(f"{ENTRIES_PBUCKET}=")}
    assert parts == {p for p in os.listdir(f"{d}/fresh/entries")
                     if p.startswith(f"{ENTRIES_PBUCKET}=")}


def test_lsh_save_layout_contract_guards(spark, tmp_path):
    """(a) append with a partition_entries that differs
    from the stored P raises (the delta would land under directories
    the stored P never probes — silent missed duplicates); (b) append
    with partition_entries onto an UNPARTITIONED table raises (mixed
    layout); (c) an unpartitioned overwrite of a partitioned index
    replaces its layout (a stale P would make load filter on a missing
    _pbucket column)."""
    import pytest
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        fit_lsh_dedup_index, incremental_lsh_dedup, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)

    d = str(tmp_path)
    idx = fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw)
    delta = fit_lsh_dedup_index(batch, "doc_id", "text", **fit_kw)

    save_lsh_dedup_index(idx, f"{d}/part", partition_entries=8)
    with pytest.raises(ValueError, match="stored layout"):
        save_lsh_dedup_index(delta, f"{d}/part", mode="append",
                             partition_entries=4)

    save_lsh_dedup_index(idx, f"{d}/flat")
    with pytest.raises(ValueError, match="UNPARTITIONED"):
        save_lsh_dedup_index(delta, f"{d}/flat", mode="append",
                             partition_entries=8)

    # (c) an unpartitioned overwrite replaces the layout
    save_lsh_dedup_index(idx, f"{d}/part")          # default: flat
    loaded = load_lsh_dedup_index(spark, f"{d}/part")
    assert loaded.entries_partitions is None
    # and the index still serves (no _pbucket filter on a missing col)
    out = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                index=loaded, threshold=0.3, **fit_kw)
    assert out.count() >= 0


def test_lsh_compact_to_empty_partitioned_index(spark, tmp_path):
    """Compacting a PARTITIONED index in which every doc is tombstoned
    writes a partitioned empty frame — no schema-bearing file at all.
    The schema the manifest stores must keep the table loadable and
    serving (zero matches)."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        compact_lsh_dedup_index, delete_from_lsh_dedup_index,
        fit_lsh_dedup_index, incremental_lsh_dedup, load_lsh_dedup_index,
        save_lsh_dedup_index)

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)

    d = str(tmp_path)
    save_lsh_dedup_index(
        fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw),
        f"{d}/lsh", partition_entries=8)
    delete_from_lsh_dedup_index(corpus.select("doc_id"), f"{d}/lsh")
    compact_lsh_dedup_index(spark, f"{d}/lsh")

    got = load_lsh_dedup_index(spark, f"{d}/lsh")   # must not raise
    assert got.entries.count() == 0
    assert got.entries_partitions == 8
    out = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                index=got, threshold=0.3, **fit_kw)
    assert out.count() == 0


def test_lsh_auto_layout_selection(spark, tmp_path, monkeypatch):
    """partition_entries="auto" picks the layout from the written data
    per the measured flat/partitioned crossover (1e7 rows, README
    "Scale evidence (round 11)"): small tables stay FLAT (the partition
    overhead is all cost below the measured crossover), large ones are
    migrated in place to auto_entries_partitions()'s P through
    repartition_entries — and later appends reuse that stored P.
    The formula itself is pinned at the measured campaign points."""
    import pytest
    from pyspark.sql import functions as F

    import elt_gluepipeline_spark.operators.dedup as dd
    from elt_gluepipeline_spark.operators.dedup import (
        auto_entries_partitions, fit_lsh_dedup_index, incremental_lsh_dedup,
        load_lsh_dedup_index, save_lsh_dedup_index)

    # formula: below crossover -> flat; measured points land on the
    # campaign's P; discovery cap holds
    assert auto_entries_partitions(1_000_000) is None
    assert auto_entries_partitions(20_000_000) == 256
    assert auto_entries_partitions(400_000_000) == 4096
    assert auto_entries_partitions(10**12) == dd.AUTO_PARTITION_MAX

    docs = _inc_docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter(F.col("doc_id") >= 100)
    fit_kw = dict(k=3, n_hashes=32, bands=8)
    idx = fit_lsh_dedup_index(corpus, "doc_id", "text", **fit_kw)
    d = str(tmp_path)

    def pairs(index):
        out = incremental_lsh_dedup(None, batch, "doc_id", "text",
                                    index=index, threshold=0.3, **fit_kw)
        return sorted((r["id_new"], r["id_existing"])
                      for r in out.collect())

    # below the threshold: auto == flat (no layout written)
    save_lsh_dedup_index(idx, f"{d}/small", partition_entries="auto")
    small = load_lsh_dedup_index(spark, f"{d}/small")
    assert small.entries_partitions is None
    want = pairs(small)
    assert want  # the clone + near-dup must be found

    # above the (patched) threshold: auto partitions, appends reuse P
    monkeypatch.setattr(dd, "AUTO_PARTITION_MIN_ENTRIES", 1)
    save_lsh_dedup_index(idx, f"{d}/big", partition_entries="auto")
    big = load_lsh_dedup_index(spark, f"{d}/big")
    n_entries = big.entries.count()
    assert big.entries_partitions == auto_entries_partitions(n_entries)
    assert pairs(big) == want
    delta = fit_lsh_dedup_index(batch, "doc_id", "text", **fit_kw)
    save_lsh_dedup_index(delta, f"{d}/big", mode="append")
    assert (load_lsh_dedup_index(spark, f"{d}/big").entries_partitions
            == big.entries_partitions)

    # auto is a fit/overwrite decision, never an append one
    with pytest.raises(ValueError, match="auto"):
        save_lsh_dedup_index(delta, f"{d}/big", mode="append",
                             partition_entries="auto")


def test_shared_shingle_base_matches_independent(spark):
    """One shingle_base_cached frame shared
    across the prefix-filter truth side and the minhash LSH side (the
    q171/q189 shape) yields pair sets identical to each operator
    building its own base — and the base is actually persisted, so the
    shingling HOF evaluates once, not once per consumer."""
    from elt_gluepipeline_spark.operators.dedup import (
        minhash_lsh_pairs, prefix_filter_jaccard_pairs, shingle_base_cached)
    from elt_gluepipeline_spark.operators._cache import (
        release_operator_caches)

    docs = spark.createDataFrame(
        [(i, f"tok{i % 4} alpha beta gamma delta tok{i % 3} "
              f"epsilon zeta eta theta iota word{i}")
         for i in range(40)] + [(100, "a b")],  # <3 shingles edge case
        "doc_id long, text string")

    def pairset(df):
        return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}

    indep_truth = pairset(prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.3))
    indep_found = pairset(minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=32, bands=8, threshold=0.3))
    release_operator_caches()

    base = shingle_base_cached(docs, "doc_id", "text", k=3)
    # the shared frame is persisted (the whole point: one evaluation)
    assert base.storageLevel.useMemory or base.storageLevel.useDisk
    shared_truth = pairset(prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.3, base=base))
    shared_found = pairset(minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=32, bands=8, threshold=0.3, base=base))
    release_operator_caches()

    assert shared_truth == indep_truth
    assert shared_found == indep_found
    assert indep_truth  # non-degenerate fixture: some true pairs exist


def test_blocked_jaccard_persist_base_gate(spark, sf_dir):
    """blocked_jaccard_pairs persists the shingle base it builds, for
    every caller: each q18-pair consumer leaves at least one
    registry cache behind after its build. A caller-passed base gives
    the same rows as the internal one."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators._cache import (
        release_operator_caches)
    from elt_gluepipeline_spark.operators.dedup import (
        blocked_jaccard_pairs, shingle_base)
    from elt_gluepipeline_spark.plans import registry

    specs = registry()
    release_operator_caches()
    for name in ("q56_neardup_groups", "q59_dedupe_corpus",
                 "q149_component_split", "q172_keep_best",
                 "q196_star_components"):
        specs[name].build(spark, sf_dir)
        assert release_operator_caches() >= 1, name

    docs = spark.createDataFrame(
        [(i, "en", f"alpha beta gamma delta tok{i % 3} epsilon zeta "
                    f"eta theta word{i % 5}") for i in range(30)],
        "doc_id long, lang string, text string")
    blocks = [F.col("lang")]

    def pairs(base):
        return {(r.id_a, r.id_b, r.jaccard) for r in blocked_jaccard_pairs(
            docs, "doc_id", "text", blocks, k=3, threshold=0.2,
            base=base).collect()}

    internal = pairs(None)
    passed = pairs(shingle_base(docs, "doc_id", "text", blocks, k=3))
    assert internal == passed
    assert internal  # non-degenerate fixture


def test_dedup_argument_checks_raise_value_error(spark):
    """Argument checks raise ValueError, which ``python -O`` keeps
    (it strips asserts): a band count that does not divide n_hashes on
    all three LSH entry points, a non-positive threshold on the
    inverted-index join, a Hamming band split that does not fit, a PQ subspace count that does not
    divide the dimension, and IVFADC serving without coarse cells."""
    import pytest
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.dedup import (
        blocked_jaccard_pairs, fit_lsh_dedup_index, hamming_banded_pairs,
        incremental_lsh_dedup, minhash_lsh_pairs)
    from elt_gluepipeline_spark.operators.similarity import (
        fit_pq_artifact, ivf_pq_topk_serve)

    docs = _inc_docs(spark)
    lsh_calls = [
        lambda: minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=32,
                                  bands=5),
        lambda: fit_lsh_dedup_index(docs, "doc_id", "text", n_hashes=32,
                                    bands=5),
        lambda: incremental_lsh_dedup(docs, docs, "doc_id", "text",
                                      n_hashes=32, bands=5),
    ]
    for call in lsh_calls:
        with pytest.raises(ValueError, match="bands must divide"):
            call()
    for t in (0.0, -0.1):
        with pytest.raises(ValueError, match="threshold > 0"):
            blocked_jaccard_pairs(docs, "doc_id", "text", [F.lit(1)],
                                  threshold=t)
    fps = spark.createDataFrame([(1, 5), (2, 7)], "id long, h long")
    for bits, bands in ((56, 5), (64, 4), (0, 4)):
        with pytest.raises(ValueError, match="bands dividing bits"):
            hamming_banded_pairs(fps, "id", "h", bits=bits, bands=bands)
    vecs = spark.createDataFrame([(1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        fit_pq_artifact(vecs, m=2, k=2)
    flat = fit_pq_artifact(vecs, m=1, k=2)
    with pytest.raises(ValueError, match="n_cells"):
        ivf_pq_topk_serve(vecs, vecs, 1, flat)


@pytest.mark.parametrize("case", [
    "salted_join_right", "salted_join_no_hashable_column",
    "zorder_one_column", "zorder_too_wide", "chunk_overlap_ge_size",
    "chunk_negative_overlap", "bloom_partial_word"])
def test_argument_checks_raise_value_error(spark, case):
    """The skew, layout, chunking and Bloom operators check their
    arguments with ValueError, which ``python -O`` keeps."""
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.bloom import bloom_fit
    from elt_gluepipeline_spark.operators.skew import salted_join
    from elt_gluepipeline_spark.operators.textstats import chunk_documents
    from elt_gluepipeline_spark.sources.writers import zorder_key

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    maps = spark.createDataFrame([({"a": 1},)], "k map<string,int>")
    calls = {
        "salted_join_right": lambda: salted_join(docs, docs, ["doc_id"],
                                                 how="right"),
        "salted_join_no_hashable_column": lambda: salted_join(maps, maps,
                                                              ["k"]),
        "zorder_one_column": lambda: zorder_key("doc_id"),
        "zorder_too_wide": lambda: zorder_key(*[F.lit(1)] * 4, bits=16),
        "chunk_overlap_ge_size": lambda: chunk_documents(
            docs, "doc_id", "text", size=4, overlap=4),
        "chunk_negative_overlap": lambda: chunk_documents(
            docs, "doc_id", "text", size=4, overlap=-1),
        "bloom_partial_word": lambda: bloom_fit(docs, "doc_id", m_bits=100),
    }
    with pytest.raises(ValueError):
        calls[case]()
