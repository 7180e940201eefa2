"""Text-analysis expressions for training-data pipelines: tokenizing,
stopword ratios, language-ID heuristics, fingerprinting.

All JVM-side array/higher-order expressions — no Python in the hot
path, so these scale to corpus-sized inputs (the per-row cost is a
codegen'd loop over tokens, and nothing shuffles until the caller
aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword set used by the stopword ratio and the lang-ID
# heuristic. Kept deliberately tiny & frozen: it is part of the query
# semantics (the DuckDB oracle embeds the same list).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
LANGID_EN_THRESHOLD = 0.12  # stopword density at or above which a doc is 'en'
# decimals a score keeps before any ranking, so order reproduces across
# engines
ROUND_TO = 6


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, r"\s+"))


def bpe_ish_tokens(col: Column) -> Column:
    """Token counting closer to a BPE pre-tokenizer: split on word
    boundaries keeping punctuation runs as tokens (GPT-2-style regex,
    simplified to what Java & RE2 both support)."""
    return F.filter(
        F.split(F.col(col) if isinstance(col, str) else col,
                r"(?=[^\w])|(?<=[^\w])"),
        lambda t: F.trim(t) != "",
    )


def n_tokens(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens in ``EN_STOPWORDS`` (0 for empty docs)."""
    toks = tokens(F.lower(col))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size(toks))


def langid_en_heuristic(col: Column) -> Column:
    """N-gram-free language-ID heuristic: English-stopword density.
    Returns 'en' when density ≥ ``LANGID_EN_THRESHOLD`` else 'other'.
    (A real n-gram profile model slots in behind the same Column
    contract.)"""
    return F.when(stopword_ratio(col) >= LANGID_EN_THRESHOLD,
                  "en").otherwise("other")


def fingerprint_md5(col: Column) -> Column:
    """Canonical-text fingerprint: md5 of lowercased,
    whitespace-collapsed text. Engine-portable (md5 is md5 everywhere),
    used for exact near-canonical dedup."""
    canon = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(F.encode(canon, "UTF-8"))


def fingerprint_rolling(col: Column) -> Column:
    """Chained rolling hash over tokens — a 64-bit content fingerprint
    that is order-sensitive (unlike a bag-of-words hash): acc_{i+1} =
    xxhash64(acc_i, token_i). Hash chaining instead of polynomial
    multiply keeps it overflow-free under ANSI mode. Sequential fold
    via F.aggregate; Spark-only (no SQL oracle twin — xxhash64 is
    Spark-specific)."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(acc, t),
    )


def top_count(arr: Column) -> Column:
    """Occurrence count of the most frequent element of ``arr`` (0 for
    empty). Nested higher-order expression — O(distinct·n) per row,
    codegen'd, no shuffle: the right shape when rows are documents
    (bounded token counts), vs an explode+groupBy that would shuffle
    every token occurrence in the corpus. For LONG documents use
    ``repetition_stats_linear`` — same outputs, O(n) per row."""
    return F.when(F.size(arr) == 0, F.lit(0)).otherwise(
        F.array_max(F.transform(
            F.array_distinct(arr),
            lambda x: F.size(F.filter(arr, lambda y: y == x)))))


def singleton_count(arr: Column) -> Column:
    """Number of distinct elements of ``arr`` occurring exactly once."""
    return F.size(F.filter(
        F.array_distinct(arr),
        lambda x: F.size(F.filter(arr, lambda y: y == x)) == 1))


def repetition_stats_linear(df, id_col: str, text_col: str):
    """LINEAR-shape twin of the per-row HOF repetition signals
    (``top_count``/``singleton_count`` as used by q63): explode each
    document's unigrams and bigrams once, count per (doc, gram) with
    map-side partial aggregation, then reduce per doc — per-row cost
    is O(tokens), not O(distinct·tokens).

    The HOF form is right when rows are bounded documents (no shuffle
    at all); THIS form is right for long documents (books, transcripts)
    where the per-row distinct·n term explodes: the shuffle carries one
    row per distinct (doc, gram) — bounded by document content, and
    each reducer holds one gram's count, never a document.

    Output is column- and value-identical to the HOF composition:
    (id, n_tokens, top_token_frac, top_bigram_frac, dup_token_frac).
    """
    from pyspark.sql import functions as F

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok"))
    base = base.select(
        id_col, "_tok", bigrams(F.col("_tok")).alias("_big"))
    # one explode for both gram kinds: tag each occurrence u/b
    grams = base.select(
        F.col(id_col),
        F.explode(F.concat(
            F.transform("_tok", lambda t: F.struct(
                F.lit("u").alias("k"), t.alias("g"))),
            F.transform("_big", lambda t: F.struct(
                F.lit("b").alias("k"), t.alias("g"))),
        )).alias("_e"))
    counts = (grams.groupBy(id_col, F.col("_e.k").alias("_k"),
                            F.col("_e.g").alias("_g"))
                   .agg(F.count(F.lit(1)).alias("_c")))
    stats = (counts.groupBy(id_col)
             .agg(F.max(F.when(F.col("_k") == "u", F.col("_c")))
                   .alias("_maxu"),
                  F.max(F.when(F.col("_k") == "b", F.col("_c")))
                   .alias("_maxb"),
                  F.sum(F.when((F.col("_k") == "u") & (F.col("_c") == 1), 1)
                         .otherwise(0)).alias("_singles")))
    # empty docs emit no gram rows — re-attach them via left join.
    # This sizes side is a SECOND evaluation of the per-row
    # expressions, so it splits once per row and derives the bigram
    # count arithmetically instead of rebuilding the bigram ARRAY: by
    # the bigrams() contract size(bigrams(t)) == 0 for size(t) < 2
    # (incl. empty), NULL tok -> NULL both ways (CASE keeps NULL in the
    # otherwise branch), else size(t) - 1.
    sizes = df.select(F.col(id_col),
                      F.size(tokens(F.col(text_col))).alias("_n"))
    sizes = sizes.select(id_col, "_n",
                         F.when(F.col("_n") < 2, F.lit(0))
                          .otherwise(F.col("_n") - 1).alias("_nb"))
    out = sizes.join(stats, [id_col], "left")
    n, nb = F.col("_n"), F.col("_nb")
    top_tok = F.when(n == 0, F.lit(0.0)).otherwise(F.col("_maxu") / n)
    top_big = F.when(nb == 0, F.lit(0.0)).otherwise(F.col("_maxb") / nb)
    dup_tok = F.when(n == 0, F.lit(0.0)) \
               .otherwise((n - F.col("_singles")) / n)
    return out.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(top_tok, ROUND_TO).alias("top_token_frac"),
        F.round(top_big, ROUND_TO).alias("top_bigram_frac"),
        F.round(dup_tok, ROUND_TO).alias("dup_token_frac"))


def bigrams(tok: Column) -> Column:
    """Adjacent token pairs joined with a space; <2 tokens → empty."""
    n = F.size(tok)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(F.slice(tok, 1, n - 1), F.slice(tok, 2, n - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b)))


def tfidf_top_terms(df, id_col: str, text_col: str, *, k: int = 5):
    """Top-k TF-IDF terms per document — the classic keyword/topic
    signal a corpus curation pipeline derives before clustering or
    relevance filtering.

    tfidf = tf * ln((N + 1) / (df + 1)) with tf the in-document term
    count, df the number of documents containing the term, N the corpus
    size (add-one smoothed so unseen/ubiquitous terms stay finite).

    Plan shape (three shuffles, each on a different key, all with
    map-side partial aggregation):
      1. explode tokens → groupBy(doc, term) count   (tf),
      2. window count over term                      (df — the tf table
         is already one row per (doc, term), so a partition count IS
         the document frequency; no second aggregate, no join back),
      3. top-k per doc (rank window partitioned by doc).
    N rides in as a broadcast 1-row aggregate (scalar-subquery shape,
    no driver collect). Scores are rounded BEFORE ranking so ordering
    reproduces across engines; ties break on the term string.

    Output: (id, token, tf, tfidf), ≤ k rows per document.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .windows import top_n_per_key

    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    doc_f = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scored = (tf.crossJoin(F.broadcast(n_docs))
                .select(id_col, "token", "tf",
                        F.round(F.col("tf")
                                * F.log((F.col("_n") + F.lit(1.0))
                                        / (doc_f + F.lit(1.0))),
                                ROUND_TO).alias("tfidf")))
    top = top_n_per_key(scored, [id_col],
                        [F.col("tfidf").desc(), F.col("token")], k)
    return top.select(id_col, "token", "tf", "tfidf")


def chunk_documents(df, id_col: str, text_col: str, *, size: int,
                    overlap: int = 0):
    """Split each document into token-window chunks of ``size`` tokens
    with ``overlap`` tokens carried between consecutive chunks — the
    long-document preprocessing step between cleaning and tokenization.

    Pure array expressions: tokenize once, derive chunk-start offsets
    with sequence(), posexplode one row per chunk, slice + rejoin.
    Map-only (no shuffle); chunk fan-out is bounded by doc length /
    stride. Empty docs yield no chunks.

    Output: (id, chunk_id, chunk_text, n_chunk_tokens).
    """
    from pyspark.sql import functions as F
    assert 0 <= overlap < size, "need 0 <= overlap < chunk size"
    stride = size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # last chunk start: the largest multiple of stride still inside the
    # doc; short docs get exactly one chunk (start 0)
    starts = F.when(n <= 0, F.array().cast("array<int>")) \
              .otherwise(F.sequence(
                  F.lit(0),
                  F.greatest(F.ceil((n - F.lit(size)) / F.lit(stride)), F.lit(0))
                   .cast("int") * F.lit(stride),
                  F.lit(stride)))
    base = df.select(F.col(id_col), toks.alias("_tok"),
                     F.posexplode(starts).alias("chunk_id", "_start"))
    chunk = F.slice("_tok", F.col("_start") + 1, size)
    return base.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"))


def hashing_trick_vectors(df, id_col: str, text_col: str, *, dim: int = 64,
                          seed: int = 7):
    """Feature-hashing ("hashing trick") text vectorizer: token counts
    folded into a fixed ``dim``-length signed-count vector — the
    trainless, vocabulary-free way to embed a corpus in-engine (Weinberger
    et al. 2009): bucket = hash(token) mod dim, sign = one more hash
    bit (unbiases collisions in expectation), value_i = Σ sign over
    tokens hashing to bucket i.

    Engine-portable: the bucket/sign hash is the md5-derived
    portable_hash60 of ``token#seed`` (any engine re-derives every
    component); the sign bit is the next base-dim digit of the hash
    (pmod against 2·dim — exact LONG arithmetic; a floor(h / dim)
    would round-trip the 60-bit hash through a double and corrupt the
    bit above 2^53).

    Plan: explode tokens → hash once per occurrence → codegen'd
    groupBy(id, bucket) hash aggregation (map-side partials cap the
    shuffle at ≤ dim entries per document per partition) → one
    map_from_entries assembly per document. Per-token work is O(1); a
    per-dimension higher-order fold over the token array is O(dim ·
    tokens) and HOFs are interpreted, which measured 30× slower at
    dim=64. Empty documents survive via a left join back to the id
    domain (zero vector). Values stay exact integers — downstream
    L2-normalize in double if cosine geometry is needed.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import portable_hash60

    ids = df.select(F.col(id_col)).distinct()
    t = df.select(F.col(id_col),
                  F.explode(tokens(F.col(text_col))).alias("_tk"))
    h = portable_hash60(F.concat_ws("#", F.col("_tk"), F.lit(str(seed))))
    occ = t.select(
        id_col,
        F.pmod(h, F.lit(dim)).cast("int").alias("_b"),
        F.when(F.pmod(h, F.lit(2 * dim)) < F.lit(dim),
               F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("_s"))
    ent = (occ.groupBy(id_col, "_b").agg(F.sum("_s").alias("_v"))
              .groupBy(id_col)
              .agg(F.map_from_entries(
                  F.collect_list(F.struct("_b", "_v"))).alias("_m")))
    dense = ids.join(ent, id_col, "left")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("_m", i.cast("int")),
                             F.lit(0).cast("long")))
    out = dense.select(id_col, vec.alias("vec"))
    sq = F.aggregate("vec", F.lit(0).cast("long"), lambda a, v: a + v * v)
    return out.select(id_col, "vec",
                      sq.alias("sq_norm"),
                      F.aggregate("vec", F.lit(0).cast("long"),
                                  lambda a, v: a + F.abs(v)).alias("l1_norm"))


def bigram_perplexity(df, id_col: str, text_col: str):
    """In-corpus bigram language-model perplexity per document — the
    CCNet-style quality signal: documents whose token transitions are
    improbable under the corpus's own bigram statistics (gibberish,
    boilerplate, wrong-language) score high and get filtered.

    Model: p(w2|w1) = (C(w1,w2) + 1) / (C(w1·) + V), add-one smoothed,
    V = distinct prefix vocabulary; per-doc NLL is the mean -ln p over
    its bigram occurrences, perplexity = exp(NLL). The model IS the
    corpus: both counts come from window aggregations over the exploded
    bigram-occurrence table (the q66 trick — the occurrence table
    partition-counted by (w1,w2) and by (w1) is exactly the bigram and
    prefix frequency), V rides in as a broadcast scalar aggregate.

    Determinism discipline: a double Σln across rows is accumulation-
    order-dependent, so each -ln p term is rounded to 12 decimals and
    summed as exact DECIMAL — bit-identical for any partitioning and
    any engine (the dsum() discipline applied to log space; 1e-12
    per-term error is ~1e-9 relative on real documents, far below any
    filtering threshold).

    Plan: explode → window(w1,w2) → window(w1) → groupBy(doc) — three
    shuffles over the token stream, the honest cost of training on the
    full corpus. At 100 TB train the model on a hash sample
    (``operators.sampling.stratified_sample``) and broadcast it
    instead; the scoring join shape is unchanged.

    Output: (id, n_bigrams, nll, ppl) for documents with ≥1 bigram.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = tokens(F.lower(F.col(text_col)))
    big = df.select(F.col(id_col), F.explode(bigrams(t)).alias("_bg"))
    big = big.select(
        id_col,
        F.split("_bg", " ")[0].alias("_w1"),
        F.col("_bg").alias("_bg"))
    c_bg = F.count(F.lit(1)).over(Window.partitionBy("_bg"))
    c_w1 = F.count(F.lit(1)).over(Window.partitionBy("_w1"))
    vocab = big.groupBy().agg(
        F.countDistinct("_w1").cast("long").alias("_V"))
    scored = (big.crossJoin(F.broadcast(vocab))
                 .select(id_col,
                         c_bg.alias("_cbg"), c_w1.alias("_cw1"), "_V"))
    nl = -F.log((F.col("_cbg") + F.lit(1.0))
                / (F.col("_cw1") + F.col("_V")))
    term = F.round(nl, 12).cast("decimal(28,12)")
    agg = (scored.select(id_col, term.alias("_t"))
                 .groupBy(id_col)
                 .agg(F.count(F.lit(1)).alias("n_bigrams"),
                      F.sum("_t").alias("_s")))
    nll = F.col("_s").cast("double") / F.col("n_bigrams")
    return agg.select(id_col, "n_bigrams",
                      F.round(nll, 6).alias("nll"),
                      F.round(F.exp(nll), 6).alias("ppl"))


# ---- Unicode script profiling ---------------------------------------------
# mC4/CCNet-style script detection: per-document character counts for a
# fixed set of Unicode BLOCK ranges, all JVM-side regex (no UDF).
# Explicit codepoint ranges — not \p{script=...} classes — so any engine
# (Java regex, RE2, PCRE) counts identically; script-class definitions
# drift between regex engines, literal ranges do not.
# Reference analog: none (north-star training-data scope); the langid
# heuristic above (langid_en_heuristic) only works for space-separated
# Latin text — script counts are the pre-filter that routes non-Latin
# docs away from it.
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("cjk", "一-鿿"),
    ("arabic", "؀-ۿ"),
)


def script_char_count(col: Column, char_range: str) -> Column:
    """Count of characters in a literal codepoint range.

    length(x) - length(remove-matches(x)) — two JVM string ops, fully
    codegen'd; counting via regexp_extract_all would materialize an
    array per row.
    """
    return (F.length(col)
            - F.length(F.regexp_replace(col, f"[{char_range}]", ""))
            ).cast("long")


def dominant_script(counts: dict[str, Column]) -> Column:
    """Priority-chain argmax over script counts (ties go to the earlier
    non-Latin script, Latin last) — a fixed CASE chain both engines
    replay deterministically, unlike a map-argmax. A doc with NO
    counted script characters (empty / whitespace / digits-only) routes
    to 'latin' explicitly: without the guard the first >= comparison
    ties at 0 and an empty doc would route to the Cyrillic pipeline."""
    n_lat, n_cyr = counts["latin"], counts["cyrillic"]
    n_cjk, n_ara = counts["cjk"], counts["arabic"]
    return (
        F.when(n_lat + n_cyr + n_cjk + n_ara == 0, F.lit("latin"))
         .when(n_cyr >= F.greatest(n_lat, n_cjk, n_ara), F.lit("cyrillic"))
         .when(n_cjk >= F.greatest(n_lat, n_ara), F.lit("cjk"))
         .when(n_ara >= n_lat, F.lit("arabic"))
         .otherwise(F.lit("latin")))
