"""Distributed BPE merge-rule fitting — the tokenizer-training step of
a training-data pipeline, shaped for 100 TB:

The classic observation (Sennrich et al., 2016, public) is that BPE
never needs the raw token stream: it fits on the WORD-FREQUENCY table.
One aggregation collapses the corpus (shuffle keys = distinct words,
weight = count) and every merge iteration then runs on that bounded
vocabulary table. Per iteration:

  1. pair counting — adjacent symbol pairs via zip_with over the
     symbol array and its shift, exploded and weight-summed
     (map-side partial agg; shuffle = distinct pairs, not occurrences);
  2. argmax — orderBy(count desc, pair asc) over the pair counts,
     one bounded collect per driver round (the kmeans-style recipe);
     a round may accept several non-interacting merges;
  3. merge application — a single F.aggregate fold per word rewrites
     [.., a, b, ..] → [.., ab, ..] left-to-right non-overlapping,
     entirely JVM-side (no Python in the loop).

Iterations localCheckpoint so lineage doesn't compound. Everything is
deterministic: ties break lexicographically on the pair, so the rule
list is reproducible across partitionings and engines (pytest pins
equality with a pure-python sequential reference implementation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _symbols(word: Column) -> Column:
    """Initial symbol sequence: one UTF-8 character per symbol."""
    return F.split(word, "")


def _merge_fold(symbols: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) → a+b."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    # F.get (0-based) returns null out of bounds — ANSI-safe on the
    # empty accumulator, unlike element_at which throws
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, n) table: the only pass over the raw data."""
    return (df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
                       .alias("word"))
              .filter(F.col("word") != "")
              .groupBy("word").agg(F.count(F.lit(1)).alias("n")))


def bpe_fit_batched(df: DataFrame, text_col: str, *, n_merges: int = 10,
                    min_pair_count: int = 2, batch_size: int = 4,
                    stats: dict | None = None) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merge rules over the corpus, in
    BATCHED merge rounds. Returns the ordered rule list [(a, b), ...];
    stops early when no pair reaches ``min_pair_count``.

    Per driver round, accept up to ``batch_size`` pairs from the
    round's ranked pair counts,
    greedily skipping any pair that shares a symbol with an already-
    accepted pair (or its merged token) — mutually non-interacting
    merges whose counts are invariant under each other, the standard
    fast-BPE trick. All accepted merges apply as ONE fused projection,
    so driver rounds (and Spark jobs) drop ~batch_size× for the same
    vocabulary.

    PROVABLY identical to the sequential fit (one argmax merge per
    round) — the batch extends only
    while equivalence is certain, using two facts about a merge (a, b):

    1. it only changes counts of pairs TOUCHING an a·b occurrence:
       (c, a) with that a followed by b, and (b, d) with that b
       preceded by a — and those counts only DECREASE (new
       adjacencies always involve the new token, i.e. brand-new
       pairs). So the batch STOPS at the first candidate whose left
       symbol is an accepted right or whose right symbol is an
       accepted left: its decreased count might still outrank
       everything below it, which only the next recount can decide.
    2. a brand-new pair from (a, b) is (x, ab) with count ≤
       min(cnt(a,b), max cnt over (·, a)) or (ab, y) ≤ min(cnt(a,b),
       max cnt over (b, ·)). The per-symbol maxima give a hard upper
       bound on every pair the batch's merges can create; the batch
       also stops once the next candidate's count does not STRICTLY
       exceed that bound (a new pair could tie and win the
       lexicographic tie-break).

    Within those stops, accepted pairs' counts are exact and nothing
    can overtake them — the batch is byte-identical to running the
    sequential argmax repeatedly (pytest pins list equality with a
    pure-python sequential fit).
    Worst case every round degenerates to one merge (batch stops
    immediately) and the job count matches sequential +1 for the
    maxima aggregation.
    """
    vocab = (word_frequencies(df, text_col)
             .select(_symbols(F.col("word")).alias("sym"), "n")
             .localCheckpoint(eager=False))
    rules: list[tuple[str, str]] = []
    rounds = 0
    while len(rules) < n_merges:
        rounds += 1
        pairs = vocab.select(
            F.explode(F.zip_with(
                F.slice("sym", 1, F.greatest(F.size("sym") - 1, F.lit(0))),
                F.slice("sym", 2, F.greatest(F.size("sym") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )).alias("p"), "n")
        cnts = pairs.groupBy("p").agg(F.sum("n").alias("cnt")).persist()
        try:
            # ONE bounded collect per round: the ranked head plus the
            # per-symbol maxima (one row per symbol — bounded by
            # |alphabet| + merges) that upper-bound merge-created pairs
            ranked = (cnts.orderBy(F.desc("cnt"), F.asc("p.a"),
                                   F.asc("p.b"))
                          .limit(4 * batch_size)
                          .select(F.lit("T").alias("side"),
                                  F.col("p.a").alias("s1"),
                                  F.col("p.b").alias("s2"), "cnt"))
            maxima = (cnts.select(F.explode(F.array(
                F.struct(F.lit("L").alias("side"),
                         F.col("p.a").alias("s"), F.col("cnt")),
                F.struct(F.lit("R").alias("side"),
                         F.col("p.b").alias("s"), F.col("cnt")),
            )).alias("e"))
                .groupBy("e.side", "e.s").agg(F.max("e.cnt").alias("m"))
                .select("side", F.col("s").alias("s1"),
                        F.lit(None).cast("string").alias("s2"),
                        F.col("m").alias("cnt")))
            rows = ranked.unionByName(maxima).collect()
        finally:
            cnts.unpersist()
        top = sorted(
            ({"p": {"a": r["s1"], "b": r["s2"]}, "cnt": r["cnt"]}
             for r in rows if r["side"] == "T"),
            key=lambda r: (-r["cnt"], r["p"]["a"], r["p"]["b"]))
        left_max = {r["s1"]: r["cnt"] for r in rows if r["side"] == "L"}
        right_max = {r["s1"]: r["cnt"] for r in rows if r["side"] == "R"}

        batch: list[tuple[str, str]] = []
        lefts: set[str] = set()
        rights: set[str] = set()
        new_pair_bound = 0
        for r in top:
            if r["cnt"] < min_pair_count:
                break
            if len(batch) >= batch_size or len(rules) + len(batch) >= n_merges:
                break
            a, b, cnt = r["p"]["a"], r["p"]["b"], r["cnt"]
            if batch and (a in rights or b in lefts):
                break   # interacting: its decreased count must re-rank
            if batch and cnt <= new_pair_bound:
                break   # a merge-created pair could outrank from here
            batch.append((a, b))
            lefts.add(a)
            rights.add(b)
            new_pair_bound = max(
                new_pair_bound,
                min(cnt, max(right_max.get(a, 0), left_max.get(b, 0))))
        if not batch:
            break
        rules.extend(batch)
        sym: Column = F.col("sym")
        for a, b in batch:          # fused: one projection, one job
            sym = _merge_fold(sym, a, b)
        vocab = (vocab.select(sym.alias("sym"), "n")
                      .localCheckpoint(eager=False))
    if stats is not None:
        stats["rounds"] = rounds
    return rules


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               rules: list[tuple[str, str]]) -> DataFrame:
    """Apply a fitted rule list: (id, tokens array, n_bpe_tokens).

    The merge folds are interpreted higher-order expressions — the
    costly part — so they run once per DISTINCT word (the bounded
    vocabulary, exactly the table a real tokenizer ships to every
    worker) and broadcast-join back onto the word occurrences. The
    occurrence side stays map-only + one broadcast hash join; corpus
    repetition (Zipf) is pure savings. No Python anywhere."""
    base = (df.select(F.col(id_col),
                      F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
                       .alias("pos", "word"))
              .filter(F.col("word") != ""))
    sym = _symbols(F.col("word"))
    for a, b in rules:
        sym = _merge_fold(sym, a, b)
    word_toks = base.select("word").distinct() \
                    .select("word", sym.alias("toks"))
    per_word = (base.join(F.broadcast(word_toks), "word")
                    .select(id_col, "pos", "toks"))
    # collect_list order is partition-dependent: sort by word position
    # before flattening so the token sequence is deterministic
    return (per_word.groupBy(id_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "toks")))
                  .alias("_s"))
            .select(id_col,
                    F.flatten(F.transform("_s", lambda s: s["toks"]))
                     .alias("tokens"))
            .select(id_col, "tokens",
                    F.size("tokens").cast("long").alias("n_bpe_tokens")))
