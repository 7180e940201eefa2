"""Deduplication operators for training-data pipelines: exact,
near-dup via n-gram Jaccard, MinHash+LSH, and SimHash.

Scale design:
- EXACT dedup is a hash-groupBy: one shuffle on a 128-bit digest, no
  full-text comparisons cross-partition (the digest is the shuffle key,
  so 100 TB of text moves only 16-byte keys + ids).
- NEAR-DUP never does all-pairs globally. Candidates come from a
  BLOCKING key (cheap, exact recall within block) or LSH BANDS
  (probabilistic recall tuned by bands×rows); only candidates are
  verified with the exact Jaccard. All-pairs appears solely WITHIN a
  bucket, and bucket size is bounded by the banding parameters.
- Everything is DataFrame ops: shingling/minhashing are higher-order
  array expressions (codegen), candidate joins are shuffle joins on
  bucket keys — the same plan a 1000-executor cluster wants.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.table import Table
from ..sources.writers import bucket_of
from ._cache import register_cache


def exact_dedupe(df: DataFrame, id_col: str, hash_col: Column) -> DataFrame:
    """Group rows by a content digest; keep min(id) as canonical.

    Returns (text_hash, canonical_id, n_copies). Join back on hash to
    materialize the deduped corpus.
    """
    return (df.select(hash_col.alias("text_hash"), F.col(id_col))
              .groupBy("text_hash")
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams as array<string> (empty-safe).

    The tokenized array is bound ONCE via a single-element outer
    ``transform`` lambda: higher-order functions are interpreted (not
    codegen'd), so naming the split through a lambda variable keeps the
    regex split from being re-evaluated inside every inner lambda call
    (3x per shingle) — ~3x faster per row on 50-token docs.
    """
    raw = F.split(F.trim(text), r"\s+")

    def build(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int"))
                                         for j in range(k)]),
        )
        return F.when(n < k, F.array().cast("array<string>")) \
                .otherwise(F.array_distinct(grams))

    return F.element_at(F.transform(F.array(raw), build), 1)


def has_min_tokens(text: Column, k: int) -> Column:
    """Cheap precondition equivalent to ``size(word_shingles(text, k))
    > 0``: the shingle array is non-empty iff the whitespace token
    count reaches k (grams of a >=k-token doc are non-empty strings,
    so array_distinct keeps at least one; null text stays null and is
    dropped by a filter either way). Filter on it BELOW the shingle
    projection — see :func:`shingle_base`."""
    return F.size(F.split(F.trim(text), r"\s+")) >= k


def shingle_base(df: DataFrame, id_col: str, text_col: str,
                 block_cols: list[Column], *, k: int = 3) -> DataFrame:
    """The one shingle stage of the near-dup family:
    ``(doc_id, _b0.., shingles)`` with empty-shingle docs dropped.

    Single-evaluation idiom — the interpreted shingling HOF is the
    dominant per-row expression of every Jaccard operator, and three
    rules keep it at one evaluation per row:

    - ``has_min_tokens`` filters the raw text BELOW the projection. A
      ``size(shingles) > 0`` filter above it would be pushed down by
      Catalyst with the whole shingle expression substituted in, so
      the HOF would run in the Filter and again in the Project.
    - Consumers explode the base with ``explode_outer``. The base is
      pre-filtered to non-empty arrays, so it emits the same rows as
      ``explode``, but unlike ``explode`` over an attribute it infers
      no ``size(shingles) > 0`` predicate for pushdown to expand into
      a second shingling below the projection.
    - A base with several consumers is persisted (``register_cache``,
      or a caller's ``localCheckpoint``): the persisted relation stops
      predicate pushdown and re-evaluation, so every consumer reads
      the arrays once computed. Operators that build their own base
      persist it; a caller passing ``base=`` manages its
      materialization (q100 checkpoints one base for three passes).

    The shingling runs on the input's partitions; a narrow input is
    fanned out at its read (``read_table(spread=True)``), and Catalyst
    pushes filters and column pruning below that repartition, so the
    scan reads the same either way. A frame that comes out of a
    shuffle or checkpoint is spread by its caller with
    ``spread_if_narrow`` against the table it derives from (q103).
    """
    return df.filter(has_min_tokens(F.col(text_col), k)).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), k).alias("shingles"),
        *[c.alias(f"_b{i}") for i, c in enumerate(block_cols)],
    )


def shingle_base_cached(df: DataFrame, id_col: str, text_col: str, *,
                        k: int = 3) -> DataFrame:
    """Registry-persisted unblocked :func:`shingle_base`, the shared
    ``(doc_id, shingles)`` input of the MinHash/prefix-filter family;
    harnesses release it between queries."""
    return register_cache(shingle_base(df, id_col, text_col, [], k=k))


def _verify_jaccard(common: DataFrame, n_a: DataFrame, n_b: DataFrame,
                    threshold: float, *, a: str = "id_a",
                    b: str = "id_b") -> DataFrame:
    """The exact verify every candidate filter feeds: ``common`` holds
    (a, b, c) with c = |A∩B| counted as one row per shared distinct
    shingle, ``n_a``/``n_b`` hold (id, n) shingle-set sizes. Returns
    (a, b, jaccard) with jaccard = c / (n_a + n_b - c) >= threshold —
    integer set sizes, so the double is the same in every engine."""
    return (common.join(n_a.toDF(a, "n_a"), a).join(n_b.toDF(b, "n_b"), b)
                  .withColumn("jaccard",
                              F.col("c") / (F.col("n_a") + F.col("n_b")
                                            - F.col("c")))
                  .filter(F.col("jaccard") >= threshold)
                  .select(a, b, "jaccard"))


def _check_threshold(threshold: float) -> None:
    if not threshold > 0.0:
        raise ValueError(
            f"inverted-index plan requires threshold > 0, got {threshold}")


def _lsh_params(n_hashes: int, bands: int) -> int:
    """rows_per_band for the LSH entry points."""
    if bands < 1 or n_hashes % bands:
        raise ValueError(
            f"bands must divide n_hashes, got bands={bands}, "
            f"n_hashes={n_hashes}")
    return n_hashes // bands


def blocked_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                          block_cols: list[Column], *, k: int = 3,
                          threshold: float = 0.4,
                          base: DataFrame | None = None) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs WITHIN blocks, via an
    inverted-index similarity join (SSJoin shape).

    Pass ``base`` (a precomputed ``shingle_base`` frame, possibly
    checkpointed) to skip the signature stage — shared-stage reuse
    for multi-pass composites. Without it the operator builds and
    persists its own: the base feeds four consumers (both
    inverted-index sides and both size lookups).

    Instead of materializing all block-local pairs and intersecting
    their shingle arrays per pair (quadratic in block size, interpreted
    array ops), explode the distinct shingles and self-join on
    (block, shingle): each shared shingle yields one pair row, so
    COUNT(*) per (id_a, id_b) IS the intersection size. Pairs sharing
    no shingle never materialize — identical results for any
    threshold > 0, but the join output is proportional to actual
    overlap, not to block². Every stage is codegen'd (no higher-order
    array functions in the hot path) and shuffles key on (block,
    shingle) — diverse keys, so no single reducer sees a block's full
    cross product.

    Recall is exact WITHIN blocks; overall recall depends on the
    caller's blocking. Hard-bucketed keys (e.g. floor(len/10)) miss
    near-dup pairs that straddle a bucket boundary — when that matters,
    pass overlapping buckets (two shifted length keys, union the pair
    sets) or use the LSH path, whose banding has no boundary effect.
    """
    _check_threshold(threshold)
    if base is None:
        base = register_cache(
            shingle_base(df, id_col, text_col, block_cols, k=k))
    bkeys = [f"_b{i}" for i in range(len(block_cols))]
    sizes = base.select("doc_id", F.size("shingles"))
    inv = base.select(*bkeys, "doc_id",
                      F.explode_outer("shingles").alias("s"))
    a = inv.select(*bkeys, F.col("doc_id").alias("id_a"), "s")
    b = inv.select(*bkeys, F.col("doc_id").alias("id_b"), "s")
    common = (a.join(b, [*bkeys, "s"])
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("c")))
    return _verify_jaccard(common, sizes, sizes, threshold)


MINHASH_SEED = 1


def minhash_masks(n_hashes: int) -> list[int]:
    """The XOR masks of the MinHash family: n 60-bit constants drawn
    from ``random.Random(MINHASH_SEED)``. Hash i of a shingle is
    ``portable_hash60(s) XOR masks[i]``: one md5 per shingle instead of
    n, one codegen'd XOR per hash, and reproducible in any engine with
    md5 and 64-bit integers (DuckDB: ``MIN(xor(z, r))``).

    The family must genuinely REORDER per i: an affine
    ``(a_i·x + b_i·y + c_i)`` with small coefficients never wraps its
    modulus, stays monotone in (x, y), and so lets one dominant shingle
    win the argmin for every i — measured 2× spurious band candidates
    on a dense corpus. XOR flips high bits per mask, so each hash picks
    a different winner; candidate recall only needs approximate
    min-wise uniformity, and the exact-Jaccard verify stage is
    hash-independent.
    """
    rng = random.Random(MINHASH_SEED)
    return [rng.randrange(0, 1 << 60) for _ in range(n_hashes)]


def portable_band_hash(*cols: Column) -> Column:
    """Engine-portable band hash: md5 over '#'-joined decimal strings
    of the band's minhash values (non-negative longs → identical string
    forms in every engine)."""
    return portable_hash60(F.concat_ws("#", *[c.cast("string") for c in cols]))


def minhash_signatures(base: DataFrame, *, n_hashes: int = 32) -> DataFrame:
    """MinHash signatures as wide columns (_h0.._hN) over a
    :func:`shingle_base` frame: explode distinct shingles, hash each
    with the :func:`minhash_masks` family in one codegen'd projection,
    then min-aggregate per document.

    The explode→min-agg shape beats per-row higher-order array
    expressions ~10×: projections and hash aggregates are whole-stage
    codegen'd, partial mins happen map-side, and only n_hashes longs
    per document cross the shuffle.
    """
    exploded = base.select("doc_id", F.explode_outer("shingles").alias("s"))
    prep = exploded.select("doc_id", portable_hash60(F.col("s")).alias("_z"))
    hashed = prep.select("doc_id", *[
        F.col("_z").bitwiseXOR(F.lit(r)).alias(f"_h{i}")
        for i, r in enumerate(minhash_masks(n_hashes))])
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(n_hashes)])


def lsh_band_entries(sig: DataFrame, *, bands: int,
                     rows_per_band: int) -> DataFrame:
    """(doc_id, band_id, band_hash) rows from a wide signature frame —
    the LSH INDEX representation, band hashes from
    :func:`portable_band_hash`. A pure per-document projection: the
    index over a grown corpus equals the old index UNION the new docs'
    entries (append ≡ rebuild — the property that makes the index an
    appendable artifact at ingest time, pinned by pytest)."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     portable_band_hash(*[F.col(f"_h{b * rows_per_band + r}")
                                          for r in range(rows_per_band)])
                     .alias("band_hash"))
            for b in range(bands)
        ])).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


@dataclass(frozen=True)
class LshDedupIndex:
    """Persisted-side state for continuous-ingest LSH dedup — three
    distributed tables, each a pure PER-DOCUMENT projection of the
    corpus (so appending a batch's rows ≡ rebuilding from scratch;
    pinned by pytest on the parquet round-trip):

    - ``entries``  (doc_id, band_id, band_hash) — the LSH band index
      a new batch probes for candidates.
    - ``sizes``    (doc_id, n_shingles) — denominators for the exact
      Jaccard verify.
    - ``postings`` (doc_id, s) — the shingle inverted index, so the
      verify never touches corpus TEXT at all; optional (None → the
      verify re-shingles the candidate docs only, via a semi-join on
      the candidate id set).

    This mirrors the ANN family's fit/save/load/serve artifact shape
    (q141): fit once at ingest setup, append per admitted batch,
    serve every batch against the stored tables.

    - ``tombstones`` (doc_id) — removal side-table (takedown / GDPR /
      dedup-supersede), the q202 pattern applied to the dedup index:
      index files are append-only, so a delete is an APPEND of the
      doc id here; the serve path anti-joins candidates against it
      (broadcast — the tombstone set is delete-sized) before the
      verify, so deleted docs never match incoming batches.
      ``compact_lsh_dedup_index`` physically drops tombstoned docs
      from all three tables and clears this one. A tombstoned doc_id
      stays dead until compaction — re-admitting the same id without
      compacting first is not supported (the tombstone would keep
      suppressing it).
    """
    entries: DataFrame
    sizes: DataFrame
    postings: DataFrame | None = None
    tombstones: DataFrame | None = None
    # set when the stored entries table is Hive-partitioned by
    # bucket_of(ENTRY_KEYS, P) (save_lsh_dedup_index
    # partition_entries=P): the serve path then prunes the probe
    # join's entries scan to the batch's own partitions.
    entries_partitions: int | None = None


def fit_lsh_dedup_index(corpus: DataFrame, id_col: str, text_col: str, *,
                        k: int = 3, n_hashes: int = 32, bands: int = 8,
                        with_postings: bool = True) -> LshDedupIndex:
    """Build the LSH dedup index tables for ``corpus`` (lazy plans —
    no jobs run until the index is written or probed). Call once over
    the initial corpus, then again over each ADMITTED batch to get the
    delta for ``append_lsh_dedup_index`` (per-doc projections make
    append ≡ rebuild).

    The fit builds and registers one :func:`shingle_base_cached` pass,
    which the signatures, sizes and postings all read."""
    rows_per_band = _lsh_params(n_hashes, bands)
    base = shingle_base_cached(corpus, id_col, text_col, k=k)
    entries = lsh_band_entries(minhash_signatures(base, n_hashes=n_hashes),
                               bands=bands, rows_per_band=rows_per_band)
    sizes = base.select("doc_id", F.size("shingles").alias("n_shingles"))
    postings = (base.select("doc_id",
                            F.explode_outer("shingles").alias("s"))
                if with_postings else None)
    return LshDedupIndex(entries=entries, sizes=sizes, postings=postings)


ENTRIES_PBUCKET = "_pbucket"
ENTRY_KEYS = ("band_id", "band_hash")  # what a partitioned entry hashes

# Below this many entries rows the flat entries scan beats the
# partitioned probe (the layout's fixed overhead is all cost); above
# it the partitioned probe wins by a growing margin. The threshold sits
# at the low side of the measured crossover band.
AUTO_PARTITION_MIN_ENTRIES = 10_000_000
AUTO_PARTITION_TARGET_ROWS = 100_000  # aim ~this many rows/partition
AUTO_PARTITION_MAX = 16_384


def auto_entries_partitions(n_entries: int) -> int | None:
    """Layout advice: None (stay flat — the partition overhead is all
    cost) below the crossover, else a power-of-two P targeting
    ~``AUTO_PARTITION_TARGET_ROWS`` rows per partition (P=4096 at 4e8
    rows), capped so the per-partition file count never itself
    becomes the scan."""
    if n_entries < AUTO_PARTITION_MIN_ENTRIES:
        return None
    p = 1 << max(1, (n_entries // AUTO_PARTITION_TARGET_ROWS) - 1
                 ).bit_length()
    return max(256, min(AUTO_PARTITION_MAX, p))


def _entries_layout(n_partitions: int | None) -> dict | None:
    if not n_partitions:
        return None
    return {"col": ENTRIES_PBUCKET, "keys": list(ENTRY_KEYS),
            "n_buckets": int(n_partitions)}


def _entries_partitions(table: Table) -> int | None:
    """The entries table's stored partition count P, or None
    (unpartitioned)."""
    layout = table.layout("entries")
    return None if layout is None else layout["n_buckets"]


def save_lsh_dedup_index(index: LshDedupIndex, path: str, *,
                         mode: str = "overwrite",
                         partition_entries: int | str | None = None) -> None:
    """Store the index as one manifest table (``sources.table``) with
    sub-tables ``path/{entries,sizes,postings}``. Every save commits all
    of them in ONE manifest write, so a crash leaves the whole old
    index or the whole new one, never a torn mix. ``mode="overwrite"``
    replaces the index (tombstones included); ``mode="append"`` admits
    a batch delta (see ``append_lsh_dedup_index``).

    ``partition_entries=P`` Hive-partitions the entries table by
    pmod(xxhash64(band_id, band_hash), P) — the 100 TB serve layout:
    a batch probe then reads ONLY the partitions its own band hashes
    fall in (PartitionFilters, the same pruning contract as the
    bucketed CDC snapshot), instead of scanning the corpus-sized
    entries table per batch. P is the entries sub-table's layout in
    the manifest; appends reuse the stored P automatically (pass
    None), and per-doc-projection semantics are unchanged — append ≡
    rebuild holds per partition.

    Layout contract (the bucketed CDC snapshot's, too): an append may
    not change P — passing a partition_entries that differs from the
    stored layout raises (the delta would land under the wrong
    directories and the stored P would silently prune it out of every
    later probe), as does appending partitioned onto an unpartitioned
    table. Growing P on an existing index is
    ``repartition_entries``'s job. A non-append save REPLACES the
    layout along with the files.

    ``partition_entries="auto"`` picks the layout from the DATA: the
    index is written flat first, the written entries table's row count
    is read back (parquet metadata only — the fit plan is NOT
    re-evaluated), and if it sits past the measured crossover the
    table is migrated in place via ``repartition_entries`` with
    ``auto_entries_partitions``'s P. Auto is a fit/overwrite decision;
    appends always reuse the stored layout."""
    spark = index.entries.sparkSession
    if partition_entries == "auto":
        if mode == "append":
            raise ValueError(
                "partition_entries='auto' decides a NEW table's layout; "
                "appends reuse the stored layout (pass None) and growing "
                "P on an existing index is repartition_entries()'s job.")
        save_lsh_dedup_index(index, path, mode=mode, partition_entries=None)
        n = Table(spark, path).read("entries").count()
        p_auto = auto_entries_partitions(n)
        if p_auto:
            repartition_entries(spark, path, p_auto)
        return
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    table = Table(spark, path)
    stored = _entries_partitions(table)
    if mode == "append":
        if partition_entries is None:
            partition_entries = stored
        elif stored is not None and partition_entries != stored:
            raise ValueError(
                f"partition_entries={partition_entries} does not match the "
                f"stored layout P={stored} at {path} — P is part of the "
                "table layout; append with partition_entries=None (reuses "
                "the stored P) or migrate via repartition_entries() first.")
        elif stored is None and "entries" in table.tables:
            raise ValueError(
                f"index at {path} has an UNPARTITIONED entries table — "
                f"appending with partition_entries={partition_entries} "
                "would mix layouts. Append with partition_entries=None or "
                "migrate via repartition_entries() first.")
    written = {"entries": table.write(
        "entries", index.entries, layout=_entries_layout(partition_entries)),
        "sizes": table.write("sizes", index.sizes)}
    if index.postings is not None:
        written["postings"] = table.write("postings", index.postings)
    if mode == "append":
        written = {sub: table.appended(sub, e) for sub, e in written.items()}
    else:
        written = {"postings": None, "tombstones": None, **written}
    table.commit(written)


def append_lsh_dedup_index(delta: LshDedupIndex, path: str) -> None:
    """Admit a batch: append its per-doc index rows to a stored index,
    all tables in one commit. Because every table is a per-document
    projection, append equals a full rebuild over corpus ∪ batch
    (pinned by pytest)."""
    save_lsh_dedup_index(delta, path, mode="append")


def load_lsh_dedup_index(spark, path: str) -> LshDedupIndex:
    """Open a stored index (lazy parquet scans, nothing collected).
    ``postings`` is None when the index was fit without them;
    ``tombstones`` is None until the first delete."""
    table = Table(spark, path)
    if "entries" not in table.tables:
        raise FileNotFoundError(f"no LSH dedup index at {path}")
    return LshDedupIndex(entries=table.read("entries"),
                         sizes=table.read("sizes"),
                         postings=table.read("postings"),
                         tombstones=table.read("tombstones"),
                         entries_partitions=_entries_partitions(table))


def delete_from_lsh_dedup_index(ids: DataFrame, path: str) -> None:
    """Remove documents from a stored index WITHOUT rewriting it: an
    append of (doc_id) rows to the tombstone side-table — the same
    immutable-files + delete-log shape as the ANN index's q202
    maintenance. Serving consults the tombstones (broadcast
    anti-join on the candidate set, so cost is O(candidates), never
    O(index)); ``compact_lsh_dedup_index`` reclaims the space."""
    cols = ids.columns
    if cols != ["doc_id"]:
        ids = ids.select(F.col(cols[0]).alias("doc_id"))
    table = Table(ids.sparkSession, path)
    table.commit({"tombstones": table.appended(
        "tombstones", table.write("tombstones", ids))})


def compact_lsh_dedup_index(spark, path: str) -> None:
    """Physically drop tombstoned docs from entries/sizes/postings and
    clear the tombstone table — after this, the stored index equals a
    fresh fit over the surviving corpus (pinned by pytest). The
    rewritten tables, each in its stored layout, and the cleared
    tombstones commit together in one manifest write."""
    table = Table(spark, path)
    tombs = table.read("tombstones")
    if tombs is None:
        return
    tombs = tombs.select("doc_id").distinct()
    written: dict[str, dict | None] = {"tombstones": None}
    for sub in ("entries", "sizes", "postings"):
        cur = table.read(sub)
        if cur is not None:
            written[sub] = table.write(
                sub, cur.join(F.broadcast(tombs), "doc_id", "left_anti"),
                layout=table.layout(sub))
    table.commit(written)


def repartition_entries(spark, path: str, new_n_partitions: int) -> None:
    """Migrate a stored index's ENTRIES table to a new partition count
    — ``rebucket``'s analog for the LSH serve layout (P is frozen at
    save time; a corpus that grows 100× under its seed P loses the
    pruning the layout exists to provide). Works in every direction:
    unpartitioned→P, P1→P2. One rewrite of entries only (sizes/
    postings/tombstones are untouched — P is an entries-layout fact),
    committed with its new layout in one manifest write, so later
    appends pick up the new P."""
    if new_n_partitions < 1:
        raise ValueError(f"new_n_partitions must be >=1, got "
                         f"{new_n_partitions}")
    table = Table(spark, path)
    cur = table.read("entries")
    if cur is None:
        raise FileNotFoundError(f"no entries table at {path}/entries")
    table.commit({"entries": table.write(
        "entries", cur.drop(ENTRIES_PBUCKET),
        layout=_entries_layout(new_n_partitions))})


def incremental_lsh_dedup(corpus: DataFrame | None, batch: DataFrame,
                          id_col: str, text_col: str, *,
                          k: int = 3, n_hashes: int = 32, bands: int = 8,
                          threshold: float = 0.5,
                          index: LshDedupIndex | None = None) -> DataFrame:
    """Continuous-ingest near-dup dedup: probe a NEW batch of documents
    against the EXISTING corpus's LSH band index, verify candidates
    with exact Jaccard, and emit (id_new, id_existing, jaccard) for
    every batch doc that near-duplicates something already ingested —
    the decision rows an ingest pipeline uses to drop/flag arrivals.

    Scale shape: per-batch work is batch signatures + one probe join
    against the band index + a verify restricted to CANDIDATE docs —
    O(batch + collisions), never O(corpus), in every part of the plan:

    - ``index=`` (an ``LshDedupIndex``, usually ``load_lsh_dedup_index``
      over the stored artifact) serves the corpus side without
      re-signaturing anything: the probe reads ``index.entries``, the
      verify reads ``index.postings`` (semi-joined down to candidate
      ids before the shingle join, so only candidate docs' postings
      cross the shuffle) and ``index.sizes``. ``corpus`` may be None.
      After the batch is admitted, ``append_lsh_dedup_index`` keeps the
      artifact current (append ≡ rebuild; pinned by pytest).
    - Without ``index``, the corpus side is fit in-plan (one-shot
      calls / tests): signatures are recomputed — inherently
      O(corpus), that's the fit — but the VERIFY still semi-joins the
      corpus to the candidate id set BEFORE shingling, so corpus text
      is only ever shingled for candidate docs (pinned by a
      raise_error probe in pytest).

    Batch-internal duplicates are deliberately NOT this operator's
    job — admit the batch, and they are corpus duplicates for the next
    batch (or run minhash_lsh_pairs within the batch).
    """
    rows_per_band = _lsh_params(n_hashes, bands)
    if index is not None and index.postings is None and corpus is None:
        raise ValueError(
            "index has no postings — pass corpus for the verify side")
    if index is None:
        if corpus is None:
            raise ValueError("need corpus or index")
        index = fit_lsh_dedup_index(
            corpus, id_col, text_col, k=k, n_hashes=n_hashes, bands=bands,
            with_postings=False)
    # one persisted shingle pass over the BATCH feeds the probe
    # signatures AND both verify-side consumers (inv_new / n_new) —
    # unshared, the batch text would be shingled three times per serve
    # call, and the batch is what scales per call
    batch_base = shingle_base_cached(batch, id_col, text_col, k=k)
    probe = lsh_band_entries(minhash_signatures(batch_base, n_hashes=n_hashes),
                             bands=bands, rows_per_band=rows_per_band)
    entries = index.entries
    if index.entries_partitions:
        # Partitioned-entries layout: restrict the probe join's corpus
        # side to the partitions the BATCH's band hashes fall in — a
        # ≤P-value collect (same bounded-collect discipline as
        # bucketed_merge's touched set) that Catalyst turns into
        # PartitionFilters, so the per-batch entries read is
        # O(touched partitions), not O(corpus). The probe is persisted
        # because it is consumed twice (this collect + the join).
        probe = register_cache(probe)
        pb = sorted(r[0] for r in probe.select(
            bucket_of(ENTRY_KEYS, index.entries_partitions).alias("pb"))
            .distinct().collect())
        entries = entries.filter(F.col(ENTRIES_PBUCKET).isin(pb))
    # Candidate pairs are consumed twice (the verify join AND the
    # candidate-id restriction below) — persist so the probe join runs
    # once; bench/gate harnesses drain via release_operator_caches().
    cand_raw = (
        probe.select("band_id", "band_hash",
                     F.col("doc_id").alias("id_new"))
             .join(entries.select("band_id", "band_hash",
                                  F.col("doc_id").alias("id_existing")),
                   ["band_id", "band_hash"])
             .filter(F.col("id_new") != F.col("id_existing"))
             .select("id_new", "id_existing").distinct())
    if index.tombstones is not None:
        # Deleted docs' band entries are still in the index files
        # (append-only; see delete_from_lsh_dedup_index) — suppress
        # them at the CANDIDATE stage, before any verify work, with an
        # explicit broadcast: the tombstone set is delete-sized while
        # the candidate set scales with the batch.
        cand_raw = cand_raw.join(
            F.broadcast(index.tombstones
                        .select(F.col("doc_id").alias("id_existing"))
                        .distinct()),
            "id_existing", "left_anti")
    cand = register_cache(cand_raw)
    cand_ids = cand.select(F.col("id_existing").alias("doc_id")).distinct()

    # verify-side batch consumers read the SAME persisted base as the
    # probe signatures (single-evaluation idiom, see shingle_base)
    bb = batch_base.withColumnRenamed("doc_id", "id_new")
    inv_new = bb.select("id_new", F.explode_outer("shingles").alias("s"))
    n_new = bb.select("id_new", F.size("shingles").alias("n"))
    if index.postings is not None:
        # Verify straight from the stored inverted index — corpus text
        # untouched. Semi-join postings down to candidate ids FIRST so
        # only candidate docs' shingles reach the verify shuffle (the
        # candidate-id side is tiny → AQE broadcasts it, and the join
        # pushes a runtime filter into the postings scan).
        inv_old = (index.postings.join(cand_ids, "doc_id", "left_semi")
                        .select(F.col("doc_id").alias("id_existing"), "s"))
        # Same semi-join for the Jaccard denominators: sizes is one row
        # per CORPUS doc, so an unrestricted read here was the last
        # per-batch linear-in-corpus term in the serve plan (the verify
        # join only needs candidate docs' sizes). Pinned by the same
        # plan-shape test as the postings restriction.
        n_old = (index.sizes.join(cand_ids, "doc_id", "left_semi")
                      .select(F.col("doc_id").alias("id_existing"),
                              F.col("n_shingles").alias("n")))
    else:
        # No postings: re-shingle ONLY candidate corpus docs. Two plan
        # hazards keep O(corpus) work out of this branch (both pinned
        # by a plan-shape test):
        # - explode_outer, not explode (see shingle_base): a pushed
        #   size>0 filter would re-shingle every corpus row BELOW the
        #   semi-join. Its null rows can't match the "s" equi-join.
        # - n is COUNTED from the cached exploded rows instead of a
        #   second size(shingles) projection: the jaccard filter's
        #   not-null constraint on n would otherwise be inferred and
        #   pushed below the semi-join, again shingling every corpus
        #   row. (inv rows are distinct shingles, so count ≡ size; a
        #   zero-shingle doc has no band entries, hence is never a
        #   candidate.) The persist also makes the verify read the
        #   semi-joined explode once, not per consumer.
        corpus_cand = corpus.join(
            cand_ids.withColumnRenamed("doc_id", id_col),
            id_col, "left_semi")
        cbase = corpus_cand.select(
            F.col(id_col).alias("id_existing"),
            word_shingles(F.col(text_col), k).alias("shingles"))
        inv_old = register_cache(
            cbase.select("id_existing",
                         F.explode_outer("shingles").alias("s")))
        n_old = inv_old.groupBy("id_existing").agg(F.count("s").alias("n"))
    common = (cand.join(inv_new, "id_new")
                  .join(inv_old, ["id_existing", "s"])
                  .groupBy("id_new", "id_existing")
                  .agg(F.count(F.lit(1)).alias("c")))
    return _verify_jaccard(common, n_new, n_old, threshold,
                           a="id_new", b="id_existing")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, *,
                      k: int = 3, n_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      anchor_ids: DataFrame | None = None,
                      base: DataFrame | None = None) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verify.

    bands×rows = n_hashes; a pair becomes a candidate iff it collides
    in ≥1 band (P[candidate] ≈ 1-(1-j^r)^b). Candidates come from a
    self-join on (band_id, band_hash) — one shuffle keyed on band
    hashes, never all-pairs. Verification recomputes exact Jaccard via
    the same inverted-index count used by blocked_jaccard_pairs,
    restricted to candidate pairs.

    Signatures and band hashes are md5-derived, so an external engine
    reproduces the candidate set bit-for-bit.

    ``anchor_ids`` (single-column id frame) restricts the output to
    pairs with AT LEAST ONE endpoint in the anchor set. Because both
    the band collision and the exact verify are pure per-pair functions
    of the two documents, this equals the FULL pair set filtered to
    anchor-incident pairs — but the band self-join probes only the
    anchors' band entries against the corpus, so the work is bounded by
    anchor degree, never corpus². This is the recall-certification
    probe shape (q189).

    ``base``: a pre-built :func:`shingle_base_cached` frame for this
    corpus — callers that run SEVERAL shingle consumers over the same
    documents (q171/q189 pair the LSH side with an exact truth side)
    pass one shared base so the corpus is shingled once per query, not
    once per operator. None → the operator builds (and registers) its
    own.
    """
    rows_per_band = _lsh_params(n_hashes, bands)
    if base is None:
        base = shingle_base_cached(df, id_col, text_col, k=k)

    sig = minhash_signatures(base, n_hashes=n_hashes)
    # both sides of the band self-join reference this subtree — persist
    # it or the signature pipeline (shingle explode + n_hashes-wide
    # min-agg, the plan's biggest aggregate) runs twice per query.
    # Tiny frame: bands rows of (doc_id, band_id, hash).
    band_entries = register_cache(
        lsh_band_entries(sig, bands=bands, rows_per_band=rows_per_band))

    if anchor_ids is None:
        left = band_entries.select("band_id", "band_hash",
                                   F.col("doc_id").alias("id_a"))
        right = band_entries.select("band_id", "band_hash",
                                    F.col("doc_id").alias("id_b"))
        cand = (left.join(right, ["band_id", "band_hash"])
                    .filter(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b").distinct())
    else:
        aset = anchor_ids.toDF("doc_id")
        left = (band_entries.join(aset, "doc_id", "semi")
                .select("band_id", "band_hash",
                        F.col("doc_id").alias("id_x")))
        right = band_entries.select("band_id", "band_hash",
                                    F.col("doc_id").alias("id_y"))
        cand = (left.join(right, ["band_id", "band_hash"])
                    .filter(F.col("id_x") != F.col("id_y"))
                    .select(F.least("id_x", "id_y").alias("id_a"),
                            F.greatest("id_x", "id_y").alias("id_b"))
                    .distinct())

    # exact-Jaccard verify, restricted to candidate pairs: expand each
    # candidate by id_a's shingles, keep only the ones id_b shares →
    # count = intersection size (shingles are distinct per doc). The
    # postings and size lookups read the persisted base.
    sizes = base.select("doc_id", F.size("shingles"))
    inv = base.select("doc_id", F.explode_outer("shingles").alias("s"))
    a_side = inv.select(F.col("doc_id").alias("id_a"), "s")
    b_side = inv.select(F.col("doc_id").alias("id_b"), "s")
    common = (cand.join(a_side, "id_a")
                  .join(b_side, ["id_b", "s"])
                  .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("c")))
    return _verify_jaccard(common, sizes, sizes, threshold)


def portable_hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long — identical in every
    engine with md5 (DuckDB twin:
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``). The one hash
    behind every near-dup signature (MinHash, band hashes, SimHash), so
    each one is oracle-checkable bit for bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


SIMHASH_BITS = 60  # the portable_hash60 width


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash per document, computed the scalable way: explode tokens,
    hash once per token with :func:`portable_hash60` (codegen
    projection), aggregate per-bit sign votes as plain SUMs (partial
    map-side aggregation), then assemble the ``SIMHASH_BITS`` bits in a
    final projection. Returns (id_col, simhash). No interpreted
    higher-order functions anywhere. A narrow input is fanned out at its
    read (``read_table(spread=True)``).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"))
    h = toks.select(id_col, portable_hash60(F.col("t")).alias("h"))
    # branchless votes: sum the raw bit per position (no when/otherwise
    # in the 60-wide aggregate) and recover the sign at the end —
    # vote_b > 0  ⇔  2*ones_b > n_tokens. Same result, leaner codegen
    # on the per-token hot path.
    votes = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)))
          .alias(f"_s{b}") for b in range(SIMHASH_BITS)])
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out.bitwiseOR(
            F.when(F.col(f"_s{b}") * 2 > F.col("_n"),
                   F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long")))
    return votes.select(F.col(id_col), out.alias("simhash"))


def hamming_banded_pairs(df: DataFrame, id_col: str, hash_col: str, *,
                         bits: int = 56, bands: int = 4,
                         max_hamming: int = 4) -> DataFrame:
    """Near-duplicate pairs over integer fingerprints (SimHash, dHash)
    via the HAMMING BAND trick: split the ``bits``-bit fingerprint into
    ``bands`` contiguous chunks; any pair within Hamming distance
    ``max_hamming < bands`` must agree on at least one whole chunk
    (pigeonhole), so candidates come from a self-join keyed on
    (band_id, band_val) — one shuffle on diverse band values, NEVER an
    all-pairs product. Verification is one codegen'd
    ``bit_count(a XOR b)`` per candidate. When
    ``max_hamming >= bands`` the pigeonhole guarantee lapses and the
    band join becomes the (deterministic, oracle-replayable) recall
    operating point, exactly like MinHash banding.

    Output: (id_a, id_b, hamming) with id_a < id_b, distances in
    [0, max_hamming]. Fingerprints must be non-negative (bits <= 63).
    """
    if not (0 < bits <= 63 and bits % bands == 0):
        raise ValueError(f"need 0 < bits <= 63 with bands dividing bits, "
                         f"got bits={bits}, bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    # both self-join sides reference this subtree; the caller's
    # fingerprint build is usually an expensive aggregation (a SimHash
    # vote; q191: a dHash decode) that would run twice unpersisted.
    # Two longs per doc — tiny.
    entries = register_cache(
        df.select(F.col(id_col).alias("fp_id"),
                  F.col(hash_col).cast("long").alias("_h")))
    band_rows = entries.select(
        "fp_id", "_h",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned("_h", b * width)
                 .bitwiseAND(F.lit(mask)).alias("band_val"))
            for b in range(bands)
        ])).alias("band")).select("fp_id", "_h", "band.*")
    a = band_rows.select(F.col("fp_id").alias("id_a"),
                         F.col("_h").alias("h_a"), "band_id", "band_val")
    b = band_rows.select(F.col("fp_id").alias("id_b"),
                         F.col("_h").alias("h_b"), "band_id", "band_val")
    cand = (a.join(b, ["band_id", "band_val"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "h_a", "h_b").distinct())
    return (cand.withColumn(
                "hamming",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
                 .cast("long"))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


SMALL_GRAPH_EDGES = 100_000
STAR_MAX_ITERS = 30  # star-contraction rounds before it fails loudly


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected edge list of a pair graph as long (a <= b) rows,
    distinct and eagerly checkpointed so the pair plan runs once. Ids
    are cast BEFORE ordering (string ids compare numerically) and pairs
    with a NULL id are dropped (a NULL endpoint is not a node).
    Self-loops are kept: a node seen only in (v, v) is a singleton
    component."""
    e = (pairs.select(F.col(id_a).cast("long").alias("x"),
                      F.col(id_b).cast("long").alias("y"))
              .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
    return (e.select(F.least("x", "y").alias("a"),
                     F.greatest("x", "y").alias("b"))
             .distinct().localCheckpoint(eager=True))


def connected_components(pairs: DataFrame, *, id_a: str = "id_a",
                         id_b: str = "id_b",
                         component_col: str = "component") -> DataFrame:
    """Near-dup GROUPS from a pair graph: (id, component) where
    component = the minimum id reachable through the undirected pair
    edges. Downstream keeps one canonical doc per component
    (``keep_canonical``) — pair lists alone can't dedupe transitive
    clusters (a~b, b~c must collapse to ONE survivor, not two).

    After thresholding, the pair graph is usually a small fraction of
    the corpus (dup PAIRS, not docs). When it has at most
    ``SMALL_GRAPH_EDGES`` undirected edges they are collected
    (explicitly bounded — the cap IS the memory contract) and resolved
    with union-find in one pass, avoiding the per-round job overhead of
    a distributed loop. Bigger graphs go to the distributed
    large-star/small-star contraction (same contract; see
    ``connected_components_star``). The edge count is a scalar over the
    checkpointed edge list, not data collection.
    """
    edges = _canonical_edges(pairs, id_a, id_b)
    if edges.count() > SMALL_GRAPH_EDGES:
        return _star_components(edges, STAR_MAX_ITERS, component_col)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:        # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row.a, row.b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the representative is the minimum id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out_rows = [(x, find(x)) for x in parent]
    return pairs.sparkSession.createDataFrame(
        out_rows, "id long, component long") \
        .withColumnRenamed("component", component_col)


def keep_canonical(df: DataFrame, components: DataFrame, id_col: str,
                   *, component_col: str = "component") -> DataFrame:
    """Drop every non-canonical member of each near-dup component:
    survivors are docs absent from the pair graph plus each component's
    min-id representative. The loser set scales with the DUPLICATE
    count (which at a typical 30-50% web-corpus dup rate is corpus-
    sized), so the anti-join is left to the planner: AQE broadcasts it
    when small and shuffles ids (never documents' payload columns —
    only the join key moves for the probe side build) when not.
    Forcing a broadcast here would collect billions of ids to the
    driver at the 100 TB design point."""
    losers = components.filter(F.col("id") != F.col(component_col)) \
                       .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def cross_corpus_containment(corpus: DataFrame, bench: DataFrame, *,
                             corpus_id: str = "doc_id",
                             bench_id: str = "doc_id",
                             corpus_text: str = "text",
                             bench_text: str = "text",
                             k: int = 3, threshold: float = 0.5,
                             max_shingle_df: int | None = None) -> DataFrame:
    """Benchmark decontamination: (corpus_id, bench_id, containment)
    for every corpus×bench pair whose shingle CONTAINMENT — shared
    shingles / bench doc's shingles — reaches ``threshold``. Training
    docs that contain an eval item must leave the corpus; Jaccard is
    the wrong metric here because a long training doc that swallows a
    short benchmark item whole still has low Jaccard.

    Same inverted-index SSJoin shape as blocked_jaccard_pairs, but
    across TWO corpora: explode distinct shingles on both sides, join
    on the shingle, count shared per pair. Shuffle keys on the shingle
    value — diverse — and output is proportional to real overlap, never
    |corpus|×|bench|. The benchmark side is tiny in practice, so its
    exploded index is the small side of the join.

    ``max_shingle_df`` optionally drops shingles appearing in more than
    that many CORPUS docs from the index (stop-phrase guard). With it
    set, containment undercounts pairs that share only ultra-common
    shingles — acceptable for decontamination (those aren't leaks), and
    it caps the join fan-out of a pathological hot shingle. None = exact.

    Narrow inputs are fanned out at their read
    (``read_table(spread=True)``), never here.
    """
    _check_threshold(threshold)
    # the bench side feeds TWO consumers (sizes + inverted index) and is
    # small by contract — persist it so its shingling runs once. The
    # corpus side stays unpersisted: its single full-width consumer is
    # the c_inv explode (the optional hot-shingle df aggregation
    # re-reads it once, but caching a corpus-wide exploded index would
    # cost more memory than the one re-read at any scale). With one
    # consumer and explode_outer there is no pushdown to guard against,
    # so the corpus side also skips shingle_base's has_min_tokens
    # filter, a second regex split per corpus row (measured slower):
    # an empty array emits one null-s row that no join on "s" matches.
    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        word_shingles(F.col(corpus_text), k).alias("sh"))
    c_inv = c.select("corpus_id", F.explode_outer("sh").alias("s"))
    b = shingle_base_cached(bench, bench_id, bench_text, k=k)
    if max_shingle_df is not None:
        hot = (c_inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
                    .filter(F.col("_df") > max_shingle_df)
                    .select("s"))
        c_inv = c_inv.join(F.broadcast(hot), "s", "left_anti")
    b_sizes = b.select(F.col("doc_id").alias("bench_id"),
                       F.size("shingles").alias("n_b"))
    b_inv = b.select(F.col("doc_id").alias("bench_id"),
                     F.explode_outer("shingles").alias("s"))

    shared = (c_inv.join(b_inv, "s")
                   .groupBy("corpus_id", "bench_id")
                   .agg(F.count(F.lit(1)).alias("c")))
    return (shared.join(b_sizes, "bench_id")
                  .withColumn("containment", F.col("c") / F.col("n_b"))
                  .filter(F.col("containment") >= threshold)
                  .select("corpus_id", "bench_id", "containment"))


def _edge_digest(e: DataFrame) -> tuple[int, int]:
    """(count, xor-free hash sum) fingerprint of a canonical edge set —
    one tiny aggregate, used as the convergence check."""
    # decimal sum: exact and overflow-proof under ANSI mode (a long sum
    # of 64-bit hashes overflows)
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h")
                ).collect()[0]
    return int(row["n"] or 0), int(row["h"] or 0)


def connected_components_star(pairs: DataFrame, *, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iters: int = STAR_MAX_ITERS,
                              component_col: str = "component") -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the distributed path ``connected_components`` takes
    above its small-graph cap, with the same output contract. Converges
    in O(log^2 n) rounds regardless of diameter, so a long chain of
    templated near-dups costs a few rounds, not one per hop.

    Each round is two groupBy+join passes over the edge list:
    large-star hangs every neighbor larger than u onto u's
    neighborhood minimum; small-star re-hangs the small neighbors.
    Edges monotonically contract toward stars rooted at component
    minima; convergence is detected with a count+hash fingerprint of
    the canonical edge set (one scalar aggregate per round, no data to
    the driver).
    """
    return _star_components(_canonical_edges(pairs, id_a, id_b),
                            max_iters, component_col)


def _star_components(canon: DataFrame, max_iters: int,
                     component_col: str) -> DataFrame:
    """Star contraction over ``_canonical_edges`` output."""
    loops = canon.filter(F.col("a") == F.col("b"))
    e = canon.filter(F.col("a") != F.col("b"))

    def _sym(edges: DataFrame) -> DataFrame:
        return edges.union(edges.select(F.col("b").alias("a"),
                                        F.col("a").alias("b")))

    def _min_nbr(adj: DataFrame) -> DataFrame:
        return (adj.groupBy("a")
                   .agg(F.least(F.first("a"), F.min("b")).alias("m")))

    digest = _edge_digest(e)
    for _ in range(max_iters):
        # LARGE-STAR: for each u, hang every neighbor v > u onto m(u)
        adj = _sym(e)
        m = _min_nbr(adj)
        e = (adj.filter(F.col("b") > F.col("a"))
                .join(m, "a")
                .select(F.least(F.col("b"), F.col("m")).alias("a"),
                        F.greatest(F.col("b"), F.col("m")).alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())
        # SMALL-STAR: orient edges to the larger endpoint, re-hang the
        # small neighbors (and u itself) onto the neighborhood min
        oriented = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        m2 = _min_nbr(oriented)
        hang = (oriented.join(m2, "a")
                        .select(F.col("b").alias("v"), F.col("m")))
        self_edge = m2.select(F.col("a").alias("v"), F.col("m"))
        e = (hang.union(self_edge)
                 .filter(F.col("v") != F.col("m"))
                 .select(F.least("v", "m").alias("a"),
                         F.greatest("v", "m").alias("b"))
                 .distinct().localCheckpoint(eager=True))
        nxt = _edge_digest(e)
        if nxt == digest:
            break
        digest = nxt
    else:
        # returning unconverged labels would silently hand WRONG
        # components to keep_canonical (which deletes documents)
        raise RuntimeError(
            f"connected components did not converge in {max_iters} "
            f"rounds — raise max_iters")
    # converged to stars: every node's minimum neighbor is its root;
    # self-loop nodes with no other edge label themselves
    labels = _min_nbr(_sym(e).union(loops))
    return labels.select(F.col("a").alias("id"),
                         F.col("m").alias(component_col))


def edit_distance_pairs(df: DataFrame, id_col: str, str_col: str, *,
                        max_dist: int = 2, q: int = 2) -> DataFrame:
    """Exact edit-distance near-dup pairs: every (id_a < id_b) with
    levenshtein(s_a, s_b) <= max_dist over the lowercased, trimmed
    strings — the fuzzy string matching the
    reference's item-name cleanup implies (clean_item_name fixes typos
    ONE regex at a time, U4; this finds ALL typo-distance neighbors).

    Filter-verify, never all-pairs:
      1. length band: |len_a - len_b| <= max_dist (cheap necessary
         condition, applied inside the candidate join);
      2. q-gram filter: strings with >= q + max_dist*q chars within
         edit distance d share at least one exact q-gram (each edit
         destroys at most q grams, so common grams >=
         len - q + 1 - d*q >= 1) — candidates come from an
         inverted-index join on DISTINCT grams, so candidate volume
         tracks real gram overlap, not n²;
      3. strings too short for the guarantee (< q + max_dist*q chars,
         a bounded-alphabet set) pair within a single broadcast block;
      4. verify with the thresholded levenshtein (early-exits above
         max_dist).

    Run it on the DISTINCT-string domain (names dictionary), not the
    fact table: the dictionary is orders of magnitude smaller and the
    verdicts join back by equality. Intended for short strings
    (names, titles); for document-length text use the token/shingle
    family (blocked_jaccard_pairs / minhash_lsh_pairs).
    """
    d = max_dist
    s = F.lower(F.trim(F.col(str_col)))
    base = df.select(F.col(id_col).alias("_id"), s.alias("_s")) \
             .withColumn("_len", F.length("_s"))
    min_long = q + d * q
    longs = base.filter(F.col("_len") >= min_long)
    shorts = base.filter(F.col("_len") < min_long)

    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.col("_len") - q + 1),
        lambda i: F.col("_s").substr(i, F.lit(q))))
    g = longs.select("_id", "_s", "_len", F.explode(grams).alias("_g"))
    ga = g.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"),
                  F.col("_len").alias("_la"), F.col("_g").alias("_gram"))
    gb = g.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"),
                  F.col("_len").alias("_lb"), F.col("_g").alias("_gram"))
    long_cands = (ga.join(gb, ["_gram"])
                    .filter((F.col("id_a") < F.col("id_b"))
                            & (F.abs(F.col("_la") - F.col("_lb")) <= d))
                    .select("id_a", "id_b", "_sa", "_sb"))

    # a short string within d edits of ANY string keeps its partner
    # under min_long + d chars: pair the short dictionary against the
    # banded-in side via broadcast (the short set is alphabet-bounded,
    # never corpus-sized). Pairs are normalized least/greatest then
    # distinct'd, so both-short duplicates and short<->long pairs in
    # either id order come out exactly once (levenshtein is symmetric,
    # so the string order behind the normalized ids is irrelevant).
    sa = shorts.select(F.col("_id").alias("_idx"), F.col("_s").alias("_sx"),
                       F.col("_len").alias("_lx"))
    near_short = base.filter(F.col("_len") < min_long + d) \
                     .select(F.col("_id").alias("_idy"),
                             F.col("_s").alias("_sy"),
                             F.col("_len").alias("_ly"))
    short_cands = (sa.join(F.broadcast(near_short),
                           (F.col("_idx") != F.col("_idy"))
                           & (F.abs(F.col("_lx") - F.col("_ly")) <= d))
                     .select(F.least("_idx", "_idy").alias("id_a"),
                             F.greatest("_idx", "_idy").alias("id_b"),
                             F.col("_sx").alias("_sa"),
                             F.col("_sy").alias("_sb")))

    # one verify per unordered pair: grams/band can propose the same
    # pair many times; dist is symmetric so either string order works
    cands = (long_cands.unionByName(short_cands)
                       .dropDuplicates(["id_a", "id_b"]))
    dist = F.levenshtein("_sa", "_sb", d)
    return (cands.withColumn("dist", dist)
                 .filter(F.col("dist") >= 0)
                 .select("id_a", "id_b", "dist"))


def incremental_jaccard_dedupe(
    new_docs: DataFrame, corpus_docs: DataFrame, id_col: str,
    text_col: str, block_cols: list[Column], *, k: int = 3,
    threshold: float = 0.4,
    tagged_base: DataFrame | None = None,
) -> DataFrame:
    """Survivors of a NEW document batch against an already-deduped
    corpus — the production shape of continuous dedup: each day's crawl
    dedupes against the accumulated survivor set without recomputing
    corpus×corpus pairs (reference analog: the incremental-ingest
    keep-latest discipline of go-incremental-ingest-elt.py:200-213,
    lifted from exact-PK identity to near-dup identity).

    Candidate generation reuses the inverted-index SSJoin of
    ``blocked_jaccard_pairs`` with one asymmetry that IS the scale
    win: the probe (a) side of the (block, shingle) join is restricted
    to new docs, so corpus×corpus pairs never materialize and the
    corpus contributes only its inverted index — per-batch cost is
    O(new × overlap), independent of corpus². (At 100 TB the corpus
    index and shingle sizes are write-once artifacts; this function
    recomputes them for self-containedness — persist `base`/`inv` for
    the production loop.)

    Semantics (corpus always wins, regardless of id order):
      - verified pairs (exact Jaccard ≥ threshold, within blocks) form
        edges among new∪corpus docs, every edge touching ≥1 new doc;
      - components over those edges; any component containing a corpus
        doc kills ALL its new members (direct or transitive match);
      - a corpus-free component keeps only its min-id new doc;
      - new docs with no verified match survive untouched.

    Returns the surviving rows of ``new_docs``, all columns. Ids must
    be unique across new∪corpus (longs).

    ``tagged_base`` (shared-stage reuse): a precomputed signature
    frame ``(doc_id long, _new boolean, _b0.., shingles)`` — e.g. two
    ``shingle_base`` outputs tagged and unioned, with the corpus
    half carried over from a phase-1 dedupe instead of re-shingled.
    """
    base = tagged_base
    if base is None:
        def tagged(docs: DataFrame, new: bool) -> DataFrame:
            return (shingle_base(docs, id_col, text_col, block_cols, k=k)
                    .withColumn("doc_id", F.col("doc_id").cast("long"))
                    .withColumn("_new", F.lit(new)))
        # four consumers below (both inverted-index sides + both size
        # lookups) — persist so the shingling runs once per doc
        base = register_cache(tagged(new_docs, True)
                              .unionByName(tagged(corpus_docs, False)))
    bkeys = [f"_b{i}" for i in range(len(block_cols))]
    sizes = base.select("doc_id", F.size("shingles"))
    inv = base.select(*bkeys, "doc_id", "_new",
                      F.explode_outer("shingles").alias("s"))
    # probe side: NEW docs only — the corpus never self-joins
    a = (inv.filter("_new")
            .select(*bkeys, F.col("doc_id").alias("id_a"), "s"))
    b = inv.select(*bkeys, F.col("doc_id").alias("id_b"),
                   F.col("_new").alias("_new_b"), "s")
    # new-new pairs once (id_a < id_b); new-corpus pairs always
    common = (a.join(b, [*bkeys, "s"])
                .filter((F.col("id_a") < F.col("id_b")) | ~F.col("_new_b"))
                .filter(F.col("id_a") != F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("c")))

    comps = connected_components(
        _verify_jaccard(common, sizes, sizes, threshold))
    corpus_ids = corpus_docs.select(F.col(id_col).cast("long").alias("id"))
    contaminated = (comps.join(corpus_ids, "id", "left_semi")
                         .select("component").distinct())
    losers = (comps.join(corpus_ids, "id", "left_anti")  # new members only
                   .join(contaminated.withColumn("_dirty", F.lit(True)),
                         "component", "left")
                   .filter(F.col("_dirty").isNotNull()
                           | (F.col("id") != F.col("component")))
                   .select(F.col("id").alias(id_col)))
    out = new_docs.join(losers, id_col, "left_anti")
    return out.select(*new_docs.columns)


def passage_dedupe(df: DataFrame, id_col: str, text_col: str, *,
                   size: int = 8) -> DataFrame:
    """C4-style corpus-wide PASSAGE dedup with document reconstruction:
    split every document into fixed token windows, keep only the FIRST
    occurrence of each exact passage across the whole corpus (order =
    (doc, position) — deterministic), and reassemble each document
    from its surviving passages. This is the within/across-document
    boilerplate-removal step (C4 did it per line; synthetic testdata
    has no line structure, so the unit is a token window) that exact
    whole-doc dedup (q13) cannot express.

    Scale shape: the ranking pass shuffles only (fingerprint, doc,
    position) — never passage text; winners join back to the map-side
    re-derived chunks on (doc, position), and the only text shuffle is
    the final per-document reassembly (partitioned by doc id, the
    grain the output needs anyway). Documents whose every passage was
    seen earlier come back EMPTY (kept_tokens 0), preserved via a
    left join — silently dropping them would corrupt corpus accounting.

    Output: (id, n_kept_chunks, kept_tokens, text_kept).
    """
    from pyspark.sql import Window

    from .textstats import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, size=size, overlap=0) \
        .filter(F.col("chunk_text") != "")
    ranked = chunks.select(id_col, "chunk_id",
                           F.md5("chunk_text").alias("_fp"))
    w = Window.partitionBy("_fp").orderBy(id_col, "chunk_id")
    winners = (ranked.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1)
                     .select(id_col, "chunk_id"))
    kept = chunks.join(winners, [id_col, "chunk_id"])
    re = (kept.groupBy(id_col)
              .agg(F.array_sort(F.collect_list(
                       F.struct("chunk_id", "chunk_text"))).alias("_s"),
                   F.sum("n_chunk_tokens").alias("_toks"))
              .select(F.col(id_col),
                      F.size("_s").alias("n_kept_chunks"),
                      F.col("_toks").cast("long").alias("kept_tokens"),
                      F.concat_ws(" ", F.transform(
                          "_s", lambda s: s["chunk_text"]))
                       .alias("text_kept")))
    base = df.select(F.col(id_col))
    return (base.join(re, [id_col], "left")
                .select(id_col,
                        F.coalesce("n_kept_chunks", F.lit(0)).cast("long")
                         .alias("n_kept_chunks"),
                        F.coalesce("kept_tokens", F.lit(0)).cast("long")
                         .alias("kept_tokens"),
                        F.coalesce("text_kept", F.lit(""))
                         .alias("text_kept")))


def repeated_ngram_spans(df: DataFrame, id_col: str, text_col: str, *,
                         k: int = 5, min_count: int = 2) -> DataFrame:
    """Exact repeated-substring removal at token k-gram granularity
    (the Spark-able variant of suffix-array substring dedup from
    "Deduplicating Training Data Makes Language Models Better"): find
    every token k-gram that occurs >= ``min_count`` times CORPUS-WIDE,
    merge each document's hit positions into maximal covered spans
    (overlapping or adjacent gram windows coalesce), and rebuild the
    document with those spans excised. Unlike whole-doc (q13) or
    fixed-window passage dedup, this removes VARIABLE-length repeated
    regions at any offset — boilerplate headers, licence blocks,
    quoted chunks — while keeping the unique remainder of the doc.

    Scale shape: grams shuffle as (16-byte md5, doc, pos) — never
    text; the repeated-gram set is a HAVING over one hash agg
    (map-side combinable); hits join back on the digest; span merge is
    one per-doc window (islands via running max); the excision is a
    per-doc range anti-join (equi on doc id + BETWEEN filter, so it
    sort-merges on the doc key, no cartesian); the only text shuffle
    is the final per-doc reassembly, already at output grain. Every
    stage is linear in corpus size + hit count.

    Output: (doc_id, n_tokens, covered_tokens, n_spans, clean_text)
    — one row per input document, clean_text whitespace-normalized
    ('' when the doc is entirely repeated material).
    """
    from pyspark.sql import Window

    w_arr = (F.when(F.length(F.trim(F.col(text_col))) == 0,
                    F.array().cast("array<string>"))
              .otherwise(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = df.select(F.col(id_col).alias("doc_id"), w_arr.alias("w"))

    n = F.size("w")
    grams_arr = (
        F.when(n < k, F.array().cast("array<string>"))
         .otherwise(F.transform(
             F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
             lambda i: F.md5(F.concat_ws(
                 " ", F.slice("w", (i + 1).cast("int"), k))))))
    grams = base.select("doc_id", F.posexplode(grams_arr).alias("p", "gh"))

    rep = (grams.groupBy("gh")
                .agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") >= min_count)
                .select("gh"))
    hits = grams.join(rep, "gh").select("doc_id", "p")

    w_prev = (Window.partitionBy("doc_id").orderBy("p")
                    .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("p")
                   .rowsBetween(Window.unboundedPreceding, 0))
    # new island iff this gram window starts beyond the previous
    # coverage frontier + 1 (adjacent windows coalesce: no token gap)
    brk = (F.when(F.col("p") > F.coalesce(F.max("p").over(w_prev),
                                          F.lit(-k - 1)) + k,
                  F.lit(1)).otherwise(F.lit(0)))
    spans = (hits.withColumn("_b", brk)
                 .withColumn("_iid", F.sum("_b").over(w_run))
                 .groupBy("doc_id", "_iid")
                 .agg(F.min("p").alias("s"),
                      (F.max("p") + F.lit(k - 1)).alias("e")))
    spanstats = (spans.groupBy("doc_id")
                      .agg(F.count(F.lit(1)).cast("long").alias("n_spans"),
                           F.sum(F.col("e") - F.col("s") + 1).cast("long")
                            .alias("covered_tokens")))

    toks = base.select("doc_id", F.posexplode("w").alias("pos", "word"))
    sp = spans.select(F.col("doc_id").alias("_sd"), "s", "e")
    kept = toks.join(sp, (toks["doc_id"] == sp["_sd"])
                     & F.col("pos").between(F.col("s"), F.col("e")),
                     "left_anti")
    rebuilt = (kept.groupBy("doc_id")
                   .agg(F.array_sort(F.collect_list(
                            F.struct("pos", "word"))).alias("_s"))
                   .select("doc_id",
                           F.concat_ws(" ", F.transform(
                               "_s", lambda s: s["word"]))
                            .alias("clean_text")))

    return (base.select("doc_id", n.cast("long").alias("n_tokens"))
                .join(spanstats, "doc_id", "left")
                .join(rebuilt, "doc_id", "left")
                .select("doc_id", "n_tokens",
                        F.coalesce("covered_tokens", F.lit(0)).cast("long")
                         .alias("covered_tokens"),
                        F.coalesce("n_spans", F.lit(0)).cast("long")
                         .alias("n_spans"),
                        F.coalesce("clean_text", F.lit(""))
                         .alias("clean_text")))


def tfidf_cosine_pairs(df: DataFrame, id_col: str, text_col: str, *,
                       k: int = 3, df_min: int = 2, df_max: int = 25,
                       threshold: float = 0.3) -> DataFrame:
    """Sparse TF-IDF cosine similarity join over token k-gram
    shingles — the SPARSE-vector complement to the dense embedding
    near-dup (cosine_neardup_pairs): documents become idf-weighted
    shingle vectors and pair scores come from an inverted-index join,
    never a doc×doc product. The frequency cut (df_min..df_max) is
    the standard sparse-join discipline: singleton shingles cannot
    pair (dropped), and hot shingles — whose idf weight is negligible
    but whose pair fan-out is df² — are pruned, bounding per-key join
    output at df_max² while changing scores only marginally. Norms
    are computed IN THE PRUNED SPACE so cosine stays a true cosine of
    the vectors actually joined.

    Determinism: every per-term product (w², w_a·w_b) is cast to
    DECIMAL before summation, so dot products and norms are exact and
    partition-order-independent; only the final divide/sqrt runs in
    double (identical expression tree on both engines).

    Output: (id_a, id_b, cosine) for pairs with cosine >= threshold.
    """
    DEC = "decimal(38,12)"
    w_arr = (F.when(F.length(F.trim(F.col(text_col))) == 0,
                    F.array().cast("array<string>"))
              .otherwise(F.split(F.trim(F.lower(text_col)), r"\s+")))
    base = df.select(F.col(id_col).alias("_id"), w_arr.alias("w"))
    n = F.size("w")
    grams = (F.when(n < k, F.array().cast("array<string>"))
              .otherwise(F.transform(
                  F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
                  lambda i: F.concat_ws(
                      " ", F.slice("w", (i + 1).cast("int"), k)))))
    sh = base.select("_id", F.explode(grams).alias("s"))
    # tf ultimately feeds FOUR consumer paths (dfc, norms, both dot
    # sides): without a persist each re-runs the gram explode and the
    # (doc, gram) count shuffle — the expensive stages of this plan
    # (registry-tracked; harnesses release between queries)
    tf = register_cache(
        sh.groupBy("_id", "s").agg(F.count(F.lit(1)).alias("tf")))
    dfc = (tf.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
             .filter(F.col("_df").between(df_min, df_max)))
    nd = base.filter(n >= k).agg(F.count(F.lit(1)).alias("N"))
    # kept itself feeds THREE consumers (norms + both dot sides): each
    # would re-run the tf⋈dfc join and dfc's aggregation over the
    # cached tf — persist the weighted postings too, so the join/agg
    # pipeline above runs once
    kept = register_cache(
        tf.join(dfc, "s").crossJoin(F.broadcast(nd))
          .select("_id", "s",
                  (F.col("tf") * F.log(F.col("N") / F.col("_df")))
                  .alias("wgt")))
    norms = (kept.groupBy("_id")
                 .agg(F.sqrt(F.sum((F.col("wgt") * F.col("wgt"))
                                   .cast(DEC)).cast("double"))
                      .alias("nrm")))
    a = kept.select(F.col("_id").alias("id_a"), "s",
                    F.col("wgt").alias("wa"))
    b = kept.select(F.col("_id").alias("id_b"), "s",
                    F.col("wgt").alias("wb"))
    dots = (a.join(b, "s").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.sum((F.col("wa") * F.col("wb")).cast(DEC))
                   .cast("double").alias("dot")))
    cos = (F.round(F.col("dot")
                   / (F.col("na") * F.col("nb")), 6) + 0.0)
    return (dots.join(norms.select(F.col("_id").alias("id_a"),
                                   F.col("nrm").alias("na")), "id_a")
                .join(norms.select(F.col("_id").alias("id_b"),
                                   F.col("nrm").alias("nb")), "id_b")
                .select("id_a", "id_b", cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold))


def prefix_filter_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                                *, k: int = 3,
                                threshold: float = 0.3,
                                anchor_ids: DataFrame | None = None,
                                base: DataFrame | None = None
                                ) -> DataFrame:
    """COMPLETE exact Jaccard similarity join via PREFIX FILTERING
    (the AllPairs/PPJoin candidate rule): unlike hard blocking
    (boundary misses) or LSH banding (probabilistic recall), this
    finds EVERY pair with jaccard >= threshold, guaranteed. Each
    document orders its distinct shingles rarest-first (global
    document frequency, shingle as tiebreak) and indexes only its
    first floor((1-t)*|S|)+1 of them: two sets with J >= t overlap in
    more than (1-t)*|S| elements, so they MUST share a prefix shingle
    — candidates sharing none are provably below threshold and never
    materialize. Rare-first ordering keeps the inverted index's
    posting lists short where it matters (hot shingles land outside
    most prefixes). Verification reuses the exact intersection-count
    join on full shingle sets, restricted to candidates.

    Output: (id_a, id_b, jaccard) — same contract as
    blocked_jaccard_pairs, but with a completeness guarantee.

    ``base``: a pre-built :func:`shingle_base_cached` frame for this
    corpus, shared with other shingle consumers in the same query
    (q171/q189 pair this truth side with the LSH side). None → build
    (and register) one here.
    """
    from pyspark.sql import Window

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    # base feeds three consumers (postings for the candidate stage and
    # both verify sides); the registry persist shingles once, lazily
    if base is None:
        base = shingle_base_cached(df, id_col, text_col, k=k)
    inv = base.select("doc_id", F.explode_outer("shingles").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    sizes = base.select("doc_id", F.size("shingles").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("_df", "s")
    ranked = (inv.join(dfreq, "s").join(sizes, "doc_id")
                 .withColumn("_rn", F.row_number().over(w)))
    # floor() in doubles can round BELOW the exact bound and shorten
    # the prefix by one (e.g. (1-0.3)*10 = 6.999... in IEEE → floor 6,
    # exact 7) — a genuine completeness hole. +eps only ever lengthens
    # the prefix, which is always safe.
    prefix = ranked.filter(
        F.col("_rn") <= F.floor((1.0 - threshold) * F.col("n") + 1e-6) + 1) \
        .select("doc_id", "s", "n", "_rn")
    # Candidate join with the PPJoin bounds (both are provably safe
    # relaxations, so completeness holds):
    #  * length filter: J(A,B) >= t forces |A∩B| >= t*max(|A|,|B|),
    #    and |A∩B| <= min(|A|,|B|), so t*max <= min — prunes pairs of
    #    very different sizes BEFORE they materialize;
    #  * positional filter: a shared prefix shingle at rank r_a / r_b
    #    (rarest-first order on both sides) caps the overlap at
    #    min(n_a-r_a, n_b-r_b)+1, which must reach the required
    #    intersection t*(n_a+n_b)/(1+t). PPJoin proper applies this to
    #    the first shared token; keeping a pair when ANY shared prefix
    #    token passes is a superset of that, hence still complete.
    # Both bounds are evaluated in floating point; if the double product
    # ever rounded ABOVE the exact rational bound, a pair sitting
    # exactly at jaccard == threshold could be wrongly pruned. Relax
    # each bound by a small epsilon: spurious extra candidates are
    # harmless (the exact verify stage re-filters on the same double
    # jaccard the unrestricted join computes), while pruning is now
    # provably a relaxation for any threshold, not just t=0.3.
    _EPS = 1e-6
    req = F.ceil(F.lit(threshold) / (1.0 + threshold)
                 * (F.col("n_a") + F.col("n_b")) - _EPS)
    # ``anchor_ids`` restricts the join to pairs with >=1 anchor
    # endpoint: the probe side is the anchors' prefixes only, so work
    # is bounded by anchor degree. Both bounds and the verify are
    # symmetric per-pair functions, so the result equals the full join
    # filtered to anchor-incident pairs (the q189 certification shape).
    left_pfx = prefix if anchor_ids is None \
        else prefix.join(anchor_ids.toDF("doc_id"), "doc_id", "semi")
    pair_pred = (F.col("id_a") < F.col("id_b")) if anchor_ids is None \
        else (F.col("id_a") != F.col("id_b"))
    cand = (left_pfx.select(F.col("doc_id").alias("id_a"), "s",
                            F.col("n").alias("n_a"), F.col("_rn").alias("r_a"))
                    .join(prefix.select(F.col("doc_id").alias("id_b"), "s",
                                        F.col("n").alias("n_b"),
                                        F.col("_rn").alias("r_b")), "s")
                    .filter(pair_pred
                            & (F.least("n_a", "n_b")
                               >= threshold * F.greatest("n_a", "n_b") - _EPS)
                            & (F.least(F.col("n_a") - F.col("r_a"),
                                       F.col("n_b") - F.col("r_b")) + 1
                               >= req))
                    .select(F.least("id_a", "id_b").alias("id_a"),
                            F.greatest("id_a", "id_b").alias("id_b"))
                    .distinct())
    # Verify ONLY the candidate pairs with the intersection-COUNT join
    # (each shared shingle is one row; COUNT per pair IS |A∩B|):
    # fan the candidate pairs out over side A's postings, then keep
    # the postings side B also has. Work is |cand| * avg|A| rows —
    # bounded by the candidate set the prefix filter just pruned —
    # never the Σ_s df(s)² of a full postings self-join, so one hot
    # shingle cannot drive quadratic pair blowup. Postings move, never
    # the shingle arrays — joining candidates back to full arrays was
    # measured 4x slower purely from shuffling array payloads to 650k
    # candidate rows. AllPairs guarantees every true pair is a
    # candidate, so output is hash-identical to the unrestricted
    # SSJoin (pinned by pytest equality and the unchanged q170 oracle).
    a = inv.select(F.col("doc_id").alias("id_a"), "s")
    b = inv.select(F.col("doc_id").alias("id_b"), "s")
    common = (cand.join(a, "id_a")
                  .join(b, ["id_b", "s"])
                  .groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("c")))
    return _verify_jaccard(common, sizes, sizes, threshold)


def crossdoc_span_dedup(df: DataFrame, id_col: str, text_col: str, *,
                        k: int = 5) -> DataFrame:
    """Corpus-wide exact substring dedup WITH A SURVIVOR: every token
    k-gram window that occurs more than once anywhere in the corpus
    keeps exactly one canonical occurrence — the lexicographically
    first (doc_id, position) — and is excised from every other
    occurrence. This is the keep-one semantic of suffix-array
    substring dedup in "Deduplicating Training Data Makes Language
    Models Better" (one copy of boilerplate survives for the model to
    learn from), whereas ``repeated_ngram_spans`` excises ALL
    occurrences (the remove-boilerplate-entirely policy). Both are
    real curation policies; pipelines pick per corpus.

    Scale shape: identical to repeated_ngram_spans — grams shuffle as
    (md5, doc, pos), the survivor is one map-side-combinable min-
    struct per digest (no window over the corpus), non-survivor hits
    join back on the digest, span-merge is a per-doc window, and
    excision is a per-doc range anti-join. Linear in corpus + hit
    count; the hot-gram pathology of a postings self-join cannot occur
    because grams only ever meet their own digest's aggregate row.

    Output: (doc_id, n_tokens, dropped_tokens, n_spans, clean_text),
    one row per input document.
    """
    from pyspark.sql import Window

    w_arr = (F.when(F.length(F.trim(F.col(text_col))) == 0,
                    F.array().cast("array<string>"))
              .otherwise(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = df.select(F.col(id_col).alias("doc_id"), w_arr.alias("w"))

    n = F.size("w")
    grams_arr = (
        F.when(n < k, F.array().cast("array<string>"))
         .otherwise(F.transform(
             F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
             lambda i: F.md5(F.concat_ws(
                 " ", F.slice("w", (i + 1).cast("int"), k))))))
    grams = base.select("doc_id", F.posexplode(grams_arr).alias("p", "gh"))

    surv = (grams.groupBy("gh")
                 .agg(F.count(F.lit(1)).alias("_c"),
                      F.min(F.struct(F.col("doc_id"), F.col("p")))
                       .alias("sv"))
                 .filter(F.col("_c") >= 2)
                 .select("gh", "sv"))
    bad = (grams.join(surv, "gh")
                .filter(~((F.col("doc_id") == F.col("sv.doc_id"))
                          & (F.col("p") == F.col("sv.p"))))
                .select("doc_id", "p"))

    w_prev = (Window.partitionBy("doc_id").orderBy("p")
                    .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("p")
                   .rowsBetween(Window.unboundedPreceding, 0))
    brk = (F.when(F.col("p") > F.coalesce(F.max("p").over(w_prev),
                                          F.lit(-k - 1)) + k,
                  F.lit(1)).otherwise(F.lit(0)))
    spans = (bad.withColumn("_b", brk)
                .withColumn("_iid", F.sum("_b").over(w_run))
                .groupBy("doc_id", "_iid")
                .agg(F.min("p").alias("s"),
                     (F.max("p") + F.lit(k - 1)).alias("e")))
    spanstats = (spans.groupBy("doc_id")
                      .agg(F.count(F.lit(1)).cast("long").alias("n_spans"),
                           F.sum(F.col("e") - F.col("s") + 1).cast("long")
                            .alias("dropped_tokens")))

    toks = base.select("doc_id", F.posexplode("w").alias("pos", "word"))
    sp = spans.select(F.col("doc_id").alias("_sd"), "s", "e")
    kept = toks.join(sp, (toks["doc_id"] == sp["_sd"])
                     & F.col("pos").between(F.col("s"), F.col("e")),
                     "left_anti")
    rebuilt = (kept.groupBy("doc_id")
                   .agg(F.array_sort(F.collect_list(
                            F.struct("pos", "word"))).alias("_s"))
                   .select("doc_id",
                           F.concat_ws(" ", F.transform(
                               "_s", lambda s: s["word"]))
                            .alias("clean_text")))
    return (base.select("doc_id", n.cast("long").alias("n_tokens"))
                .join(spanstats, "doc_id", "left")
                .join(rebuilt, "doc_id", "left")
                .select("doc_id", "n_tokens",
                        F.coalesce("dropped_tokens", F.lit(0))
                         .alias("dropped_tokens"),
                        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                        F.coalesce("clean_text", F.lit(""))
                         .alias("clean_text")))


def winnowing_pairs(df: DataFrame, id_col: str, text_col: str, *,
                    k: int = 4, w: int = 5, min_shared: int = 2,
                    max_fp_df: int = 100) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token k-gram, slide
    a window of ``w`` consecutive grams, and select the RIGHTMOST
    MINIMUM hash of each window as a fingerprint. Any shared substring
    of length >= w+k-1 tokens is guaranteed to contribute at least one
    shared fingerprint, so the selected ~1/w fraction of grams gives
    deterministic partial-overlap detection — unlike MinHash (whole-doc
    similarity) or ``repeated_ngram_spans`` (which keeps every gram).

    The rightmost-min selection works on the integer encoding
    ``h * 2^20 + (2^20-1 - pos)`` (hash in the high bits, reversed
    position in the low bits, so ties break to the LARGEST position)
    and runs ENTIRELY IN THE ARRAY DOMAIN — per-document
    transform/slice/array_min, one map-only pass, no explode-then-
    window (a window min over per-doc partitions measured 22s at
    sf0.1 vs ~3s for this form: millions of 1-row-per-gram window
    frames lose to one array pass per document). Positions must stay
    below 2^20 tokens per document — loudly enforced by the encoding
    itself (ANSI overflow would throw, not corrupt).

    Pair generation joins per-doc fingerprint sets through the
    fingerprint value with a document-frequency cap (``max_fp_df``,
    the same hot-key discipline as tfidf_cosine_pairs): a fingerprint
    shared by more documents than the cap is boilerplate, not
    overlap signal, and would otherwise drive df^2 pair work.

    Output: (id_a, id_b, shared_fps) for pairs sharing at least
    ``min_shared`` fingerprints, id_a < id_b.

    Reference parity: none — the reference Glue pipeline has no text
    corpus; this is the LLM-curation extension family.
    """
    from ._cache import register_cache

    toks = (F.when(F.length(F.trim(F.col(text_col))) == 0,
                   F.array().cast("array<string>"))
             .otherwise(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    n = F.size("t")
    grams_arr = (
        F.when(n < k, F.array().cast("array<string>"))
         .otherwise(F.transform(
             F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
             lambda i: F.concat_ws(
                 " ", F.slice("t", (i + 1).cast("int"), k)))))
    # 40-bit portable hash leaves room for the 20-bit position suffix
    keys_arr = F.transform(
        grams_arr,
        lambda g, i: (F.pmod(portable_hash60(g), F.lit(1 << 40))
                      * F.lit(1 << 20)
                      + (F.lit((1 << 20) - 1) - i.cast("long"))))
    keyed = base.select("doc_id", keys_arr.alias("ks"))
    ng = F.size("ks")
    sel_arr = (
        F.when(ng == 0, F.array().cast("array<bigint>"))
         .otherwise(F.array_distinct(F.transform(
             F.sequence(F.lit(0), F.greatest(ng - w, F.lit(0))),
             lambda s: F.shiftright(
                 F.array_min(F.slice("ks", (s + 1).cast("int"), w)),
                 20)))))
    # the fingerprint set feeds THREE consumers below (df-count, pair
    # side A, pair side B); persist it or the gram+hash+min subtree
    # recomputes per consumer (registry-tracked, released by bench/
    # gate/test harnesses)
    sel = register_cache(
        keyed.select("doc_id", F.explode(sel_arr).alias("fp"))
             .distinct())
    live = (sel.groupBy("fp")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter((F.col("_df") >= 2) & (F.col("_df") <= max_fp_df))
               .select("fp"))
    s = sel.join(live, "fp")
    a = s.select(F.col("doc_id").alias("id_a"), "fp")
    b = s.select(F.col("doc_id").alias("id_b"), "fp")
    return (a.join(b, "fp")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
             .filter(F.col("shared_fps") >= min_shared))
