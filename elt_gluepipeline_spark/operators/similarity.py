"""Similarity search and vector quantization over embedding columns
(array<float>).

Cosine search: ``knn_bruteforce`` (exact), ``lsh_ann`` (sign-random-
projection buckets) and ``ivf_ann`` (coarse cells) differ only in how
they pick candidate pairs. They, and ``hard_negative_mine``, score
through one stage, ``_cosine_scored``: norms projected once per row,
the query side broadcast, the cosine rounded before ranking, ties
broken on neighbor_id.

Vector quantization: k-means centroids, IVF coarse cells and PQ
codebooks are one model, ``PQArtifact`` (k-means and IVF are m=1
codebooks). It has one trainer (``_pq_fit``), one encoder
(``_pq_cells_udf`` picks each cell, ``_pq_chosen_dist`` reports its
distance) and one ADC scorer (``_adc_topk``). Four invariants make
every centroid, code and distance engine-reproducible, so the DuckDB
oracles replay them bit for bit:

- md5-ordered seeds: the initial centroids are the k vectors with the
  smallest md5-derived hash of ``id#seed``; no RNG. A corpus smaller
  than k yields one centroid per vector, and the artifact records
  that count as its k.
- grid-exact update: a Lloyd update quantizes each coordinate to
  ``floor(x*grid + 0.5)`` (a long) and divides the exact integer sum
  by ``grid * count``. Long sums are associative, so the new centroid
  is bit-identical under any partitioning; double sums are not.
- lowest-cell tie-break: an exact distance tie picks the lowest cell
  id (numpy's first argmin; ``ORDER BY dist, cell`` in SQL).
- reported distance is a sequential fold: the GEMM distances only pick
  the cell; the distance a query outputs is the left-to-right fold of
  ``(x - c)^2`` against the chosen centroid, as the oracle computes it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

from .textstats import ROUND_TO
from .windows import top_n_per_key


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


# Folds against literal vectors stay higher-order functions: expanding
# them into element_at chains measured slower (ANSI bounds and null
# checks on every node) for identical outputs.


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_as: str = "_id",
             vec_as: str = "_v") -> DataFrame:
    """(id, vector as array<double>) under the given names."""
    return df.select(F.col(id_col).alias(id_as),
                     _as_double(F.col(vec_col)).alias(vec_as))


def _cosine_scored(c: DataFrame, q: DataFrame, on: str | None) -> DataFrame:
    """The cosine scoring stage: candidates (neighbor_id, c_vec) against
    the broadcast queries (query_id, q_vec), joined on column ``on``
    (None: every pair), self-matches dropped. Norms are projected
    before the join, one fold per row instead of one per pair. The
    cosine is rounded to ``ROUND_TO`` decimals before any ranking so
    order is reproducible across engines; ``+ 0.0`` canonicalizes IEEE
    -0.0 (Spark's round drops the sign of tiny negatives, DuckDB's
    keeps it)."""
    c = c.withColumn("_cn", l2_norm(F.col("c_vec")))
    q = q.withColumn("_qn", l2_norm(F.col("q_vec")))
    return (c.join(F.broadcast(q), on)
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("cosine",
                         F.round(dot(F.col("q_vec"), F.col("c_vec"))
                                 / (F.col("_qn") * F.col("_cn")), ROUND_TO)
                         + F.lit(0.0)))


def _cosine_topk(c: DataFrame, q: DataFrame, on: str | None,
                 k: int) -> DataFrame:
    """``_cosine_scored`` ranked: (query_id, neighbor_id, cosine), the k
    most similar per query."""
    top = top_n_per_key(_cosine_scored(c, q, on), ["query_id"],
                        [F.col("cosine").desc(), F.col("neighbor_id")], k)
    return top.select("query_id", "neighbor_id", "cosine")


def knn_bruteforce(queries: DataFrame, candidates: DataFrame, k: int, *,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    The candidate side stays partitioned and the (small) query side
    broadcasts, so the cross product is a broadcast nested loop that
    streams the corpus once: O(|Q|·|N|) compute, no corpus shuffle.
    Output: (query_id, neighbor_id, cosine), cosine rounded to
    ``ROUND_TO`` decimals before ranking; ties break on neighbor_id.
    """
    return _cosine_topk(
        _vectors(candidates, id_col, vec_col, "neighbor_id", "c_vec"),
        _vectors(queries, id_col, vec_col, "query_id", "q_vec"),
        None, k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def signature_col(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against fixed hyperplanes → long.
    A non-null vector whose length differs from the planes' width
    fails the query: ``dot`` would pad the shorter side with NULLs and
    give every such vector signature 0."""
    dim = len(planes[0])
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, p) >= 0,
                     F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        bits.append(bit)
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return F.when(F.size(vec) != dim, F.raise_error(F.concat(
        F.lit("signature_col: vector length "), F.size(vec).cast("string"),
        F.lit(f" differs from the hyperplane width {dim}")))).otherwise(out)


def lsh_ann(queries: DataFrame, candidates: DataFrame, k: int, *,
            dim: int, n_planes: int = 8, seed: int = 42,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates considered only when their sign
    signature equals the query's (one shuffle on the signature; at
    scale add multi-probe or fewer planes for recall). Misses are
    possible by construction (rows-only check)."""
    planes = _hyperplanes(dim, n_planes, seed)
    c = _vectors(candidates, id_col, vec_col, "neighbor_id", "c_vec")
    q = _vectors(queries, id_col, vec_col, "query_id", "q_vec")
    return _cosine_topk(
        c.withColumn("sig", signature_col(F.col("c_vec"), planes)),
        q.withColumn("sig", signature_col(F.col("q_vec"), planes)),
        "sig", k)


NEARDUP_SCHEMA = StructType([
    StructField("id_a", LongType(), False),
    StructField("id_b", LongType(), False),
    StructField("cosine", DoubleType(), False),
])


#: Refuse-by-default ceiling on SCORED pairs for the exact path.
#: 1e9 pairs at d=64 is ~1e11 GEMM flops — minutes on one executor
#: wave; a million-vector corpus (5e11 pairs) is where "exact
#: all-pairs" stops being a plan and starts being an outage. Callers
#: that truly want more pass max_pairs explicitly (or None to disable).
DEFAULT_MAX_SCORED_PAIRS = 1_000_000_000


def cosine_neardup_pairs(df: DataFrame, *, threshold: float,
                         n_blocks: int | None = None, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         target_block_bytes: int = 64 << 20,
                         anchor_ids: DataFrame | None = None,
                         max_pairs: int | None = DEFAULT_MAX_SCORED_PAIRS,
                         ) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (recall 1.0): every pair
    with cosine >= threshold, id_a < id_b.

    Distributed brute force as a BLOCKED MATRIX PRODUCT: vectors hash
    into n_blocks buckets and every bucket PAIR (bi <= bj) is scored
    with one numpy GEMM — B(B+1)/2 independent tasks, each
    O((n/B)^2 * d) with two blocks resident. An unordered id pair lands
    in exactly one bucket pair, so no pair is scored or emitted twice.

    Block pairs are assembled by replicating each vector AS ROWS into
    the (blk_a, blk_b) groups it participates in and folding each group
    with applyInPandas — vectors arrive as Arrow record batches, never
    as one collect_list'd array value, so there is no ~2 GB single-value
    ceiling and no executor-OOM block row at corpus scale. Per-task
    memory is two blocks (~2x target_block_bytes), controlled by
    n_blocks; when n_blocks is None it is auto-sized from count x dim
    so each block's float64 matrix is ~target_block_bytes.

    This is the exact path; its total compute is inherently O(n^2 * d)
    and its shuffle O(n * B * d) (each vector meets every other block).
    Switch to the sub-linear probabilistic path (``lsh_ann`` sign-LSH
    buckets) when n^2 is off the table. GEMM beats per-pair SQL
    expressions by >100x here — this is the one place the Python/Arrow
    boundary wins over codegen.

    Two scale rails, because this is the one operator a user could
    point at a full corpus and silently get n^2:

    - ``max_pairs`` (default 1e9): the call REFUSES with a ValueError
      when the scored-pair count (n*(n-1)/2, or n_anchors*n in
      anchored mode) exceeds it, naming the alternatives. Pass a
      bigger value (or None) to opt into a deliberate big run.
    - ``anchor_ids`` (single-column id frame): exact certification
      mode — emit only pairs with >=1 anchor endpoint. Work drops to
      O(n_anchors * n * d): LINEAR in corpus size for a fixed anchor
      sample, so exact cosine ground truth (e.g. auditing the LSH
      path's recall, the q189 pattern) stays runnable at 100 TB.
      Output equals the full join filtered to anchor-incident pairs
      (pinned by pytest equality).
    """
    v = df.select(F.col(id_col).cast("long").alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    first = v.select(F.size("_v").alias("d")).head(1)
    dim = max(first[0]["d"] if first else 1, 1)
    n = v.count()
    if anchor_ids is not None:
        return _anchored_neardup_pairs(
            v, anchor_ids, n=n, dim=dim, threshold=threshold,
            target_block_bytes=target_block_bytes,
            max_pairs=max_pairs)
    if max_pairs is not None and n * (n - 1) // 2 > max_pairs:
        raise ValueError(
            f"cosine_neardup_pairs: exact all-pairs over n={n} vectors "
            f"scores {n * (n - 1) // 2:,} pairs > max_pairs={max_pairs:,}. "
            f"This is the O(n^2) recall-1.0 baseline, not a corpus-scale "
            f"plan. Either (a) pass anchor_ids= for the anchored exact-"
            f"certification mode (O(n_anchors*n)), (b) use the "
            f"subquadratic paths (lsh_ann sign-LSH / semdedup / ivf), or "
            f"(c) explicitly raise max_pairs / pass max_pairs=None.")
    if n_blocks is None:
        n_blocks = max(1, -(-(n * dim * 8) // target_block_bytes))
    b = int(n_blocks)

    # vector in block k joins group (min(k,o), max(k,o)) for every block
    # o; side marks which matrix it lands in ('l'/'r', diagonal = both)
    blk = F.pmod(F.xxhash64("_id"), F.lit(b)).cast("int")
    pair_of = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda o: F.struct(
            F.least(F.col("_blk"), o).alias("_ba"),
            F.greatest(F.col("_blk"), o).alias("_bb"),
            F.when(F.col("_blk") == o, F.lit("lr"))
             .when(F.col("_blk") < o, F.lit("l"))
             .otherwise(F.lit("r")).alias("_side")))
    exploded = (v.withColumn("_blk", blk)
                 .withColumn("_p", F.explode(pair_of))
                 .select("_id", "_v", F.col("_p._ba").alias("_ba"),
                         F.col("_p._bb").alias("_bb"),
                         F.col("_p._side").alias("_side")))

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["_side"] != "r"]
        same = bool((pdf["_side"] == "lr").any())
        right = left if same else pdf[pdf["_side"] != "l"]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64),
                                 "cosine": np.array([], dtype=np.float64)})
        ids_a = left["_id"].to_numpy(dtype=np.int64)
        mat_a = np.array(list(left["_v"]), dtype=np.float64)
        ids_b = ids_a if same else right["_id"].to_numpy(dtype=np.int64)
        mat_b = mat_a if same else np.array(list(right["_v"]), dtype=np.float64)
        norm_a = np.linalg.norm(mat_a, axis=1)
        norm_b = norm_a if same else np.linalg.norm(mat_b, axis=1)
        denom = np.outer(norm_a, norm_b)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (mat_a @ mat_b.T) / denom, 0.0)
        cos = np.round(cos, ROUND_TO) + 0.0  # canonicalize -0.0
        ii, jj = np.nonzero(cos >= threshold)
        if same:
            keep = ii < jj  # strict upper triangle: each pair once
            ii, jj = ii[keep], jj[keep]
        ia, ib = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ii, jj]})

    return (exploded.groupBy("_ba", "_bb")
                    .applyInPandas(_score, schema=NEARDUP_SCHEMA))


def _anchored_neardup_pairs(v: DataFrame, anchor_ids: DataFrame, *,
                            n: int, dim: int, threshold: float,
                            target_block_bytes: int,
                            max_pairs: int | None) -> DataFrame:
    """Exact cosine pairs restricted to >=1 anchor endpoint.

    Rectangular blocked GEMM: anchors (rows) x full corpus (columns).
    Anchors replicate into every corpus block and corpus rows into
    every anchor block, so shuffle is n_a*Bb + n*Ba rows — with a
    small anchor sample Ba == 1 and the corpus moves exactly once
    (O(n)), vs the full mode's O(n*B). Compute is n_a * n * d.

    An anchor-anchor pair is scored twice (x as row vs y as row) with
    bitwise-identical doubles (same element order in both GEMMs), so
    the trailing distinct() collapses it without a tolerance.
    """
    a = (v.join(anchor_ids.toDF("_aid")
                          .select(F.col("_aid").cast("long").alias("_id")),
                "_id", "semi"))
    n_a = a.count()
    if max_pairs is not None and n_a * n > max_pairs:
        raise ValueError(
            f"cosine_neardup_pairs(anchored): {n_a:,} anchors x {n:,} "
            f"corpus vectors = {n_a * n:,} scored pairs > "
            f"max_pairs={max_pairs:,}. Shrink the anchor sample or "
            f"explicitly raise max_pairs.")
    ba = max(1, -(-(n_a * dim * 8) // target_block_bytes))
    bb = max(1, -(-(n * dim * 8) // target_block_bytes))
    lhs = (a.withColumn("_ba", F.pmod(F.xxhash64("_id"), F.lit(ba))
                               .cast("int"))
            .withColumn("_bb", F.explode(F.sequence(F.lit(0),
                                                    F.lit(bb - 1))))
            .select("_id", "_v", "_ba", "_bb", F.lit("l").alias("_side")))
    rhs = (v.withColumn("_bb", F.pmod(F.xxhash64("_id"), F.lit(bb))
                               .cast("int"))
            .withColumn("_ba", F.explode(F.sequence(F.lit(0),
                                                    F.lit(ba - 1))))
            .select("_id", "_v", "_ba", "_bb", F.lit("r").alias("_side")))

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["_side"] == "l"]
        right = pdf[pdf["_side"] == "r"]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64),
                                 "cosine": np.array([], dtype=np.float64)})
        ids_a = left["_id"].to_numpy(dtype=np.int64)
        mat_a = np.array(list(left["_v"]), dtype=np.float64)
        ids_b = right["_id"].to_numpy(dtype=np.int64)
        mat_b = np.array(list(right["_v"]), dtype=np.float64)
        norm_a = np.linalg.norm(mat_a, axis=1)
        norm_b = np.linalg.norm(mat_b, axis=1)
        denom = np.outer(norm_a, norm_b)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (mat_a @ mat_b.T) / denom, 0.0)
        cos = np.round(cos, ROUND_TO) + 0.0  # canonicalize -0.0
        ii, jj = np.nonzero(cos >= threshold)
        ia, ib = ids_a[ii], ids_b[jj]
        keep = ia != ib
        ia, ib, cc = ia[keep], ib[keep], cos[ii, jj][keep]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cc})

    return (lhs.unionByName(rhs)
               .groupBy("_ba", "_bb")
               .applyInPandas(_score, schema=NEARDUP_SCHEMA)
               .distinct())


def ivf_ann(queries: DataFrame, candidates: DataFrame, k: int, *,
            n_cells: int = 16, n_probe: int = 2, seed: int = 42,
            id_col: str = "vec_id", vec_col: str = "embedding",
            centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF (inverted-file) approximate NN: the classic coarse-quantizer
    scale path.

    1. CENTROIDS: ``fit_pq_artifact(candidates, m=1, k=n_cells,
       n_iter=1, seed=seed)`` — the md5-ordered seed sample, no Lloyd
       update. Tiny, so it rides into the UDF closures.
    2. ASSIGN: every candidate goes to its most cosine-similar centroid
       — an Arrow-batched pandas UDF, map-only.
    3. PROBE: each query takes its n_probe most similar cells and joins
       candidates on cell id — the shuffle moves only the probed
       fraction (~n_probe/n_cells of the corpus per query set).
    4. SCORE: exact cosine + per-query top-k within the probed cells.

    Recall < 1 by construction (rows-only check); raise n_probe toward
    n_cells to trade speed for recall.

    SERVE PATH: pass ``centroids`` (``artifact.books[0]`` of a saved
    m=1 fit) and the plan runs no training job.
    """
    if centroids is None:
        art = fit_pq_artifact(candidates, m=1, k=n_cells, n_iter=1,
                              seed=seed, id_col=id_col, vec_col=vec_col)
        centroids = art.books[0] if art else []
    if not centroids:  # empty corpus → empty result, same schema/id dtype
        return _empty_pairs(queries, id_col, "cosine")
    cmat = np.array(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0

    def _cells(vs: pd.Series, top: int) -> pd.Series:
        out = []
        for v in vs:
            a = np.asarray(v, dtype=np.float64)
            n = np.linalg.norm(a) or 1.0
            sims = (cmat @ a) / (cnorm * n)
            # stable sort → exact ties resolve to the lower cell index,
            # the same tie-break an ORDER BY sim DESC, cell ASC gives
            order = np.argsort(-sims, kind="stable")[:top]
            out.append([int(i) for i in order])
        return pd.Series(out)

    @F.pandas_udf("array<long>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        return _cells(vs, n_probe)

    @F.pandas_udf("long")
    def best_cell(vs: pd.Series) -> pd.Series:
        return _cells(vs, 1).map(lambda x: x[0])

    c = _vectors(candidates, id_col, vec_col, "neighbor_id", "c_vec")
    q = _vectors(queries, id_col, vec_col, "query_id", "q_vec")
    return _cosine_topk(
        c.withColumn("cell", best_cell("c_vec")),
        q.withColumn("cell", F.explode(probe_cells("q_vec"))),
        "cell", k)


def hard_negative_mine(queries: DataFrame, candidates: DataFrame, k: int, *,
                       dup_threshold: float = 0.98,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k MOST similar candidates that are NOT near-duplicates — the
    informative negatives sit just below the duplicate band, and a
    plain kNN would hand back the query's own clones as "negatives"
    (catastrophic for a contrastive objective; the synthetic corpus'
    clone groups make the exclusion observable). ``knn_bruteforce``'s
    scoring stage with the dup band ``cosine >= dup_threshold``
    excluded BEFORE the per-query top-k — filtering after a plain top-k
    would silently under-fill.

    Output: (query_id, neighbor_id, cosine, neg_rank), neg_rank 1..k.
    """
    scored = _cosine_scored(
        _vectors(candidates, id_col, vec_col, "neighbor_id", "c_vec"),
        _vectors(queries, id_col, vec_col, "query_id", "q_vec"),
        None).filter(F.col("cosine") < dup_threshold)
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id")))
    return (scored.withColumn("neg_rank", F.row_number().over(w))
                  .filter(F.col("neg_rank") <= k)
                  .select("query_id", "neighbor_id", "cosine",
                          F.col("neg_rank").cast("long").alias("neg_rank")))


def quantize_int8(df: DataFrame, *, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage
    /bandwidth step a vector corpus pays before ANN serving (4× smaller
    than float32, 8× than float64).

    Per vector: scale = max(|v|)/127, code_i = floor(v_i/scale + 0.5)
    (half-up, engine-portable — no banker's-rounding divergence),
    reconstruction v̂_i = code_i·scale. All higher-order array
    expressions in double precision: map-only, codegen'd, no shuffle,
    no Python — at corpus scale this is a pure scan-transform whose
    cost is bounded by the parquet read. All-zero vectors quantize to
    all-zero codes (scale 0 guard).

    Output per vector: the int8 code array plus audit scalars —
    ``scale``, ``code_sum``/``code_l1`` (integer checksums; exact
    cross-engine equality evidence), and ``mse`` (mean squared
    reconstruction error).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col), v.alias("_v"))
    amax = F.array_max(F.transform("_v", lambda x: F.abs(x)))
    b = base.select(id_col, "_v", amax.alias("_amax"))
    scale = F.col("_amax") / F.lit(127.0)
    code = F.when(F.col("_amax") == 0.0,
                  F.transform("_v", lambda x: F.lit(0).cast("long"))) \
            .otherwise(F.transform(
                "_v", lambda x: F.floor(x / (F.col("_amax") / F.lit(127.0))
                                        + F.lit(0.5))))
    c = b.select(id_col, "_v", "_amax", code.alias("_code"))
    sq_err = F.zip_with("_code", "_v",
                        lambda q, x: (q * scale - x) * (q * scale - x))
    mse = F.when(F.size("_v") == 0, F.lit(0.0)).otherwise(
        F.aggregate(sq_err, F.lit(0.0), lambda a, e: a + e) / F.size("_v"))
    return c.select(
        id_col,
        F.col("_code").cast("array<tinyint>").alias("code"),
        F.round(scale, 6).alias("scale"),
        F.aggregate("_code", F.lit(0).cast("long"),
                    lambda a, e: a + e).alias("code_sum"),
        F.aggregate("_code", F.lit(0).cast("long"),
                    lambda a, e: a + F.abs(e)).alias("code_l1"),
        F.round(mse, 6).alias("mse"))



# --------------------------------------------------------------------
# Vector quantization. A model is fitted once into a PQArtifact and
# persisted as a small parquet folder; serving loads it (a bounded
# collect of k·m centroid rows) and runs with no training stage.
# --------------------------------------------------------------------


@dataclass(frozen=True)
class PQArtifact:
    """Trained quantizer state: m per-subspace codebooks (k centroids
    of width w each) and optionally the IVF coarse centroids. k-means
    is the m=1 case (w == dim)."""
    m: int
    k: int
    w: int
    dim: int
    grid: int
    round_to: int
    books: tuple          # books[s][cell] = centroid (len w)
    coarse: tuple | None  # coarse[cell] = centroid (len dim)


def _pq_subvec(s: int, w: int) -> Column:
    return F.slice("_v", s * w + 1, w)


def _lit_book(book) -> Column:
    """A codebook as one 2-D array literal."""
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in book])


def _pq_dists(s: int, w: int, book) -> Column:
    """Fold distances of subvector s to EVERY centroid of ``book``, as
    ONE transform over the codebook literal: the same values and fold
    order as k separate folds, with a ~k× smaller expression tree
    (plan analysis and codegen dominate serve plans at small data)."""
    sv = _pq_subvec(s, w)
    return F.transform(
        _lit_book(book),
        lambda c: F.aggregate(F.zip_with(sv, c, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, e: acc + e))


def _pq_cells_udf(books, w: int):
    """The encoder's cell pick: one pandas_udf mapping ``_v`` to its
    nearest cell in EVERY subspace (array<int>, length m), one numpy
    GEMM per Arrow batch instead of k·w interpreted folds per row.
    np.argmin is the first minimum: ties go to the lowest cell."""
    mats = [np.asarray(b, dtype=np.float64) for b in books]
    sqs = [(mat * mat).sum(axis=1) for mat in mats]
    m = len(books)

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        big = np.array(list(v), dtype=np.float64)
        out = np.empty((big.shape[0], m), dtype=np.int64)
        for s, mat in enumerate(mats):
            sub = big[:, s * w:(s + 1) * w]
            d = ((sub * sub).sum(axis=1)[:, None] + sqs[s][None, :]
                 - 2.0 * (sub @ mat.T))
            out[:, s] = np.argmin(d, axis=1)
        return pd.Series([[int(x) for x in row] for row in out])

    return cells


def _pq_chosen_dist(s: int, w: int, book, cell: Column) -> Column:
    """The encoder's reported distance: one sequential O(w) fold
    against the centroid picked out of the 2-D codebook literal by
    ``cell`` (a k-branch when-chain gives the same values with a k×
    bigger expression tree)."""
    chosen = F.element_at(_lit_book(book), cell + 1)
    return F.aggregate(
        F.zip_with(_pq_subvec(s, w), chosen,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, e: acc + e)


def _pq_fit(v: DataFrame, *, m: int, k: int, n_iter: int, seed: int,
            grid: int) -> list[list[list[float]]] | None:
    """The Lloyd trainer over a (_id, _v) frame. One collect picks the
    seeds (the at most k md5-ordered vectors, sliced into m subspace
    codebooks); each of the n_iter - 1 updates is ONE aggregation: the
    encoder assigns every subspace, m (s, cell, subvector) structs
    explode per row, and groupBy(s, cell) sums the grid-quantized
    coordinates. A cell that gets no vector keeps its centroid.
    Returns books[s][cell], or None on empty input."""
    from .dedup import portable_hash60  # noqa: PLC0415 (cycle-free late import)

    sample_h = portable_hash60(
        F.concat_ws("#", F.col("_id").cast("string"), F.lit(str(seed))))
    seed_rows = (v.withColumn("_h", sample_h)
                  .orderBy("_h", "_id").limit(k).select("_v").collect())
    if not seed_rows:
        return None
    dim = len(seed_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    books = [[list(r["_v"])[s * w:(s + 1) * w] for r in seed_rows]
             for s in range(m)]
    g = float(grid)
    for _ in range(max(0, n_iter - 1)):
        staged = v.withColumn("_cells", _pq_cells_udf(books, w)("_v"))
        structs = F.array(*[
            F.struct(F.lit(s).alias("_s"),
                     F.element_at("_cells", s + 1).alias("_c"),
                     _pq_subvec(s, w).alias("_sv"))
            for s in range(m)])
        expl = staged.select(F.explode(structs).alias("_e")) \
                     .select(F.col("_e._s").alias("_s"),
                             F.col("_e._c").alias("_c"),
                             F.col("_e._sv").alias("_sv"))
        qsum = [F.sum(F.floor(F.col("_sv")[i] * F.lit(g) + F.lit(0.5)))
                .alias(f"s{i}") for i in range(w)]
        rows = (expl.groupBy("_s", "_c")
                    .agg(F.count(F.lit(1)).alias("n"), *qsum).collect())
        by_key = {(r["_s"], r["_c"]): r for r in rows}
        books = [
            [[by_key[(s, j)][f"s{i}"] / (g * by_key[(s, j)]["n"])
              for i in range(w)] if (s, j) in by_key else cent
             for j, cent in enumerate(book)]
            for s, book in enumerate(books)]
    return books


def fit_pq_artifact(df: DataFrame, *, m: int = 4, k: int = 16,
                    n_iter: int = 2, seed: int = 7,
                    n_cells: int | None = None, cell_seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    grid: int = 1_000_000,
                    round_to: int = 6) -> PQArtifact | None:
    """The offline fit job: m subspace codebooks of up to k centroids,
    plus the IVF coarse centroids when ``n_cells`` (an m=1 fit with no
    Lloyd update, seeded by ``cell_seed``). k-means is the m=1 fit; the
    IVF cell sample alone is the m=1, n_iter=1 fit. The artifact's k is
    the number of centroids trained, fewer than asked on a corpus
    smaller than k. Returns None on empty input."""
    v = _vectors(df, id_col, vec_col)
    books = _pq_fit(v, m=m, k=k, n_iter=n_iter, seed=seed, grid=grid)
    if books is None:
        return None
    coarse = None
    if n_cells:
        cb = _pq_fit(v, m=1, k=n_cells, n_iter=1, seed=cell_seed, grid=grid)
        coarse = tuple(tuple(c) for c in cb[0])
    w = len(books[0][0])
    return PQArtifact(m=m, k=len(books[0]), w=w, dim=m * w, grid=grid,
                      round_to=round_to,
                      books=tuple(tuple(tuple(c) for c in b) for b in books),
                      coarse=coarse)


_ARTIFACT_SCHEMA = ("kind string, s int, cell int, centroid array<double>, "
                    "m int, k int, w int, dim int, grid long, round_to int")


def save_pq_artifact(spark, art: PQArtifact, path: str) -> None:
    """Persist an artifact as ONE small parquet folder (k·m + n_cells
    rows; params replicated per row so the file is self-describing —
    no sidecar to race against)."""
    rows = [("pq", s, j, list(art.books[s][j]),
             art.m, art.k, art.w, art.dim, art.grid, art.round_to)
            for s in range(art.m) for j in range(art.k)]
    if art.coarse is not None:
        rows += [("coarse", 0, j, list(c),
                  art.m, art.k, art.w, art.dim, art.grid, art.round_to)
                 for j, c in enumerate(art.coarse)]
    (spark.createDataFrame(rows, _ARTIFACT_SCHEMA)
          .coalesce(1).write.mode("overwrite").parquet(path))


def load_pq_artifact(spark, path: str) -> PQArtifact:
    """Load a persisted artifact (bounded collect). Raises on missing/
    torn artifacts — callers fall back to a refit."""
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"empty PQ artifact at {path}")
    meta = rows[0]
    books: dict[tuple[int, int], list[float]] = {}
    coarse: dict[int, list[float]] = {}
    for r in rows:
        if r["kind"] == "pq":
            books[(r["s"], r["cell"])] = list(r["centroid"])
        else:
            coarse[r["cell"]] = list(r["centroid"])
    if len(books) != meta["m"] * meta["k"]:
        raise ValueError(f"torn PQ artifact at {path}: "
                         f"{len(books)} != {meta['m']}x{meta['k']} cells")
    return PQArtifact(
        m=meta["m"], k=meta["k"], w=meta["w"], dim=meta["dim"],
        grid=meta["grid"], round_to=meta["round_to"],
        books=tuple(tuple(tuple(books[(s, j)]) for j in range(meta["k"]))
                    for s in range(meta["m"])),
        coarse=(tuple(tuple(coarse[j]) for j in range(len(coarse)))
                if coarse else None))


def _pq_assign(df: DataFrame, art: PQArtifact, id_col: str,
               vec_col: str) -> DataFrame:
    """The encoder with distortion: (_id, _cells, dist), where dist
    sums each subspace's fold distance to its chosen centroid, each
    rounded, then the sum rounded. Map-only."""
    staged = _vectors(df, id_col, vec_col).withColumn(
        "_cells", _pq_cells_udf(art.books, art.w)("_v"))
    sub = [F.round(_pq_chosen_dist(s, art.w, art.books[s],
                                   F.element_at("_cells", s + 1)),
                   art.round_to)
           for s in range(art.m)]
    return staged.select("_id", "_cells",
                         F.round(sum(sub[1:], sub[0]), art.round_to)
                          .alias("dist"))


def product_quantize(df: DataFrame, *, m: int = 4, k: int = 16,
                     n_iter: int = 2, seed: int = 7,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     grid: int = 1_000_000, round_to: int = 6) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` contiguous subspaces and vector-quantize each against its own
    ``k``-centroid codebook — the memory layout ANN serving uses at
    corpus scale (m log2(k) bits per vector instead of 4·dim bytes;
    4 subspaces × 16 cells = 2 bytes for a 64-dim float vector).

    ``fit_pq_artifact`` then the encoder. All m subspaces share the
    seed rows (sliced), so one SQL oracle replays every subspace with a
    subspace dimension. Job count is independent of m: one seeds
    collect, one aggregation per Lloyd update, one map-only encode.

    Output: (id, codes array<int> length m, dist — the summed subspace
    squared distortion, each subspace rounded then the sum rounded).
    """
    art = fit_pq_artifact(df, m=m, k=k, n_iter=n_iter, seed=seed,
                          id_col=id_col, vec_col=vec_col, grid=grid,
                          round_to=round_to)
    if art is None:
        return (df.select(F.col(id_col)).limit(0)
                  .withColumn("codes", F.array().cast("array<int>"))
                  .withColumn("dist", F.lit(0.0)))
    return _pq_assign(df, art, id_col, vec_col).select(
        F.col("_id").alias(id_col), F.col("_cells").alias("codes"), "dist")


def kmeans_assign_serve(df: DataFrame, art: PQArtifact, *,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """k-means assignment against an m=1 artifact (Lloyd's k-means is
    ``fit_pq_artifact(df, m=1, k=k, n_iter=n_iter, seed=seed)``):
    (id, cell, dist), dist the rounded squared Euclidean distance to
    the chosen centroid. One map-only pass, no training job."""
    return _pq_assign(df, art, id_col, vec_col).select(
        F.col("_id").alias(id_col), F.element_at("_cells", 1).alias("cell"),
        "dist")


def _empty_pairs(queries: DataFrame, id_col: str, dist_name: str) -> DataFrame:
    return (queries.select(F.col(id_col).alias("query_id")).limit(0)
                   .withColumn("neighbor_id", F.col("query_id"))
                   .withColumn(dist_name, F.lit(0.0)))


def _pq_codes(v: DataFrame, art: PQArtifact, *extra: Column) -> DataFrame:
    """The code projection of a (_id, _v) frame: (neighbor_id, *extra,
    _c0.._c{m-1}), each code the encoder's cell in its subspace."""
    staged = v.withColumn("_cells", _pq_cells_udf(art.books, art.w)("_v"))
    return staged.select(F.col("_id").alias("neighbor_id"), *extra,
                         *[F.element_at("_cells", s + 1).alias(f"_c{s}")
                           for s in range(art.m)])


def pq_encode(candidates: DataFrame, art: PQArtifact, *,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Map-only PQ encode: (neighbor_id, _c0.._c{m-1}) — each vector's
    per-subspace nearest-codebook-cell ids under the FROZEN artifact.
    The persisted form of this frame IS the ANN index: a code is a
    pure function of (artifact, vector), so append-only maintenance —
    encode just the new vectors and append — yields byte-identical
    state to a full re-encode (q141 certifies exactly that)."""
    return _pq_codes(_vectors(candidates, id_col, vec_col), art)


def _adc_tables(art: PQArtifact) -> list[Column]:
    """Per-query ADC lookup tables over ``_v``: ``_t{s}`` holds the
    fold distance of subspace s to every centroid of its codebook."""
    return [_pq_dists(s, art.w, art.books[s]).alias(f"_t{s}")
            for s in range(art.m)]


def _adc_topk(pairs: DataFrame, k_neighbors: int,
              art: PQArtifact) -> DataFrame:
    """The ADC scorer over (code, query-table) pairs — neighbor_id with
    codes _c{s}, query_id with tables _t{s}: self-matches dropped, the
    m table lookups summed and rounded BEFORE ranking, the k nearest
    per query kept (ties on neighbor_id)."""
    lookups = [F.element_at(f"_t{s}", F.col(f"_c{s}") + 1)
               for s in range(art.m)]
    scored = (pairs.filter(F.col("neighbor_id") != F.col("query_id"))
                   .withColumn("adc_dist",
                               F.round(sum(lookups[1:], lookups[0]),
                                       art.round_to)))
    top = top_n_per_key(scored, ["query_id"],
                        [F.col("adc_dist").asc(), F.col("neighbor_id")],
                        k_neighbors)
    return top.select("query_id", "neighbor_id", "adc_dist")


def pq_adc_topk_codes(queries: DataFrame, codes: DataFrame,
                      k_neighbors: int, art: PQArtifact, *,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """PQ search with asymmetric distance computation (ADC) against a
    pre-encoded codes frame (``pq_encode``'s shape): per query, an m×k
    table of exact subspace distances to every centroid builds once
    and broadcasts into the code scan, so the corpus never shuffles
    and each candidate costs m lookups + adds — reading 2-byte codes
    instead of 256-byte vectors IS the algorithm. Approximate by
    construction (quantization error), asymmetric (the query side stays
    exact); rerank survivors with ``knn_bruteforce`` when exactness
    matters.

    Output: (query_id, neighbor_id, adc_dist), ≤ k_neighbors per query.
    """
    qtabs = _vectors(queries, id_col, vec_col, "query_id").select(
        "query_id", *_adc_tables(art))
    return _adc_topk(codes.crossJoin(F.broadcast(qtabs)), k_neighbors, art)


def pq_adc_topk_serve(queries: DataFrame, candidates: DataFrame,
                      k_neighbors: int, art: PQArtifact, *,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ADC search over raw vectors: ``pq_encode`` then
    ``pq_adc_topk_codes``. The codebooks arrive as literals from a
    fitted artifact, so the plan has no training stage."""
    codes = pq_encode(candidates, art, id_col=id_col, vec_col=vec_col)
    return pq_adc_topk_codes(queries, codes, k_neighbors, art,
                             id_col=id_col, vec_col=vec_col)


def ivf_pq_topk_serve(queries: DataFrame, candidates: DataFrame,
                      k_neighbors: int, art: PQArtifact, *,
                      n_probe: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """IVFADC (Jégou et al. 2011), the production ANN stack: IVF coarse
    cells prune the candidates, PQ-ADC scores the survivors from their
    codes. Each candidate is encoded with its coarse cell; each query
    probes its ``n_probe`` nearest coarse centroids (ties to the lower
    cell) and the scoring join is an EQUI-join on cell id, so per-query
    work is the probed fraction (~n_probe/n_cells of the corpus).
    Probing every cell equals ``pq_adc_topk_serve``. Needs an artifact
    fitted with ``n_cells``; serves with no training stage.

    Output: (query_id, neighbor_id, adc_dist), ≤ k_neighbors per query.
    """
    if art.coarse is None:
        raise ValueError("ivf_pq_topk_serve needs an artifact fitted "
                         "with n_cells (it has no coarse centroids)")
    v = _vectors(candidates, id_col, vec_col).withColumn(
        "_cc", _pq_cells_udf([art.coarse], art.dim)("_v"))
    codes = _pq_codes(v, art, F.element_at("_cc", 1).alias("cell"))
    tables = [F.col(f"_t{s}") for s in range(art.m)]
    probes = F.array(*[
        F.struct(F.element_at("_cd", j + 1).alias("d"),
                 F.lit(j).cast("int").alias("c"))
        for j in range(len(art.coarse))])
    q_probes = (
        _vectors(queries, id_col, vec_col, "query_id")
        .select("query_id", _pq_dists(0, art.dim, art.coarse).alias("_cd"),
                *_adc_tables(art))
        .select("query_id", *tables,
                F.explode(F.slice(F.array_sort(probes), 1, n_probe))
                 .alias("_p"))
        .select("query_id", F.col("_p.c").alias("cell"), *tables))
    return _adc_topk(codes.join(F.broadcast(q_probes), "cell"),
                     k_neighbors, art)
