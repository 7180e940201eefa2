"""Count-min sketch — mergeable frequency estimation (SURVEY
extension, same family as the Bloom filter artifact and the
histogram-quantile summary: bounded state, map-side combinable,
engine-replayable).

Why at 100 TB: exact per-key counts over a heavy-tailed key space
shuffle one row per DISTINCT key; a count-min sketch is depth×width
integers no matter the cardinality, merges by cell-wise addition
(partial aggregation does it for free), and answers point queries
with a one-sided error: est ≥ true, est ≤ true + εN with probability
1−δ (ε = e/width, δ = e^-depth — Cormode & Muthukrishnan 2005,
public). Row hashes are md5-derived (portable_hash60), so a DuckDB
oracle replays every cell and every estimate exactly — the
probabilistic structure gets a deterministic gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash60


def _cms_col(key: Column, row: int, width: int, seed: int) -> Column:
    h = portable_hash60(
        F.concat_ws("#", key, F.lit(str(row)), F.lit(str(seed))))
    return F.pmod(h, F.lit(width))


def cms_fit(df: DataFrame, key_col: str, *, depth: int = 4,
            width: int = 256, seed: int = 11) -> DataFrame:
    """Build the sketch: (row, col, cnt) cells, ≤ depth·width rows.

    Keys pre-aggregate per key FIRST (one shuffle bounded by distinct
    keys), then each key's count lands in one cell per row — the
    explode multiplies the already-aggregated table, never the raw
    rows. For a truly unbounded key space swap the pre-aggregate for
    direct cell accumulation (explode raw rows, partial-agg combines
    per cell map-side); same output, chosen by data shape.
    """
    key = F.col(key_col)
    per_key = df.groupBy(key.alias("_k")) \
                .agg(F.count(F.lit(1)).alias("_n"))
    cells = per_key.select(
        "_n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     _cms_col(F.col("_k"), r, width, seed).alias("col"))
            for r in range(depth)])).alias("_c"))
    return (cells.groupBy(F.col("_c.row").alias("row"),
                          F.col("_c.col").alias("col"))
                 .agg(F.sum("_n").cast("long").alias("cnt")))


def cms_estimate(probes: DataFrame, key_col: str, cms: DataFrame, *,
                 depth: int = 4, width: int = 256, seed: int = 11,
                 est_col: str = "est_n") -> DataFrame:
    """Point-query the sketch: probes gain ``est_col`` = min over the
    depth cells (missing cell = 0). The sketch broadcasts (≤
    depth·width rows); probes never shuffle."""
    key = F.col(key_col)
    pk = probes.select(key.alias("_k")).distinct().select(
        "_k",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     _cms_col(F.col("_k"), r, width, seed).alias("col"))
            for r in range(depth)])).alias("_c")) \
        .select("_k", "_c.row", "_c.col")
    est = (pk.join(F.broadcast(cms), ["row", "col"], "left")
             .groupBy("_k")
             .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long")
                   .alias(est_col)))
    # null-safe LEFT re-attach: an inner equi-join would drop NULL-key
    # probe rows (NULL != NULL); they estimate like any other key since
    # concat_ws skips NULLs identically in both engines.
    joined = probes.join(est, probes[key_col].eqNullSafe(est["_k"]),
                         "left")
    return joined.withColumn(
        est_col, F.coalesce(F.col(est_col), F.lit(0))).drop("_k")


def cms_sql_col(key_expr: str, row: int, width: int, seed: int) -> str:
    """DuckDB twin of _cms_col — embed in oracle SQL."""
    h = (f"CAST(('0x' || substr(md5(concat_ws('#', {key_expr}, "
         f"'{row}', '{seed}')), 1, 15)) AS BIGINT)")
    return f"(({h}) % {width} + {width}) % {width}"


# --------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007, public): the mergeable
# DISTINCT-COUNT sketch, with every register and the estimate itself
# engine-replayable. Spark's approx_count_distinct is an opaque HLL++
# (rows-only checkable); this one derives buckets/ranks from md5 and
# keeps ALL arithmetic exact-integer until one final division, so a
# DuckDB oracle reproduces the estimate bit-for-bit.
# --------------------------------------------------------------------

HLL_P = 10                      # 2^10 = 1024 registers
HLL_M = 1 << HLL_P
_HLL_WBITS = 60 - HLL_P         # rank bits left after the bucket
# ln(2)-based alpha for m >= 128 (standard constant)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _hll_bucket_rank(key: Column):
    """(bucket, rank): bucket = top p bits of the 60-bit md5 hash,
    rank = 1-based position of the first set bit in the remaining
    bits (all-zero tail → wbits+1). Rank comes from STRING binary
    search (bin/lpad/strpos) — exact in both engines, no float log."""
    h = portable_hash60(key)
    bucket = F.shiftright(h, _HLL_WBITS)
    w = h.bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    padded = F.lpad(F.bin(w), 64, "0")
    first_one = F.instr(padded, "1")       # 0 when w == 0
    rank = F.when(first_one == 0, F.lit(_HLL_WBITS + 1)) \
            .otherwise(first_one - (64 - _HLL_WBITS))
    return bucket.cast("int"), rank.cast("int")


def hll_fit(df: DataFrame, key_col: str) -> DataFrame:
    """Build the register table: (bucket, r) with r = max rank seen.
    ≤ m rows; map-side max partials; merges with another sketch by
    groupBy(bucket).max(r) — pinned by test."""
    bucket, rank = _hll_bucket_rank(F.col(key_col))
    return (df.select(bucket.alias("bucket"), rank.alias("_r"))
              .groupBy("bucket").agg(F.max("_r").alias("r")))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Whole-sketch estimate: ``hll_estimate_grouped`` with no keys (a
    global aggregation, so even an empty sketch yields its one row)."""
    return hll_estimate_grouped(registers, [])


def hll_estimate_grouped(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Per-group harmonic estimate over a (keys..., bucket, r) register
    table, with exact-integer internals: each register contributes
    2^(wbits+1-r) to a scaled sum S (an exact long; absent registers
    contribute 2^(wbits+1)), so the only float op is the final
    alpha·m²·2^(wbits+1)/S division — deterministic across engines and
    partitionings. Small-range correction (E ≤ 5m/2 with empty
    registers → linear counting m·ln(m/V)) applies as in the paper.
    One hash aggregation; output (keys..., n_hll rounded 4dp). With
    keys, groups with zero registers do not appear; with no keys the
    one row of an empty sketch estimates m·ln(m/m) = 0.0."""
    scale = 1 << (_HLL_WBITS + 1)
    # coalesce: zero registers → s_present 0, not a NULL propagating out
    agg = registers.groupBy(*keys).agg(
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                         f"CAST({_HLL_WBITS + 1} - r AS INT))")),
            F.lit(0)).cast("long").alias("_s_present"),
        F.count(F.lit(1)).alias("_nb"))
    s = (F.col("_s_present")
         + (F.lit(HLL_M) - F.col("_nb")) * F.lit(scale)).cast("double")
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M * scale) / s
    zeros = (F.lit(HLL_M) - F.col("_nb")).cast("double")
    est = F.when((raw <= 2.5 * HLL_M) & (zeros > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)) \
           .otherwise(raw)
    return agg.select(*keys, F.round(est, 4).alias("n_hll"))


def hll_sql_grouped(key_expr: str, group_cols: str,
                    from_clause: str) -> str:
    """DuckDB twin of grouped register fit + ``hll_estimate_grouped``:
    SELECT yielding (group_cols..., n_hll) — same exact-integer
    internals as ``hll_sql``. ``group_cols`` is a comma-separated
    column list propagated through every CTE."""
    h = f"CAST(('0x' || substr(md5({key_expr}), 1, 15)) AS BIGINT)"
    scale = 1 << (_HLL_WBITS + 1)
    return f"""
WITH hashed AS (
  SELECT {group_cols}, {h} AS h {from_clause}),
br AS (
  SELECT {group_cols},
         CAST(h >> {_HLL_WBITS} AS INT) AS bucket,
         CASE WHEN strpos(lpad(bin(h & {(1 << _HLL_WBITS) - 1}), 64, '0'),
                          '1') = 0
              THEN {_HLL_WBITS + 1}
              ELSE strpos(lpad(bin(h & {(1 << _HLL_WBITS) - 1}), 64, '0'),
                          '1') - {64 - _HLL_WBITS} END AS rank
  FROM hashed),
regs AS (SELECT {group_cols}, bucket, MAX(rank) AS r
         FROM br GROUP BY {group_cols}, bucket),
agg AS (
  SELECT {group_cols},
         COALESCE(CAST(SUM(CAST(1 AS BIGINT)
                           << CAST({_HLL_WBITS + 1} - r AS INT))
                       AS BIGINT), 0) AS s_present,
         COUNT(*) AS nb
  FROM regs GROUP BY {group_cols}),
est AS (
  SELECT {group_cols},
         CAST(s_present + ({HLL_M} - nb) * CAST({scale} AS BIGINT)
              AS DOUBLE) AS s,
         CAST({HLL_M} - nb AS DOUBLE) AS zeros
  FROM agg)
SELECT {group_cols},
       ROUND(CASE WHEN {HLL_ALPHA * HLL_M * HLL_M * scale!r} / s
                       <= 2.5 * {HLL_M} AND zeros > 0
             THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
             ELSE {HLL_ALPHA * HLL_M * HLL_M * scale!r} / s END,
             4) AS n_hll
FROM est"""


def hll_sql(key_expr: str, from_clause: str) -> str:
    """DuckDB twin: registers + estimate with the same exact-integer
    internals. Returns a SELECT yielding one row (n_hll)."""
    h = f"CAST(('0x' || substr(md5({key_expr}), 1, 15)) AS BIGINT)"
    scale = 1 << (_HLL_WBITS + 1)
    return f"""
WITH hashed AS (
  SELECT {h} AS h {from_clause}),
br AS (
  SELECT CAST(h >> {_HLL_WBITS} AS INT) AS bucket,
         CASE WHEN strpos(lpad(bin(h & {(1 << _HLL_WBITS) - 1}), 64, '0'),
                          '1') = 0
              THEN {_HLL_WBITS + 1}
              ELSE strpos(lpad(bin(h & {(1 << _HLL_WBITS) - 1}), 64, '0'),
                          '1') - {64 - _HLL_WBITS} END AS rank
  FROM hashed),
regs AS (SELECT bucket, MAX(rank) AS r FROM br GROUP BY bucket),
agg AS (
  -- COALESCE mirrors the Spark side: zero register rows (empty
  -- input) must yield s_present 0, not NULL, so the small-range
  -- branch produces 0.0 instead of NULL propagating out
  SELECT COALESCE(CAST(SUM(CAST(1 AS BIGINT)
                           << CAST({_HLL_WBITS + 1} - r AS INT))
                       AS BIGINT), 0) AS s_present,
         COUNT(*) AS nb
  FROM regs),
est AS (
  SELECT CAST(s_present + ({HLL_M} - nb) * CAST({scale} AS BIGINT)
              AS DOUBLE) AS s,
         CAST({HLL_M} - nb AS DOUBLE) AS zeros
  FROM agg)
SELECT ROUND(CASE WHEN {HLL_ALPHA * HLL_M * HLL_M * scale!r} / s
                       <= 2.5 * {HLL_M} AND zeros > 0
             THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
             ELSE {HLL_ALPHA * HLL_M * HLL_M * scale!r} / s END,
             4) AS n_hll
FROM est"""


# ---------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) sketch: the distinct-count sketch
# that, unlike HLL, supports SET OPERATIONS — a union sketch is just
# the k smallest of the merged hash sets, and the Jaccard of two sets
# is estimated by the overlap inside the union sketch. State is k
# hashes per group (mergeable, map-side combinable via bottom-k).
# Hashes are md5-derived uniforms, so every kept hash — and therefore
# the ESTIMATE itself, including its deterministic error — is exactly
# replayable in the DuckDB oracle (same discipline as the Bloom/CMS/
# HLL family: probabilistic operating point, exact arithmetic).
# ---------------------------------------------------------------------------

_KMV_DEN = float(16 ** 15)  # 60 bits of md5 → uniform in [0, 1)


def kmv_hash(key: Column) -> Column:
    """Portable uniform-[0,1) hash of a string key (md5 top 60 bits)."""
    return (F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
             .cast("double") / F.lit(_KMV_DEN))


def kmv_fit(df: DataFrame, key_col: str, group_cols: list[str], *,
            k: int = 64) -> DataFrame:
    """Bottom-k sketch per group: the k smallest DISTINCT key hashes.
    Output (group_cols..., h double, rk int) — the sketch table."""
    from pyspark.sql import Window

    h = (df.select(*group_cols, kmv_hash(F.col(key_col)).alias("h"))
           .distinct())
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (h.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= k))


def kmv_estimate(sketch: DataFrame, group_cols: list[str], *,
                 k: int = 64) -> DataFrame:
    """Distinct-count estimate per group from a kmv_fit table:
    (k-1)/h_k when the sketch is full, else the exact kept count."""
    agg = sketch.groupBy(*group_cols).agg(
        F.max("h").alias("_hmax"),
        F.count(F.lit(1)).alias("_n"))
    est = (F.when(F.col("_n") >= k, (k - 1) / F.col("_hmax"))
            .otherwise(F.col("_n").cast("double")))
    return agg.select(*group_cols,
                      (F.round(est, 4) + 0.0).alias("n_kmv"))


def kmv_sql(key_expr: str, group_cols: str, from_clause: str, *,
            k: int = 64) -> str:
    """DuckDB oracle twin of kmv_fit + kmv_estimate."""
    return f"""
SELECT {group_cols},
       ROUND(CASE WHEN COUNT(*) >= {k}
                  THEN ({k} - 1) / MAX(h)
                  ELSE CAST(COUNT(*) AS DOUBLE) END, 4) + 0.0 AS n_kmv
FROM (
  SELECT {group_cols}, h,
         ROW_NUMBER() OVER (PARTITION BY {group_cols} ORDER BY h) AS rk
  FROM (SELECT DISTINCT {group_cols},
               CAST(('0x' || substr(md5({key_expr}), 1, 15)) AS BIGINT)
                 / {_KMV_DEN!r} AS h
        {from_clause})
) WHERE rk <= {k}
GROUP BY {group_cols}"""


def decimal_histogram_quantiles(df: DataFrame, group_cols: list[str],
                                value_col: str,
                                quantiles: list[float]) -> DataFrame:
    """Mergeable quantile sketch via a DECIMAL-DIGIT histogram: each
    positive value (exact cents, ``round(v*100)`` as BIGINT) lands in
    the bucket (digit-count, first-two-digits) of its cents string —
    a base-10 log histogram with <= ~10% relative bucket width, i.e.
    quantile estimates within one leading-two-digit step of truth.
    The quantile estimate is the LOWER BOUND of the first bucket whose
    cumulative count reaches ceil(q*n).

    Why this bucketing instead of floor(log(v)/log(gamma)) (DDSketch):
    string length + substring are bit-identical in every engine, while
    log-boundary values can land in different buckets across libm
    implementations — the oracle gate needs determinism, and the
    accuracy guarantee is the same flavor (relative-error buckets).

    Scale shape: the state per group is at most 9*19 bucket counts
    regardless of row count, merged by addition (map-side combine);
    the quantile extraction is a window over those bounded buckets.
    Equivalent role to Spark's approx_percentile / t-digest, but with
    a deterministic, engine-replayable definition.

    Output: one row per group: n plus one ``p<q>`` column per
    requested quantile (value units, rounded to 2).
    """
    hist = decimal_histogram(df, group_cols, value_col)
    return quantiles_from_histogram(hist, group_cols, quantiles)


def decimal_histogram(df: DataFrame, group_cols: list[str],
                      value_col: str) -> DataFrame:
    """The sketch-STATE half of ``decimal_histogram_quantiles``:
    (group, bucket, lower_cents, cnt) counts. A plain groupBy-count,
    so it runs unchanged as a STREAMING aggregation (complete-mode
    drain) — counts merge by addition, the defining property of the
    sketch."""
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    d = (df.filter(F.col(value_col) > 0)
           .select(*group_cols, cents.alias("_c")))
    s = F.col("_c").cast("string")
    bucket = (F.length(s) * 100
              + F.substring(s, 1, 2).cast("int")).alias("bucket")
    lower = (F.substring(s, 1, 2).cast("double")
             * F.pow(F.lit(10.0), F.length(s) - 2)).alias("lower_cents")
    return (d.select(*group_cols, bucket, lower)
              .groupBy(*group_cols, "bucket", "lower_cents")
              .agg(F.count(F.lit(1)).alias("cnt")))


def quantiles_from_histogram(hist: DataFrame, group_cols: list[str],
                             quantiles: list[float]) -> DataFrame:
    """The EXTRACTION half: cumulative counts over the (bounded)
    bucket set, quantile = lower bound of the first bucket reaching
    ceil(q*n)."""
    from pyspark.sql import Window

    wg = Window.partitionBy(*group_cols)
    wcum = (Window.partitionBy(*group_cols).orderBy("bucket")
                  .rowsBetween(Window.unboundedPreceding, 0))
    hist = (hist.withColumn("n", F.sum("cnt").over(wg))
                .withColumn("cum", F.sum("cnt").over(wcum)))
    aggs = [F.max("n").cast("long").alias("n")]
    for q in quantiles:
        name = f"p{int(round(q * 100))}"
        thr = F.ceil(F.lit(q) * F.col("n"))
        aggs.append(F.round(F.min(
            F.when(F.col("cum") >= thr, F.col("lower_cents"))) / 100.0,
            2).alias(name))
    return hist.groupBy(*group_cols).agg(*aggs)
