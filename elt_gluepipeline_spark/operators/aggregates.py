"""Aggregation operators (SURVEY.md §2.4): one-shuffle ROLLUP, pivot
lowered to conditional aggregation, the additive state merge of
incremental view maintenance and histogram quantiles. Plain groupBy
shapes (q03's grouped percentiles, q06's date_trunc buckets, q07's
two-level agg) are written inline in their plans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouping_rollup(df: DataFrame, keys: Sequence[str],
                    aggs: Sequence[Column],
                    gid_col: str = "gid") -> DataFrame:
    """A4 (generalized): hierarchical ROLLUP in ONE aggregation.

    The reference computes 4 trend granularities as 4 separate
    groupBy+write passes (go-metric-elt.py:168-204). ROLLUP computes
    every prefix level (k1,k2), (k1), () in one shuffle with partial
    map-side aggregation; ``grouping_id`` (bit=1 ⇔ key aggregated away)
    distinguishes levels. Spark expands grouping sets BEFORE the
    exchange, so the cost is one pass over the fact, not len(keys).
    """
    gid = F.grouping_id().cast("int").alias(gid_col)
    return df.rollup(*[F.col(k) for k in keys]).agg(gid, *aggs)


def pivot_agg(df: DataFrame, keys: Sequence[str], pivot_col: str,
              values: dict[str, str], agg_builder) -> DataFrame:
    """Pivot with KNOWN values lowered to ONE conditional aggregation.

    ``df.groupBy(...).pivot(col, values).agg(...)`` plans as TWO
    aggregation passes in Spark (inner agg keyed on (keys, pivot_col),
    then a pivotfirst agg keyed on keys) — two exchanges, the first
    keyed on the high-cardinality composite. When the caller knows the
    pivot values (the dashboard crosstab case — SURVEY.md A11,
    streamlit/go_streamlit.py:400-404), lowering each cell to
    ``agg(CASE WHEN pivot=v THEN x END)`` needs ONE partial+final
    aggregation keyed on ``keys`` alone: one exchange, and the shuffle
    rows are already as wide as the final crosstab (cells travel as
    partial aggregation state, one row per key per map task).

    ``values`` maps pivot value → output column name; ``agg_builder``
    maps a filtered Column-provider to the aggregate for one cell:
    ``lambda cell: dsum(cell("o_totalprice"))``.
    """
    def cell_for(value: str):
        def cell(col: str | Column) -> Column:
            c = F.col(col) if isinstance(col, str) else col
            return F.when(F.col(pivot_col) == value, c)
        return cell
    aggs = [agg_builder(cell_for(v)).alias(name)
            for v, name in values.items()]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_agg_states(agg_old: DataFrame, agg_delta: DataFrame,
                     keys: Sequence[str], *, count_col: str,
                     sum_cols: Sequence[str]) -> DataFrame:
    """Incremental view maintenance for count/sum aggregates: merge an
    additive per-key delta into an existing aggregate state instead of
    rescanning the fact table. new_state = old_state ⊎ delta — counts
    add, sums add, keys whose merged count reaches 0 drop out (their
    rows were all deleted).

    Sums MUST be exact types (DECIMAL / integer): decimal addition is
    associative, so old + delta is bit-identical to a full recompute
    for any partitioning — the property that lets an oracle verify
    IVM == rescan. (A double sum would drift from the recomputed
    value.) AVG derives as sum/count downstream; MIN/MAX are NOT
    incrementally maintainable under deletes — rescan those.

    Plan: one full-outer join keyed on the group key — the aggregate
    states are orders of magnitude smaller than the facts, and at
    100 TB both states live bucketed by the key so the merge is
    exchange-free. This is the batch analog of streaming state-store
    updates: the whole point is that cost tracks the CHANGE volume,
    never the corpus.
    """
    ks = list(keys)
    o = agg_old.select(*[F.col(k).alias(f"_ok_{k}") for k in ks],
                       F.col(count_col).alias("_o_n"),
                       *[F.col(s).alias(f"_o_{s}") for s in sum_cols])
    d = agg_delta.select(*[F.col(k).alias(f"_dk_{k}") for k in ks],
                         F.col(count_col).alias("_d_n"),
                         *[F.col(s).alias(f"_d_{s}") for s in sum_cols])
    cond = None
    for k in ks:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_dk_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(d, cond, "full_outer")
    n = (F.coalesce(F.col("_o_n"), F.lit(0))
         + F.coalesce(F.col("_d_n"), F.lit(0)))
    out_keys = [F.coalesce(F.col(f"_dk_{k}"), F.col(f"_ok_{k}")).alias(k)
                for k in ks]
    out_sums = [(F.coalesce(F.col(f"_o_{s}"), F.lit(0))
                 + F.coalesce(F.col(f"_d_{s}"), F.lit(0))).alias(s)
                for s in sum_cols]
    return (j.select(*out_keys, n.alias(count_col), *out_sums)
             .filter(F.col(count_col) != 0))


def histogram_quantiles(df: DataFrame, col: str,
                        qs: tuple[float, ...] = (0.5, 0.9, 0.99), *,
                        n_bins: int = 128) -> DataFrame:
    """Approximate quantiles from an equi-width histogram — the
    MERGEABLE-summary shape for 100 TB: per-partition bin counts
    combine map-side (plain sum), the driver never sees values, and
    the final state is n_bins integers regardless of row count
    (percentile_approx's GK sketch is the built-in alternative; this
    form is engine-reproducible, which buys the oracle gate).

    Two passes: (1) one 1-row min/max aggregate, broadcast back (no
    collect); (2) one n_bins-row count aggregate. Estimation is linear
    interpolation inside the bin containing the target rank q·N:
    ``est = min + width · (bin + (rank − cum_before)/bin_count)``.
    All estimate math is double arithmetic on exact integers computed
    identically in both engines — deterministic, not
    rounding-and-hoping. Null values are excluded; a constant column
    (width 0) returns min for every q.

    Output: one row per q — (q, n_rows, estimate).
    """
    from pyspark.sql import Window

    x = F.col(col).cast("double")
    v = df.select(x.alias("_x")).filter(F.col("_x").isNotNull())
    mm = v.agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"),
               F.count(F.lit(1)).alias("_n"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    binned = (v.crossJoin(F.broadcast(mm))
                .select(F.least(
                    F.floor((F.col("_x") - F.col("_lo"))
                            / F.when(width > 0, width).otherwise(F.lit(1.0))),
                    F.lit(n_bins - 1)).cast("int").alias("_b"),
                    "_lo", "_hi", "_n"))
    counts = (binned.groupBy("_b", "_lo", "_hi", "_n")
                    .agg(F.count(F.lit(1)).alias("_c")))
    wcum = (Window.orderBy("_b")
                  .rowsBetween(Window.unboundedPreceding, -1))
    cum = counts.withColumn("_before",
                            F.coalesce(F.sum("_c").over(wcum), F.lit(0)))
    out = None
    for q in qs:
        rank = F.lit(float(q)) * F.col("_n")
        hit = (cum.filter((F.col("_before") < rank)
                          & (rank <= F.col("_before") + F.col("_c")))
                  .orderBy("_b").limit(1))
        est = F.when(
            F.col("_hi") == F.col("_lo"), F.col("_lo")
        ).otherwise(
            F.col("_lo")
            + (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
            * (F.col("_b") + (rank - F.col("_before")) / F.col("_c")))
        row = hit.select(F.lit(float(q)).alias("q"),
                         F.col("_n").cast("long").alias("n_rows"),
                         est.alias("estimate"))
        out = row if out is None else out.unionByName(row)
    return out
