"""Join operators beyond equi-joins.

SURVEY.md §2.3 notes the reference uses only inner/left equi-joins;
right/full/semi/anti come free with ``df.join``. The one join Spark
does NOT ship natively is the AS-OF join (point-in-time lookup:
attribution, feature backfill, slowly-changing-dimension resolution).
A naive formulation — range join ``r.ts <= l.ts`` + keep-latest — is a
cross-product per key and dies on skew; the implementation here is the
shuffle-once union+window technique:

1. tag both sides and union them into one relation,
2. one window over the join keys ordered by (ts, side, tie),
3. ``last(payload, ignorenulls)`` with a running frame — each left row
   sees exactly the latest right payload at-or-before its timestamp,
4. keep left rows, unpack the payload.

Cost: ONE shuffle on the join keys (same as an equi-join), no pair
explosion regardless of how many right rows precede a left row. Skewed
keys can be salted upstream; AQE skew-split also applies since this is
a plain window shuffle.

``range_join`` is the banded interval join (all right rows within a
time band of each left row). Expressed naively as
``l.key = r.key AND r.ts BETWEEN l.ts+lo AND l.ts+hi`` Spark plans an
equi-join on the key with the band as a post-join residual — every
left row meets every right row per key before filtering, which is a
per-key cross product and dies on hot keys. The implementation here
adds the time BUCKET to the equi-join key: the right side buckets
once, the left side fans out to only the buckets its band overlaps
(ceil(band/bucket)+1 ≤ 2 copies at the default bucket width), so the
shuffle key is (key, bucket) and each task only sees same-bucket
pairs. Each (left, right) pair meets in exactly one bucket (the right
row's), so no dedup pass is needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str, *,
              right_payload: Sequence[str],
              tie_break: str | None = None,
              prefix: str = "asof_",
              direction: str = "backward") -> DataFrame:
    """Inclusive as-of join (left outer), backward or forward.

    ``direction="backward"`` (default): for each left row, attach
    ``right_payload`` of the LATEST right row with the same ``on``
    keys and ``right_ts <= left_ts``. ``direction="forward"``: the
    EARLIEST right row with ``right_ts >= left_ts`` (next-event-after
    — reaction latency, next-click attribution). Null payload when no
    right row qualifies. Ties on equal ``right_ts`` resolve to the
    greatest ``tie_break`` value (deterministic across engines and
    partitionings).

    Both directions are the same single-shuffle union+window plan —
    forward just scans the merged timeline in descending time order,
    so the running last() sees the closest FUTURE right row.

    Payload columns are returned as ``{prefix}{col}``. Null timestamps
    never participate: a right row with unknown time can't be proven
    ordered against anything (dropped), and a null-ts left row
    matches nothing.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    on = list(on)
    right = right.filter(F.col(right_ts).isNotNull())
    payload = F.struct(*[F.col(c) for c in right_payload])
    tie = F.col(tie_break) if tie_break is not None else F.lit(0)

    left_types = dict(left.dtypes)
    carry = [c for c in left.columns if c not in on and c != left_ts]

    l_tag = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tie"),
        F.lit(None).cast(
            f"struct<{','.join(f'{c}:{dict(right.dtypes)[c]}' for c in right_payload)}>"
        ).alias("_payload"),
        *[F.col(c) for c in carry],
    )
    r_tag = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        tie.cast("long").alias("_tie"),
        payload.alias("_payload"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in carry],
    )

    # right rows (side 0) sort BEFORE left rows (side 1) at equal ts →
    # inclusive match; among equal-ts right rows the greatest tie_break
    # sorts last and wins the running last(). Forward direction scans
    # time DESCENDING: the running last() then holds the closest right
    # row at-or-after the left row (later-scanned = smaller ts).
    ts_ord = (F.col("_ts").asc_nulls_first() if direction == "backward"
              else F.col("_ts").desc_nulls_first())
    w = (Window.partitionBy(*on)
               .orderBy(ts_ord, F.col("_side").asc(),
                        F.col("_tie").asc_nulls_first())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (l_tag.unionByName(r_tag)
                    .withColumn("_hit", F.last("_payload", ignorenulls=True).over(w))
                    .filter(F.col("_side") == 1))
    return matched.select(
        *on,
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in carry],
        *[F.col(f"_hit.{c}").alias(f"{prefix}{c}") for c in right_payload],
    )


def _epoch_micros(col: str, dtype: str) -> F.Column:
    """Microseconds since epoch — full timestamp precision. The exact
    band filter MUST compare at source precision: truncating to whole
    seconds admits a right row up to 999999 µs outside the band (a
    click 0.3 s AFTER its purchase "matches" a [-1h, 0] band), which
    diverges from any engine comparing real timestamps. Numeric inputs
    are interpreted as seconds and scaled."""
    if dtype.startswith("timestamp"):
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"cast({col} as timestamp_ntz))")
    return (F.col(col).cast("long") * F.lit(1_000_000)).cast("long")


def range_join(left: DataFrame, right: DataFrame, on: Sequence[str],
               left_ts: str, right_ts: str, *,
               lower_s: int, upper_s: int, bucket_s: int | None = None,
               right_payload: Sequence[str] | None = None,
               prefix: str = "r_") -> DataFrame:
    """Banded range join (inner): pair each left row with every right
    row sharing its ``on`` keys whose timestamp lies in the inclusive
    band ``[left_ts + lower_s, left_ts + upper_s]`` (offsets in
    seconds; negative = before the left row).

    Plan shape: right rows key to ``floor(epoch_s / bucket_s)``; left
    rows explode to the buckets their band overlaps, then an equi-join
    on ``(*on, bucket)`` + exact band filter. With the default
    ``bucket_s = band width`` the left side is duplicated at most 2×,
    and the shuffle key carries the time dimension — no per-key cross
    product on hot keys, AQE skew-split applies as with any equi-join.

    Output: all left columns + ``{prefix}{right_ts}`` + right payload
    as ``{prefix}{col}`` (payload defaults to every non-key,
    non-timestamp right column). Null timestamps on either side never
    match. Rows-per-left-row equals the number of in-band right rows
    (0-match left rows are dropped; this is an inner join).
    """
    if upper_s < lower_s:
        raise ValueError(f"empty band: [{lower_s}, {upper_s}]")
    if bucket_s is None:
        bucket_s = max(upper_s - lower_s, 1)
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")
    on = list(on)
    if right_payload is None:
        right_payload = [c for c in right.columns
                         if c not in on and c != right_ts]

    bucket_us = bucket_s * 1_000_000
    lower_us, upper_us = lower_s * 1_000_000, upper_s * 1_000_000
    r = (right.filter(F.col(right_ts).isNotNull())
              .select(*[F.col(k).alias(f"_on_{k}") for k in on],
                      _epoch_micros(right_ts, dict(right.dtypes)[right_ts])
                      .alias("_rs"),
                      F.col(right_ts).alias(f"{prefix}{right_ts}"),
                      *[F.col(c).alias(f"{prefix}{c}") for c in right_payload])
              .withColumn("_b", F.floor(F.col("_rs") / F.lit(bucket_us))))
    l = (left.filter(F.col(left_ts).isNotNull())
             .withColumn("_ls",
                         _epoch_micros(left_ts, dict(left.dtypes)[left_ts]))
             .withColumn("_lb", F.explode(F.sequence(
                 F.floor((F.col("_ls") + F.lit(lower_us)) / F.lit(bucket_us)),
                 F.floor((F.col("_ls") + F.lit(upper_us)) / F.lit(bucket_us))))))

    cond = (F.col("_lb") == F.col("_b"))
    for k in on:
        cond = cond & (F.col(k) == F.col(f"_on_{k}"))
    cond = cond & F.col("_rs").between(F.col("_ls") + F.lit(lower_us),
                                       F.col("_ls") + F.lit(upper_us))
    out_cols = (list(left.columns)
                + [f"{prefix}{right_ts}"]
                + [f"{prefix}{c}" for c in right_payload])
    return l.join(r, cond, "inner").select(*out_cols)


def snapshot_diff(old: DataFrame, new: DataFrame, keys: Sequence[str],
                  compare_cols: Sequence[str], *, op_col: str = "op",
                  changed_col: str = "changed_cols",
                  carry_cols: Sequence[str] = (),
                  include_old: bool = False) -> DataFrame:
    """Diff two keyed snapshots into the change feed that replays
    old → new: 'I' (key only in new), 'D' (key only in old), 'U' (key
    in both with any compared column differing, null-safely). Rows
    whose compared columns are unchanged are dropped — the output IS
    the minimal CDC stream, the inverse of the reference's
    apply-changes ingest (go-incremental-ingest-elt.py:200-213
    consumes such a feed; this produces one from table states).

    Output: key cols, new-side compare values (old-side for deletes),
    ``op``, and ``changed_cols`` — a comma-joined, fixed-order list of
    the compared columns that actually changed ('' for I/D).
    ``carry_cols`` are uncompared attributes riding along (new side
    when present, old side for deletes — e.g. the group key a
    downstream incremental aggregate needs). ``include_old=True``
    additionally emits ``old_<col>`` for every compared column (NULL
    for inserts) — what delta-based consumers need to SUBTRACT the
    replaced contribution.

    Plan: ONE full-outer shuffle join on the key (both sides project
    only keys + compared columns before the join, so shuffle bytes
    track the compared width, not the table width). At 100 TB both
    sides pre-partition/bucket by the same key to make this
    exchange-free.
    """
    ks = list(keys)
    cs = list(compare_cols)
    carry = list(carry_cols)
    o = old.select(*[F.col(k).alias(f"_ok_{k}") for k in ks],
                   *[F.col(c).alias(f"_o_{c}") for c in cs + carry],
                   F.lit(1).alias("_o_present"))
    n = new.select(*[F.col(k).alias(f"_nk_{k}") for k in ks],
                   *[F.col(c).alias(f"_n_{c}") for c in cs + carry],
                   F.lit(1).alias("_n_present"))
    cond = None
    for k in ks:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    diffs = [~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")) for c in cs]
    any_diff = F.lit(False)
    for dd in diffs:
        any_diff = any_diff | dd
    op = (F.when(~in_old, F.lit("I"))
           .when(~in_new, F.lit("D"))
           .when(any_diff, F.lit("U")))
    changed = F.when(
        in_old & in_new,
        F.concat_ws(",", *[F.when(dd, F.lit(c))
                           for c, dd in zip(cs, diffs)])
    ).otherwise(F.lit(""))
    out_keys = [F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
                for k in ks]
    # new-side values when the key exists in new (a U that sets a col
    # to NULL must emit NULL, so no coalesce); old-side for deletes
    out_vals = [F.when(in_new, F.col(f"_n_{c}"))
                 .otherwise(F.col(f"_o_{c}")).alias(c)
                for c in cs + carry]
    out_old = ([F.col(f"_o_{c}").alias(f"old_{c}") for c in cs]
               if include_old else [])
    return (j.withColumn(op_col, op)
             .filter(F.col(op_col).isNotNull())
             .select(*out_keys, *out_vals, *out_old,
                     op_col, changed.alias(changed_col)))
