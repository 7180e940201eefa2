"""Scale spot-check: does each query's cost actually track the data?

Materializes an N× copy of the FACT tables (lineitem / orders /
events — replicas with shifted keys, so join fan-outs and group
cardinalities grow honestly) next to unchanged dimensions, then times
a query set at 1× and N× in one warmed session and prints per-query
ratios. A declarative plan with sane shuffles should scale ~linearly
(ratio ≲ N on a machine with spare cores, plus fixed overhead);
a quadratic candidate explosion or a single-reducer bottleneck shows
up immediately as ratio >> N.

Usage:
  python tools/scale_check.py [factor] [src_sf_dir] [query ...]

Output: one JSON line {"factor": N, "queries": {name: {"t1": s,
"tN": s, "ratio": r}}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elt_gluepipeline_spark.operators._cache import (  # noqa: E402
    release_operator_caches)
from elt_gluepipeline_spark.plans import registry  # noqa: E402
from elt_gluepipeline_spark.session import get_spark  # noqa: E402
from elt_gluepipeline_spark.sources.readers import read_table  # noqa: E402

ALL_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]

DEFAULT_QUERIES = [
    "q01_line_revenue", "q02_clv", "q03_clv_tiered", "q04_rfm_segments",
    "q05_customer_profile", "q06_trend_daily", "q08_top_locations",
    "q09_discount_effect", "q16_iqr_outliers", "q26_trend_rollup",
    "q28_asof_attribution", "q33_top_customers_per_nation",
    "q36_top_locations_approx", "q39_range_clicks",
]


# ---- hot-key skew injection ----------------------------------------------
# Real corpora are not uniform: one domain / user / join key routinely
# holds 1-10% of rows. --skew rewrites ~5% of each fact table's rows
# (id % 20 == 0, applied per replica AFTER key shifting so the hot set
# grows ∝ N) onto ONE global hot value:
#   events.user_id   → 1            (q55 salted distinct, q83 salted join)
#   lineitem.l_orderkey → 1         (q45 reconcile agg+join)
#   documents        → lang 'xx', source 'hotsrc', text truncated to 25
#                      words + a fixed 5-word suffix (q147 domain cap;
#                      q59/q18 get one hot (lang, len_bucket, shingle)
#                      posting — the inverted-index worst case)
# The same recipe is applied to BOTH the 1x and Nx datasets, so the
# ratio still reads plan scaling — now under a hot key.

_HOT_MOD = 20


def _skew_events(d):
    return d.withColumn(
        "user_id",
        F.when(F.col("event_id") % _HOT_MOD == 0, F.lit(1).cast("long"))
         .otherwise(F.col("user_id")))


def _skew_lineitem(d):
    return d.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % _HOT_MOD == 0, F.lit(1).cast("long"))
         .otherwise(F.col("l_orderkey")))


def _skew_documents(d):
    hot = F.col("doc_id") % _HOT_MOD == 0
    trunc = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 25), " ")
    return (d.withColumn("lang",
                         F.when(hot, F.lit("xx")).otherwise(F.col("lang")))
             .withColumn("source",
                         F.when(hot, F.lit("hotsrc"))
                          .otherwise(F.col("source")))
             .withColumn("text",
                         F.when(hot, F.concat(trunc,
                                              F.lit(" qq ww ee rr tt")))
                          .otherwise(F.col("text"))))


def build_scaled(spark, src: str, out: str, factor: int,
                 const_dup: bool = False, skew: bool = False) -> None:
    """Write an N× dataset: facts replicated with shifted keys, dims
    copied through (same engine-readable layout either way).

    ``const_dup=True`` keeps the corpus DUPLICATION RATE constant as
    it grows: each documents replica interleaves a
    replica-unique token between every word (so no word k-shingle
    survives across replicas — replicas share ZERO near-dup pairs),
    and each embeddings replica is a cyclic rotation of the vector
    (norm-preserving, direction-scrambling). Within-replica dup
    structure is preserved verbatim, so the TRUE near-dup pair count
    grows ~N×, not ~N²× — the growth profile of a real corpus. The
    default (exact clones) stays the densest-possible stress shape."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    def replicate(name: str, key_cols: list[str], perturb=None,
                  postmap=None) -> None:
        df = read_table(spark, src, name)
        offset = df.agg(F.max(key_cols[0])).collect()[0][0] + 1
        parts = [df] if factor >= 1 else []
        for i in range(1, factor):
            shifted = df
            for kc in key_cols:
                shifted = shifted.withColumn(kc, F.col(kc) + F.lit(i * offset))
            if perturb is not None:
                shifted = perturb(shifted, i)
            parts.append(shifted)
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionByName(p)
        if postmap is not None:          # skew: every replica, base too
            scaled = postmap(scaled)
        scaled.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    def perturb_text(d, i):
        # suffix every WORD with a replica tag: token count, shingle
        # structure, and per-shingle document frequency are identical
        # to the base corpus (so the N× corpus is N independent copies
        # of the same similarity graph — output grows N×), while no
        # k-gram survives across replicas. (The earlier interleaved-
        # filler variant halved effective shingle width and densified
        # shingle DFs, making the scaled corpus intrinsically harder —
        # it measured corpus hardness, not plan cost.)
        return d.withColumn(
            "text", F.regexp_replace("text", r"(\S+)", f"$1zq{i}"))

    def perturb_vec(d, i):
        # Rotation must be INJECTIVE per replica or replicas i and
        # i+cycle are exact vector clones of each other and cross-
        # replica near-dup pairs reappear (the old `% 7` cycle did
        # exactly that at factors > 8). The corpus vectors are 64-dim,
        # so `% 63` gives distinct rotations up to factor 64; a
        # replica-keyed global sign flip extends injectivity to 128
        # (negation is norm-preserving and flips cosine to -1, so
        # flipped replicas share no near-dup pairs with unflipped).
        n = F.size("embedding")
        rot = (i % 63) + 1
        sign = -1.0 if (i // 63) % 2 else 1.0
        rotated = F.when(n <= rot, F.col("embedding")).otherwise(
            F.concat(F.slice("embedding", rot + 1,
                             F.greatest(n - rot, F.lit(0))),
                     F.slice("embedding", 1, rot)))
        if sign < 0:
            rotated = F.transform(rotated, lambda x: -x)
        return d.withColumn("embedding", rotated)

    # orders/lineitem share the orderkey offset so joins stay consistent
    orders = read_table(spark, src, "orders")
    okey_offset = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    parts_o, parts_l = [], []
    lineitem = read_table(spark, src, "lineitem")
    for i in range(factor):
        parts_o.append(orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * okey_offset)))
        parts_l.append(lineitem.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * okey_offset)))
    o, li = parts_o[0], parts_l[0]
    for p in parts_o[1:]:
        o = o.unionByName(p)
    for p in parts_l[1:]:
        li = li.unionByName(p)
    if skew:
        li = _skew_lineitem(li)
    o.write.mode("overwrite").parquet(f"{out}/orders.parquet")
    li.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    replicate("events", ["event_id"],
              postmap=_skew_events if skew else None)
    # corpus tables replicate too. Default: every doc/vector gains N-1
    # exact clones under new ids — the DENSEST possible near-dup
    # structure, so dedup/similarity output grows ~N^2/2 per clone
    # group while a sane plan's cost tracks that output, not corpus^2.
    # const_dup: replicas are shingle-disjoint / direction-scrambled,
    # so output grows ~N× — isolates plan cost from output growth.
    replicate("documents", ["doc_id"],
              perturb_text if const_dup else None,
              postmap=_skew_documents if skew else None)
    replicate("embeddings", ["vec_id"],
              perturb_vec if const_dup else None)

    scaled = {"orders", "lineitem", "events", "documents", "embeddings"}
    for name in ALL_TABLES:
        if name in scaled:
            continue
        read_table(spark, src, name).write.mode("overwrite") \
            .parquet(f"{out}/{name}.parquet")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    const_dup = "--const-dup" in sys.argv[1:]
    skew = "--skew" in sys.argv[1:]
    # --reuse: measure against an ALREADY-BUILT spark-warehouse/<tag>
    # dataset instead of rebuilding. Scale points must be taken in a
    # fresh warm session, never right after an in-JVM build (a q162
    # 37.9x reading was post-build JVM noise) — build once, then
    # re-run with --reuse for the timed pass.
    reuse = "--reuse" in sys.argv[1:]
    factor = int(args[0]) if args else 10
    src = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    names = args[2:] or DEFAULT_QUERIES

    spark = get_spark("scale_check")
    spark.sparkContext.setLogLevel("ERROR")
    tag = (f"scale_x{factor}" + ("_cd" if const_dup else "")
           + ("_skew" if skew else ""))
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "spark-warehouse", tag)
    if not (reuse and os.path.isdir(out)):
        build_scaled(spark, src, out, factor, const_dup=const_dup, skew=skew)
    if skew:
        # the 1x comparison point must carry the SAME hot-key recipe
        src_skew = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse", "scale_x1_skew")
        if not (reuse and os.path.isdir(src_skew)):
            build_scaled(spark, src, src_skew, 1, skew=True)
        src = src_skew

    specs = registry()
    results = {}
    # best-of-N timing (SPARK_GRAFT_SCALE_RUNS, default 1): this box
    # shows host-level CPU contention that swings a single wall-clock
    # reading several-fold between sessions (the same q41 1x pass
    # measured 4.9s and 40.1s in back-to-back sessions) — the MINIMUM
    # over N passes is the standard way to read plan cost through
    # that noise
    runs = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "1")))
    for name in names:
        spec = specs[name]
        # warm BOTH datasets: codegen once per plan, and one-time
        # per-dataset artifact fits (PQ/k-means/BPE memos) happen
        # outside the timing — the ratio should compare steady-state
        # serve cost, which is what tracks data size
        spec.build(spark, src).write.format("noop").mode("overwrite").save()
        spec.build(spark, out).write.format("noop").mode("overwrite").save()

        def best(dataset: str) -> float:
            # release operator-internal persists between passes:
            # without this every build re-persists its intermediates
            # (prefix-join shingle base etc.) and never frees them —
            # storage memory fills after a few heavy queries and
            # every later pass thrashes eviction/disk (q170's 20x
            # reading grew 306s -> 427s across sessions from exactly
            # this; bench/check_correctness already release per query)
            t = float("inf")
            for _ in range(runs):
                release_operator_caches()
                t0 = time.time()
                spec.build(spark, dataset).write.format("noop") \
                    .mode("overwrite").save()
                t = min(t, time.time() - t0)
            return t

        t1, tN = best(src), best(out)
        release_operator_caches()
        results[name] = {"t1": round(t1, 2), "tN": round(tN, 2),
                         "ratio": round(tN / t1, 1) if t1 > 0 else None}
        print(f"  {name:32s} 1x={t1:6.2f}s {factor}x={tN:6.2f}s "
              f"ratio={tN / t1:5.1f}", file=sys.stderr)
    print(json.dumps({"factor": factor, "src": src,
                      "const_dup": const_dup, "skew": skew,
                      "runs": runs, "queries": results}))


if __name__ == "__main__":
    main()
