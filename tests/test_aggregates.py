from pyspark.sql import functions as F

from elt_gluepipeline_spark.functions.deterministic import davg, dsum
from elt_gluepipeline_spark.operators.aggregates import pivot_agg


def test_pivot_agg_matches_native_pivot(spark):
    df = spark.createDataFrame(
        [("2024", "a", 1.0), ("2024", "a", 2.0), ("2024", "b", 4.0),
         ("2025", "b", 8.0)],
        "y string, k string, v double")
    ours = pivot_agg(df, ["y"], "k", {"a": "col_a", "b": "col_b", "c": "col_c"},
                     lambda cell: dsum(cell("v")))
    native = (df.groupBy("y").pivot("k", ["a", "b", "c"]).agg(dsum("v"))
                .withColumnsRenamed({"a": "col_a", "b": "col_b", "c": "col_c"}))
    assert ({tuple(r) for r in ours.collect()}
            == {tuple(r) for r in native.collect()})
    # absent pivot value -> NULL cell (SUM over no rows), like native
    assert all(r.col_c is None for r in ours.collect())


def test_deterministic_sum_matches_plain_sum(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "v double")
    got = df.agg(dsum("v").alias("s"), davg("v").alias("a")).collect()[0]
    assert got.s == 0.6 and abs(got.a - 0.2) < 1e-12


def test_merge_agg_states_ivm_equals_recompute(spark):
    from elt_gluepipeline_spark.functions.deterministic import dec
    from elt_gluepipeline_spark.operators.aggregates import merge_agg_states
    old_facts = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 7.0)], "k long, v double")
    new_facts = spark.createDataFrame(  # k=3 fully deleted, k=1 updated,
        [(1, 10.0), (1, 25.0), (2, 5.0), (4, 9.0)], "k long, v double")

    def agg(df):
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum(dec("v")).alias("s"))

    delta = spark.createDataFrame(
        [(1, 0, 5.0),    # update: +5 revenue, count unchanged
         (3, -1, -7.0),  # delete the only row -> key must vanish
         (4, 1, 9.0)],   # insert new key
        "k long, n long, sv double") \
        .select("k", "n", dec("sv").alias("s")) \
        .groupBy("k").agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    merged = merge_agg_states(agg(old_facts), delta, ["k"],
                              count_col="n", sum_cols=["s"])
    want = {r.k: (r.n, float(r.s)) for r in agg(new_facts).collect()}
    got = {r.k: (r.n, float(r.s)) for r in merged.collect()}
    assert got == want
    assert 3 not in got and 4 in got
