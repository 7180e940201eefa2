from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.skew import (salted_count_distinct,
                                                   salted_join)


def _skewed(spark):
    # key 'hot' holds 80% of rows
    rows = [("hot", i) for i in range(400)] + \
           [(f"k{i % 10}", i) for i in range(100)]
    return spark.createDataFrame(rows, "k string, v int")


def test_salted_join_matches_plain_join(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k2", "B")], "k string, tag string")
    plain = left.join(right, ["k"], "inner")
    salted = salted_join(left, right, ["k"], n_salt=4, how="inner")
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("hot", "H")], "k string, tag string")
    out = salted_join(left, right, ["k"], n_salt=4, how="left")
    assert out.count() == left.count()
    assert out.filter(F.col("tag").isNull()).count() == 100  # non-hot rows


def test_salted_count_distinct_exact(spark):
    df = _skewed(spark)
    got = {r.k: r.n_distinct
           for r in salted_count_distinct(df, ["k"], "v", n_salt=8).collect()}
    want = {r.k: r.n for r in
            df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()}
    assert got == want

