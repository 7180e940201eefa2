from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.quality import (extract_violations,
                                                      severity_from_thresholds,
                                                      split_clean)

def _rules():
    return [
        ("price_nonpos", F.col("price") <= 0),
        ("price_high", F.col("price") > 100),
        ("qty_zero", F.col("qty") == 0),
    ]


def _items(spark):
    rows = [
        (1, 50.0, 2),    # clean
        (2, -1.0, 1),    # price_nonpos
        (3, 500.0, 0),   # price_high + qty_zero
        (4, None, 3),    # clean (null evaluates to no violation)
        (1, 50.0, 2),    # duplicate of row 1 — multiset check
    ]
    return spark.createDataFrame(rows, "id long, price double, qty int")


def test_extract_and_split_is_partition(spark):
    df = _items(spark)
    tagged = extract_violations(df, _rules())
    clean, quarantine = split_clean(tagged)
    assert clean.count() + quarantine.count() == df.count()
    viols = {r.id: list(r.violated) for r in quarantine.collect()}
    assert viols == {2: ["price_nonpos"], 3: ["price_high", "qty_zero"]}
    # multiset preserved: duplicate clean row survives twice
    assert clean.filter(F.col("id") == 1).count() == 2


def test_severity_from_thresholds(spark):
    items = spark.createDataFrame(
        [("r1", "a", 5.0, 5), ("r1", "a", 50.0, 5), ("r1", "a", 50.0, 99),
         ("r2", "b", 1.0, 1)],
        "rest string, item string, price double, qty int")
    rules = spark.createDataFrame(
        [("r1", "a", 10.0, 60.0, 1, 10)],
        "rest string, item string, pmin double, pmax double, qmin int, qmax int")
    out = severity_from_thresholds(
        items, rules, ["rest", "item"],
        [("price", "pmin", "pmax"), ("qty", "qmin", "qmax")])
    got = sorted((r.price, r.qty, r.severity) for r in out.collect())
    assert got == [
        (1.0, 1, "none"),      # no rule row → none
        (5.0, 5, "low"),       # price out only
        (50.0, 5, "none"),     # in bounds
        (50.0, 99, "low"),     # qty out only
    ]
    # double violation → high
    hi = severity_from_thresholds(
        spark.createDataFrame([("r1", "a", 999.0, 99)],
                              "rest string, item string, price double, qty int"),
        rules, ["rest", "item"],
        [("price", "pmin", "pmax"), ("qty", "qmin", "qmax")])
    assert hi.collect()[0].severity == "high"


def test_profile_table_exact_stats_with_nulls(spark):
    from elt_gluepipeline_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, None, 2.5), (3, "b", None), (4, "a", 7.0)],
        "id long, tag string, score double")
    prof = {r.column_name: r for r in profile_table(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == 4
    assert prof["tag"].n_nulls == 1 and prof["tag"].n_distinct == 2
    assert prof["tag"].min_value == "a" and prof["tag"].max_value == "b"
    assert prof["score"].n_nulls == 1 and prof["score"].n_distinct == 2
    # doubles canonicalize to DECIMAL(38,4) strings
    assert prof["score"].min_value == "2.5000"
    assert prof["score"].max_value == "7.0000"


def test_profile_table_huge_doubles_not_nulled(spark):
    """|v| >= 1e16 must stay representable (the old DECIMAL(18,2)
    canonical form overflowed these to NULL, inflating n_nulls)."""
    from elt_gluepipeline_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 2.5e16), (2, -3.0e20), (3, None)], "id long, v double")
    prof = {r.column_name: r for r in profile_table(df, ["v"]).collect()}
    assert prof["v"].n_nulls == 1          # only the genuine null
    assert prof["v"].n_distinct == 2
    assert prof["v"].max_value == "25000000000000000.0000"
