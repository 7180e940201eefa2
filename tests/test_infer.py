from pyspark.sql.types import (BooleanType, DecimalType, IntegerType,
                               LongType, StringType, TimestampType)

from elt_gluepipeline_spark.functions.conform import normalize_strings
from elt_gluepipeline_spark.functions.infer import (apply_inferred_schema,
                                                    infer_schema)


def _strings(spark, rows, cols):
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))


def test_infer_int_vs_bigint_split(spark):
    df = _strings(spark, [("1", "9,999,999,999"), ("42", "3")], ["a", "b"])
    s = infer_schema(df)
    assert isinstance(s["a"].dataType, IntegerType)
    assert isinstance(s["b"].dataType, LongType)  # exceeds int32 → bigint


def test_infer_decimal_scale_and_bool_and_null(spark):
    df = _strings(spark,
                  [("1.25", "yes", None), ("3.5", "no", None), ("2", "t", None)],
                  ["price", "flag", "empty"])
    s = infer_schema(df)
    assert s["price"].dataType == DecimalType(18, 2)
    assert isinstance(s["flag"].dataType, BooleanType)
    assert isinstance(s["empty"].dataType, StringType)  # all-null repair


def test_infer_datetime_90pct_rule(spark):
    ok = [("2023-01-0%d 10:00:00" % (i % 9 + 1),) for i in range(9)]
    df = _strings(spark, ok + [("not a date",)], ["ts"])
    assert isinstance(infer_schema(df)["ts"].dataType, TimestampType)
    df2 = _strings(spark, ok[:8] + [("nope",), ("also no",)], ["ts"])
    assert isinstance(infer_schema(df2)["ts"].dataType, StringType)


def test_infer_zero_one_stays_int_not_bool(spark):
    df = _strings(spark, [("0",), ("1",), ("1",)], ["v"])
    assert isinstance(infer_schema(df)["v"].dataType, IntegerType)


def test_apply_inferred_schema_coercions(spark):
    df = _strings(spark, [("1,234", "Y", ""), ("-7", "false", "x")],
                  ["n", "b", "s"])
    schema = infer_schema(df)
    out = apply_inferred_schema(df, schema).collect()
    assert out[0].n == 1234 and out[1].n == -7
    assert out[0].b is True and out[1].b is False
    assert out[0].s is None and out[1].s == "x"


def test_normalize_strings_single_projection(spark):
    df = spark.createDataFrame([("  MiXeD ", 5)], "name string, n int")
    row = normalize_strings(df).collect()[0]
    assert row.name == "mixed" and row.n == 5


def test_read_csv_tolerant_quarantines_bad_rows(spark, tmp_path):
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    from elt_gluepipeline_spark.sources.readers import read_csv_tolerant

    p = tmp_path / "in.csv"
    p.write_text("id,name,price\n"
                 "1,apple,2.50\n"
                 "oops,banana,not_a_number\n"   # unparseable id+price
                 "3,cherry,4.25\n"
                 "4,durian,bad\n")              # unparseable price
    schema = StructType([StructField("id", LongType()),
                         StructField("name", StringType()),
                         StructField("price", DoubleType())])
    clean, quar = read_csv_tolerant(spark, str(p), schema)
    got = {(r.id, r.name, r.price) for r in clean.collect()}
    assert got == {(1, "apple", 2.5), (3, "cherry", 4.25)}
    bad = sorted(r._corrupt_record for r in quar.collect())
    assert bad == ["4,durian,bad", "oops,banana,not_a_number"]
    assert clean.columns == ["id", "name", "price"]


def test_read_csv_strings_by_default_typed_on_request(spark, tmp_path):
    from elt_gluepipeline_spark.sources.readers import read_csv

    path = tmp_path / "t.csv"
    path.write_text("id,price\n1,2.5\n2,3.0\n")
    raw = read_csv(spark, str(path))
    assert [f.dataType for f in raw.schema] == [StringType(), StringType()]
    assert [tuple(r) for r in raw.collect()] == [("1", "2.5"), ("2", "3.0")]
    typed = read_csv(spark, str(path), infer=True)
    assert isinstance(typed.schema["id"].dataType, IntegerType)
    contract = read_csv(spark, str(path), schema="id long, price string")
    assert isinstance(contract.schema["id"].dataType, LongType)
