import json

import pytest

from elt_gluepipeline_spark.sources.state import (BookmarkStore, RunManifest,
                                                  parse_pk_config)


def test_bookmark_roundtrip(tmp_path):
    bs = BookmarkStore(str(tmp_path))
    assert bs.get("dbo.orders") is None
    bs.set("dbo.orders", "2024-01-01 00:00:00")
    assert bs.get("dbo.orders") == "2024-01-01 00:00:00"
    bs.set("dbo.orders", "2024-02-01 00:00:00")
    assert bs.get("dbo.orders") == "2024-02-01 00:00:00"


def test_manifest(tmp_path):
    m = RunManifest(str(tmp_path), "run1")
    m.log("ingest", "t1", "success", rows=10)
    p = m.flush()
    assert json.loads(p.read_text())["events"][0]["status"] == "success"
    # committed atomically: no temp file is left next to it
    assert [f.name for f in tmp_path.iterdir()] == [p.name]


def test_parse_pk_config():
    assert parse_pk_config("dbo.t1:pk|dbo.t2:pk1,pk2") == {
        "dbo.t1": ["pk"], "dbo.t2": ["pk1", "pk2"]}


@pytest.mark.parametrize("bad", [
    "", "   ", "t1", "t1:", ":pk", "t1:a|t1:b", "t1:a,a", "t1:a,,b", "|",
])
def test_parse_pk_config_rejects(bad):
    with pytest.raises(ValueError):
        parse_pk_config(bad)


def test_write_parquet_sort_by_clusters_row_groups(spark, tmp_path):
    import pyarrow.parquet as pq

    from elt_gluepipeline_spark.sources.writers import write_parquet
    df = spark.range(0, 200_000).selectExpr(
        "id", "CAST(id % 977 AS LONG) AS k", "id * 2.0 AS v")
    out = str(tmp_path / "clustered")
    # small row groups so a single file carries several of them
    # (parquet.block.size is a HADOOP conf, not a SQL conf)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(64 * 1024))
    try:
        write_parquet(df, out, max_files=2, sort_by=("k",))
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)
    files = [p for p in (tmp_path / "clustered").iterdir()
             if p.name.endswith(".parquet")]
    assert files
    multi = 0
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        idx = [md.row_group(0).column(j).path_in_schema
               for j in range(md.num_columns)].index("k")
        stats = [md.row_group(i).column(idx).statistics
                 for i in range(md.num_row_groups)]
        multi += md.num_row_groups > 1
        # within a file, row groups are disjoint, ascending key ranges
        for a, b in zip(stats, stats[1:]):
            assert a.max <= b.min
    assert multi > 0  # the assertion above actually exercised >1 group


def test_observed_metrics_ride_the_write_action(spark, tmp_path):
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.functions.observe import observed
    from elt_gluepipeline_spark.sources.writers import write_parquet
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0)], "pk long, v double")
    out, obs = observed(
        df, "ingest",
        n=F.count(F.lit(1)),
        n_null_v=F.sum(F.col("v").isNull().cast("long")),
        v_total=F.sum("v"))
    write_parquet(out, str(tmp_path / "audited"))
    got = obs.get
    assert got == {"n": 3, "n_null_v": 1, "v_total": 15.0}
    # and the written data is untouched by the instrumentation
    assert spark.read.parquet(str(tmp_path / "audited")).count() == 3


def test_compact_parquet_bounds_files_and_preserves_rows(spark, sf_dir, tmp_path):
    from pathlib import Path

    from elt_gluepipeline_spark.sources.table import Table
    from elt_gluepipeline_spark.sources.writers import compact_parquet

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    root = str(tmp_path / "t")
    # simulate a year of tiny-append runs: 40 files
    table = Table(spark, root)
    table.commit({"orders": table.write("orders", src.repartition(40))})
    assert len(table.tables["orders"]["files"]) >= 40

    n_rows = compact_parquet(spark, f"{root}/orders", target_files=4)
    table = Table(spark, root)
    files = sorted(p.name for p in Path(root, "orders").glob("*.parquet"))
    # the disk holds the compacted generation only
    assert files == sorted(table.tables["orders"]["files"])
    assert len(files) <= 4
    assert n_rows == src.count()
    after = table.read("orders")
    assert after.count() == src.count()
    # value-level identity, not just counts
    assert after.exceptAll(src).count() == 0 and src.exceptAll(after).count() == 0


def test_compact_parquet_recovers_from_crashed_prior_swap(spark, sf_dir,
                                                          tmp_path):
    """Crash-window recovery: the files of an earlier compaction that
    crashed before its commit must not break or contaminate the next
    compaction — its first write deletes them and the live data wins. A
    plain folder has no commit point and raises."""
    from pathlib import Path

    from elt_gluepipeline_spark.sources.table import Table
    from elt_gluepipeline_spark.sources.writers import compact_parquet

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    root = str(tmp_path / "t")
    table = Table(spark, root)
    table.commit({"orders": table.write("orders", src.repartition(10))})
    # files of a hypothetical crashed run, with DIFFERENT data: written,
    # never committed
    table.write("orders", src.limit(5))
    n = compact_parquet(spark, f"{root}/orders", target_files=2)
    assert n == src.count()
    table = Table(spark, root)
    after = table.read("orders")
    assert after.count() == src.count()
    files = sorted(p.name for p in Path(root, "orders").glob("*.parquet"))
    assert files == sorted(table.tables["orders"]["files"])

    src.write.parquet(str(tmp_path / "plain"))
    with pytest.raises(FileNotFoundError):
        compact_parquet(spark, str(tmp_path / "plain"))


def test_schema_cache_sees_in_place_partition_append(spark, tmp_path):
    """Appending a part file inside an existing partition
    subdirectory does not bump the parent dir's mtime, so an mtime-only
    cache key would serve a stale schema. The key folds in a leaf-file
    signature, so a schema-evolving in-place append re-resolves."""
    from elt_gluepipeline_spark.sources.readers import _table_schema

    base = tmp_path / "evolving.parquet"
    part = base / "p=1"
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df1.write.parquet(str(part))
    s1 = _table_schema(spark, str(base))
    assert "extra" not in s1.fieldNames()

    import time
    time.sleep(0.01)
    df2 = spark.createDataFrame([(2, "b", 9.5)],
                                "id int, v string, extra double")
    df2.write.mode("append").parquet(str(part))
    # read with mergeSchema via a fresh footer resolve: the cache must
    # NOT serve the pre-append StructType
    s2 = _table_schema(spark, str(base))
    assert s1 is not s2, "stale cached schema served after append"


def test_move_path_replaces_the_destination(tmp_path):
    from elt_gluepipeline_spark.sources.writers import move_path

    src = tmp_path / "landing" / "batch1"
    src.mkdir(parents=True)
    (src / "part-0.csv").write_text("a\n")
    dst = tmp_path / "processed" / "batch1"
    dst.mkdir(parents=True)
    (dst / "stale.csv").write_text("old\n")
    move_path(str(src), str(dst))
    assert not src.exists()
    assert [p.name for p in dst.iterdir()] == ["part-0.csv"]
