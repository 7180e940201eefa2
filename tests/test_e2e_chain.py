"""End-to-end smoke of the reference's 4-stage chain (SURVEY.md §5):
incremental ingest → transform/conform → quality split → metrics, over
sf0.001 testdata, with row-count and schema contracts asserted at every
stage boundary. Stages communicate exclusively through parquet folders,
exactly like the reference's S3 hand-offs."""

from pyspark.sql import functions as F
from pyspark.sql.types import (DateType, DoubleType, LongType, StringType,
                               StructField, StructType)

from elt_gluepipeline_spark.functions.conform import conform, require_columns
from elt_gluepipeline_spark.functions.deterministic import dsum
from elt_gluepipeline_spark.operators.quality import (extract_violations,
                                                      split_clean)
from elt_gluepipeline_spark.sources.readers import read_table
from elt_gluepipeline_spark.sources.state import BookmarkStore
from elt_gluepipeline_spark.sources.writers import write_parquet
from elt_gluepipeline_spark.streaming.incremental import incremental_ingest

TRANSFORM_CONTRACT = StructType([
    StructField("l_orderkey", LongType()),
    StructField("l_linenumber", LongType()),
    StructField("l_quantity", DoubleType()),
    StructField("l_extendedprice", DoubleType()),
    StructField("l_discount", DoubleType()),
    StructField("l_returnflag", StringType()),
    StructField("ship_date", DateType()),
])


def test_full_chain_sf0001(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    final = str(tmp_path / "final")
    quarantine = str(tmp_path / "quality")
    metrics = str(tmp_path / "metrics")

    # -- stage 1: incremental ingest (full first window) ------------------
    src = read_table(spark, sf_dir, "lineitem")

    def read_since(last):
        df = read_table(spark, sf_dir, "lineitem")
        if last is not None:
            df = df.filter(F.col("l_shipdate") > last)
        return df

    r = incremental_ingest(
        spark, table="lineitem", read_since=read_since,
        watermark_col="l_shipdate", primary_keys=["l_orderkey", "l_linenumber"],
        sink_path=landing, bookmarks=BookmarkStore(str(tmp_path / "bm")))
    landed = spark.read.parquet(landing)
    # testdata carries duplicate (orderkey, linenumber) pairs: ingest
    # dedupes keep-latest per PK by watermark (W1/T3)
    n_pk = (src.select("l_orderkey", "l_linenumber").distinct().count())
    assert r.rows_ingested == landed.count() == n_pk
    assert landed.select("l_orderkey", "l_linenumber").distinct().count() == n_pk
    assert {"ingest_ts_utc", "source_table"} <= set(landed.columns)  # audit cols

    # -- stage 2: transform + contract ------------------------------------
    require_columns(landed, ["l_orderkey", "l_extendedprice", "l_shipdate"])
    transformed = conform(
        landed.withColumn("ship_date", F.col("l_shipdate").cast("date")),
        TRANSFORM_CONTRACT)
    assert transformed.schema == TRANSFORM_CONTRACT
    assert transformed.count() == n_pk                  # transform is total
    write_parquet(transformed, final + "_pre", max_files=8)

    # -- stage 3: quality gate --------------------------------------------
    pre = spark.read.parquet(final + "_pre")
    tagged = extract_violations(pre, [
        ("price_nonpos", F.col("l_extendedprice") <= 0),
        ("qty_high", F.col("l_quantity") >= 48),
    ]).cache()
    clean, bad = split_clean(tagged)
    n_clean, n_bad = clean.count(), bad.count()
    assert n_clean + n_bad == n_pk                      # exact partition
    write_parquet(clean, final)
    write_parquet(bad.withColumn("violated", F.array_join("violated", ",")),
                  quarantine)

    # -- stage 4: metrics over final ---------------------------------------
    base = spark.read.parquet(final)
    rev = base.groupBy("l_returnflag").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))
    write_parquet(rev, metrics, partition_by=("l_returnflag",))
    out = spark.read.parquet(metrics)                   # partition discovery
    assert out.count() == base.select("l_returnflag").distinct().count()
    assert out.agg(F.sum("n_lines")).collect()[0][0] == n_clean
    tagged.unpersist()


def test_sql_front_door(spark, sf_dir):
    # SURVEY §7.1 engine/sql.py: every declared query is addressable
    # from spark.sql, and compositions over the views run the engine's
    # plans
    from elt_gluepipeline_spark.plans import registry
    from elt_gluepipeline_spark.sql import register_all
    names = register_all(spark, sf_dir)
    assert "q02_clv" in names and len(names) > 50
    assert names == [n for n, s in registry().items()
                     if s.runs_at_build == "none"]
    direct = spark.sql("SELECT COUNT(*) AS n FROM q02_clv").collect()[0].n
    assert direct > 0
    composed = spark.sql("""
        SELECT c.value_tier, SUM(l.revenue) AS rev
        FROM q01_line_revenue l JOIN q03_clv_tiered c
          ON l.l_orderkey = c.c_custkey
        GROUP BY c.value_tier
    """)  # cross-view composition plans and runs the engine's plans
    assert composed.count() >= 0 and {"value_tier", "rev"} == set(composed.columns)


def test_sql_front_door_default_registration_is_lazy(spark, sf_dir):
    """The laziness CONTRACT of ``QuerySpec.runs_at_build``: building a
    "none" spec constructs a logical plan only. Each one builds in its
    own job group and must submit zero Spark jobs, so a builder that
    gains a collect, a count or a lazy checkpoint that AQE runs at
    plan time is named here. ``register_all`` registers exactly these
    specs (``test_sql_front_door``)."""
    from elt_gluepipeline_spark.plans import registry
    from elt_gluepipeline_spark.sql import load_tables

    sc = spark.sparkContext
    # warm the footer-schema cache first: schema reads are legitimate,
    # and without this the first builder to read a table would pay them
    load_tables(spark, sf_dir)
    specs = registry()
    assert {s.runs_at_build for s in specs.values()} == {
        "none", "jobs", "stream"}
    lazy = {n: s for n, s in specs.items() if s.runs_at_build == "none"}
    assert len(lazy) > 100
    try:
        for name, spec in lazy.items():
            sc.setJobGroup(f"build:{name}", "laziness guard")
            spec.build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    ran = {name: n for name in lazy if (n := len(
        sc.statusTracker().getJobIdsForGroup(f"build:{name}")))}
    assert not ran, f"runs_at_build='none' specs ran Spark jobs: {ran}"


def test_staging_builders_write_under_session_scratch_root(
        spark, sf_dir, tmp_path, monkeypatch):
    """q134, q135, q151 (``_stage_roundtrip``) and q144 write staged
    files at build time. They go under the session's
    ``plans.scratch_dir`` root (removed at exit), never to a
    dataset-keyed path in the temp dir, which every session on the
    dataset shares and where one build's overwrite deletes another
    session's files."""
    import os
    import tempfile

    from elt_gluepipeline_spark.plans import registry, scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    specs = registry()
    for name in ("q134_json_roundtrip", "q135_orc_roundtrip",
                 "q151_xml_roundtrip", "q144_shard_writer"):
        specs[name].build(spark, sf_dir)
    leaked = [p.name for p in tmp_path.iterdir() if p.name.startswith(
        ("spark_graft_stage_", "spark_graft_shards_"))]
    assert not leaked, leaked
    root = os.path.dirname(scratch_dir(spark, sf_dir, "x"))
    assert {"stage_json", "stage_orc", "stage_xml", "shards"} <= set(
        os.listdir(root))


def test_rawtxt_staging_restages_in_place(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """q154 keeps ONE staging dir per source path: a regenerated
    dataset (new content, new mtime) is restaged into the same dir,
    not into a second full copy next to the first."""
    import os
    import shutil
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from elt_gluepipeline_spark.plans import registry

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    data = tmp_path / "data"
    data.mkdir()
    src = data / "documents.parquet"
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), src)
    build = registry()["q154_rawfile_ingest"].build

    def staged():
        dirs = [p for p in tmp.iterdir()
                if p.name.startswith("spark_graft_rawtxt_")]
        assert len(dirs) == 1, dirs
        return {int(p.name.split("=", 1)[1])
                for p in dirs[0].glob("doc_id=*")}

    def built_ids():
        return {r.doc_id for r in build(spark, str(data)).collect()}

    ids = pq.read_table(src).column("doc_id").to_pylist()
    want = {i for i in ids if i % 10 == 0}
    assert built_ids() == want and staged() == want

    keep = sorted(ids)[len(ids) // 2]
    table = pq.read_table(src)
    pq.write_table(table.filter(pc.less(table["doc_id"], keep)), src)
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    want = {i for i in want if i < keep}
    assert built_ids() == want and staged() == want
