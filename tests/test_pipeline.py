"""Pipeline-runner chain (pipeline.py): the Glue-workflow analog.

Contracts pinned here:
  - full 4-stage chain lands → stages → splits → metrics with exact
    row accounting at every boundary (SURVEY.md §5 stage contracts);
  - re-running ingest is an incremental no-op (bookmark honored, T2);
  - LOAD_MODE=full ignores the bookmark (reference
    go-incremental-ingest-elt.py:162-173);
  - a failing stage stops the chain and the manifest records it (T4,
    like a Glue SUCCEEDED trigger that never fires);
  - a first night whose increment is empty runs through transform and
    quality, writing empty outputs with the landing schema.
"""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.pipeline import (PipelineConfig, run_pipeline,
                                             stage_ingest)
from elt_gluepipeline_spark.sources.state import RunManifest


def _cfg(tmp_path, sf_dir, **over) -> PipelineConfig:
    return PipelineConfig(source_dir=sf_dir,
                          warehouse=str(tmp_path / "wh"), **over)


def test_full_chain_and_incremental_rerun(spark, sf_dir, tmp_path):
    cfg = _cfg(tmp_path, sf_dir,
               metric_queries=("q01_line_revenue", "q02_clv"))
    res = run_pipeline(spark, cfg, run_id="r1")

    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_pk = src.select("l_orderkey", "l_linenumber").distinct().count()

    # ingest deduped keep-latest per PK
    assert res["ingest"]["lineitem"] == n_pk
    # transform is total
    assert res["transform"]["lineitem"] == n_pk
    # quality is an exact partition of staging
    n_clean, n_bad = res["quality"]["lineitem"]
    assert n_clean + n_bad == n_pk and n_bad > 0
    # quarantined rows carry rule names
    quar = spark.read.parquet(cfg.path("quarantine", "lineitem"))
    names = {r.violated for r in quar.select("violated").distinct().collect()}
    assert names and all(
        set(n.split(",")) <= {"price_nonpos", "qty_out_of_band"}
        for n in names)
    # clean rows violate nothing
    clean = spark.read.parquet(cfg.path("final", "lineitem"))
    assert clean.filter(
        (F.col("l_extendedprice") <= 0)
        | F.col("l_quantity").isNull() | (F.col("l_quantity") >= 48)
    ).count() == 0
    # metrics materialized
    assert res["metric"]["q01_line_revenue"] > 0
    assert res["metric"]["q02_clv"] > 0

    # manifest on disk with per-stage events
    mpath = Path(cfg.path("_state", "manifests")) / "manifest_r1.json"
    events = json.loads(mpath.read_text())["events"]
    assert {e["stage"] for e in events} >= {"ingest", "transform",
                                            "quality", "metric"}

    # rerun: watermark already at max → ingest skips (no new rows, no
    # duplicate append)
    man2 = RunManifest(cfg.path("_state", "manifests"), "r2")
    rows2 = stage_ingest(spark, cfg, man2)
    assert rows2["lineitem"] == 0
    assert spark.read.parquet(cfg.path("landing", "lineitem")).count() == n_pk


def test_empty_first_increment_runs_through_quality(spark, sf_dir,
                                                    tmp_path):
    src = tmp_path / "src"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.limit(0).write.parquet(str(src / "lineitem.parquet"))
    cfg = PipelineConfig(source_dir=str(src), warehouse=str(tmp_path / "wh"))
    res = run_pipeline(spark, cfg, stages=("ingest", "transform", "quality"),
                       run_id="r1")
    assert res["ingest"] == {"lineitem": 0}
    assert res["transform"] == {"lineitem": 0}
    assert res["quality"] == {"lineitem": (0, 0)}
    landing = [*li.columns, "ingest_ts_utc", "ingest_date", "source_table"]
    for sub, cols in (("final", landing),
                      ("quarantine", [*landing, "violated"])):
        out = spark.read.parquet(cfg.path(sub, "lineitem"))
        assert out.columns == cols and out.count() == 0
    assert dict(spark.read.parquet(cfg.path("final", "lineitem")).dtypes)[
        "ingest_date"] == "date"


def test_full_load_mode_ignores_bookmark(spark, sf_dir, tmp_path):
    cfg = _cfg(tmp_path, sf_dir)
    man = RunManifest(cfg.path("_state", "manifests"), "f1")
    first = stage_ingest(spark, cfg, man)
    assert first["lineitem"] > 0
    # full reload appends the whole window again despite the bookmark
    cfg_full = _cfg(tmp_path, sf_dir, load_mode="full")
    again = stage_ingest(spark, cfg_full, man)
    assert again["lineitem"] == first["lineitem"]
    landed = spark.read.parquet(cfg.path("landing", "lineitem"))
    assert landed.count() == 2 * first["lineitem"]


def test_failing_stage_stops_chain(spark, sf_dir, tmp_path):
    cfg = _cfg(tmp_path, sf_dir,
               quality_rules={"lineitem": (("boom", "no_such_column > 0"),)})
    with pytest.raises(Exception):
        run_pipeline(spark, cfg, run_id="x1")
    # quality never wrote final/, metric never ran
    assert not Path(cfg.path("final", "lineitem")).exists()
    assert not Path(cfg.path("metrics")).exists()
    mpath = Path(cfg.path("_state", "manifests")) / "manifest_x1.json"
    events = json.loads(mpath.read_text())["events"]
    assert any(e["stage"] == "pipeline" and e["status"] == "failed"
               for e in events)


def test_cli_single_stage(spark, sf_dir, tmp_path):
    # the CLI path minus the session bootstrap: run stages via main()'s
    # config construction equivalent
    from elt_gluepipeline_spark.pipeline import STAGES
    assert STAGES == ("ingest", "transform", "quality", "metric")
    cfg = _cfg(tmp_path, sf_dir)
    res = run_pipeline(spark, cfg, stages=("ingest",), run_id="s1")
    assert set(res) == {"run_id", "ingest"}
    assert Path(cfg.path("landing", "lineitem")).exists()


def test_multi_table_chain(spark, sf_dir, tmp_path):
    # two tables, different PKs / watermarks / rule sets, one run
    cfg = PipelineConfig(
        source_dir=sf_dir, warehouse=str(tmp_path / "wh"),
        tables=("lineitem", "orders"),
        pk_config="lineitem:l_orderkey,l_linenumber|orders:o_orderkey",
        watermarks={"lineitem": "l_shipdate", "orders": "o_orderdate"},
        quality_rules={
            "lineitem": (("price_nonpos", "l_extendedprice <= 0"),),
            "orders": (("total_nonpos", "o_totalprice <= 0"),),
        },
        metric_queries=())
    res = run_pipeline(spark, cfg,
                       stages=("ingest", "transform", "quality"),
                       run_id="m1")
    for table, key_cols in (("lineitem", ["l_orderkey", "l_linenumber"]),
                            ("orders", ["o_orderkey"])):
        src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        n_pk = src.select(*key_cols).distinct().count()
        assert res["ingest"][table] == n_pk
        n_clean, n_bad = res["quality"][table]
        assert n_clean + n_bad == n_pk


def test_metric_stage_reads_quality_gated_final(spark, sf_dir, tmp_path):
    """Metrics must see only rows that survived the quality gate (the
    reference's go-metric-elt.py reads FINAL_PATH) — a metric over the
    piped fact equals the same plan over final/, not over raw source."""
    cfg = _cfg(tmp_path, sf_dir, metric_queries=("q01_line_revenue",))
    res = run_pipeline(spark, cfg, run_id="rmetric")
    n_clean, n_bad = res["quality"]["lineitem"]
    assert n_bad > 0
    # q01 is line-grain: its row count over final/ == n_clean; over raw
    # source it would be the full line count.
    assert res["metric"]["q01_line_revenue"] == n_clean
    metric = spark.read.parquet(cfg.path("metrics", "q01_line_revenue"))
    final = spark.read.parquet(cfg.path("final", "lineitem"))
    got = metric.agg(F.sum("revenue")).collect()[0][0]
    exp = final.agg(F.sum(
        F.coalesce(F.col("l_extendedprice"), F.lit(0.0))
        * (F.lit(1.0) - F.coalesce(F.col("l_discount"), F.lit(0.0))))
    ).collect()[0][0]
    assert abs(got - exp) < 1e-6 * max(1.0, abs(exp))


def test_cli_rules_file_drives_quality(spark, sf_dir, tmp_path):
    """`python -m elt_gluepipeline_spark.pipeline --rules f.yaml`:
    YAML-configured rules (functions.rules.load_quality_rules) reach
    the quality gate and stamp their names on quarantined rows."""
    from elt_gluepipeline_spark.pipeline import main

    rules = tmp_path / "rules.yaml"
    rules.write_text(
        "lineitem:\n"
        "  - name: yaml_qty_rule\n"
        "    expr: l_quantity >= 48\n")
    wh = tmp_path / "whcli"
    assert main(["--source", sf_dir, "--warehouse", str(wh),
                 "--stages", "ingest,transform,quality",
                 "--rules", str(rules)]) == 0
    quar = spark.read.parquet(str(wh / "quarantine" / "lineitem"))
    names = {r.violated for r in quar.select("violated").distinct().collect()}
    assert names == {"yaml_qty_rule"}
