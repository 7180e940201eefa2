"""spread_if_narrow, the package's one fan-out rule for narrow inputs:
a narrow single-file scan is fanned out to defaultParallelism, WITHOUT
losing scan-level filter pushdown or column pruning; a scan whose
estimated task count already covers the cores is left untouched, and
no operator or query repartitions on its own."""

from __future__ import annotations

import re

import pytest

from elt_gluepipeline_spark.sources.readers import (read_table,
                                                    spread_if_narrow)


def test_spread_widens_narrow_scan(spark, sf_dir):
    df = read_table(spark, sf_dir, "documents", spread=True)
    assert df.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def test_spread_preserves_pushdown_and_pruning(spark, sf_dir):
    from pyspark.sql import functions as F
    df = (read_table(spark, sf_dir, "documents", spread=True)
          .filter(F.col("doc_id") > 10).select("doc_id"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the filter must reach the parquet scan below the repartition
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,10)]" \
        in plan
    # and the scan must read only the projected column
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_spread_noop_when_scan_wide_enough(spark, sf_dir, monkeypatch):
    # force the size estimate to look like a many-task table: the
    # repartition must NOT fire (the 100 TB no-op guarantee)
    import elt_gluepipeline_spark.sources.readers as readers
    monkeypatch.setattr(readers, "_table_bytes",
                        lambda path: 10 * (1 << 40))
    df = read_table(spark, sf_dir, "documents", spread=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spread_results_identical(spark, sf_dir):
    a = read_table(spark, sf_dir, "documents").orderBy("doc_id")
    b = read_table(spark, sf_dir, "documents", spread=True) \
        .orderBy("doc_id")
    assert a.collect() == b.collect()


def test_spread_if_narrow_missing_path(spark, sf_dir):
    df = read_table(spark, sf_dir, "documents")
    out = spread_if_narrow(spark, df, "/nonexistent/nowhere.parquet")
    assert out is df


def _round_robin_exchanges(df) -> set[str]:
    """Distinct round-robin exchanges of the initial executed plan, each
    as its subtree text (plan and expression ids stripped): a frame
    consumed twice prints its exchange twice, and AQE runs it once."""
    lines = [re.sub(r", \[plan_id=\d+\]|#\d+", "", ln) for ln in
             df._jdf.queryExecution().executedPlan().toString().splitlines()]
    out = set()
    for i, ln in enumerate(lines):
        if "RoundRobinPartitioning" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip(" :+-"))
        sub = [ln.lstrip(" :+-")]
        for nxt in lines[i + 1:]:
            if len(nxt) - len(nxt.lstrip(" :+-")) <= depth:
                break
            sub.append(nxt[depth:])
        out.add("\n".join(sub))
    return out


@pytest.mark.parametrize("name", ["q155_ridge_fit", "q175_logistic_fit"])
def test_fits_fan_out_only_narrow_inputs(spark, sf_dir, monkeypatch, name):
    """The ridge and IRLS fits spread their input at the read: one
    round-robin exchange on the narrow testdata file, none on a table
    whose size already covers the cores."""
    import elt_gluepipeline_spark.sources.readers as readers
    from elt_gluepipeline_spark.plans import registry

    build = registry()[name].build
    assert len(_round_robin_exchanges(build(spark, sf_dir))) == 1
    monkeypatch.setattr(readers, "_table_bytes",
                        lambda path: 10 * (1 << 40))
    assert not _round_robin_exchanges(build(spark, sf_dir))


def test_shingle_base_keeps_the_read_fan_out(spark, sf_dir):
    """Operators add no fan-out of their own: a shingle base over a
    spread read carries exactly the read's one round-robin exchange."""
    from elt_gluepipeline_spark.operators.dedup import shingle_base

    docs = read_table(spark, sf_dir, "documents", spread=True)
    base = shingle_base(docs, "doc_id", "text", [], k=3)
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1
