"""Stage-chained pipeline runner — the engine's analog of the
reference's Glue WORKFLOW, not just its individual jobs.

The reference wires four Glue scripts into a cron-triggered chain
(cloudformation/06_glueworkflow.yml:24-88: 02:00 UTC trigger, each
stage fires on the previous one's SUCCEEDED), and each stage hands off
to the next exclusively through S3 parquet folders:

    go-ingest / go-incremental-ingest-elt.py  → landing/
    go-transform-elt.py:204-338               → staging/
    go-quality-elt.py:108-312                 → final/ + quarantine/
    go-metric-elt.py                          → metrics/<name>/

`run_pipeline` reproduces that chain on any filesystem: stages
communicate only through parquet folders under one warehouse root,
every stage appends audit events to a RunManifest (T4), ingest
bookmarks commit only after a successful write (T2), and a stage
failure stops the chain exactly like a Glue trigger that never fires.
Orchestration stays external (cron/Airflow invoke the CLI per run);
the runner owns intra-run chaining only.

Scale notes: each stage is one Spark job over partitioned parquet —
nothing here collects to the driver. Quality rules are Column
predicates compiled from SQL strings (config-serializable, like the
reference's YAML rule files), so the violation scan is one pass of
JVM expressions. The metric stage materializes registry plans, which
carry their own 100 TB-safe shapes (broadcast dims, two-level aggs).

CLI:
    python -m elt_gluepipeline_spark.pipeline \
        --source /root/testdata/sf0.001 --warehouse /tmp/wh \
        --tables lineitem --pk 'lineitem:l_orderkey,l_linenumber' \
        --watermark l_shipdate --metrics q01_line_revenue,q02_clv
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.conform import normalize_names, normalize_strings
from .functions.observe import observed
from .operators.quality import route_violations
from .sources.state import BookmarkStore, RunManifest, parse_pk_config
from .sources.writers import write_parquet
from .streaming.incremental import add_audit_columns, incremental_ingest

STAGES = ("ingest", "transform", "quality", "metric")


@dataclass
class PipelineConfig:
    source_dir: str                      # parquet source (the "database")
    warehouse: str                       # output root; stages write under it
    tables: tuple[str, ...] = ("lineitem",)
    pk_config: str = "lineitem:l_orderkey,l_linenumber"      # T6 format
    watermarks: dict[str, str] = field(
        default_factory=lambda: {"lineitem": "l_shipdate"})
    load_mode: str = "incremental"       # or "full" (reference LOAD_MODE)
    # quality rules per table: (rule_name, SQL boolean expr) — flagged
    # rows quarantine, the rest continue (P5/P6 → J5 split)
    quality_rules: dict[str, tuple[tuple[str, str], ...]] = field(
        default_factory=lambda: {"lineitem": (
            ("price_nonpos", "l_extendedprice <= 0"),
            ("qty_out_of_band", "l_quantity IS NULL OR l_quantity >= 48"),
        )})
    # registry query names to materialize in the metric stage
    metric_queries: tuple[str, ...] = ("q01_line_revenue",)

    def path(self, *parts: str) -> str:
        return "/".join([self.warehouse.rstrip("/"), *parts])


def stage_ingest(spark: SparkSession, cfg: PipelineConfig,
                 manifest: RunManifest) -> dict[str, int]:
    """Landing loads: high-watermark incremental read per table, PK
    keep-latest dedupe, audit columns, bookmark commit-after-write."""
    pks = parse_pk_config(cfg.pk_config)
    bookmarks = BookmarkStore(cfg.path("_state", "bookmarks"))
    rows: dict[str, int] = {}
    for table in cfg.tables:
        wm = cfg.watermarks[table]
        src_path = f"{cfg.source_dir.rstrip('/')}/{table}.parquet"

        def read_since(last, _p=src_path, _wm=wm):
            df = spark.read.parquet(_p)
            return df if last is None else df.filter(F.col(_wm) > last)

        r = incremental_ingest(
            spark, table=table, read_since=read_since, watermark_col=wm,
            primary_keys=pks[table], sink_path=cfg.path("landing", table),
            bookmarks=bookmarks, manifest=manifest,
            load_mode=cfg.load_mode)
        rows[table] = r.rows_ingested
    return rows


def _read_landing(spark: SparkSession, cfg: PipelineConfig,
                  table: str) -> DataFrame:
    """``landing/<table>`` as transform reads it. Before the first
    non-empty increment the folder holds no data file, so it reads as
    zero rows under the schema a landing read gives: the source's
    columns plus the audit columns, ``ingest_date`` typed as partition
    discovery types it. The check lists files only; it runs no job."""
    path = cfg.path("landing", table)
    if any(f.endswith(".parquet") for _, _, files in os.walk(path)
           for f in files):
        return spark.read.parquet(path)
    src = spark.read.parquet(f"{cfg.source_dir.rstrip('/')}/{table}.parquet")
    return (add_audit_columns(src.limit(0), table)
            .withColumn("ingest_date", F.col("ingest_date").cast("date")))


def stage_transform(spark: SparkSession, cfg: PipelineConfig,
                    manifest: RunManifest) -> dict[str, int]:
    """Conform pass (go-transform-elt.py:185-201 + 82-86 analog):
    lowercase/trim column names, normalize string values. Stays total —
    row count is invariant across this stage."""
    rows: dict[str, int] = {}
    for table in cfg.tables:
        df = _read_landing(spark, cfg, table)
        out, obs = observed(normalize_strings(normalize_names(df)),
                            f"transform_{table}", n=F.count(F.lit(1)))
        write_parquet(out, cfg.path("staging", table), max_files=8)
        rows[table] = obs.get["n"]
        manifest.log("transform", table, "success", rows=rows[table])
    return rows


def stage_quality(spark: SparkSession, cfg: PipelineConfig,
                  manifest: RunManifest) -> dict[str, tuple[int, int]]:
    """Rule gate: route each row (``route_violations``: one
    JVM-expression pass) to clean or quarantine off the same cached
    input (P9), write both."""
    split: dict[str, tuple[int, int]] = {}
    for table in cfg.tables:
        df = spark.read.parquet(cfg.path("staging", table))
        rules = cfg.quality_rules.get(table, ())
        if not rules:
            out, obs = observed(df, f"quality_{table}", n=F.count(F.lit(1)))
            write_parquet(out, cfg.path("final", table), max_files=64)
            split[table] = (obs.get["n"], 0)
            manifest.log("quality", table, "no_rules", rows=split[table][0])
            continue
        df = df.persist()
        try:
            clean, bad = route_violations(df, rules)
            clean, obs_clean = observed(clean, f"clean_{table}",
                                        n=F.count(F.lit(1)))
            bad, obs_bad = observed(bad, f"quarantine_{table}",
                                    n=F.count(F.lit(1)))
            write_parquet(clean, cfg.path("final", table), max_files=64)
            write_parquet(bad, cfg.path("quarantine", table), max_files=8)
            n_clean, n_bad = obs_clean.get["n"], obs_bad.get["n"]
        finally:
            df.unpersist()
        split[table] = (n_clean, n_bad)
        manifest.log("quality", table, "success",
                     clean=n_clean, quarantined=n_bad)
    return split


def _metric_source_dir(cfg: PipelineConfig) -> str:
    """Assemble the metric stage's input dir: quality-gated ``final/``
    tables where the pipeline produced them, raw source for the rest.

    The reference's go-metric-elt.py reads FINAL_PATH — metrics see
    only rows that survived the quality gate. Registry plans read
    ``{dir}/{table}.parquet``, so we materialize one dir of symlinks
    with that naming: piped tables point at ``final/<table>``, every
    other testdata table at the raw source (plans may join dims the
    pipeline never ingests). Symlinks are a local-FS convenience; on an
    object store this would be a manifest/view layer instead.
    """
    import shutil

    from .sources.readers import TESTDATA_TABLES

    mdir = cfg.path("_state", "metric_src")
    shutil.rmtree(mdir, ignore_errors=True)
    os.makedirs(mdir, exist_ok=True)
    src = cfg.source_dir.rstrip("/")
    for table in TESTDATA_TABLES:
        final = cfg.path("final", table)
        target = final if table in cfg.tables and os.path.isdir(final) \
            else f"{src}/{table}.parquet"
        if os.path.exists(target):
            os.symlink(os.path.abspath(target),
                       os.path.join(mdir, f"{table}.parquet"))
    return mdir


def stage_metric(spark: SparkSession, cfg: PipelineConfig,
                 manifest: RunManifest) -> dict[str, int]:
    """Materialize registry queries to metrics/<name>/ — the analog of
    go-metric-elt.py writing one parquet folder per metric family.
    Each plan embeds its own lineage (read → conform → agg), and the
    piped fact tables resolve to the quality-gated final/ folders
    (go-metric-elt.py reads FINAL_PATH — quarantined rows must not
    reach metrics)."""
    from .plans import registry

    specs = registry()
    metric_src = _metric_source_dir(cfg)
    rows: dict[str, int] = {}
    for name in cfg.metric_queries:
        df, obs = observed(specs[name].build(spark, metric_src),
                           f"metric_{name}", n=F.count(F.lit(1)))
        write_parquet(df, cfg.path("metrics", name), max_files=16)
        rows[name] = obs.get["n"]
        manifest.log("metric", name, "success", rows=rows[name])
    return rows


_STAGE_FNS = {"ingest": stage_ingest, "transform": stage_transform,
              "quality": stage_quality, "metric": stage_metric}


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 stages: tuple[str, ...] = STAGES,
                 run_id: str | None = None) -> dict[str, object]:
    """Chain the requested stages; stop on first failure (a Glue
    SUCCEEDED-trigger chain never fires the next stage either)."""
    unknown = [s for s in stages if s not in _STAGE_FNS]
    if unknown:
        raise ValueError(f"unknown stages: {unknown}; choose from {STAGES}")
    run_id = run_id or uuid.uuid4().hex[:12]
    manifest = RunManifest(cfg.path("_state", "manifests"), run_id)
    results: dict[str, object] = {"run_id": run_id}
    t0 = time.time()
    try:
        for stage in stages:
            results[stage] = _STAGE_FNS[stage](spark, cfg, manifest)
    except Exception:
        manifest.log("pipeline", "-", "failed", elapsed_s=time.time() - t0)
        raise
    finally:
        manifest.flush()
    manifest.log("pipeline", "-", "success", elapsed_s=time.time() - t0)
    manifest.flush()
    return results


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="elt_gluepipeline_spark.pipeline",
        description="Run the 4-stage ELT chain over parquet folders.")
    ap.add_argument("--source", required=True, help="source parquet dir")
    ap.add_argument("--warehouse", required=True, help="output root")
    ap.add_argument("--stages", default=",".join(STAGES))
    ap.add_argument("--tables", default="lineitem")
    ap.add_argument("--pk", default="lineitem:l_orderkey,l_linenumber",
                    help="T6 pk config, e.g. 't1:k1,k2|t2:k'")
    ap.add_argument("--watermark", default="l_shipdate",
                    help="watermark column (applies to every --tables entry)")
    ap.add_argument("--load-mode", default="incremental",
                    choices=("incremental", "full"))
    ap.add_argument("--metrics", default="q01_line_revenue",
                    help="comma-separated registry query names")
    ap.add_argument("--rules", default=None,
                    help="YAML file of per-table quality rules "
                         "(functions.rules.load_quality_rules layout)")
    args = ap.parse_args(argv)

    tables = tuple(t.strip() for t in args.tables.split(",") if t.strip())
    extra = {}
    if args.rules:
        from .functions.rules import load_quality_rules
        extra["quality_rules"] = load_quality_rules(args.rules)
    cfg = PipelineConfig(
        source_dir=args.source, warehouse=args.warehouse, tables=tables,
        pk_config=args.pk,
        watermarks={t: args.watermark for t in tables},
        load_mode=args.load_mode,
        metric_queries=tuple(m.strip() for m in args.metrics.split(",")
                             if m.strip()),
        **extra)
    from .session import get_spark
    spark = get_spark("elt-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    results = run_pipeline(spark, cfg,
                           tuple(s.strip() for s in args.stages.split(",")))
    print(results)
    return 0


if __name__ == "__main__":
    sys.exit(main())
