"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the conf set here is chosen so the
same logical plans behave well on a real multi-executor cluster:
AQE handles skew/coalesce at runtime, broadcast threshold keeps dim
joins shuffle-free, and Arrow makes any unavoidable pandas exchange
cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_GIB = 1024 ** 3
_MAX_DRIVER_GIB = 48


def driver_mem_for(phys_bytes: int) -> str:
    """Default driver heap: half the host's physical memory in whole GiB
    (at least 1), capped at 48g. In local[N] mode the driver JVM hosts
    every executor thread, so it needs executor-fleet-sized heap: on a
    128 GiB box, 32 concurrent tasks in 8g stalled up to 20 s in full
    GC and 48g ran stable. A heap the host cannot back gets the JVM
    OOM-killed instead: with 48g on a 15 GiB host the sf0.1 gate died
    after 90 queries, and with 8g it passed all 207."""
    return f"{max(1, min(_MAX_DRIVER_GIB, phys_bytes // 2 // _GIB))}g"


# Defaults sized for local[N] on one host. On a real cluster these are
# submit-time conf, not code — everything here is safe to override via
# environment / spark-submit.
_DEFAULT_CONF: dict[str, str] = {
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # and plan re-optimization from real statistics. This is the main
    # lever that makes one logical plan survive a 1000x scale-up.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Starting shuffle parallelism; AQE coalesces down from here.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Dims (nation/region/date_dim-like) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Arrow for any pandas_udf / applyInPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Don't let a single huge parquet row-group serialize a stage.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Timestamps in testdata are naive; keep session in UTC so
    # date_format/hour derivations match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # The generated-class cache defaults to 100 entries; a session
    # that runs the whole registry (bench, correctness gate) churns it,
    # so a query's second run can recompile its widest codegen unit
    # (a janino compile of q17's 32-min minhash aggregate costs ~10 s,
    # while its identical-plan twin q41 ran in 1.8 s). Sizing the cache
    # to hold every unit across the registry makes recompiles one-time
    # per session. Cost is bounded: cached classes are small.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Sized to the host (driver_mem_for). On a real cluster this maps to
    # normal per-executor memory, not a big driver.
    "spark.driver.memory": (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or driver_mem_for(os.sysconf("SC_PHYS_PAGES")
                          * os.sysconf("SC_PAGE_SIZE"))),
}


def get_spark(app_name: str = "elt_gluepipeline_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to local[$SPARK_GRAFT_CPUS]."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
