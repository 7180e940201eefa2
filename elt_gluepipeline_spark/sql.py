"""SQL front-door (SURVEY.md §7.1 engine/sql.py): register the
testdata tables and every lazy declared query as temp views, so the
engine surface is addressable from ``spark.sql`` — the literal-SQL
twin the oracle gate exercises in DuckDB, available in-engine too.

``register_all`` registers exactly the specs whose ``runs_at_build``
is "none": registering them costs plan construction only, and nothing
executes until a view is selected from. A "jobs" or "stream" spec
would run its work (its doc says which) at registration, so it is
left out; build it through ``registry()``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .plans import registry
from .sources.readers import load_tables

# kept for perfbench/workloads.py, which imports it; derived from the specs
STREAMING_QUERIES = frozenset(n for n, s in registry().items()
                              if s.runs_at_build == "stream")


def register_all(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register base tables + the "none" queries as temp views; returns
    the view names. After this, ``spark.sql("SELECT * FROM q02_clv")``
    (or any composition over it) runs the engine's plan."""
    load_tables(spark, sf_dir)  # base tables as views
    names: list[str] = []
    for name, spec in registry().items():
        if spec.runs_at_build == "none":
            spec.build(spark, sf_dir).createOrReplaceTempView(name)
            names.append(name)
    return names
