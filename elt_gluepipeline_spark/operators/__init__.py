"""Relational/dataflow operators (SURVEY.md §2.3-2.6) plus the
training-data extension operators (dedup, similarity, text analysis,
multimodal plumbing). All are pure DataFrame → DataFrame functions."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_REPARTITION_RE = re.compile(
    r"\bRepartition (\d+), true\s*$|"
    r"\bRepartitionByExpression \[.*\], (\d+)\s*$",
    re.MULTILINE)


def _planned_repartition(df: DataFrame) -> int:
    """Largest explicit repartition width already in the ANALYZED plan
    (0 if none). String-level check on purpose: it never touches
    ``df.rdd``, which under AQE finalizes the adaptive plan and RUNS
    every shuffle stage below it as real Spark jobs — at plan-BUILD
    time. ``read_table(spread=True)`` puts a round-robin repartition
    under the operator, so a ``df.rdd.getNumPartitions()`` probe here
    would execute the scan+shuffle once per query *registration*
    (lazy-contract violation) and again per run (double scan)."""
    best = 0
    for m in _REPARTITION_RE.finditer(
            df._jdf.queryExecution().analyzed().toString()):
        g = m.group(1) or m.group(2)
        if g:
            best = max(best, int(g))
    return best


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Repartition only if the plan has fewer partitions than the
    cluster's default parallelism.

    Expression-heavy per-row operators (shingling, hashing, decode
    UDFs) are CPU-bound; a small single-row-group parquet file scans as
    ONE partition and serializes the whole stage. At real scale the
    input already has >= parallelism splits and this is a no-op — the
    repartition only fires on pathologically under-split inputs.

    A plan that already carries an explicit repartition at or above the
    target (e.g. from ``read_table(spread=True)``) is accepted as-is
    WITHOUT consulting ``df.rdd`` — see :func:`_planned_repartition`
    for why touching ``.rdd`` on a shuffle-bearing plan is a build-time
    job, not a metadata probe.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if _planned_repartition(df) >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
