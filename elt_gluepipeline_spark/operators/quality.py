"""Data-quality gate operators (SURVEY.md §2.2 P5/P6/P9,
§2.9 U5 — reference: scripts/go-quality-elt.py).

Three deliberate re-designs vs the reference:

1. Rule extracts are DATA-DRIVEN: a list of named boolean expressions,
   evaluated in one pass (one scan → N extract predicates), instead of
   one hand-written filter per rule.
2. Separating flagged rows is a true partition of the tagged frame
   (``split_clean``), not ``subtract`` — the reference's subtract is
   EXCEPT DISTINCT and silently dedupes the surviving rows (bug B6,
   go-quality-elt.py:135-136).
3. Threshold severity is a BROADCAST JOIN against a flattened rule
   table + arithmetic on violation counts, replacing the Python UDF
   over a broadcast nested dict (U5, go-quality-elt.py:144-168). That
   keeps the hot path in whole-stage codegen: no Python serialization,
   and at 100 TB the rule table (thousands of rows) broadcasts once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def extract_violations(
        df: DataFrame,
        rules: Sequence[tuple[str, Column | str]]) -> DataFrame:
    """P5/P6 generalized: tag each row with the names of violated rules.

    Each rule predicate may be a Column or a SQL-expression string
    (coerced via ``F.expr``) — string rules let callers declare rule
    tables at module import time without a live SparkContext.

    Returns df + ``violated`` (array<string>, empty = clean). One
    projection — Catalyst folds all rule predicates into a single
    codegen stage over the scan.
    """
    tags = [F.when(F.expr(pred) if isinstance(pred, str) else pred,
                   F.lit(name)) for name, pred in rules]
    return df.withColumn(
        "violated",
        F.filter(F.array(*tags), lambda x: x.isNotNull()),
    )


def split_clean(df_tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P9: partition a ``violated``-tagged frame into (clean, quarantine).

    Caller should .cache() df_tagged first when both sides are consumed
    — two filters off one cached plan (go-quality-elt.py:308-309).
    The split is a true partition: clean ∪ quarantine == input,
    disjoint, multiset-exact (no subtract dedupe — B6 fix).
    """
    clean = df_tagged.filter(F.size("violated") == 0).drop("violated")
    quarantine = df_tagged.filter(F.size("violated") > 0)
    return clean, quarantine


def severity_from_thresholds(df: DataFrame, thresholds: DataFrame,
                             join_keys: Sequence[str],
                             checks: Sequence[tuple[str, str, str]]) -> DataFrame:
    """U5 re-expressed: broadcast-join a flattened threshold table and
    score violations with arithmetic.

    ``checks`` is [(value_col, min_col, max_col), ...]. A metric counts
    as violated iff BOTH bounds are present and the value falls outside
    (matching the reference's both-bounds rule,
    go-quality-elt.py:158-163); rows with no matching rule row get
    severity 'none' (missing-key path, :150-154). ≥2 violations →
    'high', 1 → 'low', 0 → 'none' (:164-166).
    """
    joined = df.join(F.broadcast(thresholds), list(join_keys), "left")
    viol: Column = F.lit(0)
    for value_col, min_col, max_col in checks:
        bounds_present = F.col(min_col).isNotNull() & F.col(max_col).isNotNull()
        outside = (F.col(value_col) < F.col(min_col)) | (F.col(value_col) > F.col(max_col))
        viol = viol + F.when(bounds_present & outside, 1).otherwise(0)
    severity = (F.when(viol >= 2, "high")
                 .when(viol == 1, "low")
                 .otherwise("none"))
    drop_cols = {c for _, mn, mx in checks for c in (mn, mx)}
    return (joined.withColumn("severity", severity)
                  .withColumn("flagged", F.col("severity") != "none")
                  .drop(*drop_cols))
