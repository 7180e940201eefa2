"""Physical-plan fingerprints for every registry query — the
plan-shape counterpart of bench.py's timing line.

For each batch query, builds the plan (no execution beyond footer
schema reads) and counts the operators that matter at 100 TB:
shuffles (Exchange), broadcasts, join strategies, scans, row-UDF
nodes, cartesian products. One JSON line per run; diff two runs to
catch a plan-shape regression (a broadcast silently becoming a
sort-merge join, a new Exchange creeping into a fused stage) before
it costs wall-clock at scale — timing alone can't attribute WHY.

Only specs with ``runs_at_build == "none"`` are fingerprinted: the
others execute work when built (their shapes are pinned by tests
instead).

Usage: python tools/plan_stats.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elt_gluepipeline_spark.plans import registry  # noqa: E402
from elt_gluepipeline_spark.session import get_spark  # noqa: E402

# substrings counted in the formatted physical plan
MARKERS = {
    "exchanges": r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
    "broadcasts": r"\bBroadcastExchange\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "smj": r"\bSortMergeJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "scans": r"\bFileScan parquet\b|\bScan parquet\b",
    "aggs": r"\bHashAggregate\b|\bObjectHashAggregate\b|\bSortAggregate\b",
    "windows": r"\bWindow\b|\bWindowGroupLimit\b",
    "expands": r"\bExpand\b",
    "arrow_udfs": r"\bArrowEvalPython\b|\bMapInPandas\b|\bFlatMapGroupsInPandas\b",
    # red flags — plan tests assert these are zero registry-wide
    "row_udfs": r"\bBatchEvalPython\b",
    "cartesians": r"\bCartesianProduct\b",
}


def fingerprint(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {k: len(re.findall(pat, plan)) for k, pat in MARKERS.items()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-stats")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    red = []
    for name, spec in registry().items():
        if (only and name not in only) or spec.runs_at_build != "none":
            continue
        fp = fingerprint(spec.build(spark, sf_dir))
        out[name] = {k: v for k, v in fp.items() if v}
        if fp["row_udfs"] or fp["cartesians"]:
            red.append(name)
    print(json.dumps({"sf_dir": sf_dir, "red_flags": red, "plans": out}))
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
