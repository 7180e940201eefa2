"""Summarize a check_correctness.py log: counts of hash-OK /
rows-only / oracle-timeout / mismatch, plus the query lists.

Usage: python tools/gate_summary.py GATE.log
Prints one JSON object (indent=1) to stdout.

The summarizer ASSERTS its totals against the live registry (a
hand-written total can disagree with the registry): a per-query gate
artifact must account for every registered query exactly once, so a
mismatch raises instead of printing.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_TIME = r"(?:([\d.]+)s|\(shared with \w+\))"


def tally(lines: list[str]) -> dict:
    """Sort a gate log's result lines into query lists. A repeat line
    of a shared (build, oracle) pair carries "(shared with <first>)"
    instead of a time, so each plan's Spark time is summed once."""
    t = {"ok": [], "rows_only": [], "timeouts": [], "retries": [],
         "mism": [], "spark_total": 0.0}
    for ln in lines:
        m = re.match(r"(q\w+)\s+rows=\s*(\d+) OK\s+" + _TIME, ln)
        if m:
            t["ok"].append(m.group(1))
            t["spark_total"] += float(m.group(3) or 0)
            continue
        m = re.match(r"(q\w+)\s+rows=\s*(\d+) \(rows-only\)\s+" + _TIME, ln)
        if m:
            t["rows_only"].append(m.group(1))
            t["spark_total"] += float(m.group(3) or 0)
            continue
        m = re.match(r"(q\w+)\s+fresh-connection oracle retry ok", ln)
        if m:
            t["retries"].append(m.group(1))
            continue
        m = re.match(r"(q\w+)\s+rows=\s*(\d+)\s+\(oracle-timeout", ln)
        if m:
            t["timeouts"].append(m.group(1))
            continue
        m = re.match(r"(q\w+)\s+rows=\s*(\d+) FAIL", ln)
        if m:
            t["mism"].append(m.group(1))
    return t


def main() -> int:
    raw = open(sys.argv[1]).read()
    # Spark progress bars ride on \r on the same line; split on both
    lines = [ln.strip() for chunk in raw.splitlines()
             for ln in chunk.split("\r") if ln.strip()]
    t = tally(lines)
    ok, rows_only, timeouts = t["ok"], t["rows_only"], t["timeouts"]
    retries, mism, spark_total = t["retries"], t["mism"], t["spark_total"]
    from elt_gluepipeline_spark.plans import registry
    registered = set(registry())
    seen = ok + rows_only + timeouts + mism
    missing = sorted(registered - set(seen))
    extra = sorted(set(seen) - registered)
    dupes = sorted({q for q in seen if seen.count(q) > 1})
    if missing or extra or dupes:
        raise SystemExit(
            f"gate log does not reconcile with the {len(registered)}-query "
            f"registry: missing={missing} extra={extra} double-counted="
            f"{dupes}")
    out = {
        "n_queries": len(ok) + len(rows_only) + len(timeouts) + len(mism),
        "n_registry": len(registered),
        "n_hash_match": len(ok),
        "n_rows_only": len(rows_only),
        "n_oracle_timeout_spark_ok": len(timeouts),
        "n_mismatch": len(mism),
        "rows_only_queries": sorted(rows_only),
        "oracle_timeout_queries": sorted(timeouts),
        "fresh_connection_retries_ok": sorted(retries),
        "mismatch_queries": sorted(mism),
        "spark_total_sec_from_log": round(spark_total, 1),
        "exit_line": next((ln for ln in lines if ln.startswith("exit=")),
                          None),
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
