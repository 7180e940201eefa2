"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
same scale factor, then compare row count, schema (column names), and
an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elt_gluepipeline_spark.operators._cache import (  # noqa: E402
    release_operator_caches)
from elt_gluepipeline_spark.plans import registry  # noqa: E402
from elt_gluepipeline_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: sort columns by name, stringify
    every cell, hash the sorted multiset of row strings.

    Vectorized (pandas str.cat + numpy sort): the per-row Python loop
    this replaces took minutes per million rows — at sf1 (6M-row query
    outputs) it was the gate's bottleneck, not the engines. Same hash
    definition: both sides of every comparison go through this one
    function in one run, so only internal consistency matters."""
    cols = sorted(df.columns)
    if len(df) == 0:
        return hashlib.sha256(b"").hexdigest()
    body = df[cols].astype(str)
    joined = body[cols[0]].str.cat([body[c] for c in cols[1:]],
                                   sep="\x1f") if len(cols) > 1 \
        else body[cols[0]]
    arr = joined.to_numpy(dtype=object)
    arr.sort()
    h = hashlib.sha256()
    for r in arr:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships one parquet FILE per table; harness-
        # scaled datasets (tools/scale_check.build_scaled) are Spark
        # DIRECTORY tables — glob the part files in that case
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _check(spark, con, sf_dir: str, spec) -> tuple[list[str], bool]:
    """Run one spec on Spark and its oracle on DuckDB. Returns the
    result lines (a line starting with a blank is problem detail, the
    rest follow the query name) and whether the comparison failed."""
    out: list[str] = []
    t0 = time.time()
    sdf = spec.build(spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    release_operator_caches()
    if spec.oracle is None:
        return [f"rows={len(sdf):7d} (rows-only) {t_spark:5.1f}s"], False
    # Optional per-query ORACLE wall budget (seconds). The DuckDB
    # twins are deliberately NAIVE replays (block-local all-pairs,
    # recursive reachability walks) — exactness over efficiency —
    # so at large scale factors a handful become computationally
    # infeasible in the oracle engine even though the Spark plan is
    # fine. With a budget set, such a query records an
    # oracle-timeout line (Spark rows + time still reported) rather
    # than stalling the whole gate; correctness for those stays
    # certified by the sf0.01/sf0.1 full-hash runs.
    budget = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT_S", "0"))
    if budget > 0:
        # Per-query CURSOR (not the shared connection): a timer
        # that fires after the query effectively finished (during
        # .df() materialization / just before cancel) can then only
        # interrupt this cursor, never poison the next query's
        # connection state. One retry when the
        # interrupt lands with budget to spare — that's the
        # late-fire race, not a real timeout.
        import threading
        odf = None
        timed_out = False
        for _attempt in range(2):
            cur = con.cursor()
            timer = threading.Timer(budget, cur.interrupt)
            t_or = time.time()
            timer.start()
            try:
                odf = cur.sql(spec.oracle).df()
                break
            except duckdb.InterruptException:
                if _attempt == 0 and time.time() - t_or < budget * 0.9:
                    continue  # late fire from a stale timer: retry
                timed_out = True
            finally:
                timer.cancel()
                cur.close()
        if timed_out:
            # The shared long-lived connection accumulates buffer
            # pressure over a ~200-query run (at sf1, q171's oracle
            # ran in 61 s standalone but missed the budget at
            # position ~110). Replay ONCE on a fresh connection
            # with its own buffer pool before declaring a timeout.
            fcon = _connect(sf_dir)
            cur = fcon.cursor()
            timer = threading.Timer(budget, cur.interrupt)
            t_or = time.time()
            timer.start()
            try:
                odf = cur.sql(spec.oracle).df()
                out.append(f"fresh-connection oracle retry "
                           f"ok ({time.time() - t_or:5.1f}s)")
            except duckdb.InterruptException:
                out.append(f"rows={len(sdf):7d} "
                           f"(oracle-timeout>{budget:.0f}s incl. "
                           f"fresh-connection retry; spark ok) "
                           f"{t_spark:5.1f}s")
            finally:
                timer.cancel()
                cur.close()
                fcon.close()
        if odf is None:
            return out, False
    else:
        odf = con.sql(spec.oracle).df()
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"schema spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
    else:
        hs, ho = canonical_hash(sdf), canonical_hash(odf)
        if hs != ho:
            problems.append("value-hash mismatch")
            cols = sorted(sdf.columns)
            a = sdf[cols].astype(str).apply("\x1f".join, axis=1)
            b = odf[cols].astype(str).apply("\x1f".join, axis=1)
            sa, sb = set(a), set(b)
            diff_a = list(sa - sb)[:3]
            diff_b = list(sb - sa)[:3]
            for d in diff_a:
                problems.append(f"  spark-only: {d[:200]}")
            for d in diff_b:
                problems.append(f"  oracle-only: {d[:200]}")
    status = "OK " if not problems else "FAIL"
    out.append(f"rows={len(sdf):7d} {status} {t_spark:5.1f}s")
    out.extend(f" {p}" for p in problems)
    return out, bool(problems)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")

    con = _connect(sf_dir)

    # Specs that share one builder and one oracle (q17/q41, q21/q40)
    # have identical results: check the pair once and print its result
    # under each name. The repeat names its first name in place of the
    # Spark time, so tools/gate_summary.py counts that time once.
    results: dict = {}
    failures = []
    for name, spec in sorted(registry().items()):
        if only and name not in only:
            continue
        key = (spec.build, spec.oracle)
        if key in results:
            first, lines, failed = results[key]
            lines = [ln if ln.startswith(" ") else
                     re.sub(r"\s+[\d.]+s$", f" (shared with {first})", ln)
                     for ln in lines]
        else:
            lines, failed = _check(spark, con, sf_dir, spec)
            results[key] = (name, lines, failed)
        for ln in lines:
            print(f"     {ln}" if ln.startswith(" ")
                  else f"  {name:28s} {ln}")
        if failed:
            failures.append(name)

    print()
    if failures:
        print(f"FAILURES ({len(failures)}): {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
