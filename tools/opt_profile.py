"""Optimization profiler: time named queries (noop sink,
best-of-N) and dump their .explain("formatted") output.

Usage:
  python tools/opt_profile.py [--sf SF_DIR] [--runs N] \
      [--plans-dir DIR --suffix before|after] q171_lsh_recall ...

With no query names, profiles every registry query (timing only).
Prints one JSON line per query: {"query": name, "sec": best, "runs": N}.
When --plans-dir is given, writes DIR/<query>_<suffix>.txt with the
formatted physical plan (the before/after artifact of a plan change).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elt_gluepipeline_spark.plans import registry  # noqa: E402
from elt_gluepipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    names = args.queries or sorted(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # same warmups as bench.py so first-query numbers are comparable
    specs["q15_lang_id"].build(spark, args.sf) \
        .write.format("noop").mode("overwrite").save()
    spark.range(32, numPartitions=32) \
        .mapInPandas(lambda it: iter(it), schema="id long") \
        .write.format("noop").mode("overwrite").save()
    from elt_gluepipeline_spark.plans.training import warm_artifacts
    warm_artifacts(spark, args.sf)

    from elt_gluepipeline_spark.operators._cache import (
        release_operator_caches)

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    for name in names:
        spec = specs[name]
        best = float("inf")
        for _ in range(max(1, args.runs)):
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"opt-profile:{name}")
            spec.build(spark, args.sf).write.format("noop") \
                .mode("overwrite").save()
            best = min(best, time.time() - t0)
            release_operator_caches()
        spark.sparkContext.setJobDescription(None)
        if args.plans_dir:
            df = spec.build(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out = os.path.join(args.plans_dir,
                               f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(buf.getvalue())
            release_operator_caches()
        print(json.dumps({"query": name, "sec": round(best, 3),
                          "runs": args.runs}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
