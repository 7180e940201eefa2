"""The driver keeps only the LAST ~2 KB of bench stdout and parses the
final line; a single full-map line outgrows that window and parses as
null. The contract: chunked per-query lines first (complete record),
then ONE compact summary line LAST that always fits in the tail window.
Breaking either half silently voids the bench record, so pin both."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver's tail capture holds ~1.9 KB; stay well under
TAIL_WINDOW_BYTES = 1600


def test_bench_summary_line_last_and_tail_sized(spark):
    # (spark fixture: registry() builds module-level Column rules and
    # needs an active session in this process too)
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4")
    out = subprocess.run([sys.executable, "bench.py"], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]

    # the summary MUST be the very last line (tail capture sees it
    # whole) and small enough to fit the driver's window entirely
    summary_line = lines[-1]
    assert summary_line.startswith('{"metric"'), out.stdout[-2000:]
    assert len(summary_line.encode()) < TAIL_WINDOW_BYTES, len(summary_line)
    rec = json.loads(summary_line)
    assert rec["metric"] == "total_query_sec" and rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert rec["value"] > 0

    from elt_gluepipeline_spark.plans import registry
    assert rec["n_queries"] == len(registry())
    # summary carries the heaviest queries; heaviest-first ordering
    vals = list(rec["queries"].values())
    assert vals == sorted(vals, reverse=True)
    assert len(rec["queries"]) + rec["queries_omitted"] == rec["n_queries"]

    # the chunk lines BEFORE it carry the complete per-query map
    full: dict[str, float] = {}
    for ln in lines[:-1]:
        if ln.startswith('{"chunk"'):
            full.update(json.loads(ln)["queries"])
    assert set(full) == set(registry())
    assert abs(sum(full.values()) - rec["value"]) < 0.1
    # summary's heaviest entries agree with the full record
    for name, sec in rec["queries"].items():
        assert full[name] == sec

    # host-state probe: fixed-work calibration at start and end, so
    # artifact consumers (tools/bench_diff.py) can normalize totals
    # across this VM's several-fold host-speed swings
    cal = rec["calibration_sec"]
    assert cal["start"] > 0 and cal["end"] > 0

    # artifact warm/cold stamp: the four persisted
    # families resolved at pre-warm, and zero cold fits inside the
    # timed loop (pre-warm + dataset-keyed memo make timed refits
    # impossible in a single-dataset bench run)
    arts = rec["artifacts"]
    assert set(arts["prewarm"]) == {"pq", "km", "ivfc", "semk8"}
    assert all(how in ("load", "fit", "memo")
               for how in arts["prewarm"].values())
    assert arts["timed_fits"] == 0
