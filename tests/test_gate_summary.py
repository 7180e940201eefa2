"""tools/gate_summary.py sums the Spark time of every result line of a
check_correctness log. A (build, oracle) pair shared by two names is
checked once and printed under both; the repeat line carries
"(shared with <first>)" in place of a time, so the plan's time is
summed once while both names still count as checked."""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from gate_summary import tally  # noqa: E402


def test_shared_pair_time_is_summed_once():
    t = tally([
        "q17_minhash_neardup          rows=     24 OK    2.8s",
        "q41_minhash_portable         rows=     24 OK  "
        "(shared with q17_minhash_neardup)",
    ])
    assert t["ok"] == ["q17_minhash_neardup", "q41_minhash_portable"]
    assert t["spark_total"] == 2.8


def test_shared_rows_only_and_fail_lines_are_counted():
    t = tally([
        "q36_a    rows=      3 (rows-only)   1.5s",
        "q36_b    rows=      3 (rows-only) (shared with q36_a)",
        "q90_x    rows=      7 FAIL   0.4s",
        "q91_y    rows=      7 FAIL (shared with q90_x)",
    ])
    assert t["rows_only"] == ["q36_a", "q36_b"]
    assert t["mism"] == ["q90_x", "q91_y"]
    assert t["spark_total"] == 1.5
