"""Compare two bench.py outputs: per-query deltas, regressions first.

Usage:
  python tools/bench_diff.py OLD.json NEW.json [min_delta_sec]

Each file is a bench.py JSON line ({"value": total, "queries": {...}}).
Prints queries whose |delta| >= min_delta_sec (default 0.25), newly
added/removed queries, and the total delta — the quick "did this change
regress anything" check against a previous bench output.

When BOTH artifacts carry the fixed-work host probe
(``calibration_sec``), per-query deltas and the
total are ALSO reported host-normalized: NEW times are multiplied by
old_cal/new_cal (mean of the start/end probes), so a uniform slowdown
from machine state cancels out and only plan drift remains. This VM
swings several-fold between identical runs — trust the normalized
column when the two artifacts' calibrations differ materially.
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    def load(path):
        text = open(path).read().strip()
        lines = [ln for ln in text.splitlines() if ln.strip()]
        if len(lines) > 1:
            # raw bench.py stdout: chunk lines carry the COMPLETE
            # per-query map, the last line is the summary — merge them
            # so diffs cover every query, not just the heaviest 24
            full: dict[str, float] = {}
            summary = None
            for ln in lines:
                d = json.loads(ln)
                if "chunk" in d:
                    full.update(d["queries"])
                else:
                    summary = d
            if summary is None:
                raise SystemExit(
                    f"{path}: no summary line (only chunk lines) — "
                    "truncated bench output?")
            summary["queries"] = full
            return summary
        d = json.loads(text)
        # a driver bench record wraps bench.py's line in "parsed"
        return d.get("parsed", d)

    old, new = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.25
    qo, qn = old["queries"], new["queries"]

    def cal(rec):
        c = rec.get("calibration_sec")
        if not c:
            return None
        return (c["start"] + c["end"]) / 2.0

    co, cn = cal(old), cal(new)
    norm = co / cn if co and cn else None
    if norm is not None:
        print(f"host probe: old={co:.2f}s new={cn:.2f}s -> normalizing "
              f"NEW by x{norm:.3f} (fixed-work calibration ratio)")

    added = sorted(set(qn) - set(qo))
    removed = sorted(set(qo) - set(qn))
    common = set(qo) & set(qn)
    deltas = sorted(((qn[k] - qo[k], k) for k in common), reverse=True)

    print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({new['value'] - old['value']:+.1f}s); "
          f"{len(common)} common, {len(added)} added, {len(removed)} removed")
    if norm is not None:
        print(f"total (host-normalized): {old['value']:.1f}s -> "
              f"{new['value'] * norm:.1f}s "
              f"({new['value'] * norm - old['value']:+.1f}s)")
    for d, k in deltas:
        dn = qn[k] * norm - qo[k] if norm is not None else d
        if abs(d) >= thr or (norm is not None and abs(dn) >= thr):
            extra = (f"  [norm {dn:+.2f}s -> {qn[k] * norm:.2f}]"
                     if norm is not None else "")
            print(f"  {d:+6.2f}s  {k}  ({qo[k]:.2f} -> {qn[k]:.2f}){extra}")
    for k in added:
        print(f"  [new]    {k}  ({qn[k]:.2f}s)")
    for k in removed:
        print(f"  [gone]   {k}  (was {qo[k]:.2f}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
