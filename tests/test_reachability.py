"""Static guard against code no caller reaches. Reads source text only
— no Spark.

A top-level def in the package is REACHED when its name appears at a
live site outside its own body: module-level code of the package,
anything in ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, or the body of a reached def. The scan matches
names, not imports, so a mention in a docstring or comment counts.
Tests are not callers: a def only tests use is unreached.

Every unreached def must be in ``KEPT`` with the reason it stays, or be
a helper that only ``KEPT`` code uses. A new operator with no caller
fails here until it is wired into a query, deleted, or given a reason;
a ``KEPT`` entry that a caller reaches again fails as stale.
"""

from __future__ import annotations

import ast
import bisect
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "elt_gluepipeline_spark"
CALLERS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")

KEPT = {
    "read_jdbc_table": "S1 JDBC source read; no query reads a database",
    "write_jdbc": "S8 JDBC sink with DDL column types; no query writes one",
    "read_csv": "S4 CSV source read; the query datasets are parquet",
    "read_csv_tolerant": "S4 CSV read that quarantines malformed rows",
    "move_path": "S11 object move between landing folders",
    "infer_schema": "F17 CSV type inference, parity with the reference loader",
    "load_regex_rules": "YAML classification-rule loader of the reference",
    "load_size_pattern": "YAML size-regex loader of the reference",
    "load_thresholds_df": "YAML quality-threshold loader of the reference",
    "extract_size_token": "F1/F2 size split that load_size_pattern feeds",
    "clean_label": "U1 label cleaner of the reference transform",
    "with_row_fingerprint": "F15 full-row key for tables without business keys",
    "require_columns": "P10 required-column contract check",
    "simhash64": "reference fold the simhash table operator is tested against",
    "_row": "pure-Python row generator the seeded generator is tested against",
}


def _sources():
    for path in sorted((ROOT / PKG).rglob("*.py")):
        yield path, True
    for top in CALLERS:
        p = ROOT / top
        for path in ([p] if p.is_file() else sorted(p.rglob("*.py"))):
            yield path, False


def _scan():
    """(defs, sites): defs maps each top-level def to its name and line
    span; sites maps a name to the defs (or None for module level)
    enclosing each line that mentions it."""
    word = re.compile(r"[A-Za-z_]\w*")
    defs, sites = {}, {}
    for path, in_pkg in _sources():
        text = path.read_text(encoding="utf-8")
        spans = []
        if in_pkg:
            for node in ast.parse(text).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    start = min([node.lineno]
                                + [d.lineno for d in node.decorator_list])
                    key = (path.relative_to(ROOT).as_posix(), node.name)
                    defs[key] = (start, node.end_lineno)
                    spans.append((start, node.end_lineno, key))
        spans.sort()
        starts = [s for s, _, _ in spans]
        for lineno, line in enumerate(text.splitlines(), 1):
            i = bisect.bisect_right(starts, lineno) - 1
            owner = spans[i][2] if i >= 0 and lineno <= spans[i][1] else None
            for name in set(word.findall(line)):
                sites.setdefault(name, []).append(owner)
    return defs, sites


def _reached(defs, sites, roots=()):
    """Defs reached from the live sites, plus everything ``roots``
    (def keys treated as reached) reach."""
    reached = set(roots)
    changed = True
    while changed:
        changed = False
        for key in defs:
            if key in reached:
                continue
            if any(owner is None or (owner != key and owner in reached)
                   for owner in sites.get(key[1], ())):
                reached.add(key)
                changed = True
    return reached


def test_every_unreached_def_has_a_reason():
    defs, sites = _scan()
    unreached = set(defs) - _reached(defs, sites)
    kept = {key for key in defs if key[1] in KEPT}
    # helpers that only kept code uses need no entry of their own
    helpers = (_reached(defs, sites, kept) - kept) - _reached(defs, sites)
    got = {name for _, name in unreached - helpers}
    assert got == set(KEPT), (
        f"unreached without a KEPT reason: {sorted(got - set(KEPT))}; "
        f"KEPT but reached: {sorted(set(KEPT) - got)}")
