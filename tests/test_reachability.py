"""Static guards against code and options no caller uses. Reads source
ASTs only — no Spark.

A site REFERENCES a top-level def of the package when it
- names the def bare where an import from its own module bound it
  (``from .windows import top_n`` ... ``top_n(df)``);
- reads it as an attribute of that module (``reference.q05_x``, where
  an import bound ``reference`` to the module); or
- names it bare inside the def's own module.
A bare name counts only where no enclosing function binds a local of
the same name.
Words are not references: a docstring, a comment, a SQL alias or a
same-named local in another module reach nothing.

A def is REACHED when a reference to it sits in module-level code of
the package, anywhere in ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, or in the body of a reached def. Tests are not
callers: a def only tests use is unreached. Every unreached def must be
in ``KEPT`` with the reason it stays, or be a helper that only ``KEPT``
code uses; a ``KEPT`` entry that a caller reaches again fails as stale.

The second guard holds the options to the same rule: a defaulted
parameter of a reached def that no call sets — in the package, the
caller dirs or ``tests/`` — is a configuration nobody runs. It fails
unless the parameter binds a column of the caller's schema
(``COLUMN_PARAMS``), belongs to a ``KEPT`` def, or is in ``UNSET_OK``
with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "elt_gluepipeline_spark"
CALLERS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")

KEPT = {
    "read_jdbc_table": "S1 JDBC source read; no query reads a database",
    "read_jdbc_incremental": "S1 JDBC bookmark read of the reference's "
                             "incremental job",
    "write_jdbc": "S8 JDBC sink with DDL column types; no query writes one",
    "read_csv": "S4 CSV source read; the query datasets are parquet",
    "read_csv_tolerant": "S4 CSV read that quarantines malformed rows",
    "move_path": "S11 object move between landing folders",
    "infer_schema": "F17 CSV type inference, parity with the reference loader",
    "apply_inferred_schema": "F18 value coercion the inferred schema feeds",
    "conform": "F16 schema conform of the reference's target-table load",
    "load_regex_rules": "YAML classification-rule loader of the reference",
    "load_size_pattern": "YAML size-regex loader of the reference",
    "load_thresholds_df": "YAML quality-threshold loader of the reference",
    "extract_size_token": "F1/F2 size split that load_size_pattern feeds",
    "clean_label": "U1 label cleaner of the reference transform",
    "with_row_fingerprint": "F15 full-row key for tables without business keys",
    "require_columns": "P10 required-column contract check",
    "register_all": "SURVEY 7.1 SQL front door: every lazy query as a view",
    "compact_parquet": "small-file compaction writer of the crash harness",
    "append_lsh_dedup_index": "LSH index append writer of the crash harness",
    "compact_lsh_dedup_index": "LSH index compaction writer of the crash "
                               "harness",
    "simhash64": "reference fold the simhash table operator is tested against",
    "_row": "pure-Python row generator the seeded generator is tested against",
}

# Parameters that name a column of the caller's frame (or a frame's
# output column): their default is a schema binding, not a behaviour.
COLUMN_PARAMS = frozenset({
    "id_col", "text_col", "key_col", "ts_col", "ts_us_col", "value_col",
    "vec_col", "user_col", "order_col", "op_col", "id_a", "id_b", "src",
    "dst", "corpus_id", "corpus_text", "bench_id", "bench_text",
    "component_col", "gid_col", "flag_col", "changed_col", "split_col",
    "cum_name", "shard_col", "key_out", "est_col", "bucket_col", "out_col",
})

# (def, parameter) left unset by every caller, with the reason it stays.
UNSET_OK = {
    ("product_quantize", "grid"): "PQ artifact format, saved with the codes",
    ("product_quantize", "round_to"): "PQ artifact format, saved with the "
                                      "codes",
}


def _files(dirs):
    for top in dirs:
        p = ROOT / top
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _module(rel: Path) -> str:
    parts = rel.with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _File:
    """One parsed source: its module name, whether it is package code,
    and its import bindings (local name -> module, or -> (module, name))."""

    def __init__(self, path: Path, modules: dict):
        self.rel = path.relative_to(ROOT).as_posix()
        self.in_pkg = self.rel.startswith(PKG + "/")
        self.module = _module(path.relative_to(ROOT))
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(encoding="utf-8"))
        self.modules = modules

    def resolve(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.module.split(".")
        if not self.is_pkg:
            parts = parts[:-1]
        parts = parts[:len(parts) - (node.level - 1)]
        return ".".join(parts + ([node.module] if node.module else []))

    def bindings(self, node):
        """Yield (local, target) for an import node; target is a module
        name or a (module, def name) pair."""
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in self.modules:
                    yield a.asname, a.name
        elif isinstance(node, ast.ImportFrom):
            base = self.resolve(node)
            for a in node.names:
                full = f"{base}.{a.name}"
                target = full if full in self.modules else (base, a.name)
                yield a.asname or a.name, target


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef,
           ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _locals(scope) -> set:
    """Names a function or comprehension scope binds itself."""
    out = set()
    if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        a = scope.args
        out |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        out |= {x.arg for x in (a.vararg, a.kwarg) if x}
        body = scope.body if isinstance(scope.body, list) else [scope.body]
    elif isinstance(scope, ast.ClassDef):
        return out
    else:
        body = [g.target for g in scope.generators]
    stack = list(body)
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                            ast.ClassDef)):
            out.add(n.name)
            continue
        elif isinstance(n, ast.arg):
            out.add(n.arg)
        if not isinstance(n, _SCOPES):
            stack.extend(ast.iter_child_nodes(n))
    return out


def _parse():
    paths = list(_files([PKG]))
    modules = {_module(p.relative_to(ROOT)) for p in paths}
    pkg = [_File(p, modules) for p in paths]
    callers = [_File(p, modules) for p in _files(CALLERS)]
    tests = [_File(p, modules) for p in _files(["tests"])]
    return pkg, callers, tests


def _defs(pkg):
    """(module, name) -> the top-level FunctionDef/ClassDef node."""
    return {(f.module, n.name): n for f in pkg for n in f.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))}


def _references(files, defs):
    """(def key -> owners): each owner is the top-level package def
    whose body holds the reference, or None for a live site."""
    sites = {}
    for f in files:
        bound = {}
        for node in ast.walk(f.tree):
            bound.update(f.bindings(node))

        def walk(node, owner, shadow):
            key = None
            if isinstance(node, ast.Attribute) and isinstance(
                    node.value, ast.Name) and isinstance(
                    bound.get(node.value.id), str):
                key = (bound[node.value.id], node.attr)
            elif (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                  and node.id not in shadow):
                key = bound.get(node.id, (f.module, node.id))
            if key in defs:
                sites.setdefault(key, []).append(owner)
            if isinstance(node, _SCOPES):
                shadow = shadow | _locals(node)
            for child in ast.iter_child_nodes(node):
                walk(child, owner, shadow)

        for top in f.tree.body:
            owner = None
            if f.in_pkg and isinstance(top, (ast.FunctionDef,
                                             ast.AsyncFunctionDef,
                                             ast.ClassDef)):
                owner = (f.module, top.name)
            walk(top, owner, frozenset())
    return sites


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
                   for owner in sites.get(key, ())):
                reached.add(key)
                changed = True
    return reached


def _reachability():
    pkg, callers, tests = _parse()
    defs = _defs(pkg)
    sites = _references(pkg + callers, defs)
    reached = _reached(defs, sites)
    kept = {key for key in defs if key[1] in KEPT}
    # helpers that only kept code uses need no entry of their own
    helpers = _reached(defs, sites, kept) - kept - reached
    return pkg + callers + tests, defs, reached, kept | helpers


def test_every_unreached_def_has_a_reason():
    _, defs, reached, exempt = _reachability()
    got = {key[1] for key in set(defs) - reached
           if key[1] in KEPT or key not in exempt}
    assert got == set(KEPT), (
        f"unreached without a KEPT reason: {sorted(got - set(KEPT))}; "
        f"KEPT but reached: {sorted(set(KEPT) - got)}")


def _calls(files):
    """callee name -> [(positional count, star, keywords, double star)]
    over every call in ``files``; an import alias resolves to the
    imported name. A ``*args`` or ``**kwargs`` call may set anything."""
    out = {}
    for f in files:
        alias = {a.asname: a.name for n in ast.walk(f.tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names
                 if a.asname}
        for n in ast.walk(f.tree):
            if not isinstance(n, ast.Call):
                continue
            fn = n.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name is None:
                continue
            out.setdefault(alias.get(name, name), []).append((
                sum(not isinstance(a, ast.Starred) for a in n.args),
                any(isinstance(a, ast.Starred) for a in n.args),
                {k.arg for k in n.keywords if k.arg},
                any(k.arg is None for k in n.keywords)))
    return out


def _defaulted(fn):
    """(parameter, positional index or None) for every defaulted
    parameter of ``fn``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    for i in range(len(pos) - len(a.defaults), len(pos)):
        yield pos[i].arg, i
    for x, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield x.arg, None


def test_every_default_is_set_by_a_caller():
    files, defs, reached, exempt = _reachability()
    calls = _calls(files)
    unset = []
    for key in sorted(reached - exempt):
        fn = defs[key]
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for p, i in _defaulted(fn):
            if p in COLUMN_PARAMS or (key[1], p) in UNSET_OK:
                continue
            if not any(p in kws or dstar
                       or (i is not None and (npos > i or star))
                       for npos, star, kws, dstar in calls.get(key[1], ())):
                unset.append(f"{key[0]}.{key[1]}({p})")
    assert not unset, (
        f"{len(unset)} defaulted parameters no caller or test sets: {unset}")
