"""The package carries no public code that nothing runs.

A static scan, no Spark session: every public, undecorated top-level
function or class in the package must be referenced by name somewhere in
the package, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``,
outside its own definition. A reference is a Name, an Attribute, an
import alias or a string dict key equal to the name. A package
``__init__.py`` re-export (its imports and ``__all__``) is not a use.
Registered ``qNN`` queries are decorated, so the registry is their
reference.

Code kept on purpose for tests or tools goes in ``ALLOWED`` with a reason.

The same scan guards ``tools/``: every script there is named in the
verify skill, and its imports (of sibling scripts included) resolve.

More scans keep the surface from drifting back:

* every defaulted parameter of a package function is set by at least
  one caller (an option nobody sets is a constant with extra steps);
* no module in the package, ``tools/`` or ``tests/`` imports a name it
  never uses;
* no run of statements is written twice in the package;
* each decision a kernel and its DuckDB oracle share is written once:
  no string constant is defined identically in two modules, the split
  hash's primes appear only in ``functions/hashing.py``, and no SQL is
  made by rewriting a constant with ``.replace``.
"""

import ast
import importlib.util
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"

ALLOWED = {
    "plans.extensions.exhaustive_jaccard_pairs": "exact-Jaccard test oracle in tests/test_dedup_similarity.py",
    "operators.graph.connected_components_star": "used by tools/stress_graph.py and tests/test_training.py",
}

#: "<module>.<function>(<parameter>)" -> reason, for a defaulted parameter
#: kept although no caller sets it
ALLOWED_PARAMS: dict[str, str] = {}

#: where a call can set a package function's parameter
CALLER_TOPS = (PACKAGE, "perfbench", "tools", "tests", "bench.py", "__spark_entry__.py")


def _py_files(*tops: str) -> list[str]:
    out = []
    for top in tops:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
            continue
        for d, _dirs, files in os.walk(p):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _sources() -> list[str]:
    return _py_files("bench.py", "__spark_entry__.py", PACKAGE, "perfbench")


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` references: Name ids, Attribute attrs, imported
    names and their aliases, and string dict keys (how
    ``perfbench/oracle.py`` names its queries). Other string constants,
    column names among them, are not uses."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Dict):
            out |= {k.value for k in n.keys if isinstance(k, ast.Constant) and isinstance(k.value, str)}
    return out


def _is_reexport(stmt: ast.stmt) -> bool:
    """An import or ``__all__`` assignment: how a package ``__init__.py``
    re-exports a name without using it."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def unreferenced() -> list[str]:
    """Dotted names (relative to the package) of public, undecorated
    top-level definitions that nothing outside their own body names."""
    defs: list[tuple[str, str, int]] = []  # (dotted, name, statement id)
    refs: dict[str, set[int]] = {}
    sid = 0
    for path in _sources():
        tree = _parse(path)
        rel = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
        module = rel[:-3].replace(os.sep, ".")
        for stmt in tree.body:
            sid += 1
            if os.path.basename(path) == "__init__.py" and _is_reexport(stmt):
                continue
            for name in _names(stmt):
                refs.setdefault(name, set()).add(sid)
            if (
                not rel.startswith("..")
                and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not stmt.decorator_list
                and not stmt.name.startswith("_")
            ):
                defs.append((f"{module}.{stmt.name}", stmt.name, sid))
    return sorted(
        dotted for dotted, name, own in defs if not refs.get(name, set()) - {own}
    )


def test_every_public_definition_is_used():
    dead = [d for d in unreferenced() if d not in ALLOWED]
    assert not dead, f"public definitions nothing uses (delete them, or allowlist with a reason): {dead}"


def test_allowlist_names_live_unused_definitions():
    """An allowlist entry whose definition is gone, or that gained a real
    caller, is stale."""
    assert sorted(ALLOWED) == sorted(set(ALLOWED) & set(unreferenced()))


def test_every_tool_is_named_by_the_verify_skill_and_its_imports_resolve():
    """A script under ``tools/`` that the verify skill does not name is run
    by nothing; a kept tool importing a deleted sibling fails only when
    someone runs it."""
    tools = os.path.join(ROOT, "tools")
    with open(os.path.join(ROOT, ".claude", "skills", "verify", "SKILL.md")) as f:
        skill = f.read()
    scripts = sorted(f for f in os.listdir(tools) if f.endswith(".py"))
    unnamed = [s for s in scripts if f"tools/{s}" not in skill]
    assert not unnamed, f"tools the verify skill does not name: {unnamed}"
    broken = []
    for s in scripts:
        with open(os.path.join(tools, s)) as f:
            tree = ast.parse(f.read(), s)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.level == 0:
                mods = [n.module]
            elif isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            else:
                continue
            for top in {m.split(".")[0] for m in mods}:
                # a sibling script, or else an installed or repo-root module
                if not os.path.exists(os.path.join(tools, f"{top}.py")) and (
                    importlib.util.find_spec(top) is None
                ):
                    broken.append(f"{s}: {top}")
    assert not broken, f"tools importing a module that does not exist: {broken}"


def unset_parameters() -> list[str]:
    """Defaulted parameters no caller sets, as "<module>.<function>(<param>)".

    Checked: every ``def`` in the package whose name is defined once
    there. A caller is any call whose callee Name/Attribute has that name,
    anywhere in ``CALLER_TOPS``. A function with no call, or with a call
    passing ``*args``/``**kw``, is skipped. A call sets a parameter by
    keyword, or by passing enough positional arguments to reach it (a
    leading ``self``/``cls`` is not counted)."""
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for path in _py_files(PACKAGE):
        module = os.path.relpath(path, os.path.join(ROOT, PACKAGE))[:-3].replace(os.sep, ".")
        for n in ast.walk(_parse(path)):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(n.name, []).append((module, n))
    calls: dict[str, list[ast.Call]] = {}
    for path in _py_files(*CALLER_TOPS):
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in defs:
                    calls.setdefault(name, []).append(n)
    out = []
    for name, found in defs.items():
        cs = calls.get(name, [])
        if len(found) != 1 or not cs or any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in cs
        ):
            continue
        module, fn = found[0]
        a = fn.args
        pos = a.posonlyargs + a.args
        skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
        defaulted = [p.arg for p in pos[len(pos) - len(a.defaults):]] if a.defaults else []
        defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        set_by_call = set()
        for c in cs:
            set_by_call |= {k.arg for k in c.keywords}
            set_by_call |= {p.arg for p in pos[skip : skip + len(c.args)]}
        out += [f"{module}.{name}({p})" for p in defaulted if p not in set_by_call]
    return sorted(out)


def test_every_defaulted_parameter_is_set_by_a_caller():
    found = unset_parameters()
    unset = [p for p in found if p not in ALLOWED_PARAMS]
    assert not unset, (
        f"{len(unset)} defaulted parameters no caller sets (make each a "
        f"constant, or allowlist it with a reason): {unset}"
    )
    # an allowlist entry needs a reason, and goes once a caller sets it
    assert all(ALLOWED_PARAMS.values())
    assert sorted(ALLOWED_PARAMS) == sorted(set(ALLOWED_PARAMS) & set(found))


def _loaded_names(node: ast.AST) -> set[str]:
    """Names ``node`` reads, including those inside string annotations."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if re.fullmatch(r"[\w.\[\], |]+", n.value):  # e.g. "np.ndarray"
                try:
                    sub = ast.parse(n.value, mode="eval")
                except SyntaxError:
                    continue
                out |= {m.id for m in ast.walk(sub) if isinstance(m, ast.Name)}
    return out


def _scope_imports(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """Imports whose innermost enclosing function (or module) is ``scope``."""
    out = []
    for ch in ast.iter_child_nodes(scope):
        if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(ch, (ast.Import, ast.ImportFrom)):
            out.append(ch)
        out += _scope_imports(ch)
    return out


def unused_imports() -> list[str]:
    """"<path>:<line> <name>" for every imported name its scope never
    reads, in the package, ``tools/`` and ``tests/``. ``__init__.py``
    files re-export, and ``plans/registry.py`` imports the query modules
    to register them, so both are exempt."""
    out = []
    for path in _py_files(PACKAGE, "tools", "tests"):
        rel = os.path.relpath(path, ROOT)
        if os.path.basename(path) == "__init__.py" or rel == os.path.join(PACKAGE, "plans", "registry.py"):
            continue
        tree = _parse(path)
        scopes = [tree] + [
            n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope in scopes:
            used = _loaded_names(scope)
            for stmt in _scope_imports(scope):
                if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                    continue
                for a in stmt.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in used:
                        out.append(f"{rel}:{stmt.lineno} {bound}")
    return sorted(out)


def test_no_unused_imports():
    unused = unused_imports()
    assert not unused, f"imports nothing uses: {unused}"


def _statement_bodies(tree: ast.AST):
    """Every statement list in ``tree``: module and function bodies and
    the branches of compound statements."""
    for n in ast.walk(tree):
        for field in ("body", "orelse", "finalbody", "handlers"):
            body = getattr(n, field, None)
            if isinstance(body, list) and body and isinstance(body[0], ast.stmt):
                yield body


def repeated_statement_runs(top: str) -> list[list[str]]:
    """Runs of 3 consecutive statements that appear more than once
    under ``top``, compared by ``ast.dump``, as lists of "<file>:<line>".
    Imports and docstrings are skipped before the runs are formed."""
    seen: dict[tuple[str, ...], list[str]] = {}
    for path in _py_files(top):
        rel = os.path.relpath(path, os.path.join(ROOT, top))
        for body in _statement_bodies(_parse(path)):
            stmts = [
                s for s in body
                if not isinstance(s, (ast.Import, ast.ImportFrom))
                and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)
                         and isinstance(s.value.value, str))
            ]
            for i in range(len(stmts) - 2):
                key = tuple(ast.dump(s) for s in stmts[i : i + 3])
                seen.setdefault(key, []).append(f"{rel}:{stmts[i].lineno}")
    return sorted(where for where in seen.values() if len(where) > 1)


#: repeated runs kept on purpose, as their "<file>:<line>" lists -> reason
ALLOWED_RUNS = {
    ("operators/dedup.py", "plans/extensions.py"): (
        "exhaustive_jaccard_pairs is the independent verifier the tests "
        "hold the dedup kernels against, so it shares no code with them"
    ),
}


def test_no_repeated_statement_runs_in_package():
    """A run of statements written twice in the package is a step with
    two copies that can drift apart; it belongs in one helper."""
    runs = repeated_statement_runs(PACKAGE)
    files = [tuple(sorted({w.split(":")[0] for w in r})) for r in runs]
    kept = [r for r, f in zip(runs, files) if f not in ALLOWED_RUNS]
    assert not kept, f"{len(kept)} repeated 3-statement runs (make each one helper): {kept}"
    # an allowlist entry goes once its run is gone
    assert sorted(ALLOWED_RUNS) == sorted(set(ALLOWED_RUNS) & set(files))


def _module_string_constants() -> list[tuple[str, str, str]]:
    """(module path, name, value) of every module-level ``NAME = "..."``
    in the package."""
    out = []
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
        for stmt in _parse(path).body:
            if isinstance(stmt, ast.AnnAssign):
                targets, value = [stmt.target], stmt.value
            elif isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            else:
                continue
            if isinstance(value, ast.Constant) and isinstance(value.value, str):
                out += [(rel, t.id, value.value) for t in targets if isinstance(t, ast.Name)]
    return out


def duplicate_string_constants() -> list[list[str]]:
    """Groups of "<module>:<name>" defining the same string constant in
    more than one module. A value that is a bare name or a dotted
    attribute (a column or table name) is not a fragment and is skipped."""
    by_value: dict[str, list[tuple[str, str]]] = {}
    for rel, name, value in _module_string_constants():
        if not re.fullmatch(r"[\w.]*", value):
            by_value.setdefault(value, []).append((rel, name))
    return sorted(
        [f"{rel}:{name}" for rel, name in defs]
        for defs in by_value.values()
        if len({rel for rel, _ in defs}) > 1
    )


def test_no_string_constant_is_defined_in_two_modules():
    """An oracle fragment (or any other text) written in two modules can
    drift; it lives once, beside the Spark function it mirrors."""
    groups = duplicate_string_constants()
    assert not groups, f"{len(groups)} string constants defined in more than one module: {groups}"


def test_split_hash_primes_live_only_in_hashing():
    """The split hash is one SQL template per grain in
    ``functions/hashing.py``; a module spelling its primes is a second
    copy of the hash."""
    hashing = os.path.join(PACKAGE, "functions", "hashing.py")
    spelled = []
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            if rel != hashing and re.search(r"\b(100003|99991)\b", f.read()):
                spelled.append(rel)
    assert not spelled, f"modules spelling the split hash primes: {spelled}"


def test_no_sql_is_made_by_replace():
    """``CONST.replace("doc_id", "s.doc_id")`` makes a second spelling of
    the constant's text; format a template instead."""
    consts = {name for _, name, _ in _module_string_constants()}
    sites = []
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, ROOT)
        for n in ast.walk(_parse(path)):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "replace"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id in consts
            ):
                sites.append(f"{rel}:{n.lineno}")
    assert not sites, f"SQL made by .replace on a string constant: {sites}"
