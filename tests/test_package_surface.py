"""The package carries no public code that nothing runs.

A static scan, no Spark session: every public, undecorated top-level
function or class in the package must be referenced by name somewhere in
the package, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``,
outside its own definition. A reference is a Name, an Attribute, an
import alias or a string constant equal to the name. A package
``__init__.py`` re-export (its imports and ``__all__``) is not a use.
Registered ``qNN`` queries are decorated, so the registry is their
reference.

Code kept on purpose for tests or tools goes in ``ALLOWED`` with a reason.

The same scan guards ``tools/``: every script there is named in the
verify skill, and its imports (of sibling scripts included) resolve.
"""

import ast
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"

ALLOWED = {
    "plans.extensions.exhaustive_jaccard_pairs": "exact-Jaccard test oracle in tests/test_dedup_similarity.py",
    "operators.graph.connected_components_star": "used by tools/stress_graph.py and tests/test_training.py",
}


def _sources() -> list[str]:
    out = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PACKAGE, "perfbench"):
        for d, _dirs, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` references: Name ids, Attribute attrs, imported
    names and their aliases, and string constants."""
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
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
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
        with open(path) as f:
            tree = ast.parse(f.read(), path)
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
