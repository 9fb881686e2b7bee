"""The package carries no public code that nothing runs.

A static scan, no Spark session: every public, undecorated top-level
function or class in the package must be referenced by name somewhere in
the package, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``,
outside its own definition. A reference is a Name, an Attribute, an
import alias or a string constant equal to the name. Registered ``qNN``
queries are decorated, so the registry is their reference.

Code kept on purpose for tests or tools goes in ``ALLOWED`` with a reason.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"

ALLOWED = {
    "plans.extensions.exhaustive_jaccard_pairs": "exact-Jaccard test oracle in tests/test_dedup_similarity.py",
    "plans.profiling.join_size_estimate_sampled": "used by tools/stress_profiling.py",
    "operators.graph.connected_components_star": "used by tools/stress_graph.py",
    "sources.writers.overwrite_bucketed_table": "used by tools/stress_maintenance.py",
    "sources.writers.drop_table_if_exists": "used by tools/stress_maintenance.py",
    "sources.versioned.compact": "used by tools/stress_store_layout.py",
    "plans.ann_maintenance.record_health": "used by tools/stress_index_aging.py",
    "plans.ann_maintenance.refresh_due": "used by tools/stress_index_aging.py",
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
