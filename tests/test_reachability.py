"""Every library module is reached from an entry point.

The entry points are the gate (`__spark_entry__.py`), the bench harness
(`bench.py`, `bench_queries.py`), the perf benchmark (`perfbench/*.py`),
the `Engine` API (`engine.py`) and `scripts/*.py`. The closure follows
`import` and `from ... import` statements anywhere in a file, including
relative imports and imports inside functions. Pure AST: no module is
imported and no Spark starts.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "geotrellis_server_spark"

# BASELINE.json's north rule asks for jobs "resumable from checkpoint with
# per-partition lineage + metrics"; `lineage.ResumableTilingJob` (and the
# `checkpoint=` hook of `ml.kmeans` / `graph.pagerank`) is the only
# implementation, and no entry point drives it yet (ROADMAP open item).
# The other five implement SURVEY reference capabilities that no gate
# query, bench query, perfbench workload or `Engine` method calls yet,
# each with its own tests: the ogc-example declarative config (`conf`),
# the live STAC catalog fetch (S4/S5, `stac_http`), the GeoJSON vector
# reader (`geojson`), the Q3 partition-pruned point table
# (`layout_tables`) and the R2 tile-DataFrame reprojection (`reproject`).
# Each leaves this list when an entry point reaches it (ROADMAP §3).
ALLOWED_UNREACHED = {
    f"{PKG}.lineage",
    f"{PKG}.conf",
    f"{PKG}.sources.stac_http",
    f"{PKG}.sources.geojson",
    f"{PKG}.sources.layout_tables",
    f"{PKG}.operators.reproject",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imports(path: Path, modules: dict) -> set:
    """Package modules a file imports, its parents' `__init__` included."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                anchor = parts[: len(parts) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            # `from pkg import mod` reaches pkg.mod when that is a module
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def _closure() -> tuple:
    modules = _package_modules()
    engine = ROOT / PKG / "engine.py"
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_queries.py", engine,
             *sorted((ROOT / "perfbench").glob("*.py")),
             *sorted((ROOT / "scripts").glob("*.py"))]
    reached = {_module_name(engine)}
    todo = list(roots)
    while todo:
        for mod in _imports(todo.pop(), modules) - reached:
            reached.add(mod)
            todo.append(modules[mod])
    return set(modules), reached


def test_every_package_module_is_reached_from_an_entry_point():
    modules, reached = _closure()
    unreached = sorted(modules - reached - ALLOWED_UNREACHED)
    assert not unreached, f"{len(unreached)} modules no entry point imports: {unreached}"


def test_allowlist_names_only_unreached_modules():
    modules, reached = _closure()
    assert ALLOWED_UNREACHED <= modules
    assert not ALLOWED_UNREACHED & reached, "drop reached modules from the allowlist"
