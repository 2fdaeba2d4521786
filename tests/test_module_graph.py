"""Every package module and top-level def is reachable from production code,
and only ``caching.py`` pins or frees executor state.

A module or def that only tests use is dead weight the engine still
carries: this parses the package with ``ast`` (no Spark, no imports
executed).  Each module under ``pipeline_calculator_v3_spark/`` — package
``__init__`` files and ``__main__`` aside — must be imported by another
package module or by ``__spark_entry__.py``, and each undecorated
top-level def or class must be named somewhere in those files outside its
own body.  A bare ``.persist(`` or ``.localCheckpoint(`` elsewhere would
pin state that ``release_caches`` cannot see."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "pipeline_calculator_v3_spark"


# Top-level defs kept without a production use, each with its reason.
# A helper only an exempt def names (streaming.joins._run_pairs_to_memory)
# passes the one-pass check and needs no entry.
EXEMPT_DEFS = {
    "sources.kml.read_placemarks":
        "the reference's T2 placemark source contract",
    "sources.kml.schema_fields":
        "the reference's T2 ExtendedData schema contract",
    "sources.kml.attrs_to_columns":
        "the reference's T2 ExtendedData column contract",
    "operators.multimodal.pack_blob":
        "tests build the PCV3 blobs the production decoders read with it",
    "streaming.joins.run_stream_join_to_memory":
        "drives the interval join as a real stream-stream join",
    "streaming.joins.run_stream_outer_join_to_memory":
        "drives the outer interval join as a real stream-stream join",
    "streaming.windows.run_stream_to_memory":
        "drives a windowed transform over the event stream",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported_names(module: str, path: Path) -> set[str]:
    """Dotted names a file imports, relative imports resolved; for
    ``from X import a`` both ``X`` and ``X.a`` are listed (``a`` may be a
    submodule)."""
    package = module.split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                if node.module:
                    base = base + [node.module]
                target = ".".join(base)
            else:
                target = node.module or ""
            names.add(target)
            names.update(f"{target}.{alias.name}" for alias in node.names)
    return names


def test_no_module_is_imported_only_by_tests():
    mods = _package_modules()
    importers = dict(mods)
    importers["__spark_entry__"] = ROOT / "__spark_entry__.py"
    imported = set()
    for name, path in importers.items():
        imported |= _imported_names(name, path) - {name}
    orphans = sorted(
        name for name, path in mods.items()
        if path.name not in ("__init__.py", "__main__.py")
        and name not in imported
    )
    assert not orphans, f"modules no production code imports: {orphans}"


def _identifier(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    return None


def test_no_top_level_def_is_used_only_by_tests():
    """One pass, no transitive walk: a def that only another unreached def
    names passes here, and fails once that def is deleted."""
    mods = _package_modules()
    files = dict(mods)
    files["__spark_entry__"] = ROOT / "__spark_entry__.py"
    defs = set()
    users: dict[str, set] = {}  # name -> owning top-level def, or None
    for name, path in files.items():
        for stmt in ast.parse(path.read_text(), str(path)).body:
            owner = None
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                owner = (name, stmt.name)
                if name in mods and not stmt.decorator_list:
                    defs.add(owner)
            for node in ast.walk(stmt):
                ident = _identifier(node)
                if ident:
                    users.setdefault(ident, set()).add(owner)
    unused = {
        f"{mod.removeprefix(PKG + '.')}.{name}"
        for mod, name in defs
        if not users.get(name, set()) - {(mod, name)}
    }
    stray = sorted(unused - EXEMPT_DEFS.keys())
    assert not stray, f"top-level defs no production code uses: {stray}"
    stale = sorted(EXEMPT_DEFS.keys() - unused)
    assert not stale, f"exempt defs that gained a production use or are gone: {stale}"


# DataFrame/RDD methods that pin or free executor state
PIN_METHODS = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}


def test_only_caching_pins_state():
    offenders = []
    for name, path in _package_modules().items():
        if name == f"{PKG}.caching":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PIN_METHODS
            ):
                offenders.append(
                    f"{path.relative_to(ROOT)}:{node.lineno} .{node.func.attr}("
                )
    assert not offenders, (
        f"pin/free calls outside caching.py (use persist_tracked, "
        f"local_checkpoint_tracked, unpersist_tracked): {offenders}"
    )
