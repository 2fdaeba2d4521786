"""Every package module is reachable through an import from production code.

A module that only tests import is dead weight the engine still carries:
this parses the package with ``ast`` (no Spark, no imports executed) and
requires each module under ``pipeline_calculator_v3_spark/`` — package
``__init__`` files and ``__main__`` aside — to be imported by another
package module or by ``__spark_entry__.py``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "pipeline_calculator_v3_spark"


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
