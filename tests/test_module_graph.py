"""Every package module and top-level def is reachable from production code,
only ``caching.py`` pins or frees executor state, and every option has a
caller.

A module or def that only tests use is dead weight the engine still
carries: this parses the package with ``ast`` (no Spark, no imports
executed).  Each module under ``pipeline_calculator_v3_spark/`` — package
``__init__`` files and ``__main__`` aside — must be imported by another
package module or by ``__spark_entry__.py``, and each undecorated
top-level def or class must be named somewhere in those files outside its
own body.  A bare ``.persist(`` or ``.localCheckpoint(`` elsewhere would
pin state that ``release_caches`` cannot see.

Option rule: each defaulted parameter of a package top-level function must
be set by some call in the package, ``__spark_entry__.py``, ``bench.py``,
``scripts/``, ``perfbench/`` or ``tests/`` — by keyword, by a positional
argument at or past its index, or by ``*args``/``**kwargs`` (which count as
setting every parameter).  An argument that is the parameter's own default
literal sets nothing.  Calls resolve through import aliases and package
re-exports.  A parameter no call sets has one value in use: it is
a constant, and belongs in the body."""

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


# Besides the package itself, the files whose calls count as setting a
# package function's options.
CALLER_FILES = ("__spark_entry__.py", "bench.py")
CALLER_DIRS = ("scripts", "perfbench", "tests")

# Defaulted parameters kept although no caller sets them, each with its
# reason, keyed "module.function.parameter".
EXEMPT_OPTIONS: dict[str, str] = {}


def _caller_files() -> dict[str, Path]:
    files = _package_modules()
    for rel in CALLER_FILES:
        files[rel.removesuffix(".py")] = ROOT / rel
    for d in CALLER_DIRS:
        for path in sorted((ROOT / d).rglob("*.py")):
            files[".".join(path.relative_to(ROOT).with_suffix("").parts)] = path
    return files


def _aliases(module: str, path: Path, tree: ast.Module, top_only: bool):
    """Local name -> dotted targets the file binds it to by import, relative
    imports resolved; ``top_only`` keeps module-level imports only (the
    names a module re-exports)."""
    package = module.split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    nodes = tree.body if top_only else ast.walk(tree)
    out: dict[str, set[str]] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname:
                    out.setdefault(alias.asname, set()).add(alias.name)
                else:
                    head = alias.name.split(".")[0]
                    out.setdefault(head, set()).add(head)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            for alias in node.names:
                out.setdefault(alias.asname or alias.name, set()).add(
                    f"{target}.{alias.name}"
                )
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None for keyword-only, default) of each
    defaulted parameter."""
    positional = fn.args.posonlyargs + fn.args.args
    first = len(positional) - len(fn.args.defaults)
    out = [
        (a.arg, i, d)
        for i, (a, d) in enumerate(zip(positional[first:], fn.args.defaults),
                                   first)
    ]
    out += [
        (a.arg, None, d)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _is_default(arg: ast.expr, default: ast.expr) -> bool:
    """True when a call passes the parameter's own default literal, which
    sets nothing."""
    try:
        a, d = ast.literal_eval(arg), ast.literal_eval(default)
    except ValueError:
        return False
    return type(a) is type(d) and a == d


def _dotted(node: ast.AST) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id] + parts[::-1]


def never_set_options() -> list[str]:
    """Every defaulted parameter of a package top-level function that no
    call in the caller files sets, as "module.function.parameter"."""
    mods = _package_modules()
    files = _caller_files()
    trees = {name: ast.parse(p.read_text(), str(p)) for name, p in files.items()}
    defs = {}  # "module.function" -> FunctionDef
    for name in mods:
        for stmt in trees[name].body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[f"{name}.{stmt.name}"] = stmt
    exports = {name: _aliases(name, mods[name], trees[name], True) for name in mods}

    def canonical(dotted: str, depth: int = 0) -> str | None:
        if dotted in defs:
            return dotted
        mod, _, attr = dotted.rpartition(".")
        if depth < 8 and mod in exports and attr in exports[mod]:
            for target in exports[mod][attr]:
                found = canonical(target, depth + 1)
                if found:
                    return found
        return None

    set_params: dict[str, set[str]] = {d: set() for d in defs}
    for name, tree in trees.items():
        aliases = _aliases(name, files[name], tree, False)
        for stmt in tree.body if name in mods else ():
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                aliases.setdefault(stmt.name, set()).add(f"{name}.{stmt.name}")
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            parts = _dotted(node.func)
            if not parts or parts[0] not in aliases:
                continue
            for base in aliases[parts[0]]:
                target = canonical(".".join([base] + parts[1:]))
                if target is None:
                    continue
                params = _defaulted(defs[target])
                if any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                ):
                    set_params[target].update(p for p, _, _ in params)
                    continue
                passed = {k.arg: k.value for k in node.keywords}
                for p, i, d in params:
                    if i is not None and i < len(node.args):
                        arg = node.args[i]
                    else:
                        arg = passed.get(p)
                    if arg is not None and not _is_default(arg, d):
                        set_params[target].add(p)
    return sorted(
        f"{target.removeprefix(PKG + '.')}.{p}"
        for target, fn in defs.items()
        for p, _, _ in _defaulted(fn)
        if p not in set_params[target]
    )


def test_every_option_has_a_caller():
    """A defaulted parameter that no caller sets is a constant spelled as
    an option: fold it into the body."""
    never = never_set_options()
    stray = [o for o in never if o not in EXEMPT_OPTIONS]
    assert not stray, (
        f"{len(stray)} options no caller sets (make them constants): {stray}"
    )
    stale = sorted(EXEMPT_OPTIONS.keys() - set(never))
    assert not stale, f"exempt options that gained a caller or are gone: {stale}"
