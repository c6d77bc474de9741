"""Static reference checks: every ``samba_tv_ingest_etl_spark`` module
and every name imported from it must exist, and every query named
outside the registry must be registered.

Many engine imports are lazy, inside function bodies, so a dangling
one fails only once that code path runs. This walks the source with
``ast`` instead — function-level imports included — and needs no
Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "samba_tv_ingest_etl_spark"
SOURCES = [PKG, "tests", "tools", "perfbench", "__spark_entry__.py", "bench.py"]


def _files() -> list[Path]:
    out = []
    for name in SOURCES:
        p = ROOT / name
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _module_path(module: str) -> Path | None:
    """The file that defines ``module``, if it is a package module."""
    base = ROOT.joinpath(*module.split("."))
    for p in (base / "__init__.py", base.with_suffix(".py")):
        if p.is_file():
            return p
    return None


def _module_of(path: Path) -> tuple[str, bool]:
    """Dotted name of the module at ``path`` and whether it is a
    package's ``__init__``."""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    is_pkg = parts[-1] == "__init__"
    if is_pkg:
        parts.pop()
    return ".".join(parts), is_pkg


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level, including inside top-level
    ``if``/``try``/``with`` blocks, but not inside functions or
    classes."""
    names: set[str] = set()

    def targets(node):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, (ast.Tuple, ast.List)):
            for elt in node.elts:
                targets(elt)

    def walk(body):
        for node in body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names.add(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    targets(t)
            elif isinstance(node, ast.AnnAssign):
                targets(node.target)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add((a.asname or a.name).split(".")[0])
            elif isinstance(node, ast.If):
                walk(node.body)
                walk(node.orelse)
            elif isinstance(node, ast.Try):
                walk(node.body)
                walk(node.orelse)
                walk(node.finalbody)
                for h in node.handlers:
                    walk(h.body)
            elif isinstance(node, ast.With):
                walk(node.body)

    walk(ast.parse(path.read_text()).body)
    return names


def _imports(path: Path):
    """``(line, module, name)`` for each engine import in ``path``;
    ``name`` is None for a plain ``import module``."""
    here, is_pkg = _module_of(path)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                pkg = here.split(".")
                if not is_pkg:
                    pkg.pop()
                pkg = pkg[: len(pkg) - (node.level - 1)]
                module = ".".join(pkg + ([module] if module else []))
            if module.split(".")[0] != PKG:
                continue
            for a in node.names:
                yield node.lineno, module, a.name


def test_every_engine_import_resolves():
    names_cache: dict[Path, set[str]] = {}
    checked, missing = 0, []
    for path in _files():
        for line, module, name in _imports(path):
            checked += 1
            where = f"{path.relative_to(ROOT)}:{line}"
            mod_path = _module_path(module)
            if mod_path is None:
                missing.append(f"{where}: no module {module}")
                continue
            if name is None or name == "*":
                continue
            if _module_path(f"{module}.{name}") is not None:
                continue
            if mod_path not in names_cache:
                names_cache[mod_path] = _top_level_names(mod_path)
            if name not in names_cache[mod_path]:
                missing.append(f"{where}: {module} has no {name}")
    assert checked > 100
    assert not missing, "\n".join(missing)


def test_every_named_query_is_registered():
    """``bench.HEADLINE`` and the plan audit's allow-list name queries
    by string; a name whose query was deleted must fail here, not be
    skipped by the benchmark or linger in the allow-list."""
    import bench
    from samba_tv_ingest_etl_spark import queries as Q

    from .test_plan_audit import _ALLOW_SP_WINDOW

    registry = Q.registry()
    named = {"bench.HEADLINE": bench.HEADLINE,
             "test_plan_audit._ALLOW_SP_WINDOW": _ALLOW_SP_WINDOW}
    missing = [
        f"{where}: {name}"
        for where, names in named.items()
        for name in names
        if name not in registry
    ]
    assert not missing, "\n".join(missing)
