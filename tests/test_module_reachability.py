"""Every package module is reachable from a product entry point.

The product paths are the query entry contract (``__spark_entry__.py``:
``entry``/``queries``/``oracle_sql``), the bench CLI (``bench.py``), the
ingest CLI (``syslog_kafka_spark/__main__.py``) and the ingest benchmark
(``perfbench/*.py``). A module that only tests or scripts import is code
no user path runs: it either belongs to a product path or gets deleted. The walk is static (``ast``) and follows
module-level and function-local imports alike, so a lazily imported
plan helper counts as reached.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "syslog_kafka_spark"


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` imports: modules, plus ``module.attr`` for
    every ``from module import attr`` (kept only if it is a module)."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = pkg[: len(pkg) - node.level + 1]
                mod = ".".join(anchor + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def reached_modules(roots: list[Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                found = _module_file(mod) if mod not in seen else None
                if found is not None:
                    seen.add(mod)
                    todo.append(found)
    return seen


def entry_points() -> list[Path]:
    roots = [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        REPO / PACKAGE / "__main__.py",
    ]
    roots += sorted((REPO / "perfbench").glob("*.py"))  # not perfbench/tests
    return roots


def test_every_package_module_is_reached_from_an_entry_point():
    roots = entry_points()
    reached = reached_modules(roots) | {_module_name(p) for p in roots}
    modules = {
        _module_name(p)
        for p in (REPO / PACKAGE).rglob("*.py")
        if p.name != "__init__.py"
    }
    assert len(modules) > 40  # the walk saw the package
    unreached = sorted(m.removeprefix(f"{PACKAGE}.") for m in modules - reached)
    assert not unreached, f"modules no entry point imports: {unreached}"
