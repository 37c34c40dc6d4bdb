"""Every package module, and every top-level symbol in it, is reachable
from a product entry point.

The product paths are the query entry contract (``__spark_entry__.py``:
``entry``/``queries``/``oracle_sql``), the bench CLI (``bench.py``), the
ingest CLI (``syslog_kafka_spark/__main__.py``) and the ingest benchmark
(``perfbench/*.py``). A module that only tests or scripts import is code
no user path runs: it either belongs to a product path or gets deleted. The walk is static (``ast``) and follows
module-level and function-local imports alike, so a lazily imported
plan helper counts as reached.

The symbol check goes one level down: every undecorated top-level
``def``/``class`` must be named in code (an ``ast`` Name, Attribute or
import alias, never a docstring or comment) by a package module or an
entry point, outside its own definition. Decorated builders (``@query``)
are reached through the registry.
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


# Symbols that only tests name, kept because a test compares a shipped
# path against them. Each needs its reason.
TEST_REFERENCES = {
    "operators.bpe_kernel.apply_merges": "scan reference the indexed BPE walk is checked against",
    "operators.bpe_kernel.local_bpe_fit": "local trainer twin that reproduces the frozen Spark-fit table",
    "operators.dedup.simhash64_expr": "expression form the SimHash kernel is checked against",
    "functions.hashes.hashed_shingles": "expression form the LSH base kernel is checked against",
    "functions.hashes.minhash_signature_from_hashes": "expression form the LSH base kernel is checked against",
    "operators.similarity._kmeans_centroids": "the scripts/fit_* provenance of the frozen centroids",
}


def _code_names(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every Name, Attribute and import alias in ``tree``."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            out.append((node.name.rsplit(".", 1)[-1], node.lineno))
    return out


def symbol_references() -> dict[str, tuple[str, int]]:
    """For each undecorated top-level def/class of the package, its name
    (relative to the package) -> (``file:line``, how many times package
    modules and entry points name it in code outside its own body)."""
    files = sorted((REPO / PACKAGE).rglob("*.py")) + entry_points()
    defs, names = [], {}
    for path in dict.fromkeys(files):
        tree = ast.parse(path.read_text(), str(path))
        if path.is_relative_to(REPO / PACKAGE):
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ]
        for name, line in _code_names(tree):
            names.setdefault(name, []).append((path, line))
    out = {}
    for path, node in defs:
        outside = [
            (p, line)
            for p, line in names.get(node.name, [])
            if not (p == path and node.lineno <= line <= node.end_lineno)
        ]
        module = _module_name(path).removeprefix(f"{PACKAGE}.")
        out[f"{module}.{node.name}"] = (f"{path.relative_to(REPO)}:{node.lineno}", len(outside))
    return out


def test_every_package_symbol_is_named_by_product_code():
    refs = symbol_references()
    assert len(refs) > 250  # the walk saw the package
    stale = sorted(set(TEST_REFERENCES) - set(refs))
    assert not stale, f"TEST_REFERENCES names symbols that are gone: {stale}"
    unreached = [
        f"{where} {name}"
        for name, (where, n) in refs.items()
        if n == 0 and name not in TEST_REFERENCES
    ]
    assert not unreached, (
        "top-level symbols no package module or entry point names in code "
        "(give each a non-test caller, delete it, or add it to "
        "TEST_REFERENCES with a reason):\n" + "\n".join(unreached)
    )
