"""Every package module is reached from the traffic the engine serves.

The roots are the query contract (``__spark_entry__.py``), the two bench
scripts and the per-change benchmark (``perfbench/*.py``). A module that no
root imports, directly or through other package modules, is dead weight:
delete it rather than carry it. The closure is an AST scan (every
``import`` statement, function-level ones included), so the test needs no
Spark and runs in well under a second.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mysql_syncer_spark"

# sink/iceberg_table.py is the one module kept without a caller: MERGE INTO
# over an Iceberg table is the target the engine is built for, this is the
# only code that emits that SQL, and its golden-SQL tests run without a jar.
EXPECTED_UNREACHED = {"sink/iceberg_table.py"}


def _module_file(dotted: str) -> str | None:
    base = os.path.join(ROOT, *dotted.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _dotted(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _imports(path: str) -> set[str]:
    """Files of the package modules ``path`` imports, plus the
    ``__init__.py`` of every package on the way to each of them."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    here = _dotted(path)
    pkg = here if path.endswith("__init__.py") else here.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module or ""
            names.add(mod)
            # ``from pkg import submodule`` reaches the submodule too
            names.update(f"{mod}.{a.name}" for a in node.names)
    out: set[str] = set()
    for name in names:
        if name != PKG and not name.startswith(PKG + "."):
            continue
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]))
            if f is not None:
                out.add(f)
    return out


def _closure(roots: list[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        f = todo.pop()
        for g in _imports(f):
            if g not in seen:
                seen.add(g)
                todo.append(g)
    return seen


def test_only_the_iceberg_adapter_is_unreached():
    roots = [
        os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")
    ] + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    reached = _closure(roots)
    pkg_dir = os.path.join(ROOT, PKG)
    every = {
        os.path.relpath(f, pkg_dir)
        for f in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)
    }
    unreached = every - {os.path.relpath(f, pkg_dir) for f in reached}
    assert unreached == EXPECTED_UNREACHED
