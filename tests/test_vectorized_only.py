"""Vectorized-only gate: the package runs Python on executors only through
Arrow-batched APIs. A row-at-a-time ``udf``, a UDTF or an RDD function
pays a Python call (and a pickle round trip) per row; this AST scan fails
on any of them, including an ``import ... as`` alias."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mysql_syncer_spark")

# the Python-function APIs the package may use: each moves Arrow batches
ALLOWED = {
    "pandas_udf",
    "arrow_udf",
    "mapInPandas",
    "mapInArrow",
    "applyInPandas",
    "applyInPandasWithState",
    "applyInArrow",
}
# every other way PySpark ships a Python function to executors
FORBIDDEN = {
    "udf",
    "udtf",
    "parallelize",
    "mapPartitions",
    "mapPartitionsWithIndex",
    "flatMap",
    "flatMapValues",
    "mapValues",
    "foreach",
    "foreachPartition",
    "transformWithState",
    "transformWithStateInPandas",
}


def _names(tree):
    """(identifier, line) of every name, attribute and imported name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                yield a.name, node.lineno


def _rdd_uses(tree):
    """Lines where ``.rdd`` is used for anything but its partition count
    (every RDD function API starts from a DataFrame's ``.rdd``)."""
    ok = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "getNumPartitions"
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "rdd"
        ):
            ok.add(id(node.value))
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "rdd" and id(n) not in ok
    ]


def test_only_vectorized_python_udf_kinds_in_package():
    bad, used = [], set()
    for root, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            rel = os.path.relpath(path, PKG)
            for name, line in _names(tree):
                if name in FORBIDDEN:
                    bad.append(f"{rel}:{line} {name}")
                elif name in ALLOWED:
                    used.add(name)
            bad += [f"{rel}:{line} .rdd" for line in _rdd_uses(tree)]
    assert not bad, bad
    # the gate must see the kinds the engine is built on
    assert {"arrow_udf", "mapInArrow", "mapInPandas"} <= used, used
