"""Every SparkSession comes from ``__spark_entry__.session``.

The bench, the tests and the tools once each wrote their own builder
chain and the copies drifted (driver memory, a missing UTC timezone the
DuckDB oracle needs). This no-JVM scan keeps one: it fails on any
``SparkSession.builder`` outside ``session`` in the repo's Python files.
``perfbench/`` is exempt: the benchmark keeps its own session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _python_files() -> list[Path]:
    return [
        path
        for path in sorted(REPO.rglob("*.py"))
        if not any(
            part == "perfbench" or part.startswith(".")
            for part in path.relative_to(REPO).parts
        )
    ]


def _builder_uses(tree: ast.AST) -> list[ast.Attribute]:
    """``SparkSession.builder``, directly or through a module path."""
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and getattr(node.value, "id", getattr(node.value, "attr", None))
        == "SparkSession"
    ]


def _function_lines(tree: ast.AST, name: str) -> range:
    (fn,) = [
        node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == name
    ]
    return range(fn.lineno, fn.end_lineno + 1)


def test_only_the_session_factory_builds_a_session():
    entry = REPO / "__spark_entry__.py"
    factory = _function_lines(ast.parse(entry.read_text()), "session")
    found, strays = 0, []
    for path in _python_files():
        for node in _builder_uses(ast.parse(path.read_text(), str(path))):
            if path == entry and node.lineno in factory:
                found += 1
            else:
                strays.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert found == 1  # the scan sees the factory's own builder
    assert strays == [], (
        "build sessions with __spark_entry__.session(cpus, memory, **conf): "
        + ", ".join(strays)
    )


def test_the_scan_sees_every_form():
    # a chain, a split line and a lookup through the module all count; an
    # attribute named builder on anything else does not
    src = (
        "import pyspark.sql\n"
        "from pyspark.sql import SparkSession\n"
        "a = SparkSession.builder.master('local[1]').getOrCreate()\n"
        "b = (SparkSession\n     .builder)\n"
        "c = pyspark.sql.SparkSession.builder\n"
        "d = other.builder\n"
    )
    assert sorted(n.lineno for n in _builder_uses(ast.parse(src))) == [3, 4, 6]
