"""A scalar stand-in for ``pyspark.sql.functions`` so generated code can be
evaluated row-wise in pure Python.

The transpiler emits ``F.when(cond, val).when(...).otherwise(val)`` where the
only ``F`` members used are ``when`` and ``lit`` (around a test that folded to
a Python value). When every input is a plain Python
scalar, conditions evaluate to real booleans, so a tiny first-match-wins
evaluator reproduces Spark ``CaseWhen`` semantics exactly (for non-null
inputs). This lets hypothesis drive thousands of examples per corpus function
without a SparkSession; the Spark integration test then re-checks a dense
sample end-to-end on the JVM.
"""

from __future__ import annotations

from typing import Any


class _ScalarCase:
    def __init__(self, arms: tuple[tuple[Any, Any], ...]):
        self._arms = arms

    def when(self, cond: Any, value: Any) -> "_ScalarCase":
        return _ScalarCase(self._arms + ((cond, value),))

    def otherwise(self, default: Any) -> Any:
        for cond, value in self._arms:
            if cond:
                return value
        return default


class ScalarF:
    """Duck-types the slice of ``pyspark.sql.functions`` the codegen uses."""

    @staticmethod
    def when(cond: Any, value: Any) -> _ScalarCase:
        return _ScalarCase(((cond, value),))

    @staticmethod
    def lit(value: Any) -> Any:
        return value


def run_scalar(generated_source: str, func_name: str, host_globals: dict, *args: Any) -> Any:
    """Exec generated source with ``F`` bound to the scalar shim and call it."""
    namespace = dict(host_globals)
    # The generated body does `from pyspark.sql import functions as F`; that
    # import wins over any injected global, so rewrite it to use the shim.
    source = generated_source.replace(
        "from pyspark.sql import functions as F", "F = __scalar_F__"
    )
    namespace["__scalar_F__"] = ScalarF()
    exec(source, namespace)
    return namespace[func_name](*args)
