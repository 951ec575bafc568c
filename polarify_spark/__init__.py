"""polarify-spark: write imperative row-wise Python, run vectorized PySpark.

The ``@sparkify`` decorator compiles a function written with ordinary
``if/elif/else`` / ``match`` / assignments / early ``return`` into a single
PySpark ``Column`` expression (``F.when(...).when(...).otherwise(...)``),
which Catalyst folds into a whole-stage-codegen'd ``CaseWhen`` — no Python
runs per row.

    from pyspark.sql import functions as F
    from polarify_spark import sparkify

    @sparkify
    def signum(x):
        s = 0
        if x > 0:
            s = 1
        elif x < 0:
            s = -1
        return s

    df.select(signum(F.col("x")).alias("sign"))

API parity with the reference (Quantco/polarify, ``/root/reference/polarify/
__init__.py``): ``sparkify`` mirrors ``polarify`` (``__init__.py:40-53``) and
``transform_func_to_new_source`` mirrors the same-named introspection helper
(``__init__.py:17-37``); generated functions are suffixed ``_sparkified`` and
exec'd in the original function's globals so they can call sibling helpers.

The extension operator set (dedup / similarity search / text analysis /
multimodal / streaming) lives under ``polarify_spark.operators``,
``polarify_spark.functions``, ``polarify_spark.sources``,
``polarify_spark.streaming``.
"""

from __future__ import annotations

import ast
import functools
import inspect
import textwrap
from typing import Any, Callable

from .transpiler import (
    TranspileError,
    _hoist_shared,
    _parameters,
    allow_boolops as _allow_boolops,
    allow_chained_comparisons as _allow_chained,
    branch_tree_to_expr,
    compile_block,
)

__version__ = "0.2.0"  # kept in sync with pyproject.toml

__all__ = [
    "sparkify",
    "polarify",
    "transform_func_to_new_source",
    "TranspileError",
    "__version__",
]

_SUFFIX = "_sparkified"


def _compiled_function_def(
    func: Callable[..., Any],
    rewrite_boolops: bool = False,
    rewrite_chained: bool = False,
) -> ast.Module:
    """Parse ``func``'s source and replace its body with the compiled
    single-expression form. Returns the full module AST."""
    try:
        source = inspect.getsource(func)
    except (OSError, TypeError) as exc:  # e.g. defined in a REPL
        raise TranspileError(f"cannot retrieve source of {func!r}: {exc}") from exc
    tree = ast.parse(textwrap.dedent(source))
    func_def = tree.body[0]
    if not isinstance(func_def, (ast.FunctionDef, ast.AsyncFunctionDef)):
        raise TranspileError(f"expected a function definition, got {type(func_def)}")

    args = func_def.args
    params = frozenset(
        a.arg
        for a in (*args.posonlyargs, *args.args, *args.kwonlyargs, args.vararg, args.kwarg)
        if a is not None
    )
    taken = params | {n.id for n in ast.walk(func_def) if isinstance(n, ast.Name)}
    token = _allow_boolops.set(rewrite_boolops)
    token_chained = _allow_chained.set(rewrite_chained)
    token_params = _parameters.set(params)
    try:
        expr = branch_tree_to_expr(compile_block(func_def.body))
    finally:
        _parameters.reset(token_params)
        _allow_chained.reset(token_chained)
        _allow_boolops.reset(token)

    # The generated body imports pyspark.sql.functions as F itself, so the
    # caller's module doesn't need any particular import convention
    # (reference rationale, __init__.py:26-31). A value merged from a
    # return-free conditional is shared by later statements: it is bound
    # once to a local temporary instead of printed at every use.
    func_def.body = [
        ast.ImportFrom(
            module="pyspark.sql", names=[ast.alias(name="functions", asname="F")], level=0
        ),
        *_hoist_shared(expr, taken),
        ast.Return(value=expr),
    ]
    func_def.decorator_list = []
    func_def.name += _SUFFIX
    ast.fix_missing_locations(tree)
    return tree


def transform_func_to_new_source(
    func: Callable[..., Any],
    *,
    allow_boolops: bool = False,
    allow_chained_comparisons: bool = False,
) -> str:
    """Return the generated source of the vectorized version of ``func``.

    Introspection/debugging aid; the decorator uses the same pipeline
    (reference ``transform_func_to_new_source``, ``__init__.py:17-37``).
    """
    return ast.unparse(
        _compiled_function_def(
            func,
            rewrite_boolops=allow_boolops,
            rewrite_chained=allow_chained_comparisons,
        )
    )


def sparkify(
    func: Callable[..., Any] | None = None,
    *,
    allow_boolops: bool = False,
    allow_chained_comparisons: bool = False,
) -> Callable[..., Any]:
    """Compile ``func`` into a builder of vectorized PySpark ``Column``s.

    Call the decorated function with ``Column`` arguments (e.g.
    ``F.col("x")``) inside ``df.select`` / ``withColumn``; it returns one
    ``Column`` encoding all branches as a Catalyst ``CaseWhen``. An
    ``if``/``match`` in which no branch returns becomes one ``F.when`` per
    variable it rebinds, bound once to a local ``_sparkify_t<k>`` when later
    statements read it more than once, wherever the transpiler's exactness
    guard proves that equal to the reference's path split (see
    ``polarify_spark.transpiler``); elsewhere the branches split the rest of
    the function as in the reference.

    The generated function is exec'd in ``func.__globals__`` so that calls to
    sibling module-level helpers still resolve (reference behavior,
    ``__init__.py:42-47``; the ``{name}_sparkified`` symbol is therefore
    visible in the defining module afterwards — documented side effect).

    ``@sparkify(allow_boolops=True)`` additionally rewrites ``and`` / ``or``
    to ``&`` / ``|`` over the operands (and ``not`` to ``~``) — sound only
    when every operand is boolean-valued (comparisons, boolean columns).
    ``@sparkify(allow_chained_comparisons=True)`` rewrites ``a < x < b`` to
    ``(a < x) & (x < b)``, which IS Python's chained semantics for boolean
    comparisons. Without the flags both constructs raise, matching the
    reference (truthiness on a Column is illegal).
    """
    if func is None:
        return functools.partial(
            sparkify,
            allow_boolops=allow_boolops,
            allow_chained_comparisons=allow_chained_comparisons,
        )

    new_source = ast.unparse(
        _compiled_function_def(
            func,
            rewrite_boolops=allow_boolops,
            rewrite_chained=allow_chained_comparisons,
        )
    )
    exec_globals = func.__globals__
    exec(compile(new_source, f"<sparkify:{func.__name__}>", "exec"), exec_globals)
    generated = exec_globals[func.__name__ + _SUFFIX]

    @functools.wraps(func)
    def wrapper(*args: Any, **kwargs: Any) -> Any:
        return generated(*args, **kwargs)

    wrapper.__wrapped_source__ = new_source  # type: ignore[attr-defined]
    return wrapper


#: drop-in migration alias: code written against the reference's
#: ``from polarify import polarify`` can switch to
#: ``from polarify_spark import polarify`` unchanged (the decorated function
#: then expects ``pyspark.sql.Column`` arguments instead of ``pl.Expr``).
polarify = sparkify
