"""AST -> ``F.when`` compiler: the core of polarify-spark.

Takes a Python function written with ordinary imperative control flow
(``if/elif/else``, ``match``, assignments, early ``return``) and compiles its
body into a single vectorized PySpark ``Column`` expression —
``F.when(cond, val).when(...).otherwise(val)`` — which Catalyst then
analyzes/optimizes/codegens natively.

Behavioral parity with the reference transpiler (Quantco/polarify,
``/root/reference/polarify/main.py``) is documented per construct below.  The
implementation here is an independent, Spark-first rewrite: a *functional fold*
over an immutable-ish branch tree instead of the reference's mutating State
classes, and codegen targets ``pyspark.sql.functions.when`` (which takes
``(cond, value)`` in one call — no ``.then`` — unlike Polars).

Semantics implemented (SURVEY.md section 2 numbering):

* S1-S4  assignments (plain / annotated / multi-target / destructuring) with
  eager forward-substitution into an env of fully-inlined expressions
  (reference ``main.py:138-157,264-266``). Deviation: a name reads the value
  it was bound to, where the reference substitutes every use again, so a
  parameter rebound later reached back into values computed before it
  (``s = x * 2.0; x = 1.0; return s`` returned ``1.0 * 2.0``) and
  ``x = x + 1`` recursed without end.
* S5     ``if/elif/else`` -> *nested* conditional tree (reference
  ``main.py:275-289``). An ``if`` (or ``match``, S8) in which no branch
  returns is collapsed back into straight-line code: each variable some
  branch rebinds becomes one ``F.when`` over the branch values, so ``n``
  sequential ``if``s emit ``n`` ``F.when`` instead of the reference's
  ``2^n - 1``, and an accumulator (``s = s + w``) reads its previous value
  once (factored accumulators, below). The collapse is kept only where
  the exactness guard below proves it equal to the reference's path split,
  which distributes every later statement into every open leaf and stays
  the one fallback (branches that return always take it).
* S6/S7  early/partial ``return``; bare ``return`` rejected
  (reference ``main.py:291-299,360-361``).
* S8     ``match`` -> *flat* multi-arm conditional (reference
  ``main.py:301-347``), with dead-case elision and catch-all -> otherwise
  (reference ``main.py:311-324``).
* M1-M9  match-pattern translation (reference ``main.py:189-262``).
* E1-E9  expression whitelist + substitution (reference ``main.py:79-126``);
  deviation (documented in SURVEY.md section 7): we also substitute inside a
  call's *function* position (``node.func``) and through attribute access, so
  ``s = x + 1; return s.abs()`` works instead of producing a ``NameError``
  (reference bug, ``main.py:104-107``).

Exactness guard for the S5/S8 collapse. A merged variable moves arithmetic
that Python folded per path into Spark, so a merge is kept only where every
consumer of the merged value — transitively, through later assignments —
gives the path split's result: ``+ - *`` and unary ``+ -`` over branch
values that are all floats or double Columns (Python's ints are unbounded,
its bools add as ints, and a Column of unknown type would be widened by the
``CASE WHEN`` before the arithmetic instead of after it); ``& |`` over
Columns and bools; ``~`` over Columns (``~True == -2``); a comparison whose
branch values share one kind (doubles, ints, str or bool) that the other
side matches; an ``F.when``/``otherwise`` argument; or the returned value.
A branch value holding ``None`` or bytes keeps the split, as does every other
consumer (``/ // % **``, builtins such as ``abs``, methods, ``F.*`` calls:
``F.upper(t)`` reads a str as a column name), as does a merge that no
returned value reads.
Parameters are taken for Columns and any other name the body never binds
(a global) for a Python value of unknown type; the low-level API, which
sees no signature, takes every such name for a parameter (``_parameters``).
The check runs on the folded DAG; a failing statement is re-folded
path-split (:func:`compile_block`).

Factored accumulators. A when-chain reads the pre-branch value ``base`` in
every branch (``F.when(c, s + w).otherwise(s)``), and Catalyst unfolds such
shared reads back into a tree of size ``2^n`` over ``n`` rules. So when
every branch value of an accepted merge is ``base`` or ``base OP e_i``, with
one ``OP`` of ``+ - *``, the merge is emitted as ``base OP F.when(c_1,
e_1)...otherwise(identity)``, the identity being ``-0.0`` for ``+``,
``0.0`` for ``-`` and ``1.0`` for ``*``: ``x + -0.0``, ``x - 0.0`` and
``x * 1.0`` return ``x`` bit for bit, for ``-0.0``, NaN, ±inf and null too.
``base`` is then read once and the plan stays linear. It is done only
where exact: ``base`` and every ``e_i`` are doubles or floats (the guard's
classes), and under ``+``/``-`` no ``e_i`` may fold to a ``±0.0`` literal,
since Catalyst's literal equality takes ``0.0 == -0.0`` and would collapse
``CASE WHEN c THEN 0.0 ELSE -0.0`` into one value. Every other merge keeps
its when-chain (:func:`branch_tree_to_expr`). Residual, as in the path
split: Catalyst may fold a ``CASE WHEN`` whose branches reduce to ``0.0``
and ``-0.0`` into one, so the sign of a zero computed from literals alone
can differ from Python's.

This module imports only the stdlib — never pyspark — so transpilation is
unit-testable without a SparkSession (mirrors reference ``main.py:1-7``).
"""

from __future__ import annotations

import ast
import contextvars
import sys
from dataclasses import dataclass
from typing import Union

__all__ = [
    "compile_block",
    "branch_tree_to_expr",
    "when_chain",
    "substitute",
    "allow_boolops",
    "allow_chained_comparisons",
    "TranspileError",
]

_MATCH_SUPPORTED = sys.version_info >= (3, 10)

#: opt-in `and`/`or` -> `&`/`|` rewrite (SURVEY.md section 2.3 E8 "optional
#: future"). Default off for reference parity: Python's `and`/`or` invoke
#: truthiness, which is illegal on a Column, so they are rejected with an
#: actionable message. A contextvar (not a parameter) so the flag doesn't
#: have to thread through every recursive compile call; transpilation is
#: synchronous, and contextvars nest/restore correctly.
allow_boolops: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "polarify_spark_allow_boolops", default=False
)

#: opt-in chained-comparison rewrite: `a < x < b` -> `(a < x) & (x < b)`.
#: Default off for parity (the reference rejects chained comparisons).
#: Middle operands are duplicated into both comparisons — the transpiler's
#: normal forward-substitution behavior; Catalyst's subexpression
#: elimination recovers the cost.
allow_chained_comparisons: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "polarify_spark_allow_chained_comparisons", default=False
)


#: the compiled function's parameter names, i.e. its Column arguments, for
#: the exactness guard; ``None`` (the low-level API, which sees no
#: signature) takes every name the body never binds for a parameter.
_parameters: contextvars.ContextVar[frozenset[str] | None] = contextvars.ContextVar(
    "polarify_spark_parameters", default=None
)


class TranspileError(ValueError):
    """Raised for any construct the transpiler does not support.

    Subclasses ``ValueError`` so callers that match the reference's error
    contract (``pytest.raises(ValueError)``) keep working.
    """


# ---------------------------------------------------------------------------
# Branch tree: the compile-time IR.
#
# A function body compiles to a tree of three node kinds:
#   Open(env)              -- control flow still running; env maps variable
#                             name -> fully-substituted defining expression
#   Leaf(expr)             -- this path returned `expr`
#   Switch(arms, default)  -- a conditional: ordered (test, subtree) arms plus
#                             a default subtree
# Statements are *folded* over the tree: applying a statement to a Switch
# recurses into every arm and the default; Leaf nodes are frozen (a returned
# path ignores later statements — early-return semantics, reference
# main.py:268-299); only Open nodes actually consume the statement.
#
# A conditional whose branches all end Open collapses back into one Open
# (_join): each rebound variable's value becomes a when-chain carrying a
# _Merge. Later statements share that node instead of copying it, so the
# expressions form a DAG that grows linearly with the statements.
# ---------------------------------------------------------------------------


@dataclass
class Open:
    env: dict[str, ast.expr]


@dataclass
class Leaf:
    expr: ast.expr


@dataclass
class Switch:
    arms: list[tuple[ast.expr, "Node"]]
    default: "Node"


Node = Union[Open, Leaf, Switch]


@dataclass
class _Merge:
    """What a merged variable's when-chain was built from."""

    stmt: ast.stmt  # the If/Match it merges; re-folded path-split if unsound
    tests: list[ast.expr]  # the arm tests, as given to `when_chain`
    values: list[ast.expr]  # the branch values: one per arm, then the default
    base: ast.expr | None  # the value before the statement; None if unbound


def _merge_of(node: ast.AST) -> _Merge | None:
    return getattr(node, "_sparkify_merge", None)


@dataclass
class _FoldState:
    """One fold attempt of :func:`compile_block`."""

    split: frozenset  # If/Match statements that must stay path-split
    merged: set  # statements collapsed by this attempt


_fold_state: contextvars.ContextVar[_FoldState | None] = contextvars.ContextVar(
    "polarify_spark_fold_state", default=None
)


# ---------------------------------------------------------------------------
# Expression substitution + validation (reference InlineTransformer,
# main.py:79-126). Whitelisting visitor: anything outside the supported
# grammar raises TranspileError.
# ---------------------------------------------------------------------------


class _Substituter(ast.NodeTransformer):
    """Replace bound names by their defining expressions.

    Substitution is eager: every env value was substituted when it was
    bound, so it is a closed form over the function's parameters and free
    globals, and a bound name is replaced by a copy of it as it stands — a
    name rebound since then must not reach back into it. Builds a fresh
    tree so stored env expressions are never aliased into the output —
    except merged values (S5), which stay the same node so that each later
    use shares one subtree instead of copying it.
    """

    def __init__(self, env: dict[str, ast.expr]):
        self._env = env

    # E1 — names: substitute if bound, else leave free (function parameters,
    # references to `F`, user helper functions...).
    def visit_Name(self, node: ast.Name) -> ast.expr:
        bound = self._env.get(node.id)
        if bound is not None:
            return _fresh(bound)
        return node

    # E2 / E3 — arithmetic & bitwise operators; every ast binop/unaryop is
    # admitted, matching the reference (no per-operator filtering).
    def visit_BinOp(self, node: ast.BinOp) -> ast.expr:
        return ast.BinOp(left=self.visit(node.left), op=node.op, right=self.visit(node.right))

    def visit_UnaryOp(self, node: ast.UnaryOp) -> ast.expr:
        # `not` is admitted syntactically for parity (reference passes it
        # through and the host engine rejects it at runtime); under the
        # boolop-rewrite flag it becomes `~`, the Column negation, so
        # `not (a and b)` style predicates work end to end.
        if isinstance(node.op, ast.Not) and allow_boolops.get():
            return ast.UnaryOp(op=ast.Invert(), operand=self.visit(node.operand))
        return ast.UnaryOp(op=node.op, operand=self.visit(node.operand))

    # E4 — calls. Deviation from the reference: we substitute into `node.func`
    # as well (through Attribute chains), fixing the receiver-not-inlined bug
    # (reference main.py:104-107; decision recorded in SURVEY.md section 7).
    def visit_Call(self, node: ast.Call) -> ast.expr:
        return ast.Call(
            func=self.visit(node.func),
            args=[self.visit(a) for a in node.args],
            keywords=[ast.keyword(arg=k.arg, value=self.visit(k.value)) for k in node.keywords],
        )

    def visit_Attribute(self, node: ast.Attribute) -> ast.expr:
        return ast.Attribute(value=self.visit(node.value), attr=node.attr, ctx=ast.Load())

    # E5 — conditional expressions compile to a one-arm when/otherwise.
    def visit_IfExp(self, node: ast.IfExp) -> ast.expr:
        return when_chain(
            [(self.visit(node.test), self.visit(node.body))],
            self.visit(node.orelse),
        )

    # E6 — literals pass through untouched; F.when auto-wraps them in lit().
    def visit_Constant(self, node: ast.Constant) -> ast.expr:
        return node

    # E7 — single comparisons only. Chained comparisons (0 < x < 10) would
    # need Python truthiness on a Column, which neither Spark nor Polars
    # supports (reference main.py:118-123); under the
    # `allow_chained_comparisons` flag they are rewritten to an `&` fold of
    # the pairwise comparisons (exactly Python's chained semantics when
    # every comparison is boolean, which on Columns it always is).
    def visit_Compare(self, node: ast.Compare) -> ast.expr:
        if len(node.comparators) != 1:
            if not allow_chained_comparisons.get():
                raise TranspileError(
                    "Spark Columns can't handle chained comparisons; "
                    "rewrite `a < x < b` as `(a < x) & (x < b)`"
                )
            # each middle operand is substituted once per comparison, so
            # the two uses are separate copies, not one shared node
            operands = [node.left, *node.comparators]
            out: ast.expr | None = None
            for lhs, op, rhs in zip(operands, node.ops, operands[1:]):
                pair: ast.expr = ast.Compare(
                    left=self.visit(lhs), ops=[op], comparators=[self.visit(rhs)]
                )
                out = (
                    pair
                    if out is None
                    else ast.BinOp(left=out, op=ast.BitAnd(), right=pair)
                )
            assert out is not None
            return out
        return ast.Compare(
            left=self.visit(node.left),
            ops=node.ops,
            comparators=[self.visit(node.comparators[0])],
        )

    # E8 — `and`/`or`: rejected by default (parity — truthiness is illegal
    # on a Column in both engines); under the `allow_boolops` flag rewritten
    # to a left fold of `&`/`|` over the (recursively substituted) operands.
    # Sound only when every operand is boolean-valued (comparisons, other
    # boolean columns): for those, `a and b` and `a & b` agree; Python's
    # return-the-operand short-circuit semantics for non-boolean operands
    # are NOT reproduced, which is why this is opt-in.
    def visit_BoolOp(self, node: ast.BoolOp) -> ast.expr:
        if not allow_boolops.get():
            return self.generic_visit(node)
        op = ast.BitAnd() if isinstance(node.op, ast.And) else ast.BitOr()
        values = [self.visit(v) for v in node.values]
        out = values[0]
        for value in values[1:]:
            out = ast.BinOp(left=out, op=op, right=value)
        return out

    # E8/E9 — everything else (BoolOp and/or without the flag, walrus,
    # dict/set literals, lambdas...) is rejected, matching the reference's
    # whitelist (main.py:125-126). The error message names the node type so
    # tests can match on e.g. "ast.BoolOp".
    def generic_visit(self, node: ast.AST) -> ast.AST:
        raise TranspileError(
            f"Unsupported expression type: {type(node)!r}"
            + (
                " (use `&` / `|` on parenthesized comparisons instead of `and` / `or`)"
                if isinstance(node, ast.BoolOp)
                else ""
            )
        )


def _fresh(node: ast.AST) -> ast.AST:
    """A copy of ``node`` that shares its merged subtrees."""
    if _merge_of(node) is not None:
        return node
    copy = type(node)()
    for field, value in ast.iter_fields(node):
        if isinstance(value, list):
            value = [_fresh(v) if isinstance(v, ast.AST) else v for v in value]
        elif isinstance(value, ast.AST):
            value = _fresh(value)
        setattr(copy, field, value)
    return copy


def substitute(expr: ast.expr, env: dict[str, ast.expr]) -> ast.expr:
    """Return ``expr`` with every env-bound name replaced by its definition."""
    out = _Substituter(env).visit(expr)
    if not isinstance(out, ast.expr):  # pragma: no cover - defensive
        raise TranspileError(f"substitution produced a non-expression: {out!r}")
    return out


# ---------------------------------------------------------------------------
# Codegen: fold (test, value) pairs into an F.when(...).when(...).otherwise()
# call chain (reference build_polars_when_then_otherwise, main.py:49-75 — but
# PySpark's `when` takes (cond, value) in a single call and has no `.then`).
# ---------------------------------------------------------------------------


def when_chain(arms: list[tuple[ast.expr, ast.expr]], default: ast.expr) -> ast.Call:
    """Build the AST for ``F.when(t1, v1).when(t2, v2)...otherwise(default)``.
    A test that reads no parameter folded to a Python value on its path
    (``1.0 > 0``) or reads only globals (``LIMIT > 2``); ``F.when`` takes
    only a Column, so it goes in ``F.lit``, which returns a Column as is."""
    if not arms:
        raise TranspileError("when_chain needs at least one (test, value) arm")
    chain: ast.expr = ast.Name(id="F", ctx=ast.Load())
    for test, value in arms:
        if not _reads_parameter(test):
            test = ast.Call(
                func=ast.Attribute(
                    value=ast.Name(id="F", ctx=ast.Load()), attr="lit", ctx=ast.Load()
                ),
                args=[test],
                keywords=[],
            )
        chain = ast.Call(
            func=ast.Attribute(value=chain, attr="when", ctx=ast.Load()),
            args=[test, value],
            keywords=[],
        )
    return ast.Call(
        func=ast.Attribute(value=chain, attr="otherwise", ctx=ast.Load()),
        args=[default],
        keywords=[],
    )


def _is_parameter(name: str) -> bool:
    """Whether ``name`` is taken for a Column argument (``_parameters``)."""
    parameters = _parameters.get()
    return parameters is None or name in parameters


def _reads_parameter(node: ast.expr) -> bool:
    """Whether ``node`` reads a parameter; each shared subtree is walked
    once."""
    seen: set[int] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in seen:
            continue
        seen.add(id(n))
        if isinstance(n, ast.Name) and _is_parameter(n.id):
            return True
        stack.extend(ast.iter_child_nodes(n))
    return False


# ---------------------------------------------------------------------------
# Statement folding.
# ---------------------------------------------------------------------------


def _bind(env: dict[str, ast.expr], target: ast.expr, value: ast.expr) -> None:
    """Bind one assignment target. Handles names and (nested) tuple/list
    destructuring against literal tuple/list RHS (reference main.py:138-157).
    """
    if isinstance(target, ast.Name):
        env[target.id] = substitute(value, env)
    elif isinstance(target, (ast.Tuple, ast.List)):
        if not isinstance(value, (ast.Tuple, ast.List)):
            raise TranspileError(
                f"Assignment target is {type(target)}, but value is {type(value)}"
            )
        if any(isinstance(t, ast.Starred) for t in target.elts):
            raise TranspileError("Unsupported expression type: starred assignment targets")
        if len(target.elts) != len(value.elts):
            raise TranspileError(
                f"Cannot destructure {len(value.elts)} values into "
                f"{len(target.elts)} targets"
            )
        for sub_target, sub_value in zip(target.elts, value.elts):
            _bind(env, sub_target, sub_value)
    else:
        raise TranspileError(
            f"Unsupported expression type inside assignment target: {type(target)}"
        )


def _apply_assign(node: Node, stmt: ast.Assign | ast.AnnAssign) -> Node:
    if isinstance(node, Leaf):
        return node
    if isinstance(node, Switch):
        return Switch(
            arms=[(t, _apply_assign(sub, stmt)) for t, sub in node.arms],
            default=_apply_assign(node.default, stmt),
        )
    # S2 — annotated assignment: the annotation is discarded (main.py:264-266).
    if isinstance(stmt, ast.AnnAssign):
        if stmt.value is None:
            raise TranspileError("annotated assignment without a value is not supported")
        _bind(node.env, stmt.target, stmt.value)
    else:
        # S3 — multi-target `a = b = e`.
        for target in stmt.targets:
            _bind(node.env, target, stmt.value)
    return node


def _apply_if(node: Node, stmt: ast.If) -> Node:
    if isinstance(node, Leaf):
        return node
    if isinstance(node, Switch):
        return Switch(
            arms=[(t, _apply_if(sub, stmt)) for t, sub in node.arms],
            default=_apply_if(node.default, stmt),
        )
    # S5 — an `if` on a live path becomes a single-arm Switch; the elif chain
    # lives in stmt.orelse and therefore nests inside `default`, giving the
    # nested (not flat) chain shape of the reference (main.py:275-289).
    test = substitute(stmt.test, node.env)
    return _join(
        node.env,
        [(test, _fold(stmt.body, dict(node.env)))],
        _fold(stmt.orelse, dict(node.env)),
        stmt,
    )


def _join(
    before: dict[str, ast.expr],
    arms: list[tuple[ast.expr, Node]],
    default: Node,
    stmt: ast.stmt,
) -> Node:
    """The Switch of a conditional statement — or, when no branch returns
    and ``stmt`` is not held path-split, one Open in which each variable a
    branch rebinds is a when-chain over the branch values (nested for
    ``if/elif``, flat for ``match``, as the Switch would print). A variable
    a branch leaves unbound reads as the free name there, as it would on
    that path. ``before`` is the env the branches were folded from."""
    state = _fold_state.get()
    branches = [sub for _, sub in arms] + [default]
    if stmt in state.split or not all(isinstance(b, Open) for b in branches):
        return Switch(arms=arms, default=default)
    if arms:
        state.merged.add(stmt)
    envs = [b.env for b in branches]
    env: dict[str, ast.expr] = {}
    for name in dict.fromkeys(k for e in envs for k in e):
        found = [e.get(name) for e in envs]
        if all(v is found[0] for v in found):
            env[name] = found[0]
            continue
        values = [ast.Name(id=name, ctx=ast.Load()) if v is None else v for v in found]
        tests = [t for t, _ in arms]
        chain = when_chain(list(zip(tests, values)), values[-1])
        chain._sparkify_merge = _Merge(stmt, tests, values, before.get(name))
        env[name] = chain
    return Open(env)


def _apply_return(node: Node, value: ast.expr) -> Node:
    if isinstance(node, Leaf):
        return node
    if isinstance(node, Switch):
        return Switch(
            arms=[(t, _apply_return(sub, value)) for t, sub in node.arms],
            default=_apply_return(node.default, value),
        )
    return Leaf(substitute(value, node.env))


# -- match statements -------------------------------------------------------


def _is_catch_all(case: ast.match_case) -> bool:
    """A trailing ``case _:`` with no guard; Python guarantees it is last."""
    return (
        isinstance(case.pattern, ast.MatchAs)
        and case.pattern.name is None
        and case.guard is None
    )


def _is_statically_dead(subject: ast.expr, case: ast.match_case) -> bool:
    """Dead-case elision, reference ``ignore_case`` main.py:311-317: a
    sequence pattern whose arity differs from a literal tuple subject, or a
    value pattern against a tuple subject, can never match."""
    if isinstance(subject, ast.Tuple):
        if isinstance(case.pattern, ast.MatchSequence):
            return len(subject.elts) != len(case.pattern.patterns)
        if isinstance(case.pattern, ast.MatchValue):
            return True
    return False


def _pattern_test(
    env: dict[str, ast.expr],
    subject: ast.expr,
    pattern: ast.pattern,
    guard: ast.expr | None,
) -> ast.expr | None:
    """Translate one match pattern into a plain boolean ``ast.expr`` (not yet
    substituted), binding capture names into ``env`` as a side effect.

    Returns ``None`` when the pattern imposes no constraint (a bare capture),
    so callers can AND partial tests together. Mirrors reference
    ``translate_match`` (main.py:189-262) including the quirk that capture
    bindings land in the *shared* env, visible to later cases.
    """
    if isinstance(pattern, ast.MatchValue):
        # M1 — `case 3:` -> subject == 3, guard ANDed in front.
        test: ast.expr = ast.Compare(
            left=subject, ops=[ast.Eq()], comparators=[pattern.value]
        )
        if guard is not None:
            test = ast.BinOp(left=guard, op=ast.BitAnd(), right=test)
        return test
    if isinstance(pattern, ast.MatchAs):
        # M2 — `case y ...:` binds y = subject (eagerly substituted), then the
        # only constraint is the guard. A bare `case y:` with no guard crashes
        # the reference with an unhelpful NoneType error (verified; SURVEY.md
        # section 2.2 M2) — we raise the same ValueError type with a clear
        # message.
        if pattern.name is not None:
            _bind(env, ast.Name(id=pattern.name, ctx=ast.Store()), subject)
        return guard
    if isinstance(pattern, ast.MatchOr):
        # M3 — `case 0 | 1:` right-folds into BitOr of the alternatives.
        first, rest = pattern.patterns[0], pattern.patterns[1:]
        left = _pattern_test(env, subject, first, guard)
        if len(rest) == 1:
            right = _pattern_test(env, subject, rest[0], None)
        else:
            right = _pattern_test(env, subject, ast.MatchOr(patterns=list(rest)), None)
        if left is None or right is None:
            raise TranspileError("capture patterns inside `|` alternatives are not supported")
        return ast.BinOp(left=left, op=ast.BitOr(), right=right)
    if isinstance(pattern, ast.MatchSequence):
        # M4 / M7 / M8 — element-wise AND over a literal tuple subject; star
        # patterns and non-tuple subjects rejected (main.py:237-258).
        if any(isinstance(p, ast.MatchStar) for p in pattern.patterns):
            raise TranspileError("starred patterns are not supported.")
        if not isinstance(subject, ast.Tuple):
            raise TranspileError("Matching lists is not supported.")
        parts: list[ast.expr] = []
        if guard is not None:
            parts.append(guard)
        for sub_subject, sub_pattern in zip(subject.elts, pattern.patterns):
            part = _pattern_test(env, sub_subject, sub_pattern, None)
            if part is not None:
                parts.append(part)
        if not parts:
            return None
        test = parts[0]
        for part in parts[1:]:
            test = ast.BinOp(left=test, op=ast.BitAnd(), right=part)
        return test
    # M9 — mapping/class/other patterns.
    if isinstance(pattern, ast.MatchMapping):
        raise TranspileError(
            f"Incompatible match and subject types: {type(pattern)} "
            "(ast.MatchMapping and class patterns are not supported)."
        )
    if isinstance(pattern, ast.MatchClass):
        raise TranspileError(
            f"Incompatible match and subject types: {type(pattern)} "
            "(class patterns are not supported)."
        )
    raise TranspileError(
        f"Incompatible match and subject types: {type(pattern)} and {type(subject)}."
    )


def _apply_match(node: Node, stmt: ast.Match) -> Node:
    if isinstance(node, Leaf):
        return node
    if isinstance(node, Switch):
        return Switch(
            arms=[(t, _apply_match(sub, stmt)) for t, sub in node.arms],
            default=_apply_match(node.default, stmt),
        )
    # S8 — one *flat* Switch with an arm per live case (contrast nested `if`).
    # Capture bindings mutate node.env during translation *before* each case
    # body is compiled with a copy — reference behavior (main.py:325-343),
    # including bindings from earlier cases being visible to later ones.
    default_body: list[ast.stmt] = []
    for case in stmt.cases:
        if _is_catch_all(case):
            default_body = case.body
            break
    arms: list[tuple[ast.expr, Node]] = []
    for case in stmt.cases:
        if _is_catch_all(case) or _is_statically_dead(stmt.subject, case):
            continue
        raw_test = _pattern_test(node.env, stmt.subject, case.pattern, case.guard)
        if raw_test is None:
            raise TranspileError(
                "match case imposes no constraint and is not a catch-all; "
                "this pattern is not supported"
            )
        arms.append(
            (
                substitute(raw_test, node.env),
                _fold(case.body, dict(node.env)),
            )
        )
    return _join(node.env, arms, _fold(default_body, dict(node.env)), stmt)


# -- the block compiler -----------------------------------------------------


def compile_block(stmts: list[ast.stmt], env: dict[str, ast.expr] | None = None) -> Node:
    """Fold a statement list into a branch tree (reference ``parse_body``,
    main.py:350-369). Statements after a block-level ``return`` are dead code
    and skipped.

    Return-free conditionals are merged (S5); every merge the exactness
    guard rejects is re-folded path-split, until none is rejected. Each
    round splits at least one more statement, so the loop ends."""
    split: frozenset = frozenset()
    while True:
        state = _FoldState(split, set())
        token = _fold_state.set(state)
        try:
            tree = _fold(stmts, dict(env or {}))
        finally:
            _fold_state.reset(token)
        unsound = _unsound_merges(tree, state)
        if not unsound:
            return tree
        split |= unsound


def _fold(stmts: list[ast.stmt], env: dict[str, ast.expr]) -> Node:
    node: Node = Open(env)
    for stmt in stmts:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            node = _apply_assign(node, stmt)
        elif isinstance(stmt, ast.If):
            node = _apply_if(node, stmt)
        elif isinstance(stmt, ast.Return):
            if stmt.value is None:
                # S7 — the generated expression must produce a value.
                raise TranspileError("return needs a value")
            node = _apply_return(node, stmt.value)
            break  # O4 — dead-code elimination after a block-level return.
        elif isinstance(stmt, ast.Match):
            if not _MATCH_SUPPORTED:  # pragma: no cover - py>=3.10 here
                raise TranspileError("match statements need Python >= 3.10")
            node = _apply_match(node, stmt)
        else:
            # S9 — loops, with, nested def, global, expression statements...
            raise TranspileError(f"Unsupported statement type: {type(stmt)}")
    return node


def branch_tree_to_expr(node: Node) -> ast.expr:
    """Resolve a branch tree into one expression (reference
    ``transform_tree_into_expr``, main.py:372-388), with every merge that
    can be factored emitted as ``base OP F.when(...)`` (module docstring)."""
    return _factor_merges(_resolve(node))


def _resolve(node: Node) -> ast.expr:
    if isinstance(node, Leaf):
        return node.expr
    if isinstance(node, Switch):
        if not node.arms:
            # O2 — every case was statically dead: collapse to the default.
            return _resolve(node.default)
        return when_chain(
            [(test, _resolve(sub)) for test, sub in node.arms],
            _resolve(node.default),
        )
    raise TranspileError("Not all branches return")


# ---------------------------------------------------------------------------
# Exactness guard for merged values (module docstring). Each node of the
# folded DAG gets the classes of value it takes on the path split's paths —
# a Python literal kind, a Column known to be double, or a Column of unknown
# type — and the merges whose values reach it through consumers that keep
# the result exact.
# ---------------------------------------------------------------------------

_COL, _DBL = "col", "double"  # a Column of unknown type; a DoubleType one
_FLOAT, _INT, _BOOL, _STR = "float", "int", "bool", "str"  # Python values
_ANY = "any"  # a Python value of unknown type: a global, a call's result
_BAD = "bad"  # None, bytes and the like: never merged
_NUMERIC = frozenset({_COL, _DBL, _FLOAT, _INT})
_NO_MERGES: frozenset = frozenset()


def _constant_class(value: object) -> str:
    if isinstance(value, bool):
        return _BOOL
    if isinstance(value, int):
        # beyond int32 Spark types the literal apart from Python's int
        return _INT if -(2**31) <= value < 2**31 else _ANY
    if isinstance(value, float):
        return _FLOAT
    if isinstance(value, str):
        return _STR
    return _BAD


def _binop_class(a: str, b: str, op: ast.operator) -> str:
    pair = {a, b}
    if _BAD in pair:
        return _BAD
    if isinstance(op, (ast.Add, ast.Sub, ast.Mult)) and pair <= _NUMERIC:
        if pair & {_COL, _DBL}:
            # Spark computes a double wherever a double meets a number
            return _DBL if pair & {_DBL, _FLOAT} else _COL
        return _FLOAT if _FLOAT in pair else _ANY  # Python's ints are unbounded
    if pair & {_COL, _DBL}:
        return _COL
    if isinstance(op, (ast.BitAnd, ast.BitOr)) and pair == {_BOOL}:
        return _BOOL
    return _ANY


def _unary_class(a: str, op: ast.unaryop) -> str:
    if isinstance(op, ast.Not):
        return _COL if a in (_COL, _DBL) else _BOOL
    if isinstance(op, ast.Invert):
        return _COL if a in (_COL, _DBL) else _INT if a in (_INT, _BOOL) else _ANY
    return _INT if a == _BOOL else a if a in (_NUMERIC | {_BAD}) else _ANY


def _is_when_call(node: ast.expr) -> bool:
    """``F.when(...)``, or ``.when(...)``/``.otherwise(...)`` on one."""
    while (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("when", "otherwise")
    ):
        node = node.func.value
        if isinstance(node, ast.Name):
            return node.id == "F"
    return False


def _expr_children(node: ast.AST) -> list[ast.expr]:
    out: list[ast.expr] = []
    for _, value in ast.iter_fields(node):
        for item in value if isinstance(value, list) else [value]:
            if isinstance(item, ast.keyword):
                item = item.value
            if isinstance(item, ast.expr):
                out.append(item)
    return out


class _Guard:
    """One pass of the exactness guard over a folded tree's DAG."""

    def __init__(self) -> None:
        self.unsound: set[ast.stmt] = set()
        self.reached: set[ast.stmt] = set()
        self._seen: dict[int, tuple[frozenset[str], frozenset]] = {}

    def info(self, node: ast.expr) -> tuple[frozenset[str], frozenset]:
        """(value classes, merges reaching ``node``), memoized per node."""
        hit = self._seen.get(id(node))
        if hit is None:
            hit = self._seen[id(node)] = self._info(node)
        return hit

    def _when_values(self, call: ast.Call) -> frozenset[str]:
        """Visit a when-chain link and return the classes of the values the
        chain can yield. The receiver is a method's consumer; the arguments
        take any value."""
        receiver = call.func.value
        classes, merges = self.info(receiver)
        self.unsound |= merges
        args = [self.info(a)[0] for a in _expr_children(call)[1:]]
        values = args[-1:] if call.func.attr == "when" else args
        if not isinstance(receiver, ast.Name):
            values.append(classes)
        return frozenset().union(*values)

    def _info(self, node: ast.expr) -> tuple[frozenset[str], frozenset]:
        merge = _merge_of(node)
        if merge is not None:
            self._when_values(node)
            self.reached.add(merge.stmt)
            classes = frozenset().union(*(self.info(v)[0] for v in merge.values))
            if _BAD in classes:
                self.unsound.add(merge.stmt)
            return classes, frozenset({merge.stmt})
        if isinstance(node, ast.Constant):
            return frozenset({_constant_class(node.value)}), _NO_MERGES
        if isinstance(node, ast.Name):
            return frozenset({_COL if _is_parameter(node.id) else _ANY}), _NO_MERGES
        if _is_when_call(node):
            values = self._when_values(node)
            double = values <= {_DBL, _FLOAT}
            return frozenset({_DBL if double else _COL}), _NO_MERGES
        infos = [self.info(c) for c in _expr_children(node)]
        merges = frozenset().union(*(m for _, m in infos))
        classes = self._classes(node, [c for c, _ in infos])
        if merges and not self._exact(node, infos):
            self.unsound |= merges
            merges = _NO_MERGES
        return classes, merges

    def _classes(self, node: ast.expr, operands: list[frozenset[str]]) -> frozenset[str]:
        if isinstance(node, ast.BinOp):
            a, b = operands
            return frozenset(_binop_class(x, y, node.op) for x in a for y in b)
        if isinstance(node, ast.UnaryOp):
            return frozenset(_unary_class(x, node.op) for x in operands[0])
        if isinstance(node, ast.Compare):
            a, b = operands
            return frozenset(
                _COL if {x, y} & {_COL, _DBL} else _BOOL for x in a for y in b
            )
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            receiver = node.func.value
            if (isinstance(receiver, ast.Name) and receiver.id == "F") or self.info(
                receiver
            )[0] <= {_COL, _DBL}:
                return frozenset({_COL})  # an F.* function or a Column method
        if isinstance(node, ast.Attribute) and operands[0] <= {_COL, _DBL}:
            return frozenset({_COL})
        return frozenset({_ANY})

    @staticmethod
    def _exact(node: ast.expr, infos: list[tuple[frozenset[str], frozenset]]) -> bool:
        """Whether ``node`` on merged operands equals the path split."""
        if isinstance(node, ast.Compare):
            # the merged branch values share one kind (branches of
            # different types would be widened before the comparison
            # instead of after it), which the other side must match
            merged = frozenset().union(*(c for c, m in infos if m))
            if not any(merged <= k for k in ({_DBL, _FLOAT}, {_INT}, {_STR}, {_BOOL})):
                return False
            literals = frozenset().union(*(c for c, _ in infos)) - {_COL, _DBL}
            return any(literals <= ok for ok in ({_FLOAT, _INT}, {_STR}, {_BOOL}))
        op = getattr(node, "op", None)
        if isinstance(op, (ast.BitAnd, ast.BitOr)):
            return all(c <= {_COL, _BOOL} for c, _ in infos)
        if isinstance(op, ast.Invert):
            return all(c <= {_COL} for c, _ in infos)  # ~True == -2
        if isinstance(op, (ast.Add, ast.Sub, ast.Mult, ast.UAdd, ast.USub)):
            # only doubles: Python's ints are unbounded, its bools add as
            # ints, and an int Column widened before the arithmetic would
            # no longer overflow or round as its path did
            return all(c <= ({_DBL, _FLOAT} if m else _NUMERIC) for c, m in infos)
        return False


def _unsound_merges(tree: Node, state: _FoldState) -> set[ast.stmt]:
    """The statements whose merges the exactness guard rejects in ``tree``
    (its returned values and Switch tests are the DAG's roots), plus every
    merged statement no root reaches:
    split, it adds ``F.when(c, e).otherwise(e)``, a Column even where
    ``e`` is a Python value."""
    guard = _Guard()

    def walk(node: Node) -> None:
        if isinstance(node, Leaf):
            guard.info(node.expr)
        elif isinstance(node, Switch):
            for test, sub in node.arms:
                guard.info(test)
                walk(sub)
            walk(node.default)

    walk(tree)
    return guard.unsound | (state.merged - guard.reached)


# ---------------------------------------------------------------------------
# Emission: factor accumulator merges out of their when-chains (module
# docstring), so that the pre-branch value is read once.
# ---------------------------------------------------------------------------

#: ``x + -0.0``, ``x - 0.0`` and ``x * 1.0`` return ``x`` bit for bit,
#: for ``-0.0``, NaN, ±inf and null too
_IDENTITY = {ast.Add: -0.0, ast.Sub: 0.0, ast.Mult: 1.0}


def _same(a: object, b: object) -> bool:
    """Whether two expressions print alike. ``_fresh`` copies every node but
    merged ones, so two copies meet at shared nodes or differ."""
    if a is b:
        return True
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    if not isinstance(a, ast.AST):
        return type(a) is type(b) and repr(a) == repr(b)  # 0.0 is not -0.0
    if type(a) is not type(b) or _merge_of(a) or _merge_of(b):
        return False
    return all(_same(x, y) for (_, x), (_, y) in zip(ast.iter_fields(a), ast.iter_fields(b)))


def _factor_merges(root: ast.expr) -> ast.expr:
    """Rewrite ``root``'s DAG in place, children first, emitting each merge
    that the module docstring's conditions allow as ``base OP F.when(c,
    e)...otherwise(identity)``; return the rewritten root."""
    guard = _Guard()
    #: id -> (node, its emitted form); holding the node keeps its id unique
    done: dict[int, tuple[ast.expr, ast.expr]] = {}
    identities: set[int] = set()
    folds: dict[tuple[int, bool], bool] = {}

    def emit(node: ast.expr) -> ast.expr:
        hit = done.get(id(node))
        if hit is not None:
            return hit[1]
        for field, value in ast.iter_fields(node):
            if isinstance(value, ast.expr):
                setattr(node, field, emit(value))
            elif isinstance(value, list):
                setattr(node, field, [emit(v) if isinstance(v, ast.expr) else v for v in value])
                for v in value:
                    if isinstance(v, ast.keyword):
                        v.value = emit(v.value)
        merge = _merge_of(node)
        out = (factored(merge) if merge is not None else None) or node
        done[id(node)] = (node, out)
        return out

    def literal(node: ast.expr, zero: bool) -> bool:
        """Whether Catalyst could fold ``node`` to a literal (``zero``: to
        ``±0.0``), taking parameters for Columns that are not literals."""
        key = (id(node), zero)
        if key not in folds:
            folds[key] = _literal(node, zero)
        return folds[key]

    def _literal(node: ast.expr, zero: bool) -> bool:
        if id(node) in identities:  # it meets only values that cannot be zero
            return not zero
        if isinstance(node, ast.Constant):
            return not zero or node.value == 0
        if isinstance(node, ast.Name):
            return not _is_parameter(node.id)
        if _is_when_call(node):
            # a folded test picks one value; equal values collapse to one
            values = node.args[-1:] if node.func.attr == "when" else list(node.args)
            if not isinstance(node.func.value, ast.Name):
                values.append(node.func.value)
            return any(literal(v, zero) for v in values)
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.UAdd, ast.USub)):
            return literal(node.operand, zero)
        if isinstance(node, ast.Call):
            return True
        return all(literal(c, False) for c in _expr_children(node))

    def factored(merge: _Merge) -> ast.expr | None:
        if merge.base is None:
            return None
        base = emit(merge.base)
        op, terms = None, []
        for value in map(emit, merge.values):
            if _same(value, base):
                terms.append(None)
            elif (
                isinstance(value, ast.BinOp)
                and type(value.op) in _IDENTITY
                and op in (None, type(value.op))
                and _same(value.left, base)
            ):
                op = type(value.op)
                terms.append(value.right)
            else:
                return None
        present = [e for e in terms if e is not None]
        if op is None or not all(
            guard.info(e)[0] <= {_DBL, _FLOAT} for e in (base, *present)
        ):
            return None
        if op is not ast.Mult and any(literal(e, True) for e in present):
            return None
        identity = ast.Constant(value=_IDENTITY[op])
        identities.add(id(identity))
        terms = [identity if e is None else e for e in terms]
        tests = [emit(t) for t in merge.tests]
        return ast.BinOp(left=base, op=op(), right=when_chain(list(zip(tests, terms)), terms[-1]))

    return emit(root)


def _hoist_shared(expr: ast.expr, taken: set[str]) -> list[ast.stmt]:
    """Bind every compound node ``expr`` reaches more than once to a local
    ``_sparkify_t<k>`` (numbered in evaluation order, skipping the names in
    ``taken``) and return those assignments; single-use nodes stay inline.
    Rewrites ``expr`` in place, so the source grows with the DAG, not with
    its unfolded tree."""
    uses: dict[int, int] = {}
    order: list[ast.expr] = []  # each node once, after its children

    def visit(node: ast.expr) -> None:
        for child in _expr_children(node):
            uses[id(child)] = uses.get(id(child), 0) + 1
            if uses[id(child)] == 1:
                visit(child)
        order.append(node)

    visit(expr)
    temps: dict[int, str] = {}

    def ref(node: ast.AST) -> ast.AST:
        name = temps.get(id(node))
        return node if name is None else ast.Name(id=name, ctx=ast.Load())

    body: list[ast.stmt] = []
    k = 0
    for node in order:
        for field, value in ast.iter_fields(node):
            if isinstance(value, ast.expr):
                setattr(node, field, ref(value))
            elif isinstance(value, list):
                setattr(node, field, [ref(v) for v in value])
                for v in value:
                    if isinstance(v, ast.keyword):
                        v.value = ref(v.value)
        if uses.get(id(node), 0) > 1 and not isinstance(node, (ast.Name, ast.Constant)):
            while f"_sparkify_t{k}" in taken:
                k += 1
            temps[id(node)] = name = f"_sparkify_t{k}"
            k += 1
            body.append(ast.Assign(targets=[ast.Name(id=name, ctx=ast.Store())], value=node))
    return body
