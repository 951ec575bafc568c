"""Return-free ``if``/``match`` blocks collapse into one ``F.when`` per
rebound variable, and the exactness guard keeps the reference's path split
wherever the merged form could compute something else.

Needs no testdata; only the last test starts a JVM. Generated programs get
real source through ``linecache``, because ``sparkify`` reads source with
``inspect.getsource``.
"""

from __future__ import annotations

import importlib.util
import linecache
import math
import random
import struct
from pathlib import Path

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from polarify_spark import sparkify, transform_func_to_new_source

from .scalar_shim import run_scalar

_SUFFIX = "_sparkified"


def _define(src: str, name: str):
    """Exec ``src`` under a linecache-backed file name so that
    ``inspect.getsource`` finds it; return the function ``name``."""
    filename = f"<collapse-{abs(hash(src))}>"
    linecache.cache[filename] = (len(src), None, src.splitlines(True), filename)
    namespace: dict = {"F": F}
    exec(compile(src, filename, "exec"), namespace)  # noqa: S102 — test source
    return namespace[name]


# --- rule-shaped float programs ----------------------------------------------

_WEIGHT = st.floats(0.25, 4.0).map(lambda w: round(w, 2))
_THRESHOLD = st.floats(-50.0, 50.0).map(lambda t: round(t, 3))


@st.composite
def _update(draw) -> str:
    op = draw(st.sampled_from(["+", "-", "*"]))
    # a zero weight must keep its when-chain; `* q` reads a Column
    w = draw(st.one_of(_WEIGHT, st.sampled_from([0.0, -0.0])))
    if op == "*":
        return f"s = s * {draw(st.sampled_from([round(1 + w / 10, 3), 'q']))}"
    return f"s = s {op} {w}"


@st.composite
def _rule(draw) -> tuple[list[str], int]:
    """One return-free block and the number of ``F.when(`` it must emit."""
    kind = draw(st.sampled_from(["if", "if_elif", "match"]))
    if kind == "if":
        arg = draw(st.sampled_from(["q", "p"]))
        lines = [f"if {arg} > {draw(_THRESHOLD)}:", f"    {draw(_update())}"]
        if draw(st.booleans()):
            lines += ["else:", f"    {draw(_update())}"]
        return lines, 1
    if kind == "if_elif":
        lines = [
            f"if q > {draw(_THRESHOLD)}:",
            f"    {draw(_update())}",
            f"elif p < {draw(_THRESHOLD)}:",
            f"    {draw(_update())}",
        ]
        if draw(st.booleans()):
            lines += ["else:", f"    {draw(_update())}"]
        return lines, 2
    lines = ["match k:"]
    for pattern in draw(st.sampled_from([["0"], ["0", "1 | 2"], ["1", "3", "4"]])):
        lines += [f"    case {pattern}:", f"        {draw(_update())}"]
    if draw(st.booleans()):
        lines += [f"    case _ if q > {draw(_THRESHOLD)}:", f"        {draw(_update())}"]
    if draw(st.booleans()):
        lines += ["    case _:", f"        {draw(_update())}"]
    return lines, 1


@st.composite
def rule_programs(draw) -> tuple[str, int]:
    rules = draw(st.lists(_rule(), min_size=1, max_size=8))
    start = draw(st.sampled_from(["0.0", "-0.0", "1.5"]))
    body = [f"s = {start}"] + [line for lines, _ in rules for line in lines] + ["return s"]
    src = "def rules(q, p, k):\n" + "".join(f"    {line}\n" for line in body)
    return src, sum(whens for _, whens in rules)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


_INPUT = st.one_of(
    st.floats(-60.0, 60.0),
    st.sampled_from([-0.0, math.nan, math.inf, -math.inf]),
)


_SIGNED_ZERO = (
    "def rules(q, p, k):\n    s = -0.0\n    if q > 0.0:\n        s = s + 1.0\n"
    "    if p > 0.0:\n        s = s - 2.0\n    if k > 0:\n        s = s * q\n    return s\n",
    3,
)


@given(program=rule_programs(), q=_INPUT, p=_INPUT, k=st.integers(0, 5))
@example(program=_SIGNED_ZERO, q=-1.0, p=-1.0, k=0)  # stays -0.0 through the identities
@example(program=_SIGNED_ZERO, q=math.nan, p=math.inf, k=1)
@settings(max_examples=150, deadline=None)
def test_rule_programs_collapse_bit_equal(program, q, p, k):
    src, whens = program
    fn = _define(src, "rules")
    generated = transform_func_to_new_source(fn)
    assert generated.count("F.when(") == whens, generated
    got = run_scalar(generated, "rules" + _SUFFIX, {}, q, p, k)
    assert _bits(got) == _bits(fn(q, p, k)), (src, generated, q, p, k)


def _perfbench_rules():
    path = Path(__file__).resolve().parents[1] / "perfbench" / "rules.py"
    spec = importlib.util.spec_from_file_location("perfbench_rules", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_eight_rule_program_emits_eight_whens():
    """The benchmark's program shape: 8 ``F.when`` (was 2^8 - 1 = 255) in
    under 2 KB of source (was ~17 KB), identical on every transpile."""
    rules = _perfbench_rules()
    fn = _define(rules.program_source("rules_0", random.Random(1)), "rules_0")
    generated = transform_func_to_new_source(fn)
    assert generated.count("F.when(") == rules.RULES == 8
    assert len(generated.encode()) < 2048
    assert transform_func_to_new_source(fn) == generated


# --- shapes ------------------------------------------------------------------


def sequential_ifs(x):
    s = 1
    if x > 0:
        s = 2
    if x > 1:
        s = 3
    return s


def shared_twice(x):
    s = 0.0
    if x > 0:
        s = x * 2.0
    if x > 5:
        s = s - 1.0
    return s


def reflected_twice(x):
    s = 0.0
    if x > 0:
        s = x * 2.0
    if x > 5:
        s = 1.0 - s
    return s


def clashing_temporary(x, _sparkify_t0):
    s = 0.0
    if x > 0:
        s = x * 2.0 + _sparkify_t0
    if x > 5:
        s = s * 2.0
    return s


def clashing_temporary_reflected(x, _sparkify_t0):
    s = 0.0
    if x > 0:
        s = x * 2.0 + _sparkify_t0
    if x > 5:
        s = 2.0 * s
    return s


def elif_and_match(x):
    s = 0.0
    t = 1.0
    if x > 0:
        s = 1.5
    elif x < -3:
        s = -1.5
    match x:
        case 1:
            t = 2.0
        case 2 | 3:
            t = 3.0
    return s + t


def test_single_use_merge_prints_inline():
    out = transform_func_to_new_source(sequential_ifs)
    assert out.splitlines()[-1].strip() == (
        "return F.when(x > 1, 3).otherwise(F.when(x > 0, 2).otherwise(1))"
    )


def test_accumulator_merge_reads_its_base_once():
    """``s - 1.0`` on one branch and ``s`` on the other: ``s`` is factored
    out, so nothing is shared and no temporary is bound."""
    out = transform_func_to_new_source(shared_twice)
    assert out.splitlines()[2:] == [
        "    return F.when(x > 0, x * 2.0).otherwise(0.0)"
        " - F.when(x > 5, 1.0).otherwise(0.0)",
    ]
    out = transform_func_to_new_source(clashing_temporary)
    assert out.splitlines()[2:] == [
        "    return F.when(x > 0, x * 2.0 + _sparkify_t0).otherwise(0.0)"
        " * F.when(x > 5, 2.0).otherwise(1.0)",
    ]


def test_shared_merge_is_bound_once():
    # `1.0 - s` does not have the form `s OP e`, so the merge keeps both reads
    out = transform_func_to_new_source(reflected_twice)
    assert out.splitlines()[2:] == [
        "    _sparkify_t0 = F.when(x > 0, x * 2.0).otherwise(0.0)",
        "    return F.when(x > 5, 1.0 - _sparkify_t0).otherwise(_sparkify_t0)",
    ]


def test_temporaries_skip_names_the_function_uses():
    out = transform_func_to_new_source(clashing_temporary_reflected)
    assert "    _sparkify_t1 = F.when(x > 0, x * 2.0 + _sparkify_t0).otherwise(0.0)" in out


def test_if_elif_stays_nested_and_match_flat():
    out = transform_func_to_new_source(elif_and_match)
    assert out.splitlines()[-1].strip() == (
        "return F.when(x > 0, 1.5).otherwise(F.when(x < -3, -1.5).otherwise(0.0))"
        " + F.when(x == 1, 2.0).when((x == 2) | (x == 3), 3.0).otherwise(1.0)"
    )


# --- fallbacks: each keeps the path split's text ------------------------------


def str_concat(x):
    s = "a"
    if x > 0:
        s = "b"
    return s + "!"


def floor_div(x):
    s = 1.5
    if x > 0:
        s = x * 2.0
    return s // 2


def modulo(x):
    s = 1.5
    if x > 0:
        s = x * 2.0
    return s % 3


def builtin_abs(x):
    s = 1.5
    if x > 0:
        s = x - 2.0
    return abs(s)


def f_upper_on_str(x):
    t = "a"
    if x > 0:
        t = "b"
    return F.upper(t)


def int_literal_arith(x):
    s = 0
    if x > 0:
        s = 1
    return s + 1


def none_branch_value(x):
    s = None
    if x > 0:
        s = x
    if x > 5:
        s = x * 2
    return s


def parameter_rebound_after_merge(x):
    s = 0.0
    if x > 0:
        s = x * 2.0
    x = 1.0
    return s + x


def parameter_rebound_after_use(x):
    s = x * 2.0
    x = 1.0
    return s


def parameter_rebound_from_itself(x):
    x = x + 1
    return x * 2


def merge_never_read(x):
    s = 0
    if x > 0:
        s = 1
    s = 3
    return s


def column_branch_value(x):
    s = x
    if x > 0:
        s = 1.5
    return s * 2.0


PATH_SPLIT = [
    (str_concat, "F.when(x > 0, 'b' + '!').otherwise('a' + '!')"),
    (floor_div, "F.when(x > 0, x * 2.0 // 2).otherwise(1.5 // 2)"),
    (modulo, "F.when(x > 0, x * 2.0 % 3).otherwise(1.5 % 3)"),
    (builtin_abs, "F.when(x > 0, abs(x - 2.0)).otherwise(abs(1.5))"),
    (f_upper_on_str, "F.when(x > 0, F.upper('b')).otherwise(F.upper('a'))"),
    (int_literal_arith, "F.when(x > 0, 1 + 1).otherwise(0 + 1)"),
    (
        none_branch_value,
        "F.when(x > 0, F.when(x > 5, x * 2).otherwise(x))"
        ".otherwise(F.when(x > 5, x * 2).otherwise(None))",
    ),
    # a parameter rebound after the merge does not reach back into the
    # branch values, so nothing forces the split and the merge is kept
    (parameter_rebound_after_merge, "F.when(x > 0, x * 2.0).otherwise(0.0) + 1.0"),
    # merged and never read, the `if` would vanish and leave a Python int
    (merge_never_read, "F.when(x > 0, 3).otherwise(3)"),
    # a Column of unknown type would be widened before the arithmetic
    (column_branch_value, "F.when(x > 0, 1.5 * 2.0).otherwise(x * 2.0)"),
]


def test_fallbacks_keep_the_path_split():
    for fn, expected in PATH_SPLIT:
        out = transform_func_to_new_source(fn)
        assert out.splitlines()[1:] == [
            "    from pyspark.sql import functions as F",
            f"    return {expected}",
        ], fn.__name__


def test_rebound_parameter_keeps_earlier_values():
    for fn in (
        parameter_rebound_after_merge,
        parameter_rebound_after_use,
        parameter_rebound_from_itself,
    ):
        generated = transform_func_to_new_source(fn)
        for x in (-2.5, 0.0, 3.0):
            got = run_scalar(generated, fn.__name__ + _SUFFIX, {}, x)
            assert got == fn(x), (generated, x)


# --- engine check -------------------------------------------------------------

#: (argument, threshold, operator, operand) per rule
_RULES = [
    ("q", 7.584, "+", 3.43),
    ("p", 76613.687, "-", 1.21),
    ("d", 0.05, "*", 1.194),
    ("q", 32.928, "+", 3.21),
    ("p", 10292.099, "-", 0.36),
    ("d", 0.084, "*", 1.187),
    ("q", 38.352, "+", 0.26),
    ("p", 45093.332, "-", 2.96),
]


@sparkify
def eight_rules(q, p, d):
    s = 0.0
    if q > 7.584:
        s = s + 3.43
    if p > 76613.687:
        s = s - 1.21
    if d > 0.05:
        s = s * 1.194
    if q > 32.928:
        s = s + 3.21
    if p > 10292.099:
        s = s - 0.36
    if d > 0.084:
        s = s * 1.187
    if q > 38.352:
        s = s + 0.26
    if p > 45093.332:
        s = s - 2.96
    return s


def _path_split(cols: dict, k: int = 0, s: float = 0.0):
    """The reference's expansion, written by hand: every rule splits every
    path, and each leaf is the Python float that path computes."""
    if k == len(_RULES):
        return s
    arg, threshold, op, w = _RULES[k]
    hit = s + w if op == "+" else s - w if op == "-" else s * w
    return F.when(cols[arg] > threshold, _path_split(cols, k + 1, hit)).otherwise(
        _path_split(cols, k + 1, s)
    )


def literal_test(x):
    if x > 0:
        s = 1.0
    else:
        s = x
    if s > 0:
        return 1
    return 0


def test_collapsed_column_equals_the_path_split(spark):
    assert eight_rules.__wrapped_source__.count("F.when(") == 8
    df = spark.range(20_000).select(
        ((F.col("id") % 50) + 1.0).alias("q"),
        ((F.col("id") * 7919) % 99_000 + 1000.0).alias("p"),
        ((F.col("id") % 11) / 100.0).alias("d"),
    )
    cols = {c: F.col(c) for c in ("q", "p", "d")}
    both = df.select(
        eight_rules(*cols.values()).alias("merged"), _path_split(cols).alias("split")
    )
    assert both.schema["merged"].dataType == both.schema["split"].dataType
    rows = both.collect()
    assert [_bits(r.merged) for r in rows] == [_bits(r.split) for r in rows]
    # on the x > 0 path the split folds `s > 0` to `1.0 > 0`, a Python bool
    # that F.when takes only inside F.lit
    one = spark.range(1).select(sparkify(literal_test)(F.col("id") + 1.0).alias("v"))
    assert one.first().v == literal_test(1.0)


LIMIT = 3


def over_globals(x):
    if LIMIT > 2:
        return x
    return 0


def test_test_over_globals_is_a_literal(spark):
    """A test that reads no parameter is a Python value even when it reads
    a global, so it goes in ``F.lit`` too."""
    out = transform_func_to_new_source(over_globals)
    assert out.splitlines()[-1] == "    return F.when(F.lit(LIMIT > 2), x).otherwise(0)"
    one = spark.range(1).select(sparkify(over_globals)(F.col("id") + 7).alias("v"))
    assert one.first().v == over_globals(7)


# --- factored accumulators: plan shape and bit patterns -------------------------


def _case_whens(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("CASE WHEN")


def test_factored_plan_stays_linear(spark):
    """Each rule reads the previous value once, so the optimized plan holds
    one ``CASE WHEN`` per rule (the when-chain form unfolded to 255), and a
    16-rule program fits whole-stage codegen's 64 KB method limit."""
    df = spark.range(2000).select(
        (F.col("id") % 50 + 1.0).alias("q"),
        (F.col("id") * 37 % 99_000 + 1000.0).alias("p"),
        (F.col("id") % 11 / 100.0).alias("d"),
    )
    cols = [F.col(c) for c in ("q", "p", "d")]
    assert _case_whens(df.select(eight_rules(*cols).alias("s"))) == 8
    rules = _perfbench_rules()
    rules.RULES = 16
    col = sparkify(_define(rules.program_source("r16", random.Random(1)), "r16"))(*cols)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df.select(col.alias("s")).write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


#: (argument, threshold, update) per rule; `s * q` and `s - q` read a Column
#: of unknown type and keep their when-chains
_SIGNED_RULES = [
    ("q", 1.0, "s + 2.5"),
    ("p", 1.0, "s - 0.75"),
    ("q", 2.0, "s * 1.5"),
    ("p", -1.0, "s * q"),
    ("q", 0.5, "s + p * 2.0"),
    ("p", 3.0, "s - q"),
    ("q", -2.0, "s * 0.5"),
]

#: `+ 0.0` and `- -0.0` must not be factored: Catalyst would fold
#: `CASE WHEN c THEN 0.0 ELSE -0.0` into one literal and lose the sign of a
#: zero `s` (the start is a Column, so the when-chain form folds nothing)
_ZERO_RULES = [("p", 1.0, "s + 0.0"), ("p", 2.0, "s - -0.0"), ("q", 2.0, "s - 0.5")]


def _program(name: str, start: str, rules) -> str:
    lines = [f"def {name}(q, p):", f"    s = {start}"]
    for arg, threshold, update in rules:
        lines += [f"    if {arg} > {threshold}:", f"        s = {update}"]
    return "\n".join([*lines, "    return s", ""])


def _when_chain_form(start: str, rules, cols: dict):
    """The unfactored emission, built by hand: each rule is
    ``F.when(c, s OP e).otherwise(s)``, with Python arithmetic while ``s``
    and ``e`` are Python floats."""
    s = eval(start, {}, cols)
    for arg, threshold, update in rules:
        s = F.when(cols[arg] > threshold, eval(update, {}, {"s": s, **cols})).otherwise(s)
    return s


def _bit_patterns(values):
    return [None if v is None else _bits(v) for v in values]


def test_factored_column_is_bit_identical(spark):
    signed = sparkify(_define(_program("signed", "-0.0", _SIGNED_RULES), "signed"))
    assert signed.__wrapped_source__.splitlines()[2:] == [
        "    _sparkify_t0 = (-0.0 + F.when(q > 1.0, 2.5).otherwise(-0.0)"
        " - F.when(p > 1.0, 0.75).otherwise(0.0)) * F.when(q > 2.0, 1.5).otherwise(1.0)",
        "    _sparkify_t1 = F.when(p > -1.0, _sparkify_t0 * q).otherwise(_sparkify_t0)"
        " + F.when(q > 0.5, p * 2.0).otherwise(-0.0)",
        "    return F.when(p > 3.0, _sparkify_t1 - q).otherwise(_sparkify_t1)"
        " * F.when(q > -2.0, 0.5).otherwise(1.0)",
    ]
    zeros = sparkify(_define(_program("zeros", "q * 1.0", _ZERO_RULES), "zeros"))
    assert zeros.__wrapped_source__.splitlines()[2:] == [
        "    _sparkify_t0 = F.when(p > 1.0, q * 1.0 + 0.0).otherwise(q * 1.0)",
        "    return F.when(p > 2.0, _sparkify_t0 - -0.0).otherwise(_sparkify_t0)"
        " - F.when(q > 2.0, 0.5).otherwise(0.0)",
    ]
    special = [-0.0, 0.0, 0.75, 1.5, 2.5, 5.0, -3.0, math.nan, math.inf, -math.inf, None]
    df = spark.createDataFrame([(q, p) for q in special for p in special], "q double, p double")
    cols = {"q": F.col("q"), "p": F.col("p")}
    for fn, start, rules in ((signed, "-0.0", _SIGNED_RULES), (zeros, "q * 1.0", _ZERO_RULES)):
        rows = df.select(
            fn(cols["q"], cols["p"]).alias("got"),
            _when_chain_form(start, rules, cols).alias("want"),
        ).collect()
        got = _bit_patterns(r.got for r in rows)
        assert got == _bit_patterns(r.want for r in rows)
        assert _bits(-0.0) in got  # the signed zero survived the identities
