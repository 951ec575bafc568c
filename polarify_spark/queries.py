"""Declared correctness queries Q1-Q12 (SURVEY.md section 2.6).

Each query pairs a ``@sparkify``-decorated function applied over a driver
testdata table with the equivalent ANSI SQL that DuckDB runs as the oracle.
Together they exercise every statement / pattern / expression operator of the
transpiler (S1-S9, M1-M9, E1-E9) end-to-end through Catalyst.

Conventions (FIXTURES.md): computed columns are aliased ``v`` in both engines;
double-valued outputs are rounded to 6 decimals before hashing; integer
division and negative modulus are avoided (Spark/DuckDB vs Python semantics).

Scale notes: every query here is a scalar projection — a narrow, shuffle-free
map over the scan that whole-stage-codegen fuses into one stage. At 100 TB
these plans read minimal columns (column pruning reaches the parquet scan)
and parallelize embarrassingly; there is nothing to tune.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from . import sparkify

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


# --- the decorated row-wise functions (transpiled at import time) -----------


@sparkify
def q1_signum(x):
    # S5 if/elif + S1 assignments + E7 comparisons
    s = 0
    if x > 0:
        s = 1
    elif x < 0:
        s = -1
    return s


@sparkify
def q2_early_return(x):
    # S6 early return
    if x > 0:
        return 1
    return 0


@sparkify
def q3_nested_partial(x):
    # S5 nested conditionals with partial returns and branch-local assigns
    if x > 0:
        s = 1
        if x > 1:
            s = 2
            return s + x
        else:
            s = -1
    else:
        return -5 - x
    return s * x


@sparkify
def q4_two_ternaries(x):
    # E5 conditional expressions
    a = 1 if x > 0 else 5
    b = 2 if x < 0 else 2
    return a + b


@sparkify
def q5_band_compare(x):
    # E2 bitwise-and of E7 comparisons
    if (0 < x) & (x < 10):
        s = 1
    else:
        s = 2
    return s


@sparkify
def q6_branch_assign_chains(x):
    # S1 sequencing inside branches
    if x > 0:
        s = 1
        s = s + 1
        s = x * s
    elif x < 0:
        s = -1
        s = s - 1
        s = x
    else:
        s = 0
    return s


@sparkify
def q7_sequential_ifs(x):
    # S5 sequential return-free ifs: each merges into one F.when over `s`
    # (two nested CASE WHEN; the reference's path split printed three)
    s = 1
    if x > 0:
        s = 2
    if x > 1:
        s = 3
    return s


@sparkify
def q8_match_literals(x):
    # S8 flat match chain + M1 value patterns + M5 catch-all
    s = 0
    match x:
        case 0:
            s = 1
        case 2:
            s = -1
        case _:
            s = 0
    return s


@sparkify
def q9_match_or(x):
    # M3 or-patterns + fallthrough after match
    match x:
        case 0 | 1:
            return 0
        case 2:
            return 2 * x
        case 3:
            return 3 * x
    return x


@sparkify
def q10_match_capture_guard(x):
    # M2 capture + guard
    match x:
        case y if y > 5:
            return 1
        case _:
            return 5


@sparkify
def q11_match_tuple(x):
    # M4 tuple-subject sequence patterns
    y = 3
    match x, y:
        case 1, 3:
            return 1
        case _:
            return 5


@sparkify
def q12_tuple_assign(x):
    # S4 destructuring assignment
    a, b = 1, x
    return x + a + b


@sparkify
def q13_match_strings(x):
    # M1/M3/M5 with a STRING-typed subject — the declared Q1-Q12 set is
    # all-numeric, so this extends it with the other constant type the
    # reference's MatchValue path accepts unchanged (any ast.Constant;
    # /root/reference/polarify/main.py:203-217 does no type dispatch)
    match x:
        case "click":
            s = 1
        case "view" | "error":
            s = 2
        case "purchase":
            s = 3
        case _:
            s = 0
    return s


# --- (spark_callable, oracle_sql) registry ----------------------------------


def _read(spark: "SparkSession", sf_dir: str, table: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _q1(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", q1_signum(F.col("l_quantity") - 25).alias("v")
    )


def _q2(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "customer").select(
        "c_custkey", q2_early_return(F.col("c_acctbal")).alias("v")
    )


def _q3(spark, sf_dir):
    from pyspark.sql import functions as F

    # (x - 150000) / 2**17: integer subtraction and power-of-two division are
    # exact in binary, so Spark and DuckDB see bit-identical doubles and the
    # 6-decimal rounding below can never straddle a representation boundary.
    x = (F.col("o_totalprice") - 150000) / 131072
    return _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(q3_nested_partial(x), 6).alias("v"),
    )


def _q4(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "supplier").select(
        "s_suppkey", q4_two_ternaries(F.col("s_acctbal")).alias("v")
    )


def _q5(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "part").select(
        "p_partkey", q5_band_compare(F.col("p_size")).alias("v")
    )


def _q6(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(q6_branch_assign_chains(F.col("c_acctbal")), 6).alias("v"),
    )


def _q7(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        q7_sequential_ifs(F.col("l_linenumber")).alias("v"),
    )


def _q8(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        q8_match_literals(F.col("l_linenumber")).alias("v"),
    )


def _q9(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "part").select(
        "p_partkey", q9_match_or(F.col("p_size") % 5).alias("v")
    )


def _q10(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "nation").select(
        "n_nationkey", q10_match_capture_guard(F.col("n_nationkey")).alias("v")
    )


def _q11(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "region").select(
        "r_regionkey", q11_match_tuple(F.col("r_regionkey")).alias("v")
    )


def _q13(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "events").select(
        "event_id", q13_match_strings(F.col("event_type")).alias("v")
    )


def _q12(spark, sf_dir):
    from pyspark.sql import functions as F

    return _read(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(q12_tuple_assign(F.col("o_totalprice")), 6).alias("v")
    )


CORE_QUERIES: dict[str, tuple[Callable, str]] = {
    "q1_signum_ifelse": (
        _q1,
        """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN (l_quantity - 25) > 0 THEN 1
                    ELSE CASE WHEN (l_quantity - 25) < 0 THEN -1 ELSE 0 END
               END AS v
        FROM lineitem
        """,
    ),
    "q2_early_return": (
        _q2,
        "SELECT c_custkey, CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS v FROM customer",
    ),
    "q3_nested_partial_return": (
        _q3,
        """
        SELECT o_orderkey,
               ROUND(CASE WHEN (o_totalprice - 150000)/131072 > 0
                          THEN CASE WHEN (o_totalprice - 150000)/131072 > 1
                                    THEN 2 + (o_totalprice - 150000)/131072
                                    ELSE -1 * ((o_totalprice - 150000)/131072) END
                          ELSE -5 - (o_totalprice - 150000)/131072 END, 6) AS v
        FROM orders
        """,
    ),
    "q4_two_ternaries": (
        _q4,
        """
        SELECT s_suppkey,
               (CASE WHEN s_acctbal > 0 THEN 1 ELSE 5 END)
             + (CASE WHEN s_acctbal < 0 THEN 2 ELSE 2 END) AS v
        FROM supplier
        """,
    ),
    "q5_band_compare": (
        _q5,
        "SELECT p_partkey, CASE WHEN 0 < p_size AND p_size < 10 THEN 1 ELSE 2 END AS v FROM part",
    ),
    "q6_branch_assign_chains": (
        _q6,
        """
        SELECT c_custkey,
               ROUND(CASE WHEN c_acctbal > 0 THEN c_acctbal * 2
                          ELSE CASE WHEN c_acctbal < 0 THEN c_acctbal ELSE 0 END
                     END, 6) AS v
        FROM customer
        """,
    ),
    "q7_sequential_ifs": (
        _q7,
        """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_linenumber > 0
                    THEN CASE WHEN l_linenumber > 1 THEN 3 ELSE 2 END
                    ELSE CASE WHEN l_linenumber > 1 THEN 3 ELSE 1 END
               END AS v
        FROM lineitem
        """,
    ),
    "q8_match_literals": (
        _q8,
        """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_linenumber = 0 THEN 1
                    WHEN l_linenumber = 2 THEN -1
                    ELSE 0 END AS v
        FROM lineitem
        """,
    ),
    "q9_match_or": (
        _q9,
        """
        SELECT p_partkey,
               CASE WHEN (p_size % 5) = 0 OR (p_size % 5) = 1 THEN 0
                    WHEN (p_size % 5) = 2 THEN 2 * (p_size % 5)
                    WHEN (p_size % 5) = 3 THEN 3 * (p_size % 5)
                    ELSE p_size % 5 END AS v
        FROM part
        """,
    ),
    "q10_match_capture_guard": (
        _q10,
        "SELECT n_nationkey, CASE WHEN n_nationkey > 5 THEN 1 ELSE 5 END AS v FROM nation",
    ),
    "q11_match_tuple_subject": (
        _q11,
        """
        SELECT r_regionkey,
               CASE WHEN r_regionkey = 1 AND 3 = 3 THEN 1 ELSE 5 END AS v
        FROM region
        """,
    ),
    "q12_tuple_assign": (
        _q12,
        "SELECT o_orderkey, ROUND(o_totalprice + 1 + o_totalprice, 6) AS v FROM orders",
    ),
    "q13_match_strings": (
        _q13,
        """
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN 1
                    WHEN event_type = 'view' OR event_type = 'error' THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE 0 END AS v
        FROM events
        """,
    ),
}
