"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator (SURVEY.md section 2 plus
the extension operator set) for the sf0.01 DuckDB correctness gate, in
registration order: Q1-Q13, then each operator module in
``polarify_spark/operators/__init__.py`` order.

``session(cpus, memory, **conf)`` is the one ``SparkSession`` config that
``bench.py``, ``tests/conftest.py`` and ``tools/`` share.

Query registries live next to the operators they exercise:
  - ``polarify_spark.queries.CORE_QUERIES``        — transpiler Q1-Q13
  - ``polarify_spark.operators.*.QUERIES``         — dedup / similarity /
    text / multimodal / time-series extension operators
"""

from __future__ import annotations

from collections.abc import Callable

try:
    import polarify_spark  # noqa: F401  — installed (pip install -e .)
except ImportError:
    # Fallback for running from a bare checkout without installation: put
    # the repo on sys.path for the driver, and on PYTHONPATH for the Python
    # worker processes (mapInPandas / applyInPandasWithState UDFs are
    # serialized by reference to polarify_spark.*, and driver-side sys.path
    # edits don't reach workers; PYTHONPATH does — workers spawn after the
    # first action, which is after this import).
    import os
    import sys
    from pathlib import Path

    _REPO_ROOT = str(Path(__file__).resolve().parent)
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    _pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_ROOT}{os.pathsep}{_pp}" if _pp else _REPO_ROOT
        )

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def _registries() -> dict[str, tuple[Callable, str | None]]:
    from polarify_spark.operators import EXTENSION_QUERIES
    from polarify_spark.queries import CORE_QUERIES

    return {**CORE_QUERIES, **EXTENSION_QUERIES}


def session(cpus: int | str, memory: str, **conf: str) -> SparkSession:
    """The local session every caller shares: ``local[cpus]`` with one
    shuffle partition per core, AQE and Arrow on, no UI, ANSI SQL (the
    PySpark 4 default, pinned so 3.5 means the same thing: int64 overflow
    raises instead of wrapping) and a UTC session timezone, so
    date->timestamp promotions agree with the naive/UTC DuckDB oracle
    whatever the host timezone. Only the core count and driver memory vary
    by caller; any other key (``spark.app.name``, say) passes through
    ``conf``, spelled ``**{"spark.key": value}``."""
    settings = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "true",
        "spark.driver.memory": memory,
        **conf,
    }
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(map=settings)
        .getOrCreate()
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Q1: the reference's canonical `signum` example, transpiled to a CaseWhen
    and applied to lineitem."""
    from polarify_spark.queries import CORE_QUERIES

    fn, _ = CORE_QUERIES["q1_signum_ifelse"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator; callables take (spark, sf_dir)."""
    return {name: fn for name, (fn, _sql) in _registries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries get rows-only checks."""
    return {name: sql for name, (_fn, sql) in _registries().items() if sql is not None}
