"""Physical-plan inspection: the feedback loop for scale-shaped plans.

The reference delegates all planning to its host engine and never inspects
plans (SURVEY.md section 4); on Spark the plan IS the performance contract,
so this package makes the properties that matter at 100 TB — pushdown,
pruning, shuffle count, broadcast choice, codegen fusion — programmatically
checkable. The plan-shape tests in ``tests/test_plan_shapes.py`` pin them
so a regression that silently adds a shuffle or drops pushdown fails CI,
not the cluster.
"""

from __future__ import annotations

from .inspect import (
    assert_no_shuffle,
    broadcast_joins,
    exchange_count,
    plan_string,
    pushed_filters,
    read_schemas,
    wholestage_codegen_count,
)

__all__ = [
    "plan_string",
    "pushed_filters",
    "read_schemas",
    "exchange_count",
    "broadcast_joins",
    "wholestage_codegen_count",
    "assert_no_shuffle",
]
