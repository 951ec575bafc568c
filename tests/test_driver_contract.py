"""The full driver gate, locally: every ``queries()`` entry vs its
``oracle_sql()`` at sf0.01 (the driver's t2 scale), plus the entry() smoke."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from .oracle_harness import compare_query

SF_DIR = "/root/testdata/sf0.01"

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_every_query_has_oracle_or_is_documented():
    missing = set(_QUERIES) - set(_ORACLES)
    # streaming/iterative ops may be rows-only; none currently
    assert not missing, f"queries without oracle SQL: {missing}"


@pytest.mark.parametrize("name", list(_QUERIES), ids=list(_QUERIES))
def test_driver_gate_sf001(spark, name):
    compare_query(spark, SF_DIR, _QUERIES[name], _ORACLES[name])

