"""Registry integrity pins (VERDICT r5 ask #1).

The extension registry used to degrade silently: a transitive import error
inside any operator module would shrink the driver's query set while every
remaining query stayed green, so the correctness gate looked healthy as
coverage dropped. Registration is now unconditional
(``polarify_spark/operators/__init__.py``) and these pins are the tripwire:
deleting or breaking any operator module turns pytest red here instead of
quietly narrowing the gate.

When a new query is added on purpose, bump the counts here in the same
commit — that is the point: registry size changes must be deliberate.
"""

from __future__ import annotations

import __spark_entry__ as entry
from polarify_spark.operators import EXTENSION_QUERIES
from polarify_spark.queries import CORE_QUERIES

# Bump these deliberately when adding queries; never let them drift down.
EXPECTED_CORE = 13
# r8: +similarity_knn_index_serve (on-disk IVF serving)
# r9: +docs_strip_repeated_spans, +docs_leakage_safe_split,
#     +docs_decontaminate_spans (refine.py — the APPLY layer over the
#     span/cluster/decontamination detection queries)
EXPECTED_EXTENSION = 120
EXPECTED_TOTAL = EXPECTED_CORE + EXPECTED_EXTENSION


def test_core_registry_count_pinned():
    assert len(CORE_QUERIES) == EXPECTED_CORE


def test_extension_registry_count_pinned():
    assert len(EXTENSION_QUERIES) == EXPECTED_EXTENSION


def test_driver_contract_total_pinned():
    q = entry.queries()
    assert len(q) == EXPECTED_TOTAL
    # No overlap between core and extension names.
    assert len(set(CORE_QUERIES) | set(EXTENSION_QUERIES)) == EXPECTED_TOTAL


def test_every_module_contributes():
    """Each operator family must register at least one query — a module whose
    QUERIES dict went empty is as silent a failure as a missing import."""
    from polarify_spark import streaming
    from polarify_spark.operators import (
        bpe,
        corpus,
        dedup,
        knn,
        ml,
        multimodal,
        quality,
        refine,
        relational,
        search,
        similarity,
        skew,
        text,
        timeseries,
    )

    for mod in (text, corpus, dedup, similarity, knn, search, ml, quality, bpe, timeseries, multimodal, skew, relational, refine, streaming):
        assert mod.QUERIES, f"{mod.__name__}.QUERIES is empty"
        assert set(mod.QUERIES) <= set(EXTENSION_QUERIES)


def test_oracle_coverage_full():
    """Every registered query currently ships a DuckDB oracle; a query landing
    without one (rows-only check) must be a deliberate, visible choice."""
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) == set(q)


def test_callables_and_sql_shapes():
    for name, (fn, sql) in {**CORE_QUERIES, **EXTENSION_QUERIES}.items():
        assert callable(fn), name
        assert sql is None or (isinstance(sql, str) and sql.strip()), name



def test_registry_order_is_registration_order(monkeypatch):
    """``queries()`` / ``oracle_sql()`` are the registries merged in
    registration order (Q1-Q13, then each operator module in
    ``operators/__init__.py`` order): no subprocess runs at import or on
    the call, so the order cannot depend on git state or files on disk."""
    import importlib
    import subprocess

    def no_subprocess(*args, **kwargs):
        raise AssertionError(f"driver contract started a subprocess: {args}")

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    monkeypatch.setattr(subprocess, "Popen", no_subprocess)
    importlib.reload(entry)
    q = entry.queries()
    registered = {**CORE_QUERIES, **EXTENSION_QUERIES}
    assert list(q) == list(registered)
    for name, fn in q.items():
        assert fn is registered[name][0], name
    assert set(entry.oracle_sql()) == set(q)
