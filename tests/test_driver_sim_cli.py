"""Fail-loud CLI contract of tools/driver_sim (r18 self-review).

A misspelled flag (or the space form '--out FILE') used to fall through
into the positional name filter and produce a vacuous 0-query sweep
that READS like a clean pregate ('TOTAL 0 queries, 0 green, 0
problems') while writing no artifact; a typo'd query name shrank the
sweep the same silent way. Both now exit non-zero BEFORE the
minutes-long Spark init, so these subprocess tests cost only the
import time.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _run(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "tools/driver_sim.py", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


def test_unknown_flag_exits_nonzero():
    out = _run("--out", "pregate.json")  # the documented-wrong space form
    assert out.returncode != 0
    assert "unknown option" in out.stderr
    # and it must NOT have started a sweep
    assert "TOTAL" not in out.stdout


def test_unknown_query_name_exits_nonzero():
    out = _run("definitely_not_a_query")
    assert out.returncode != 0
    assert "unknown query names" in out.stderr
    assert "TOTAL" not in out.stdout


def test_bench_knn_index_memo_contract():
    # bench.py's pass-2 release clears the knn_index family by hand (the
    # path memo deliberately survives release_shared_caches) — pin the
    # family it reaches for, and that its clear drops the paths but keeps
    # the build locks, so a knn refactor breaks loudly here, not silently
    # in the next round's band semantics
    import threading

    from polarify_spark.operators import knn
    from polarify_spark.operators._memo import FAMILIES

    fam = FAMILIES["knn_index"]
    assert fam is knn.KNN_INDEX and fam.scopes == ()
    assert 'FAMILIES["knn_index"].clear()' in (REPO / "bench.py").read_text()
    key = ("probe", "bench-contract")
    saved = dict(fam.memo)
    fam.locks[key] = threading.Lock()
    fam.memo[key] = (None, "/nonexistent/index")
    try:
        fam.clear()
        assert fam.memo == {} and key in fam.locks
    finally:
        fam.locks.pop(key, None)
        fam.memo.update(saved)
