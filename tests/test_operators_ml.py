"""In-engine trained models vs DuckDB oracle (unrolled-iteration CTE)."""

from __future__ import annotations

import pytest

from polarify_spark.operators.ml import QUERIES, logreg_quality

from .oracle_harness import compare_query

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES), ids=list(QUERIES))
def test_ml_matches_oracle(spark, name):
    fn, sql = QUERIES[name]
    compare_query(spark, SF_DIR, fn, sql)


def test_logreg_actually_learns(spark):
    """After K gradient steps from w=0 the classifier must beat the
    majority-class baseline on its own training labels — i.e. training
    moved the weights, it did not just emit the prior."""
    rows = logreg_quality(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    pos = sum(r["y"] for r in rows)
    majority = max(pos, n - pos) / n
    acc = sum((r["pred"] is True) == (r["y"] == 1) for r in rows) / n
    assert acc > majority, (acc, majority)
    # probabilities are genuine probabilities, and both classes are predicted
    assert all(0.0 <= r["prob"] <= 1.0 for r in rows)
    assert {r["pred"] for r in rows} == {True, False}


def test_logreg_trains_once_per_corpus_and_releases(spark):
    """The trained model is a per-corpus memo artifact (the BPE/k-means
    policy): repeat scoring calls reuse one training run; a released memo
    retrains cleanly to identical results."""
    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ML

    release_shared_caches(spark, scope="all")
    first = {tuple(r) for r in logreg_quality(spark, SF_DIR).collect()}
    with ML.lock:
        sess1, (feats1, w1) = ML.memo[SF_DIR]
    assert sess1 is spark
    logreg_quality(spark, SF_DIR).collect()
    with ML.lock:
        _, (feats2, w2) = ML.memo[SF_DIR]
    assert feats1 is feats2 and w1 is w2  # no retrain on repeat calls
    release_shared_caches(spark, scope="all")
    with ML.lock:
        assert SF_DIR not in ML.memo
    assert {tuple(r) for r in logreg_quality(spark, SF_DIR).collect()} == first


def test_logreg_memo_evicts_entries_from_a_replaced_session(spark):
    """A memo hit bound to a DIFFERENT SparkSession must be evicted and
    rebuilt, not served: memo values hold checkpoint-RDD-backed frames,
    and serving them across sessions raises on any action once the
    original session is stopped (the MemoFamily.get session guard)."""
    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ML

    release_shared_caches(spark, scope="all")
    baseline = {tuple(r) for r in logreg_quality(spark, SF_DIR).collect()}
    with ML.lock:
        old_entry = ML.memo[SF_DIR]
    other = spark.newSession()  # same context, DIFFERENT session object
    assert {
        tuple(r) for r in logreg_quality(other, SF_DIR).collect()
    } == baseline
    with ML.lock:
        new_entry = ML.memo[SF_DIR]
    assert new_entry[0] is other and new_entry is not old_entry
    release_shared_caches(spark, scope="all")


def test_durable_artifact_mode_logreg_parity(spark, tmp_path):
    """Durable-mode parity for the trained classifier: identical scores in
    both modes, committed logreg_features-/logreg_weights- artifacts, and
    a refill session reads them (no rewrite, training loop skipped)."""
    import os

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import (
        ARTIFACTS_DIR_CONF,
        COMMIT_MARKER,
    )

    release_shared_caches(spark, scope="all")
    local = {tuple(r) for r in logreg_quality(spark, SF_DIR).collect()}

    release_shared_caches(spark, scope="all")
    art_dir = tmp_path / "artifacts"
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        assert {
            tuple(r) for r in logreg_quality(spark, SF_DIR).collect()
        } == local
        names = sorted(p.name for p in art_dir.iterdir())
        assert any(n.startswith("logreg_features-") for n in names), names
        # constants ride in the name so ITERS/LR edits never serve a
        # stale committed model
        from polarify_spark.operators.ml import LOGREG_ITERS, LOGREG_LR

        w_prefix = f"logreg_weights_i{LOGREG_ITERS}_lr{LOGREG_LR}-"
        assert any(n.startswith(w_prefix) for n in names), names
        for n in names:
            assert (art_dir / n / COMMIT_MARKER).exists(), n
        mtimes = {n: os.path.getmtime(art_dir / n) for n in names}

        release_shared_caches(spark, scope="all")
        assert {
            tuple(r) for r in logreg_quality(spark, SF_DIR).collect()
        } == local
        assert {n: os.path.getmtime(art_dir / n) for n in names} == mtimes
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="all")
