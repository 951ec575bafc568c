"""Full-text search + char-LM operators vs DuckDB oracle."""

from __future__ import annotations

import pytest

from polarify_spark.operators.search import (
    BM25_TOP_K,
    QUERIES,
    SEARCH_QUERIES,
    bm25_search,
    charlm_quality,
)

from .oracle_harness import compare_query

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES), ids=list(QUERIES))
def test_search_matches_oracle(spark, name):
    fn, sql = QUERIES[name]
    compare_query(spark, SF_DIR, fn, sql)


def test_bm25_returns_full_topk_per_query(spark):
    rows = bm25_search(spark, SF_DIR).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(SEARCH_QUERIES)
    for qid, hits in by_query.items():
        assert len(hits) == BM25_TOP_K, qid
        ranks = sorted(h["rank"] for h in hits)
        assert ranks == list(range(1, BM25_TOP_K + 1))
        # scores non-increasing in rank, all positive (idf has the +1 floor)
        ordered = sorted(hits, key=lambda h: h["rank"])
        scores = [h["bm25"] for h in ordered]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)


def test_cluster_topics_covers_all_docs_and_cells(spark):
    from polarify_spark.operators.search import TOPIC_TOP_TERMS, cluster_topics

    rows = cluster_topics(spark, SF_DIR).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], []).append(r)
    # every cell that owns documents reports terms; sizes sum to the corpus
    n_docs_total = sum(hits[0]["n_docs"] for hits in by_cell.values())
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert n_docs_total == docs.count()
    for cell, hits in by_cell.items():
        assert 1 <= len(hits) <= TOPIC_TOP_TERMS
        ordered = sorted(hits, key=lambda h: h["rank"])
        counts = [h["n"] for h in ordered]
        assert counts == sorted(counts, reverse=True)


def test_hybrid_rrf_fuses_both_lists(spark):
    from polarify_spark.operators.search import (
        HYBRID_TOP_K,
        RRF_K,
        hybrid_rrf_search,
    )

    rows = hybrid_rrf_search(spark, SF_DIR).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(SEARCH_QUERIES)
    both = 2 * round(1e6 / (RRF_K + 1))
    for qid, hits in by_query.items():
        assert len(hits) == HYBRID_TOP_K
        # a doc ranked first on BOTH lists would score 2/(k+1); every fused
        # score is positive and bounded by that
        for h in hits:
            assert 0 < h["rrf_micro"] <= both
            assert h["lex_rank"] is not None or h["sem_rank"] is not None
        # fusion actually mixes: at least one doc appears on both lists
        # (the PRF centroid is built FROM the lexical top docs)
        assert any(
            h["lex_rank"] is not None and h["sem_rank"] is not None
            for h in hits
        ), qid


def test_charlm_covers_corpus_and_scores_are_sane(spark):
    from pyspark.sql import functions as F

    out = charlm_quality(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.where(F.length("text") >= 2).count()
    rows = out.collect()
    assert len(rows) == n_docs
    for r in rows:
        # avg negative log-likelihood under add-one smoothing is strictly
        # positive and bounded by ln(c_prefix + V) <= ln(total corpus chars)
        assert 0 < r["avg_nll"] < 25
    # n_bigrams must equal length(text) - 1 for every document
    joined = (
        out.join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
        .where(F.col("n_bigrams") != F.col("n") - 1)
        .count()
    )
    assert joined == 0


def test_search_memo_shares_one_index_build_across_queries(spark):
    """bm25 and hybrid-RRF must share ONE inverted-index build per corpus
    (the ``_memo.SEARCH`` contract), and a released memo rebuilds cleanly."""
    from polarify_spark.operators import release_shared_caches, search
    from polarify_spark.operators._memo import SEARCH

    release_shared_caches(spark, scope="all")
    tf1 = search._tf_table(spark, SF_DIR)
    tf2 = search._tf_table(spark, SF_DIR)
    assert tf1 is tf2  # same checkpointed frame, not a re-build
    with SEARCH.lock:
        corpora = len(SEARCH.memo)
    assert corpora == 1
    # the charlm bigram table registers under the same corpus entry
    charlm_quality(spark, SF_DIR).collect()
    with SEARCH.lock:
        assert len(SEARCH.memo) == 1
        memo = SEARCH.memo[0][1]
    assert {k for k in memo if not isinstance(k, tuple)} == {
        "tf",
        "charlm_per_doc",
    }
    release_shared_caches(spark, scope="all")
    with SEARCH.lock:
        assert not SEARCH.memo
    assert search._tf_table(spark, SF_DIR) is not tf1


def test_durable_artifact_mode_search_parity(spark, tmp_path):
    """The search-family artifacts honor the durable artifact conf:
    identical bm25/charlm results in both modes, committed
    `search_tf-<key>` / `charlm_bigrams-<key>` artifacts on disk, and
    reuse from a fresh memo state without a rewrite."""
    import os

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import (
        ARTIFACTS_DIR_CONF,
        COMMIT_MARKER,
    )

    release_shared_caches(spark, scope="all")
    bm25_local = {tuple(r) for r in bm25_search(spark, SF_DIR).collect()}
    charlm_local = {tuple(r) for r in charlm_quality(spark, SF_DIR).collect()}

    release_shared_caches(spark, scope="all")
    art_dir = tmp_path / "artifacts"
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        assert {
            tuple(r) for r in bm25_search(spark, SF_DIR).collect()
        } == bm25_local
        assert {
            tuple(r) for r in charlm_quality(spark, SF_DIR).collect()
        } == charlm_local
        names = sorted(p.name for p in art_dir.iterdir())
        assert any(n.startswith("search_tf-") for n in names), names
        assert any(n.startswith("charlm_bigrams-") for n in names), names
        for n in names:
            assert (art_dir / n / COMMIT_MARKER).exists(), n
        mtimes = {n: os.path.getmtime(art_dir / n) for n in names}

        # fresh memo state: artifacts are READ, never rewritten
        release_shared_caches(spark, scope="all")
        assert {
            tuple(r) for r in bm25_search(spark, SF_DIR).collect()
        } == bm25_local
        assert {
            tuple(r) for r in charlm_quality(spark, SF_DIR).collect()
        } == charlm_local
        assert {n: os.path.getmtime(art_dir / n) for n in names} == mtimes
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="all")
