"""General kNN join vs DuckDB oracle + index-method recall floors."""

from __future__ import annotations

import pytest

from polarify_spark.operators.knn import (
    KNN_QUERY_HI,
    KNN_QUERY_LO,
    KNN_TOP_K,
    QUERIES,
    knn_join,
    similarity_knn_join,
)

from .oracle_harness import compare_query

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES), ids=list(QUERIES))
def test_knn_matches_oracle(spark, name):
    fn, sql = QUERIES[name]
    compare_query(spark, SF_DIR, fn, sql)


def test_knn_join_exact_shape(spark):
    """Every query id gets exactly k neighbors ranked 1..k, and no
    neighbor comes from the query split."""
    rows = similarity_knn_join(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        assert not (KNN_QUERY_LO <= r["neighbor_id"] < KNN_QUERY_HI), r
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    assert sorted(by_q) == list(range(KNN_QUERY_LO, KNN_QUERY_HI))
    for q_id, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, KNN_TOP_K + 1)), (q_id, ranks)


def test_knn_join_custom_columns(spark):
    """The API maps arbitrary id/vector column names on both sides."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    b = emb.where(F.col("vec_id") >= 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = knn_join(
        a, b, 3, query_id="qid", query_vec="qv", corpus_id="cid", corpus_vec="cv"
    )
    assert out.columns == ["q_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 4 * 3


def test_knn_index_methods_recall_vs_exact(spark):
    """The approximate methods must find a real share of the exact
    neighbors — and the probe lever must lever. (ivf probe-2 on the seed
    centroids and 8-plane rplsh both measured well above these floors on
    the sf0.001 embeddings.)"""
    from pyspark.sql import functions as F

    from polarify_spark.operators.similarity import N_CELLS, N_QUERIES

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    in_a = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    a, b = emb.where(in_a), emb.where(~in_a)
    cents = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cell_id"),
        F.col("embedding").alias("cent_vec"),
    )

    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in knn_join(a, b, KNN_TOP_K).collect()
    }
    n_queries = KNN_QUERY_HI - KNN_QUERY_LO

    def recall(df) -> float:
        hits = {(r["q_id"], r["neighbor_id"]) for r in df.collect()} & exact
        return len(hits) / (n_queries * KNN_TOP_K)

    r_ivf1 = recall(
        knn_join(a, b, KNN_TOP_K, method="ivf", centroids=cents, probes=1)
    )
    r_ivf2 = recall(
        knn_join(a, b, KNN_TOP_K, method="ivf", centroids=cents, probes=2)
    )
    r_lsh = recall(knn_join(a, b, KNN_TOP_K, method="rplsh"))
    assert r_ivf2 >= r_ivf1, (r_ivf1, r_ivf2)
    assert r_ivf2 >= 0.2, r_ivf2
    assert r_lsh >= 0.05, r_lsh


def test_knn_join_bad_arguments(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="centroids"):
        knn_join(a, emb, 3, method="ivf")
    with pytest.raises(ValueError, match="unknown method"):
        knn_join(a, emb, 3, method="annoy")


def test_knn_join_composes_with_trained_centroids(spark):
    """The pluggable-centroid path composes with the Lloyd trainer: fold
    kmeans_centroids' exploded (cell_id, dim, centroid) back into vectors
    and use them as the kNN join's index — the documented production
    wiring (train once, join many)."""
    from pyspark.sql import functions as F

    from polarify_spark.operators.similarity import kmeans_centroids

    trained = (
        kmeans_centroids(spark, SF_DIR)
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("cent_vec")
        )
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    in_a = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    a, b = emb.where(in_a), emb.where(~in_a)

    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in knn_join(a, b, KNN_TOP_K).collect()
    }
    approx = knn_join(
        a, b, KNN_TOP_K, method="ivf", centroids=trained, probes=2
    ).collect()
    n_queries = KNN_QUERY_HI - KNN_QUERY_LO
    hits = {(r["q_id"], r["neighbor_id"]) for r in approx} & exact
    recall = len(hits) / (n_queries * KNN_TOP_K)
    assert recall >= 0.2, recall
    # output contract holds on the trained path too
    for r in approx:
        assert 1 <= r["rank"] <= KNN_TOP_K


def test_saved_ivf_index_serves_identically(spark, tmp_path):
    """save -> load -> search must return exactly what the in-memory IVF
    join returns, and the stored layout must be cell-partitioned so probes
    can prune directories."""
    from pyspark.sql import functions as F

    from polarify_spark.operators.knn import (
        KNN_QUERY_HI,
        KNN_QUERY_LO,
        KNN_TOP_K,
        knn_join,
        save_ivf_index,
        search_ivf_index,
    )
    from polarify_spark.operators.similarity import N_CELLS, N_QUERIES, _emb

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark, sf)
    cents = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cell_id"),
        F.col("embedding").alias("cent_vec"),
    )
    in_q = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    queries, corpus = emb.where(in_q), emb.where(~in_q)

    path = str(tmp_path / "ivf_index")
    save_ivf_index(corpus, cents, path)

    # layout: one directory per cell
    dirs = {p.name for p in (tmp_path / "ivf_index" / "assignments").iterdir()
            if p.name.startswith("cell_id=")}
    assert len(dirs) >= 2

    served = search_ivf_index(spark, path, queries, KNN_TOP_K, probes=2)
    in_memory = knn_join(
        queries, corpus, KNN_TOP_K, method="ivf", centroids=cents, probes=2
    )
    a = sorted(tuple(r) for r in served.collect())
    b = sorted(tuple(r) for r in in_memory.collect())
    assert a == b and len(a) > 0

    # the broadcast query side must drive DYNAMIC PARTITION PRUNING into
    # the assignment scan: at scale only the probed cells' directories are
    # read — this is the point of the partitioned layout
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_serve_query_matches_in_memory_ivf(spark):
    """The registered serve query and the registered in-memory IVF query
    must return identical rows (same centroids, same probes) — the parity
    contract its shared DuckDB oracle relies on."""
    from polarify_spark.operators.knn import (
        similarity_knn_index_serve,
        similarity_knn_join_ivf,
    )

    served = sorted(
        tuple(r) for r in similarity_knn_index_serve(spark, SF_DIR).collect()
    )
    in_mem = sorted(
        tuple(r) for r in similarity_knn_join_ivf(spark, SF_DIR).collect()
    )
    assert served == in_mem and len(served) > 0


def test_served_index_builds_once_and_survives_cache_release(spark):
    """The on-disk index memo: concurrent callers share ONE build, reruns
    reuse the path, and release_shared_caches leaves it alone (the
    artifact is parquet on disk — no JVM memory to free)."""
    from concurrent.futures import ThreadPoolExecutor
    from unittest.mock import patch

    from polarify_spark.operators import knn, release_shared_caches
    from polarify_spark.operators._memo import KNN_INDEX

    KNN_INDEX.clear()
    builds = 0
    orig = knn.save_ivf_index

    def counting_save(*args, **kwargs):
        nonlocal builds
        builds += 1
        return orig(*args, **kwargs)

    with patch.object(knn, "save_ivf_index", counting_save):
        with ThreadPoolExecutor(4) as ex:
            paths = list(
                ex.map(
                    lambda _: knn._served_index_path(spark, SF_DIR), range(4)
                )
            )
        assert builds == 1, "concurrent callers must share one index build"
        assert len(set(paths)) == 1

        out1 = knn.similarity_knn_index_serve(spark, SF_DIR)
        n1 = out1.count()
        assert n1 > 0

        release_shared_caches(spark, scope="all")
        # memo (and the on-disk artifact) must survive: serving is
        # re-runnable without a rebuild after a cache release. Pin the
        # SPECIFIC entry — a truthiness check passes on leftover lock
        # entries even after the path was dropped, and a bare count()
        # passes through a silent rebuild.
        assert (
            KNN_INDEX.memo.get(("ivf_index", SF_DIR)) == (None, paths[0])
        ), "index-path memo must survive release with the same path"
        assert knn.similarity_knn_index_serve(spark, SF_DIR).count() == n1
    assert builds == 1, "release must not trigger an index rebuild"


def test_index_dir_cleanup_removes_dirs_and_memo(spark):
    """The atexit hook must delete every tracked index dir AND clear the
    path memo (a surviving entry would point the next serve call at a
    deleted directory); serving afterwards rebuilds cleanly."""
    import os

    from polarify_spark.operators import knn
    from polarify_spark.operators._memo import KNN_INDEX

    n = knn.similarity_knn_index_serve(spark, SF_DIR).count()
    assert knn._INDEX_DIRS, "serve must register its dir for cleanup"
    dirs = list(knn._INDEX_DIRS)

    knn._cleanup_index_dirs()
    assert not knn._INDEX_DIRS and not KNN_INDEX.memo
    assert not any(os.path.isdir(p) for p in dirs), dirs

    # next call rebuilds from scratch and serves the same result
    assert knn.similarity_knn_index_serve(spark, SF_DIR).count() == n
    assert knn._INDEX_DIRS


def test_index_cleanup_timeout_leaves_dirs_for_os_reaping(tmp_path, monkeypatch):
    """A build lock that cannot be acquired within the (shared, ADVICE r9)
    deadline — a build thread wedged in a hung Spark job at interpreter
    exit — must make the cleanup skip ONLY that key's dir and any dir not
    yet memo-mapped (a live write target has no memo entry until the
    build completes): they stay on disk and stay tracked for the next
    cleanup. A completed build's dir (its lock acquirable) is still
    deleted — one wedged lock no longer aborts the whole cleanup. No
    Spark needed: pure module-state test. Lock and memo share the key,
    as ``KNN_INDEX.get`` guarantees."""
    import threading

    from polarify_spark.operators import knn
    from polarify_spark.operators._memo import KNN_INDEX

    wedged_dir = tmp_path / "wedged_index"
    done_dir = tmp_path / "done_index"
    unmapped_dir = tmp_path / "inflight_unmapped"
    for d in (wedged_dir, done_dir, unmapped_dir):
        d.mkdir()
    wedged_lock = threading.Lock()
    wedged_lock.acquire()  # a permanently-held build lock = the wedged build
    monkeypatch.setattr(knn, "_CLEANUP_LOCK_TIMEOUT_S", 0.05)
    monkeypatch.setitem(KNN_INDEX.locks, ("probe", "wedged"), wedged_lock)
    monkeypatch.setitem(KNN_INDEX.locks, ("probe", "done"), threading.Lock())
    knn._INDEX_DIRS.extend([str(wedged_dir), str(done_dir), str(unmapped_dir)])
    KNN_INDEX.memo[("probe", "wedged")] = (None, str(wedged_dir))
    KNN_INDEX.memo[("probe", "done")] = (None, str(done_dir))
    try:
        knn._cleanup_index_dirs()
        assert wedged_dir.is_dir(), "wedged key's dir must not be deleted"
        assert str(wedged_dir) in knn._INDEX_DIRS, "dir must stay tracked"
        wedged_entry = (None, str(wedged_dir))
        assert KNN_INDEX.memo.get(("probe", "wedged")) == wedged_entry
        assert unmapped_dir.is_dir(), (
            "a dir with no memo entry may be the wedged build's live "
            "write target — must survive"
        )
        assert str(unmapped_dir) in knn._INDEX_DIRS
        assert not done_dir.is_dir(), (
            "completed build's dir must be deleted despite the wedged lock"
        )
        assert ("probe", "done") not in KNN_INDEX.memo
        assert str(done_dir) not in knn._INDEX_DIRS
    finally:
        wedged_lock.release()
        gone = {str(wedged_dir), str(done_dir), str(unmapped_dir)}
        knn._INDEX_DIRS[:] = [p for p in knn._INDEX_DIRS if p not in gone]
        KNN_INDEX.memo.pop(("probe", "wedged"), None)
        KNN_INDEX.memo.pop(("probe", "done"), None)


def test_index_cleanup_deletes_dir_of_build_completed_during_wait(tmp_path):
    """ADVICE r10: a build that COMPLETES during the (up to 10 s) lock
    acquisition wait inserts its memo entry after the cleanup's snapshot;
    the snapshot-time dir->key map would classify its finished dir
    'unmapped' and skip it whenever any other key is blocked. The map is
    now re-read under the lock after the acquisition loop, so the
    finished dir (its key never blocked — no build lock held) is deleted
    while the wedged key's dir still survives. Deterministic race: the
    wedged lock itself parks the cleanup thread inside the acquisition
    loop while the 'completing build' inserts its memo entry."""
    import threading
    import time

    from polarify_spark.operators import knn
    from polarify_spark.operators._memo import KNN_INDEX

    wedged_dir = tmp_path / "wedged_index"
    finished_dir = tmp_path / "finished_during_wait"
    wedged_dir.mkdir()
    finished_dir.mkdir()
    wedged_lock = threading.Lock()
    wedged_lock.acquire()
    KNN_INDEX.locks[("probe", "wedged2")] = wedged_lock
    knn._INDEX_DIRS.extend([str(wedged_dir), str(finished_dir)])
    KNN_INDEX.memo[("probe", "wedged2")] = (None, str(wedged_dir))
    orig_timeout = knn._CLEANUP_LOCK_TIMEOUT_S
    knn._CLEANUP_LOCK_TIMEOUT_S = 1.5

    t = threading.Thread(target=knn._cleanup_index_dirs)
    t.start()
    try:
        # cleanup is parked on the wedged lock; the finishing build
        # inserts its memo entry now — after the snapshot, before the
        # blocked-branch filter
        time.sleep(0.2)
        with KNN_INDEX.lock:
            KNN_INDEX.memo[("k", "finished")] = (None, str(finished_dir))
        t.join(timeout=30)
        assert not t.is_alive()

        assert wedged_dir.is_dir(), "wedged key's dir must survive"
        assert not finished_dir.is_dir(), (
            "dir of the build that completed during the wait must be "
            "deleted (its key was never blocked)"
        )
        assert ("k", "finished") not in KNN_INDEX.memo
        assert str(finished_dir) not in knn._INDEX_DIRS
    finally:
        knn._CLEANUP_LOCK_TIMEOUT_S = orig_timeout
        wedged_lock.release()
        gone = {str(wedged_dir), str(finished_dir)}
        knn._INDEX_DIRS[:] = [p for p in knn._INDEX_DIRS if p not in gone]
        KNN_INDEX.memo.pop(("probe", "wedged2"), None)
        KNN_INDEX.memo.pop(("k", "finished"), None)
        KNN_INDEX.locks.pop(("probe", "wedged2"), None)


def test_index_cleanup_spares_dirs_added_after_snapshot(tmp_path):
    """A dir registered AFTER the cleanup's snapshot (a first-touch build
    racing in on a brand-new key) must survive that cleanup — dir intact,
    still tracked, memo entry live — while snapshotted dirs are removed.
    The drain-all pop this replaces deleted the racing build's dir
    mid-write. Deterministic race: a held build lock parks the cleanup
    thread between its snapshot and the delete while the 'build'
    registers the late dir."""
    import threading

    from polarify_spark.operators import knn
    from polarify_spark.operators._memo import KNN_INDEX

    early = tmp_path / "early_index"
    late = tmp_path / "late_index"
    early.mkdir()
    late.mkdir()
    gate = threading.Lock()
    gate.acquire()  # parks the cleanup thread post-snapshot
    KNN_INDEX.locks[("probe", "gate")] = gate
    knn._INDEX_DIRS.append(str(early))
    KNN_INDEX.memo[("k", "early")] = (None, str(early))

    t = threading.Thread(target=knn._cleanup_index_dirs)
    t.start()
    try:
        # cleanup has snapshotted {early}; register the late dir while it
        # is parked on the gate, as a racing first-touch build would
        import time

        time.sleep(0.1)
        with KNN_INDEX.lock:
            knn._INDEX_DIRS.append(str(late))
            KNN_INDEX.memo[("k", "late")] = (None, str(late))
    finally:
        gate.release()
    t.join(timeout=15)
    assert not t.is_alive()

    try:
        assert not early.is_dir()
        assert ("k", "early") not in KNN_INDEX.memo
        assert late.is_dir(), "post-snapshot dir must survive"
        assert str(late) in knn._INDEX_DIRS, "post-snapshot dir stays tracked"
        assert KNN_INDEX.memo.get(("k", "late")) == (None, str(late))
    finally:
        knn._INDEX_DIRS[:] = [p for p in knn._INDEX_DIRS if p != str(late)]
        KNN_INDEX.memo.pop(("k", "late"), None)
        KNN_INDEX.locks.pop(("probe", "gate"), None)


def test_index_store_commit_marker_protocol(spark, tmp_path):
    """The two-table IVF index store is marker-committed (r12): the save
    removes the marker before writing and re-creates it only after both
    tables are in place, and the search refuses an unmarked dir — so a
    reader can never serve fresh assignments against stale centroids."""
    import pytest

    from polarify_spark.operators._memo import COMMIT_MARKER
    from polarify_spark.operators.knn import (
        _emb,
        _seed_centroids,
        save_ivf_index,
        search_ivf_index,
    )

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark, sf)
    path = str(tmp_path / "ivf")
    save_ivf_index(emb, _seed_centroids(emb), path)
    assert (tmp_path / "ivf" / COMMIT_MARKER).exists()

    queries = emb.limit(2)
    assert search_ivf_index(spark, path, queries, 3).count() > 0

    # an unmarked index (mid-write / crashed save / pre-marker layout)
    # must be refused, not silently served
    (tmp_path / "ivf" / COMMIT_MARKER).unlink()
    with pytest.raises(IOError, match="commit marker"):
        search_ivf_index(spark, path, queries, 3)

    # a re-save over the stale dir re-commits
    save_ivf_index(emb, _seed_centroids(emb), path)
    assert (tmp_path / "ivf" / COMMIT_MARKER).exists()
    assert search_ivf_index(spark, path, queries, 3).count() > 0
