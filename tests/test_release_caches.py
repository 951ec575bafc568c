"""release_shared_caches: the cross-query memos and catalog cache empty out,
and the operators still work (rebuild) afterwards."""

SF_DIR = "/root/testdata/sf0.001"


def test_release_shared_caches_empties_memos_and_catalog(spark):
    from polarify_spark.operators import release_shared_caches, similarity
    from polarify_spark.operators._memo import ANN, DEDUP

    # populate the ANN memo and the catalog cache through a real query
    similarity.QUERIES["similarity_topk_ivf"][0](spark, SF_DIR).count()
    assert ANN.memo, "expected the IVF build to memoize its index"

    release_shared_caches(spark)

    assert ANN.memo == []
    assert DEDUP.memo == []
    jcatalog = spark._jsparkSession.sharedState().cacheManager()
    assert jcatalog.isEmpty(), "catalog cache should be empty after release"

    # operators rebuild transparently after a release
    out = similarity.QUERIES["similarity_topk_ivf"][0](spark, SF_DIR)
    assert out.count() > 0
    assert ANN.memo, "rebuild should re-memoize"


def test_release_scope_dedup_keeps_ann_memo(spark):
    from polarify_spark.operators import dedup, release_shared_caches, similarity
    from polarify_spark.operators._memo import ANN, DEDUP

    similarity.QUERIES["similarity_topk_ivf"][0](spark, SF_DIR).count()
    dedup.QUERIES["dedup_minhash_lsh"][0](spark, SF_DIR).count()
    assert ANN.memo and DEDUP.memo

    release_shared_caches(spark, scope="dedup")
    assert DEDUP.memo == []
    assert ANN.memo, "ANN memo must survive a dedup-scoped release"

    release_shared_caches(spark, scope="all")
    assert ANN.memo == []


def test_release_rejects_unknown_scope(spark):
    import pytest as _pytest

    from polarify_spark.operators import release_shared_caches

    with _pytest.raises(ValueError, match="unknown release scope"):
        release_shared_caches(spark, scope="everything")


def test_memo_build_helpers_share_one_build_across_threads():
    """Two threads racing on the same memo key must share ONE build (the
    r7 locking convention across similarity/dedup/bpe); different keys
    must not serialize behind each other's builds."""
    import threading
    import time

    from polarify_spark.operators._memo import ANN, DEDUP

    for helper in (ANN.build, DEDUP.build):
        memo: dict = {}
        calls = []

        def build(tag):
            def run():
                calls.append(tag)
                time.sleep(0.05)
                return tag

            return run

        threads = [
            threading.Thread(target=lambda: helper(memo, "k", build("a")))
            for _ in range(4)
        ] + [
            threading.Thread(target=lambda: helper(memo, "k2", build("b")))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert calls.count("a") == 1 and calls.count("b") == 1, calls
        assert memo["k"] == "a" and memo["k2"] == "b"


def test_memo_build_survives_eviction_between_insert_and_return():
    """The shared helper returns the locally bound build result, so an
    eviction landing immediately after the insert (another corpus's LRU
    trim, or release_shared_caches clearing the memo) can never surface
    as a KeyError — the bug class the hand-rolled bpe copy had."""
    import threading

    from polarify_spark.operators._memo import memo_build

    registry = threading.Lock()
    memo: dict = {}
    locks: dict = {}

    # trim() runs under the registry lock right after the insert; clearing
    # the whole memo is the worst-case eviction
    out = memo_build(
        registry, memo, "k", lambda: "built", locks=locks, trim=memo.clear
    )
    assert out == "built"
    assert memo == {}  # evicted — and the call still returned the value


def test_bpe_release_preserves_build_locks():
    """release_shared_caches drops the BPE trained-state memo but NOT the
    per-corpus build-lock registry: clearing the locks would hand a racing
    thread a fresh lock mid-build, reviving the duplicate-train race."""
    import threading

    from polarify_spark.operators._memo import BPE

    with BPE.lock:
        BPE.locks.setdefault("corpus-x", threading.Lock())

    import polarify_spark.operators as ops

    class _NoopSpark:
        class catalog:  # noqa: N801 — mimics SparkSession.catalog
            @staticmethod
            def clearCache():  # noqa: N802 — Spark API name
                pass

        class sparkContext:  # noqa: N801
            _jvm = None

    ops.release_shared_caches(_NoopSpark(), scope="all")
    assert "corpus-x" in BPE.locks
    assert BPE.memo == {}


def test_corpus_memo_build_session_guard_and_sharing():
    """MemoFamily.get (the bpe/ml trained-artifact shape): same-session
    racers share ONE build; a hit bound to a DIFFERENT session object is
    evicted and rebuilt (never served — its frames die with the old
    context); the LRU cap trims oldest corpora; and a racer that finds a
    foreign entry re-inserted mid-cycle retries once and MEMOIZES its
    rebuild (VERDICT r13 #1 — pre-r14 this was an unmemoized private
    rebuild per caller)."""
    import threading
    import time

    from polarify_spark.operators._memo import MemoFamily

    fam = MemoFamily("test", 4, "key")
    memo = fam.memo
    sess_a, sess_b = object(), object()
    calls: list = []

    def build(tag):
        def run():
            calls.append(tag)
            time.sleep(0.02)
            return tag

        return run

    # same session, same key, racing threads -> one build
    threads = [
        threading.Thread(
            target=lambda: fam.get(sess_a, "sf1", build("a"))
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls.count("a") == 1
    assert memo["sf1"] == (sess_a, "a")

    # a different session must evict and rebuild, not serve sess_a's value
    out = fam.get(sess_b, "sf1", build("b"))
    assert out == "b" and memo["sf1"] == (sess_b, "b")

    # cap: oldest corpora trimmed
    for i in range(6):
        fam.get(sess_b, f"c{i}", build(f"v{i}"))
    assert len(memo) <= 4

    # race shape: an entry for ANOTHER session inserted between our
    # eviction and memo_build's check -> retry evicts it again and
    # memoizes OUR build (single-build contract after a session swap)
    memo.clear()
    memo["sfX"] = (sess_a, "theirs")
    # simulate: sess_b's pre-check evicted, then sess_a re-inserted; force
    # by calling with a build that would return "mine" while the dict
    # already holds sess_a's entry under the SAME key at memo_build time

    class _InsertingLock:
        """Context manager that re-inserts sess_a's entry ONCE, at the
        first acquisition that observes the key evicted (sess_b's
        memo_build lock-setdefault pass, right after its eviction)."""

        def __init__(self, inner):
            self.inner = inner
            self.fired = False

        def __enter__(self):
            self.inner.acquire()
            if not self.fired and "sfX" not in memo:
                self.fired = True
                memo["sfX"] = (sess_a, "theirs")
            return self

        def __exit__(self, *exc):
            self.inner.release()

    fam.lock = _InsertingLock(threading.Lock())
    out = fam.get(sess_b, "sfX", build("mine"))
    assert out == "mine"
    assert calls.count("mine") == 1  # built exactly once, on the retry
    assert memo["sfX"] == (sess_b, "mine")  # ...and MEMOIZED, not private


def test_corpus_memo_build_persistent_foreign_racer_bounded_fallback():
    """A foreign entry re-inserted on EVERY cycle (a second live session
    hammering the same key — not a real deployment shape) must exhaust
    the single retry and fall back to one bounded private rebuild, never
    an unbounded evict/rebuild ping-pong."""
    import threading

    from polarify_spark.operators._memo import MemoFamily

    fam = MemoFamily("test", 4, "key")
    memo = fam.memo
    sess_a, sess_b = object(), object()
    calls: list = []
    memo["sfX"] = (sess_a, "theirs")

    class _AlwaysInsertingLock:
        def __init__(self, inner):
            self.inner = inner

        def __enter__(self):
            self.inner.acquire()
            if "sfX" not in memo:
                memo["sfX"] = (sess_a, "theirs")
            return self

        def __exit__(self, *exc):
            self.inner.release()

    def build():
        calls.append("mine")
        return "mine"

    fam.lock = _AlwaysInsertingLock(threading.Lock())
    out = fam.get(sess_b, "sfX", build)
    assert out == "mine"
    assert calls == ["mine"]  # exactly one fallback build
    assert memo["sfX"] == (sess_a, "theirs")  # adversary's entry stands


def test_corpus_memo_build_new_session_threads_share_one_build():
    """Two threads of a NEW session racing a stale entry — with an old-
    session racer re-inserting its entry mid-cycle — must share exactly
    ONE build (VERDICT r13 #1's done-criterion; pre-r14 every caught
    thread ran its own full unmemoized training build)."""
    import threading
    import time

    from polarify_spark.operators._memo import MemoFamily

    fam = MemoFamily("test", 4, "key")
    memo = fam.memo
    sess_a, sess_b = object(), object()
    calls: list = []
    calls_lock = threading.Lock()
    memo["sfX"] = (sess_a, "theirs")

    class _FireOnceLock:
        """Re-inserts the old session's entry at the first acquisition
        (by ANY thread) that observes the key evicted."""

        def __init__(self, inner):
            self.inner = inner
            self.fired = False

        def __enter__(self):
            self.inner.acquire()
            if not self.fired and "sfX" not in memo:
                self.fired = True
                memo["sfX"] = (sess_a, "theirs")
            return self

        def __exit__(self, *exc):
            self.inner.release()

    def build():
        with calls_lock:
            calls.append("mine")
        time.sleep(0.02)  # widen the window so racers pile on the lock
        return "mine"

    fam.lock = _FireOnceLock(threading.Lock())
    barrier = threading.Barrier(2)
    results: list = []

    def run():
        barrier.wait()
        results.append(fam.get(sess_b, "sfX", build))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results == ["mine", "mine"]
    assert calls == ["mine"], calls  # exactly one build across both
    assert memo["sfX"] == (sess_b, "mine")


def _attached(memo: dict) -> bool:
    """Whether ``memo`` is still a dict of the DEDUP registry."""
    from polarify_spark.operators._memo import DEDUP

    with DEDUP.lock:
        return any(m is memo for _src, m in DEDUP.memo)


def test_release_quiesces_inflight_handle_build(spark):
    """A release racing a mid-flight simhash handle build must not leave a
    handle whose memo dict is detached from the registry (ADVICE r12 —
    such a handle would pin the detached dict's checkpoints past the
    release). The fix: ``release_shared_caches``
    acquires every per-key handle lock before the paired clears, so it
    BLOCKS behind the builder and the clears always run after the racing
    insert — afterwards the handle memo is empty and a fresh build
    re-registers an ATTACHED memo."""
    import threading

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import DEDUP, SIMHASH_HANDLE

    key = "race-inflight-handle"
    grams = spark.range(4).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    mid_build = threading.Event()
    finish = threading.Event()
    result = {}

    def build():
        memo = DEDUP.corpus(grams)  # reads the PRE-clear registry
        mid_build.set()
        assert finish.wait(timeout=30)
        return memo, grams

    def builder():
        result["entry"] = SIMHASH_HANDLE.get(spark, key, build)

    b = threading.Thread(target=builder)
    b.start()
    assert mid_build.wait(timeout=30)
    r = threading.Thread(
        target=lambda: release_shared_caches(spark, scope="dedup")
    )
    r.start()
    # the release must quiesce BEHIND the in-flight build (pre-fix it
    # interleaved its clears with the build and returned immediately)
    r.join(timeout=0.5)
    assert r.is_alive(), "release should block on the in-flight build"
    finish.set()
    b.join(timeout=30)
    r.join(timeout=30)
    assert not b.is_alive() and not r.is_alive()

    # the clears ran AFTER the insert: no handle survives the release, so
    # the detached memo the builder produced is unreachable
    with SIMHASH_HANDLE.lock:
        assert SIMHASH_HANDLE.memo == {}
    memo, _ = result["entry"]
    assert not _attached(memo), "builder's memo is detached"
    assert DEDUP.src(memo) is grams, "a detached dict still names its corpus"

    # a fresh consumer rebuilds an ATTACHED handle transparently
    fresh_memo, _ = SIMHASH_HANDLE.get(
        spark, key, lambda: (DEDUP.corpus(grams), grams)
    )
    assert _attached(fresh_memo)

    # drop the synthetic key so later tests see pristine registries
    release_shared_caches(spark, scope="dedup")


def test_release_stress_never_leaves_detached_handles(spark):
    """Randomized interleaving sweep over the quiesce fix: builder threads
    hammer the simhash handle memo across several keys while releases run
    concurrently. Keys are pre-seeded so every per-key lock exists before
    the stress (the documented residual needs a first-touch key), hence
    the post-condition is unconditional: every handle left in the memo
    must point at a memo dict still attached to the registry."""
    import random
    import threading
    import time

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import DEDUP, SIMHASH_HANDLE

    keys = [f"stress-{i}" for i in range(4)]
    frames = {
        k: spark.range(i + 2).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text"
        )
        for i, k in enumerate(keys)
    }

    def build_for(key):
        def build():
            memo = DEDUP.corpus(frames[key])
            time.sleep(random.uniform(0, 0.01))  # widen the race window
            return memo, frames[key]

        return build

    def touch(key):
        return SIMHASH_HANDLE.get(spark, key, build_for(key))

    for k in keys:  # pre-seed the per-key locks
        touch(k)

    stop = threading.Event()
    errors = []

    def builder():
        try:
            while not stop.is_set():
                touch(random.choice(keys))
        except Exception as exc:  # noqa: BLE001 — surface in main thread
            errors.append(exc)

    def releaser():
        try:
            for _ in range(10):
                release_shared_caches(spark, scope="dedup")
                time.sleep(random.uniform(0, 0.005))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    builders = [threading.Thread(target=builder) for _ in range(4)]
    releasers = [threading.Thread(target=releaser) for _ in range(2)]
    for t in builders + releasers:
        t.start()
    for t in releasers:
        t.join(timeout=60)
    stop.set()
    for t in builders:
        t.join(timeout=60)
    assert not errors, errors
    assert all(not t.is_alive() for t in builders + releasers)

    with SIMHASH_HANDLE.lock:
        leftovers = list(SIMHASH_HANDLE.memo.values())
    for _session, (memo, _frame) in leftovers:
        assert _attached(memo), "detached handle survived a release"

    release_shared_caches(spark, scope="dedup")  # pristine for later tests
