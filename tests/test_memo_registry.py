"""The memo-family registry (``operators._memo.FAMILIES``): one build
record per executed build, stable key labels, release scopes by family,
and the durable artifact naming. Needs no generated testdata: corpora are
``spark.range`` frames or small parquet files written under tmp_path."""

from __future__ import annotations

import logging

import pytest

from polarify_spark.operators._memo import (
    ARTIFACTS_DIR_CONF,
    COMMIT_MARKER,
    FAMILIES,
    MemoFamily,
    artifact_key,
    key_label,
)

LOGGER = "polarify_spark.memo"


@pytest.fixture
def records(caplog):
    """The memo build records emitted during the test."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    return lambda: [r for r in caplog.records if r.name == LOGGER]


def test_key_family_build_emits_one_record_and_hits_none(records):
    fam = MemoFamily("probe_key", 4, "key")
    sess_a, sess_b = object(), object()
    calls = []

    def build():
        calls.append(1)
        return "value"

    assert fam.get(sess_a, "sf", build) == "value"
    (rec,) = records()
    assert (rec.family, rec.key, rec.event, rec.mode) == (
        "probe_key",
        "sf",
        "build",
        "local",
    )
    assert rec.wall_ms >= 0

    assert fam.get(sess_a, "sf", build) == "value"  # a hit: no record
    assert len(records()) == 1 and len(calls) == 1

    # a hit bound to another session is evicted and rebuilt
    assert fam.get(sess_b, "sf", build) == "value"
    assert [r.event for r in records()] == ["build", "rebuild"]
    assert len(calls) == 2


def test_plan_family_build_emits_one_record_and_hits_none(spark, records):
    fam = MemoFamily("probe_plan", 4, "plan")
    src = spark.range(8)
    memo = fam.corpus(src)
    # an independently built plan with the same semantics finds the dict
    assert fam.corpus(spark.range(8)) is memo
    assert fam.src(memo) is src

    key = ("topk", "bf")
    assert fam.build(memo, key, lambda: 1) == 1
    assert fam.build(memo, key, lambda: 2) == 1  # a hit
    assert fam.build(memo, "other", lambda: 3) == 3
    assert [(r.family, r.key) for r in records()] == [
        ("probe_plan", "('topk', 'bf')"),
        ("probe_plan", "other"),
    ]


def test_key_labels_match_the_bench_normalization(spark, tmp_path):
    # a str key as-is; anything else its repr, object addresses dropped
    assert key_label("materialized") == "materialized"
    assert key_label(("components", "lp")) == "('components', 'lp')"
    cls = type(spark)
    session = f"<{cls.__module__}.{cls.__qualname__}>"
    assert key_label((spark, "/data/sf")) == f"({session}, '/data/sf')"
    assert "0x" not in key_label((object(), 1))


def test_span_plan_build_record_carries_the_session_keyed_label(
    spark, tmp_path, records
):
    from polarify_spark.operators import dedup

    spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    plan = dedup._span_windows_plan(spark, sf)
    assert dedup._span_windows_plan(spark, sf) is plan  # a hit
    cls = type(spark)
    label = f"(<{cls.__module__}.{cls.__qualname__}>, {sf!r})"
    assert [(r.family, r.key) for r in records()] == [("span_plan", label)]
    FAMILIES["span_plan"].memo.pop((spark, sf), None)


class _NoopSpark:
    """Just enough SparkSession for release_shared_caches' tail."""

    class catalog:  # noqa: N801 — mimics SparkSession.catalog
        @staticmethod
        def clearCache():  # noqa: N802 — Spark API name
            pass

    class sparkContext:  # noqa: N801
        _jvm = None


@pytest.mark.parametrize(
    "scope, dropped",
    [
        ("dedup", {"dedup", "span_plan", "simhash_handle"}),
        ("ann", {"ann"}),
        ("all", set(FAMILIES) - {"knn_index", "jsonl_export"}),
    ],
)
def test_release_scope_drops_exactly_its_families(scope, dropped):
    from polarify_spark.operators import release_shared_caches

    saved = {name: fam.memo.copy() for name, fam in FAMILIES.items()}
    try:
        for fam in FAMILIES.values():
            if fam.by == "plan":
                fam.memo.append((object(), {}))
            else:
                fam.memo["sentinel"] = (None, "value")
        release_shared_caches(_NoopSpark(), scope=scope)
        assert {n for n, f in FAMILIES.items() if not f.memo} == dropped
    finally:
        for name, fam in FAMILIES.items():
            fam.clear()
            if fam.by == "plan":
                fam.memo.extend(saved[name])
            else:
                fam.memo.update(saved[name])


def test_jsonl_export_keys_build_concurrently_and_outlive_all(records):
    import threading

    from polarify_spark.operators import release_shared_caches

    fam = FAMILIES["jsonl_export"]
    assert (fam.by, fam.scopes) == ("key", ())
    # each build waits for the other: two keys that serialized on one
    # lock would break the barrier instead
    barrier = threading.Barrier(2, timeout=10)
    out: dict = {}

    def export(key):
        def build():
            barrier.wait()
            return f"/exports/{key}"

        out[key] = fam.get(None, key, build)

    try:
        threads = [threading.Thread(target=export, args=(k,)) for k in ("a", "b")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=20)
        assert not any(t.is_alive() for t in threads)
        assert out == {"a": "/exports/a", "b": "/exports/b"}
        assert sorted(r.key for r in records() if r.family == "jsonl_export") == [
            "a",
            "b",
        ]
        release_shared_caches(_NoopSpark(), scope="all")
        assert {"a", "b"} <= set(fam.memo)
    finally:
        fam.memo.pop("a", None)
        fam.memo.pop("b", None)


def test_jsonl_export_dirs_are_reaped_unless_in_flight(tmp_path):
    import threading

    from polarify_spark.streaming import jobs

    fam = FAMILIES["jsonl_export"]
    trimmed, live, busy = (tmp_path / n for n in ("trimmed", "live", "busy"))
    for d in (trimmed, live, busy):
        d.mkdir()
    saved = list(jobs._JSONL_EXPORT_DIRS)
    jobs._JSONL_EXPORT_DIRS[:] = [
        ("sf", str(trimmed)),  # the cap dropped its memo entry
        ("sf", str(live)),
        ("sf_busy", str(busy)),
    ]
    fam.memo["sf"] = (None, str(live))
    fam.locks.setdefault("sf", threading.Lock())
    busy_lock = fam.locks.setdefault("sf_busy", threading.Lock())
    try:
        with busy_lock:  # an export of sf_busy is in flight
            jobs._reap_jsonl_exports()
        assert not trimmed.exists() and not live.exists() and "sf" not in fam.memo
        assert busy.exists() and jobs._JSONL_EXPORT_DIRS == [("sf_busy", str(busy))]
    finally:
        jobs._JSONL_EXPORT_DIRS[:] = saved
        fam.memo.pop("sf", None)


def test_plan_family_durable_dir_is_named_by_the_corpus_key(
    spark, tmp_path, records
):
    fam = MemoFamily("probe_durable", 4, "plan")
    src = spark.range(5).selectExpr("id AS doc_id")
    memo = fam.corpus(src)
    art_dir = tmp_path / "artifacts"
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        out = fam.artifact(memo, "evens", lambda: src.where("doc_id % 2 = 0"))
        assert sorted(r.doc_id for r in out.collect()) == [0, 2, 4]
        assert fam.artifact(memo, "evens", lambda: src) is out  # a hit
        # name defaults to the key; a tuple key passes its on-disk name
        fam.artifact(memo, ("odd", 1), lambda: src.where("doc_id % 2 = 1"), "odd1")
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
    key = artifact_key(src)
    assert sorted(p.name for p in art_dir.iterdir()) == [
        f"evens-{key}",
        f"odd1-{key}",
    ]
    assert (art_dir / f"evens-{key}" / COMMIT_MARKER).exists()
    assert [(r.key, r.mode) for r in records()] == [
        ("evens", "durable"),
        ("('odd', 1)", "durable"),
    ]


def test_detached_dict_keys_its_artifact_by_the_corpus(spark, tmp_path):
    """A dict released between two ``artifact`` calls on it still keys its
    durable artifacts by the corpus that registered it: the dir is
    ``<name>-<artifact_key(src)>``, the one a later session looks up, and
    not one keyed by the built plan."""
    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import DEDUP

    src = spark.range(6).selectExpr("id AS doc_id")
    memo = DEDUP.corpus(src)
    release_shared_caches(spark, scope="dedup")
    art_dir = tmp_path / "artifacts"
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        out = DEDUP.artifact(memo, "x", lambda: src.where("doc_id < 3"))
        assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2]
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
    assert [p.name for p in art_dir.iterdir()] == [f"x-{artifact_key(src)}"]
