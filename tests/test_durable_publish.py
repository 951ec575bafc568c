"""Fault injection for the durable-artifact publish (``_memo.materialize``).

The rename-atomic publish is: write a ``.tmp-`` sibling, create the
commit marker inside it, publish it with one no-overwrite rename, delete
the tmp in a ``finally``, and reap leftovers once a commit exists. Each
test aborts that protocol at one point by monkeypatching a module-level
step function in ``_memo`` and checks the caller still gets correct rows
from one valid commit, with no ``.tmp-`` debris left. Deterministic by
construction: no stress loops, no timing. Needs no testdata.
"""

from __future__ import annotations

import pytest

from polarify_spark.operators import _memo

NAME = "fault"


@pytest.fixture
def art_dir(spark, tmp_path):
    spark.conf.set(_memo.ARTIFACTS_DIR_CONF, str(tmp_path / "artifacts"))
    try:
        yield tmp_path / "artifacts"
    finally:
        spark.conf.unset(_memo.ARTIFACTS_DIR_CONF)


def _frames(spark):
    """(ours, winner): ``winner`` is committed by hand at ``ours``'s
    artifact path, with rows that tell the two apart."""
    return spark.range(10), spark.range(100, 110)


def _rows(df) -> set:
    return {r[0] for r in df.collect()}


def _commit_by_hand(df, path: str) -> None:
    """Another process's complete publish at ``path``."""
    from pathlib import Path

    df.write.parquet(path)
    (Path(path) / _memo.COMMIT_MARKER).touch()


def _assert_one_clean_commit(art_dir):
    names = [p.name for p in art_dir.iterdir()]
    assert len(names) == 1 and ".tmp-" not in names[0], names
    d = art_dir / names[0]
    assert (d / _memo.COMMIT_MARKER).exists() and (d / "_SUCCESS").exists()
    assert not any(".tmp-" in p.name for p in d.iterdir()), list(d.iterdir())


def test_racer_commit_before_our_rename_refuses_it(
    spark, art_dir, monkeypatch
):
    ours, winner = _frames(spark)
    path = _memo._artifact_path(ours, NAME)
    real_write, real_rename = _memo._write_parquet, _memo._rename
    refused = []

    def write_then_racer_commits(df, tmp):
        real_write(df, tmp)
        _commit_by_hand(winner, path)

    def spy_rename(fs, src, dst):
        try:
            real_rename(fs, src, dst)
        except Exception as e:
            refused.append(e.java_exception.getClass().getSimpleName())
            raise

    monkeypatch.setattr(_memo, "_write_parquet", write_then_racer_commits)
    monkeypatch.setattr(_memo, "_rename", spy_rename)
    got = _memo.materialize(ours, NAME)
    assert refused == ["FileAlreadyExistsException"]
    assert _rows(got) == set(range(100, 110))
    _assert_one_clean_commit(art_dir)


def test_localfs_nested_rename_child_is_removed(spark, art_dir, monkeypatch):
    """LocalFs checks dst, then renames: a racer landing in between makes
    the rename succeed INTO its dir, the legacy ``FileSystem.rename``
    behaviour this test plays back."""
    ours, winner = _frames(spark)
    path = _memo._artifact_path(ours, NAME)
    nested = []

    def check_then_racer_then_rename(fs, src, dst):
        _commit_by_hand(winner, dst)
        assert fs.rename(_memo._jpath(src), _memo._jpath(dst))
        child = art_dir / path.rsplit("/", 1)[-1] / src.rsplit("/", 1)[-1]
        nested.append(child.is_dir())

    monkeypatch.setattr(_memo, "_rename", check_then_racer_then_rename)
    got = _memo.materialize(ours, NAME)
    assert nested == [True]
    assert _rows(got) == set(range(100, 110))
    _assert_one_clean_commit(art_dir)


def test_crash_after_rename_leaves_a_valid_commit(spark, art_dir, monkeypatch):
    """The marker travels inside the renamed dir, so a writer that dies
    right after its rename has already committed: it and the next caller
    read its rows, and the next caller writes nothing."""
    ours = spark.range(10)
    real_rename, real_write = _memo._rename, _memo._write_parquet

    def rename_then_crash(fs, src, dst):
        real_rename(fs, src, dst)
        raise RuntimeError("writer died after its rename")

    monkeypatch.setattr(_memo, "_rename", rename_then_crash)
    assert _rows(_memo.materialize(ours, NAME)) == set(range(10))
    _assert_one_clean_commit(art_dir)

    writes = []
    monkeypatch.setattr(_memo, "_rename", real_rename)

    def counted_write(df, tmp):
        writes.append(tmp)
        real_write(df, tmp)

    monkeypatch.setattr(_memo, "_write_parquet", counted_write)
    again = _memo.materialize(spark.range(10), NAME)
    assert _rows(again) == set(range(10))
    assert writes == []


def test_unmarked_dir_left_at_path_is_replaced(spark, art_dir):
    """A complete parquet dir without the marker (a pre-marker artifact,
    or a writer of the older rename-then-mark order that died between the
    two) is replaced by a valid commit, never read."""
    ours, winner = _frames(spark)
    winner.write.parquet(_memo._artifact_path(ours, NAME))
    assert _rows(_memo.materialize(ours, NAME)) == set(range(10))
    _assert_one_clean_commit(art_dir)


@pytest.mark.parametrize(
    "job_fails", [True, False], ids=["job_fails", "job_ends"]
)
def test_winner_reap_mid_write_falls_back_to_winner(
    spark, art_dir, monkeypatch, job_fails
):
    """The winner commits and reaps while our write runs, deleting our
    tmp: our job either fails or finishes into a deleted dir (our marker
    then resurrects a marker-only tmp, whose rename is refused)."""
    ours, winner = _frames(spark)
    path = _memo._artifact_path(ours, NAME)
    real_write = _memo._write_parquet

    def write_reaped_by_winner(df, tmp):
        real_write(df, tmp)
        _commit_by_hand(winner, path)
        _memo._reap(_memo._hadoop_fs(spark, path), path)
        assert not any(".tmp-" in p.name for p in art_dir.iterdir())
        if job_fails:
            raise IOError(f"output dir {tmp} deleted mid-write")

    monkeypatch.setattr(_memo, "_write_parquet", write_reaped_by_winner)
    got = _memo.materialize(ours, NAME)
    assert _rows(got) == set(range(100, 110))
    _assert_one_clean_commit(art_dir)


def test_failure_without_commit_is_raised(spark, art_dir, monkeypatch):
    ours = spark.range(10)

    def broken_rename(fs, src, dst):
        raise IOError("injected rename failure")

    monkeypatch.setattr(_memo, "_rename", broken_rename)
    with pytest.raises(IOError, match="injected rename failure"):
        _memo.materialize(ours, NAME)
    assert list(art_dir.iterdir()) == [], "nothing committed, no tmp left"
    assert _memo.read_artifact(ours, NAME) is None
