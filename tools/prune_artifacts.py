#!/usr/bin/env python
"""Retention sweep for the durable memo-artifact directory (VERDICT r14 #2).

``polarify_spark.operators._memo.materialize`` publishes each artifact
ONCE under ``<dir>/<family>-<key16>`` and never deletes: at pipeline
cadence (every corpus snapshot changes the plan/input-file key of every
family) the directory grows without bound — factor-100 artifacts are
already 160-200 MB each (SCALE.md r14). This sweep is the retention half
the commit protocol deliberately left out of the hot path:

* COMMITTED artifacts (marker + ``_SUCCESS`` pair, the same validity
  test ``materialize`` gates reads on) are grouped by family — the
  ``<family>`` prefix before the 16-hex key suffix — and the newest
  ``keep`` per family by commit time survive; older generations are
  deleted. An optional TTL additionally drops survivors whose commit is
  older than ``ttl_seconds`` (a corpus key nothing will ever ask for
  again should not be kept just for being its family's newest). An
  optional per-family BYTE budget (``max_bytes``) then evicts the
  oldest-committed survivors beyond it — the backstop when
  concurrently-live configurations proliferate past any sensible
  ``keep`` (see README on the keep-vs-configurations subtlety).
* UNCOMMITTED dirs (missing either commit file: object-store writers
  that crashed mid-write, pre-marker-protocol leftovers) and orphaned
  ``.tmp-`` siblings (rename-atomic writers that died before their
  publishing rename) are reaped once older than a grace window (default
  60 min), so a LIVE writer mid-publish is never raced — ``materialize``
  itself reaps tmp leftovers once a commit exists, this catches the
  ones no later publish of the same artifact came by to reap.

Deleting an artifact a RUNNING session holds a lazy frame over breaks
that session's subsequent reads (the standard retention trade-off, same
as any compaction/VACUUM): run the sweep between pipeline runs, or keep
``keep >= 2`` so the previous generation survives one overlap.

Backends: plain local paths need no JVM; any Hadoop filesystem URI
(hdfs://, s3a://, ...) is served through a classic SparkSession's Hadoop
FileSystem API (``--hadoop`` builds a throwaway ``local[1]`` session, or
pass your own session to :func:`prune_artifacts`). Both backends drive
the identical policy code.

CLI::

    PYTHONPATH=. python tools/prune_artifacts.py --dir /data/artifacts \
        --keep 2 [--ttl-hours 168] [--max-bytes N] [--grace-minutes 60] \
        [--dry-run]

Prints one JSON report line: kept / deleted / reaped, per path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

#: committed-artifact dir basename: ``<family>-<16-hex plan+files key>``
#: (see ``_memo.artifact_key``); family names may themselves contain
#: dashes, the key suffix is unambiguous.
_ARTIFACT_RE = re.compile(r"^(?P<family>.+)-(?P<key>[0-9a-f]{16})$")

#: writer-private staging dirs: ``<artifact>.tmp-<uuid hex>`` siblings.
_TMP_RE = re.compile(r"^.+-[0-9a-f]{16}\.tmp-[0-9a-f]+$")

# the reader gate's marker name comes from the protocol's single source
# of truth — a rename in _memo must not leave this sweep classifying
# every committed artifact as reapable leftovers (review r15). The
# import is JVM-free (_memo touches no py4j at module scope).
import sys as _sys  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in _sys.path:
    _sys.path.insert(0, _REPO)
from polarify_spark.operators._memo import (  # noqa: E402
    COMMIT_MARKER as _COMMIT_MARKER,
)

# a valid commit carries BOTH files (_memo._committed's exact test);
# _SUCCESS is Hadoop's own committer convention, stable by contract.
_SUCCESS = "_SUCCESS"


class LocalFS:
    """The policy's filesystem seam, local-path arm (os/shutil)."""

    def list_dirs(self, base: str) -> "list[str]":
        try:
            names = sorted(os.listdir(base))
        except FileNotFoundError:
            return []
        return [
            os.path.join(base, n)
            for n in names
            if os.path.isdir(os.path.join(base, n))
        ]

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def newest_mtime(self, path: str) -> float:
        """Most recent mtime of any FILE under ``path`` (recursive),
        falling back to the dir's own mtime when it holds no files yet.
        This — not the top-level dir mtime — is what the grace window
        keys on (review r15): a dir's mtime freezes once its direct
        children exist, so a parquet job streaming task files into
        nested ``_temporary`` dirs for longer than the grace window
        would look abandoned while actively being written. A dir with
        NO files yet reports ``inf`` — unknown age reads as "just now",
        so it is never reaped (a writer may be about to populate it;
        an empty leftover shell costs nothing to keep)."""
        newest = float("-inf")
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
                except OSError:
                    pass  # racing writer renamed/removed it; skip
        return newest if newest > float("-inf") else float("inf")

    def delete(self, path: str) -> None:
        # Commit marker FIRST (advice r15): a partial rmtree failure
        # (permission error mid-walk) can remove part files while
        # leaving the marker + _SUCCESS pair intact, and read_artifact's
        # gate would then serve an incomplete artifact until a retried
        # sweep succeeds. A single unlink invalidates the reader gate
        # atomically before any data file goes away.
        try:
            os.unlink(os.path.join(path, _COMMIT_MARKER))
        except FileNotFoundError:
            pass  # uncommitted/tmp dirs carry no marker
        shutil.rmtree(path)

    def size(self, path: str) -> int:
        """Total bytes of all FILES under ``path`` (recursive)."""
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass  # racing writer renamed/removed it; skip
        return total

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)


class HadoopFS:
    """Same seam over a classic session's Hadoop FileSystem (hdfs/s3a/...).

    Exercised against ``file:`` URIs in tests — the py4j surface is
    identical across schemes. Scheme differences that DO matter to a
    read-and-delete sweep (review r15): object stores have no real
    directory objects, so *directory* modification times are synthetic
    (0 or listing-time depending on the Hadoop version) — every age
    decision therefore keys on :meth:`newest_mtime`, the max over FILE
    statuses, which are real object timestamps on every scheme. This is
    doubly load-bearing on s3a, where ``_memo``'s publish writes parquet
    DIRECTLY to the final path (marker lands last): until the marker the
    dir is classified uncommitted, and a dir-mtime of 0 would age it
    straight past any grace window while the writer is mid-flight."""

    def __init__(self, spark, base: str):
        # Probe with try/except, not hasattr (advice r15): pyspark
        # Connect's ``sparkContext`` property raises
        # PySparkNotImplementedError — not AttributeError — so hasattr
        # would propagate the provider's error instead of the friendly
        # redirect below.
        try:
            sc = getattr(spark, "sparkContext")
            jss = getattr(spark, "_jsparkSession")
        except Exception as exc:
            raise NotImplementedError(
                "HadoopFS pruning requires a classic (non-Connect) "
                "SparkSession; run the sweep where the artifacts dir is "
                "locally mounted instead."
            ) from exc
        if sc is None or jss is None:
            raise NotImplementedError(
                "HadoopFS pruning requires a classic (non-Connect) "
                "SparkSession; run the sweep where the artifacts dir is "
                "locally mounted instead."
            )
        self._jpath = sc._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(base).getFileSystem(
            sc._jsc.hadoopConfiguration()
        )

    def list_dirs(self, base: str) -> "list[str]":
        p = self._jpath(base)
        if not self._fs.exists(p):
            return []
        out = []
        for st in self._fs.listStatus(p):
            if st.isDirectory():
                out.append(st.getPath().toString())
        return sorted(out)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._jpath(path))

    def mtime(self, path: str) -> float:
        return self._fs.getFileStatus(self._jpath(path)).getModificationTime() / 1000.0

    def newest_mtime(self, path: str) -> float:
        """Max FILE mtime under ``path`` (recursive ``listFiles``);
        ``inf`` ("just now", never reaped) when it holds no files. See
        :class:`LocalFS.newest_mtime` and the class docstring for why
        dir mtimes are never used for age decisions."""
        newest = float("-inf")
        try:
            it = self._fs.listFiles(self._jpath(path), True)
            while it.hasNext():
                newest = max(
                    newest, it.next().getModificationTime() / 1000.0
                )
        except Exception:
            pass  # racing writer removed entries mid-listing; skip
        return newest if newest > float("-inf") else float("inf")

    def delete(self, path: str) -> None:
        # Same marker-first order as LocalFS.delete (advice r15): a
        # single-file delete closes the reader gate atomically before
        # any data file goes away.
        marker = self._jpath(self.join(path, _COMMIT_MARKER))
        if self._fs.exists(marker):
            if not self._fs.delete(marker, False) and self._fs.exists(marker):
                raise IOError(f"delete returned false: {marker}")
        # Several Hadoop filesystems signal failure by RETURNING FALSE
        # without throwing (advice r15) — surface that as an error so
        # the caller's per-path failure accounting triggers. False with
        # the path already gone is the racing-sweep success case.
        if not self._fs.delete(self._jpath(path), True) and self.exists(path):
            raise IOError(f"delete returned false: {path}")

    def size(self, path: str) -> int:
        """Total bytes of all FILES under ``path`` — Hadoop's own
        recursive ContentSummary (real object sizes on every scheme)."""
        return int(
            self._fs.getContentSummary(self._jpath(path)).getLength()
        )

    def join(self, *parts: str) -> str:
        return "/".join(p.rstrip("/") for p in parts)


def scan_artifacts(base: str, fs=None) -> dict:
    """Classify every child dir of ``base``.

    Returns ``{"committed": [(family, path, commit_mtime)],
    "uncommitted": [(path, newest_mtime)], "tmp": [(path, newest_mtime)],
    "foreign": [path]}`` — foreign (non-artifact-shaped) dirs are listed
    so the report shows them, and never touched: the sweep only ever
    deletes paths that match the artifact/tmp naming contract.

    Age semantics (review r15): committed entries carry the COMMIT
    MARKER file's mtime (created last by the publish protocol); the
    grace-gated uncommitted/tmp entries carry the newest FILE mtime
    under the dir — a possibly-live writer keeps producing task files,
    while the top-level dir mtime freezes at job start (and is synthetic
    on object stores), so dir mtimes are never consulted for age."""
    fs = fs or LocalFS()
    committed, uncommitted, tmp, foreign = [], [], [], []
    for path in fs.list_dirs(base):
        name = path.rstrip("/").rsplit("/", 1)[-1]
        if _TMP_RE.match(name):
            tmp.append((path, fs.newest_mtime(path)))
            continue
        m = _ARTIFACT_RE.match(name)
        if not m:
            foreign.append(path)
            continue
        marker = fs.join(path, _COMMIT_MARKER)
        if fs.exists(marker) and fs.exists(fs.join(path, _SUCCESS)):
            # commit time = the marker's mtime (created last, strictly
            # after every part file — the publish protocol's own order)
            committed.append((m.group("family"), path, fs.mtime(marker)))
        else:
            uncommitted.append((path, fs.newest_mtime(path)))
    return {
        "committed": committed,
        "uncommitted": uncommitted,
        "tmp": tmp,
        "foreign": foreign,
    }


def plan_retention(
    committed: "list[tuple[str, str, float]]",
    keep: int,
    ttl_seconds: "float | None",
    now: float,
) -> "tuple[list[str], list[str]]":
    """Pure policy: (kept paths, deleted paths) over committed entries.

    Newest ``keep`` per family by commit time survive; a TTL then drops
    any survivor older than ``ttl_seconds`` regardless of rank. Ties on
    mtime break by path so the plan is deterministic."""
    if keep < 0:
        raise ValueError(f"keep must be >= 0, got {keep}")
    by_family: "dict[str, list[tuple[float, str]]]" = {}
    for family, path, mtime in committed:
        by_family.setdefault(family, []).append((mtime, path))
    kept, deleted = [], []
    for entries in by_family.values():
        entries.sort(key=lambda e: (-e[0], e[1]))
        for rank, (mtime, path) in enumerate(entries):
            expired = ttl_seconds is not None and (now - mtime) > ttl_seconds
            if rank < keep and not expired:
                kept.append(path)
            else:
                deleted.append(path)
    return sorted(kept), sorted(deleted)


def plan_size_budget(
    committed: "list[tuple[str, str, float]]",
    kept: "list[str]",
    max_bytes: int,
    sizes: "dict[str, int]",
) -> "tuple[list[str], list[str]]":
    """Pure policy: per-family byte budget over the keep/TTL survivors.

    Walking each family's survivors newest-commit-first, entries are
    kept while the family's cumulative size stays within ``max_bytes``;
    the oldest beyond the budget are evicted (VERDICT r15 ask #4 — the
    last unbounded-growth vector when concurrently-live configurations
    proliferate past any sensible ``keep``). The budget is a HARD cap:
    a newest artifact that alone exceeds it is evicted too (the memo
    re-publishes on next use — an unbounded dir does not self-heal).

    The semantics are CONTIGUOUS-PREFIX, not knapsack (ADVICE r16 #1):
    an evicted entry's bytes still count toward the running family
    total, so once ANY generation busts the budget every older one goes
    too — sizes newest-first ``[10, 1000, 10]`` under budget 100 keep
    only the newest, even though the oldest would also fit. Deliberate:
    the kept set is always the newest generations with nothing skipped
    in between, so "what survives" is answerable from the budget alone
    without knowing per-artifact sizes, and a single oversized
    generation cannot shadow-extend the tail of a family it already
    blew the budget on. Ties on mtime break by path, matching
    :func:`plan_retention`.

    Returns ``(kept, evicted)`` — both sorted."""
    if max_bytes < 0:
        raise ValueError(f"max_bytes must be >= 0, got {max_bytes}")
    kept_set = set(kept)
    by_family: "dict[str, list[tuple[float, str]]]" = {}
    for family, path, mtime in committed:
        if path in kept_set:
            by_family.setdefault(family, []).append((mtime, path))
    still_kept, evicted = [], []
    for entries in by_family.values():
        entries.sort(key=lambda e: (-e[0], e[1]))
        total = 0
        for _mtime, path in entries:
            total += sizes.get(path, 0)
            if total <= max_bytes:
                still_kept.append(path)
            else:
                evicted.append(path)
    return sorted(still_kept), sorted(evicted)


def prune_artifacts(
    base: str,
    keep: int = 2,
    ttl_seconds: "float | None" = None,
    grace_seconds: float = 3600.0,
    dry_run: bool = False,
    fs=None,
    now: "float | None" = None,
    max_bytes: "int | None" = None,
) -> dict:
    """Scan, plan, and (unless ``dry_run``) delete. Returns the report.

    ``keep`` defaults to 2 — the previous generation survives one
    overlapping pipeline run (see module docstring). Uncommitted and tmp
    dirs younger than ``grace_seconds`` are left for their (possibly
    live) writer.

    Report semantics (ADVICE r16 #2): ``kept`` reflects what ACTUALLY
    survives on disk, including committed artifacts whose planned
    eviction failed but which remain fully servable (marker +
    ``_SUCCESS`` intact) — those appear in both ``failed`` and
    ``kept``. Under ``max_bytes`` this means the per-family bytes of
    ``kept`` can EXCEED the stated budget until a retry sweep
    converges; a consumer reconciling capacity should treat
    ``max_bytes`` as the plan's target and ``kept`` as ground truth."""
    if max_bytes is not None and max_bytes < 0:
        # fail fast, BEFORE the scan and the per-survivor size
        # measurement (one recursive listing each — on an object store,
        # one getContentSummary RPC per survivor)
        raise ValueError(f"max_bytes must be >= 0, got {max_bytes}")
    fs = fs or LocalFS()
    now = time.time() if now is None else now
    state = scan_artifacts(base, fs=fs)
    kept, deleted = plan_retention(state["committed"], keep, ttl_seconds, now)
    evicted: "list[str]" = []
    if max_bytes is not None:
        # sizes are measured only when a budget is set — one recursive
        # listing per keep/TTL survivor, never for already-planned
        # deletions. A survivor whose size cannot be read (racing
        # delete) counts as 0 bytes: it stays kept, never evicted on
        # an indeterminate measurement.
        sizes = {}
        for p in kept:
            try:
                sizes[p] = fs.size(p)
            except Exception:
                sizes[p] = 0
        kept, evicted = plan_size_budget(
            state["committed"], kept, max_bytes, sizes
        )
        deleted = sorted(deleted + evicted)
    reap_unc = sorted(
        p for p, m in state["uncommitted"] if (now - m) > grace_seconds
    )
    reap_tmp = sorted(p for p, m in state["tmp"] if (now - m) > grace_seconds)
    failed: "list[str]" = []
    if not dry_run:
        for path in deleted + reap_unc + reap_tmp:
            # per-path, never abort-the-sweep (review r15): an
            # overlapping sweep or a writer finishing between scan and
            # delete can make a target vanish or briefly resist deletion
            # — the report must still account for every path either way.
            try:
                fs.delete(path)
            except Exception:
                # the exists() probe can ITSELF throw on the Hadoop
                # backend (transient FS/py4j error, advice r15) — that
                # must not abort the sweep either. Indeterminate reads
                # as failed (conservative): the path may still be there.
                try:
                    gone = not fs.exists(path)
                except Exception:
                    gone = False
                if not gone:
                    failed.append(path)
        for lst in (deleted, evicted, reap_unc, reap_tmp):
            lst[:] = [p for p in lst if p not in failed]
        # a COMMITTED artifact whose delete failed may still be fully
        # servable (marker + _SUCCESS intact — e.g. the no-throw false
        # return before anything was removed): report it in `kept` so
        # capacity reconciliation from the report stays truthful
        # (review r16). If the marker already went (LocalFS removes it
        # first), the dir is no longer servable and stays failed-only.
        if failed:
            committed_paths = {p for _f, p, _m in state["committed"]}
            for path in failed:
                if path not in committed_paths:
                    continue
                try:
                    alive = fs.exists(
                        fs.join(path, _COMMIT_MARKER)
                    ) and fs.exists(fs.join(path, _SUCCESS))
                except Exception:
                    alive = False  # indeterminate: don't claim it lives
                if alive:
                    kept.append(path)
            kept = sorted(set(kept))
    return {
        "base": base,
        "dry_run": dry_run,
        "keep": keep,
        "ttl_seconds": ttl_seconds,
        "max_bytes": max_bytes,
        "evicted_over_budget": evicted,
        "kept": kept,
        "deleted": deleted,
        "reaped_uncommitted": reap_unc,
        "reaped_tmp": reap_tmp,
        "failed": sorted(failed),
        "skipped_foreign": sorted(state["foreign"]),
        "skipped_in_grace": sorted(
            p
            for p, m in state["uncommitted"] + state["tmp"]
            if (now - m) <= grace_seconds
        ),
    }


def main(argv: "list[str] | None" = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True, help="artifacts dir (the "
                    "spark.polarify.artifacts.dir value)")
    ap.add_argument("--keep", type=int, default=2,
                    help="newest N committed generations kept per family")
    ap.add_argument("--ttl-hours", type=float, default=None,
                    help="also drop survivors committed longer ago than this")
    ap.add_argument("--max-bytes", type=int, default=None,
                    help="per-family byte budget over the keep/TTL "
                    "survivors: oldest-committed beyond it are evicted "
                    "(hard cap — see README on keep vs configurations)")
    ap.add_argument("--grace-minutes", type=float, default=60.0,
                    help="leave uncommitted/tmp dirs younger than this")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--hadoop", action="store_true",
                    help="drive the Hadoop FileSystem API through a "
                    "throwaway local[1] session (for hdfs://, s3a://, ...)")
    args = ap.parse_args(argv)

    fs = None
    spark = None
    if args.hadoop:
        import __spark_entry__

        spark = __spark_entry__.session(1, "1g")
        fs = HadoopFS(spark, args.dir)
    try:
        report = prune_artifacts(
            args.dir,
            keep=args.keep,
            ttl_seconds=None
            if args.ttl_hours is None
            else args.ttl_hours * 3600.0,
            grace_seconds=args.grace_minutes * 60.0,
            dry_run=args.dry_run,
            fs=fs,
            max_bytes=args.max_bytes,
        )
    finally:
        if spark is not None:
            spark.stop()
    print(json.dumps(report, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
