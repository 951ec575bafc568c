"""Extension operators: the north-star LLM-data-pipeline set (build brief /
SURVEY.md section 7 stage 6), all built from public PySpark primitives.

Each submodule exposes ``QUERIES: dict[name, (spark_callable, oracle_sql)]``;
``EXTENSION_QUERIES`` merges them for the driver contract. ``oracle_sql`` may
be ``None`` for ops with no SQL-expressible oracle (driver then records a
rows-only check).

Registration is fail-loud on purpose: every submodule is imported
unconditionally, so a transitive import error inside any operator module
raises here instead of silently shrinking the driver's query registry (a
shrunken registry would run fewer queries, all green, and the correctness
gate would look healthy while coverage quietly dropped).
``tests/test_registry.py`` pins the exact registry counts as a second line
of defense.
"""

from __future__ import annotations

from typing import Callable

EXTENSION_QUERIES: dict[str, tuple[Callable, str | None]] = {}


def _register(module_queries: dict) -> None:
    for name, entry in module_queries.items():
        if name in EXTENSION_QUERIES:
            raise ValueError(f"duplicate extension query name: {name}")
        EXTENSION_QUERIES[name] = entry


from . import text  # noqa: E402
from . import corpus  # noqa: E402
from . import dedup  # noqa: E402
from . import similarity  # noqa: E402
from . import timeseries  # noqa: E402
from . import multimodal  # noqa: E402
from . import skew  # noqa: E402
from . import knn  # noqa: E402
from . import search  # noqa: E402
from . import ml  # noqa: E402
from . import quality  # noqa: E402
from . import bpe  # noqa: E402
from . import relational  # noqa: E402
from . import refine  # noqa: E402
from .. import streaming  # noqa: E402

_register(text.QUERIES)
_register(corpus.QUERIES)
_register(dedup.QUERIES)
_register(similarity.QUERIES)
_register(timeseries.QUERIES)
_register(multimodal.QUERIES)
_register(skew.QUERIES)
_register(knn.QUERIES)
_register(search.QUERIES)
_register(ml.QUERIES)
_register(quality.QUERIES)
_register(bpe.QUERIES)
_register(relational.QUERIES)
_register(refine.QUERIES)
_register(streaming.QUERIES)


def release_shared_caches(spark, scope: str = "all") -> None:
    """Drop the cross-query memo families a scope names (each
    ``_memo.MemoFamily`` lists its scopes): ``"dedup"`` drops the dedup
    stage memo, the span-plan cache and the simhash handles; ``"ann"``
    drops the ANN index memo; ``"all"`` drops every family except the
    on-disk knn index paths and JSONL exports, plus every catalog-cached
    DataFrame.

    The memos deliberately outlive single queries (an ANN index is built
    once per corpus and served many times), but a long-running session that
    has *finished* with a family of artifacts should be able to hand the
    storage memory back — e.g. a benchmark sweep leaving the dedup/docs
    groups (dedup memo dead, ANN cell assignments still to be reused by the
    similarity group), or a pipeline finishing with a corpus entirely.
    Blocks behind ``localCheckpoint`` are reclaimed by Spark's
    ContextCleaner once their RDD references are garbage-collected; the
    explicit driver-side GC pair below (Python first, so py4j releases the
    JVM refs, then the JVM) makes that reclamation prompt instead of
    whenever the next full GC happens."""
    import gc

    from ._memo import FAMILIES

    if scope not in ("all", "ann", "dedup"):
        raise ValueError(f"unknown release scope {scope!r}")
    doomed = [f for f in FAMILIES.values() if scope in f.scopes]
    # Quiesce in-flight builds of the families whose values hold another
    # family's dicts (ADVICE r12): a simhash handle build that read a
    # dedup dict before the dedup clear but inserted its handle after the
    # handle clear would leave a handle pinning a detached dict, whose
    # checkpoints then stay resident past the release that was meant to
    # free them (the dict still names its corpus, so durable keys stay
    # right either way). Builders hold their per-key lock for the WHOLE
    # build, so holding every per-key lock excludes them. Only these
    # outermost families are quiesced: their builds run inner families'
    # builds, never the reverse, so no lock order inverts. The snapshot
    # is taken before the acquisitions (a mid-build thread takes the
    # family lock briefly for its insert), and acquisition follows
    # insertion order, so two releases can't deadlock each other. Locks
    # are acquired INSIDE the try and only acquired ones released (ADVICE
    # r13); an interrupt in the one bytecode between acquire() and append
    # still leaks that lock.
    # Residual: a first-touch build whose per-key lock did not exist at
    # snapshot time is not excluded (needs a key never seen by this
    # process with its build straddling the release).
    acquired: list = []
    try:
        for fam in doomed:
            if fam.quiesce:
                with fam.lock:
                    locks = list(fam.locks.values())
                for lock in locks:
                    lock.acquire()
                    acquired.append(lock)
        # family order: a quiesced family clears AFTER the dicts its
        # values point into, so no handle can outlive both clears
        for fam in doomed:
            fam.clear()
    finally:
        for lock in acquired:
            lock.release()
    # the catalog cache is always safe to drop: the artifacts that carry
    # across query groups live in the memos as localCheckpoint snapshots,
    # not as catalog-cached plans
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — a GC nudge must never fail a pipeline
        pass
