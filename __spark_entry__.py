"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator (SURVEY.md section 2 plus
the extension operator set) for the sf0.01 DuckDB correctness gate.

``session(cpus, memory, **conf)`` is the one ``SparkSession`` config that
``bench.py``, ``tests/conftest.py`` and ``tools/`` share.

Query registries live next to the operators they exercise:
  - ``polarify_spark.queries.CORE_QUERIES``        — transpiler Q1-Q12
  - ``polarify_spark.operators.*.QUERIES``         — dedup / similarity /
    text / multimodal / time-series extension operators
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

try:
    import polarify_spark  # noqa: F401  — installed (pip install -e .)
except ImportError:
    # Fallback for running from a bare checkout without installation: put
    # the repo on sys.path for the driver, and on PYTHONPATH for the Python
    # worker processes (mapInPandas / applyInPandasWithState UDFs are
    # serialized by reference to polarify_spark.*, and driver-side sys.path
    # edits don't reach workers; PYTHONPATH does — workers spawn after the
    # first action, which is after this import).
    import os
    import sys
    from pathlib import Path

    _REPO_ROOT = str(Path(__file__).resolve().parent)
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    _pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_ROOT}{os.pathsep}{_pp}" if _pp else _REPO_ROOT
        )

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


@lru_cache(maxsize=None)
def _last_green_round() -> dict[str, int]:
    """Query name -> latest round whose CORRECTNESS_r*.json has it green
    (rows+schema+hash). Files are replayed in round order; a non-green row
    in a later round REMOVES the name, so a regression re-prioritizes the
    query instead of hiding behind an old green row.

    Cached per process (the inputs are round-end artifacts that don't
    change mid-run) so ``queries()``'s internal sort and external callers
    like ``tools/staleness.py`` share one replay.

    The driver runs queries in registry order under a wall-clock budget
    (~50 slots per round against a 100+-query registry), so ordering by
    staleness makes each round's budget re-prove the oldest evidence first
    and newly-added queries (no evidence at all) before that.
    """
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent
    files = sorted(
        repo.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.sub(r"\D", "", p.stem) or 0),
    )
    last_green: dict[str, int] = {}
    for path in files:
        rnd = int(re.sub(r"\D", "", path.stem) or 0)
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):  # truncated/partial write ('null', [])
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green[name] = rnd
            else:
                last_green.pop(name, None)
    return last_green


_MODULE_CHANGE_MEMO: "dict[str, int] | None" = None


def _module_change_round() -> dict[str, int]:
    """Module file (repo-relative path) -> build round of its latest change.
    Successful results are cached per process, like
    :func:`_last_green_round` — one git-history pass shared by the
    registry sort and the staleness ledger. A git FAILURE (index lock
    held, timeout under load) is NOT cached: memoizing the empty fallback
    would pin the degraded staleness-only ordering for the whole process
    where retrying on the next call recovers it.

    Build rounds are recovered from the driver's round-marker commits: a
    ``round N: verdict/advice/correctness/bench`` commit opens build round
    N+1, so every later commit (until the next marker) belongs to that round.
    ``CORRECTNESS_rN.json`` certifies the code snapshot at the END of build
    round N, so green evidence from round R is current iff R >= the module's
    last-change round. Uncommitted working-tree edits are assigned the
    current (open) round, which always invalidates committed evidence.

    Returns {} when git is unavailable — the rotation then degrades to the
    staleness-only ordering.
    """
    import re
    import subprocess
    from pathlib import Path

    global _MODULE_CHANGE_MEMO
    if _MODULE_CHANGE_MEMO is not None:
        return _MODULE_CHANGE_MEMO

    repo = Path(__file__).resolve().parent
    # ONE history pass: each commit's subject assigns its build round, and
    # --name-only lists the files it touched — the last assignment wins, so
    # after the loop every file maps to the round of its latest change.
    # (The previous shape ran `git log -1 -- <file>` per tracked module:
    # ~40 subprocesses on every queries() call.)
    try:
        log = subprocess.run(
            [
                "git", "-C", str(repo), "log", "--reverse",
                "--format=%x01%H%x00%s", "--name-only",
            ],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
        dirty = {
            line[3:].split(" -> ")[-1].strip('"')
            for line in subprocess.run(
                ["git", "-C", str(repo), "status", "--porcelain"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.splitlines()
        }
    except (OSError, subprocess.SubprocessError):
        return {}

    changed: dict[str, int] = {}
    rnd = 1  # round the NEXT commit belongs to
    cur = 1  # round of the commit whose file list is being read
    for line in log.splitlines():
        if line.startswith("\x01") and "\x00" in line:
            _sha, subject = line[1:].split("\x00", 1)
            cur = rnd
            # a `round N: verdict...` marker CLOSES round N: the marker
            # commit itself belongs to N, every later commit to N+1
            m = re.match(r"round (\d+): verdict", subject)
            if m:
                rnd = int(m.group(1)) + 1
        elif line.endswith(".py"):
            changed[line] = cur
    open_round = rnd  # the round currently being built
    # Working-tree edits (tracked or new) always belong to the open round.
    for path in dirty:
        if path.endswith(".py"):
            changed[path] = open_round
    _MODULE_CHANGE_MEMO = changed
    return changed


def _query_module_file(fn) -> str | None:
    """Repo-relative path of the module defining a query callable."""
    import inspect
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent
    mod = sys.modules.get(getattr(fn, "__module__", None) or "")
    src = getattr(mod, "__file__", None) or inspect.getsourcefile(fn)
    if not src:
        return None
    try:
        return str(Path(src).resolve().relative_to(repo))
    except ValueError:
        return None


_MODULE_DEPS_MEMO: "dict[str, frozenset[str]] | None" = None


def _module_deps() -> dict[str, frozenset[str]]:
    """Repo-relative module path -> TRANSITIVE set of intra-package module
    paths it imports (top-level or inside function bodies).

    VERDICT r11 ask #3: the ledger keyed a query's evidence currency to the
    ONE module defining its callable, but e.g. ``refine.py``'s span queries
    execute through ``dedup.py``'s memo artifacts — a dedup-only change
    left their stale evidence marked CURRENT (it did, in round 11). Deps
    are DERIVED from the import graph (ast-parsed, not hand-declared) so a
    new cross-module call path can never silently reopen the hole. A
    package-name import (``from ..functions import md5_long``) maps to the
    package's ``__init__.py``; the closure then follows that file's own
    imports, so a change to ``functions/hashing.py`` stales every importer
    of the re-exported name WITHOUT hand-listing submodules. Deliberate
    exception: importing a SUBMODULE does not dep its package
    ``__init__`` (Python does execute it) — ``operators/__init__.py`` is
    registry wiring that imports every module, and modeling it would
    collapse the ledger to all-stale-on-any-change. A bare
    ``from . import attr`` where ``attr`` is NOT a submodule DOES dep
    the init (the attr lives there — r14, closing the EMPTY
    ``queries.py`` closure that let transpiler changes dodge the core
    queries' staleness). The resulting exception set — hub inits
    executed at import time but absent from every closure, where a
    runtime-relevant addition would dodge staleness — is pinned to the
    documented list by ``tests/test_driver_contract.py::
    test_dep_model_exception_set_is_exactly_the_documented_hubs``
    (VERDICT r13 #6)."""
    global _MODULE_DEPS_MEMO
    if _MODULE_DEPS_MEMO is not None:
        return _MODULE_DEPS_MEMO
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent
    files = sorted(
        p
        for p in (repo / "polarify_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    )
    rel = {p: str(p.relative_to(repo)) for p in files}

    def resolve(parts: "list[str]") -> "set[str]":
        """Dotted-name parts -> repo-relative paths: a module maps to its
        file, a package to its ``__init__.py`` (the closure follows its
        re-export imports from there), an attribute name (the common
        ``from .m import attr`` tail) to nothing — the prefix candidate
        already covered the module."""
        f = repo.joinpath(*parts).with_suffix(".py")
        if f in rel:
            return {rel[f]}
        init = repo.joinpath(*parts, "__init__.py")
        if init in rel:
            return {rel[init]}
        return set()

    direct: "dict[str, set[str]]" = {}
    for p in files:
        me = rel[p]
        pkg = list(p.relative_to(repo).parts[:-1])  # containing package
        deps: "set[str]" = set()
        try:
            tree = ast.parse(p.read_text())
        except SyntaxError:
            direct[me] = deps
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.level:
                    base = pkg[: len(pkg) - (node.level - 1)]
                elif (node.module or "").split(".")[0] == "polarify_spark":
                    base = []
                else:
                    continue
                target = base + (node.module.split(".") if node.module else [])
                # bare `from . import x`: dep only the named submodules —
                # resolving the package itself would pull in the registry
                # hub __init__ and with it the whole package (see above).
                # EXCEPT when x is not a submodule (r14): the name then
                # lives in the package __init__ itself, which must dep —
                # `from . import sparkify` left queries.py's closure
                # EMPTY, so a transpiler.py change never staled the core
                # queries' evidence.
                if node.module:
                    deps |= resolve(target)
                for alias in node.names:
                    if alias.name != "*":
                        hit = resolve(target + [alias.name])
                        if not hit and not node.module:
                            hit = resolve(target)  # attr defined in init
                        deps |= hit
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "polarify_spark":
                        deps |= resolve(alias.name.split("."))
        deps.discard(me)
        direct[me] = deps

    # transitive closure (fixpoint; the graph is ~20 nodes)
    closed = {m: set(d) for m, d in direct.items()}
    changed_any = True
    while changed_any:
        changed_any = False
        for m, d in closed.items():
            grown = d | set().union(*(closed.get(x, set()) for x in d)) if d else d
            if grown - d:
                d |= grown
                changed_any = True
    _MODULE_DEPS_MEMO = {m: frozenset(d - {m}) for m, d in closed.items()}
    return _MODULE_DEPS_MEMO


def _effective_change_round(
    path: str, changed: "dict[str, int]"
) -> "tuple[int, str]":
    """Latest change round across ``path`` AND its transitive import deps
    -> ``(round, driving_path)``. This is the round evidence must be >= to
    count as CURRENT: a query is only as fresh as the stalest module on
    its execution path."""
    best = (changed.get(path, 0), path)
    for dep in _module_deps().get(path, ()):  # pragma: no branch
        r = changed.get(dep, 0)
        if r > best[0]:
            best = (r, dep)
    return best


def _registries() -> dict[str, tuple[Callable, str | None]]:
    from polarify_spark.operators import EXTENSION_QUERIES
    from polarify_spark.queries import CORE_QUERIES

    merged: dict[str, tuple[Callable, str | None]] = {}
    merged.update(CORE_QUERIES)
    merged.update(EXTENSION_QUERIES)

    # Least-recently-verified first, and change-aware (VERDICT r5 ask #2):
    # a query whose implementing module changed AFTER its last green round
    # carries evidence for code that no longer exists — demote it to just
    # after the never-verified block so the driver's ~50-slot budget
    # re-proves it this round. Ordering: never-verified (-1) → stale-by-code-
    # change (-0.5) → ascending last-green round. The sort is stable, so
    # registry order breaks ties within each band.
    last_green = _last_green_round()
    changed = _module_change_round()

    def sort_key(kv):
        name, (fn, _sql) = kv
        green = last_green.get(name, -1)
        if green < 0:
            return -1.0
        path = _query_module_file(fn)
        # dep-aware (VERDICT r11 ask #3): the change round is the max over
        # the defining module AND its transitive imports, so a dedup.py-only
        # edit demotes the refine.py span queries that execute through it
        if path is not None and _effective_change_round(path, changed)[0] > green:
            # within the stale-by-change band, oldest evidence first:
            # green/1e3 keeps the value inside (-0.5, -0.4) for any
            # realistic round number, so an r4-stale query outranks an
            # r5-stale one instead of tying on registry order (the r6
            # failure mode that starved the oldest re-proofs).
            return -0.5 + green / 1e3
        return float(green)

    return dict(sorted(merged.items(), key=sort_key))


def session(cpus: int | str, memory: str, **conf: str) -> SparkSession:
    """The local session every caller shares: ``local[cpus]`` with one
    shuffle partition per core, AQE and Arrow on, no UI, ANSI SQL (the
    PySpark 4 default, pinned so 3.5 means the same thing: int64 overflow
    raises instead of wrapping) and a UTC session timezone, so
    date->timestamp promotions agree with the naive/UTC DuckDB oracle
    whatever the host timezone. Only the core count and driver memory vary
    by caller; any other key (``spark.app.name``, say) passes through
    ``conf``, spelled ``**{"spark.key": value}``."""
    settings = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "true",
        "spark.driver.memory": memory,
        **conf,
    }
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(map=settings)
        .getOrCreate()
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Q1: the reference's canonical `signum` example, transpiled to a CaseWhen
    and applied to lineitem."""
    from polarify_spark.queries import CORE_QUERIES

    fn, _ = CORE_QUERIES["q1_signum_ifelse"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator; callables take (spark, sf_dir)."""
    return {name: fn for name, (fn, _sql) in _registries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries get rows-only checks."""
    return {name: sql for name, (_fn, sql) in _registries().items() if sql is not None}
