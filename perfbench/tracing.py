"""Spans, process-tree memory sampling and JVM probes for the benchmark.

Spans are recorded only around the benchmark's own calls into the
program (the decorator, the Column build, each registered query
callable, each drain); nothing inside ``polarify_spark`` is patched.
Untraced runs record no spans and make no JVM probe calls, so the traced
run's extra cost is its overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Spans kept in memory and written once at exit.

    A disabled tracer keeps nothing; :meth:`span` then costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.op)
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_ms(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        child: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                child.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s.start
            for a, b in sorted(child.get(i, ())):
                a, b = max(a, last), min(b, s.end)
                if b > a:
                    covered += b - a
                    last = b
            out.append((s.end - s.start - covered) * 1000.0)
        return out

    def op_totals(self) -> dict[str, dict[str, float]]:
        """Per op, the summed wall ms of spans by name."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.op is not None:
                d = out.setdefault(s.op, {})
                d[s.name] = d.get(s.name, 0.0) + (s.end - s.start) * 1000.0
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_ms": round(m, 3),
            }
            for s, m in zip(self.spans, self.self_ms())
        ]
        path.write_text(json.dumps(rows))


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> tuple[set[int], dict[int, list[bytes]]]:
    """``root``'s process tree and each member's ``/proc/<pid>/stat``
    fields after the command name."""
    parent: dict[int, int] = {}
    stats: dict[int, list[bytes]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        pid = int(entry.name)
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between scandir and open
        fields = stat[stat.rfind(b")") + 2 :].split()
        parent[pid] = int(fields[1])
        stats[pid] = fields
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree, stats


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant process."""
    tree, stats = _tree(root)
    # fields after the command: state(0) ppid(1) ... rss(21)
    return sum(int(stats[p][21]) * _PAGE for p in tree if p in stats)


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    tree, _ = _tree(os.getpid())
    return tree - {os.getpid()}


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2 :].split()[0] != b"Z"


class RssSampler:
    """Peak resident memory of this process tree: the Python driver, the
    JVM it launched and the JVM's Python workers, sampled every
    ``interval`` seconds on a daemon thread from construction until
    :meth:`stop`."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Py4jPin:
    """Keeps this Python thread and the JVM thread that serves its py4j
    calls on one CPU.

    A py4j call is a round trip between the two threads. On a virtual
    machine, a round trip between two vCPUs waits for the host to wake
    the idle one, and that wait follows the host's load: measured on a
    4-vCPU VM, 2000 calls of a static Java method took 1.9-4.3 s with the
    threads free and 1.6-2.3 s with both on one CPU. Every other thread
    (the JVM's task, compiler and GC threads, the Python workers) stays
    free."""

    def __init__(self, spark) -> None:
        from pyspark import SparkContext

        self._jvm = spark.sparkContext._jvm
        self._pid = SparkContext._gateway.proc.pid
        self._all = os.sched_getaffinity(0)
        self._cpu = {max(self._all)}

    def pin(self) -> None:
        os.sched_setaffinity(0, self._cpu)
        # pinned-thread mode serves each Python thread from its own JVM
        # thread; the kernel keeps the first 15 bytes of its name
        name = self._jvm.java.lang.Thread.currentThread().getName()[:15]
        task = Path(f"/proc/{self._pid}/task")
        for tid in os.listdir(task):
            try:
                if (task / tid / "comm").read_text().strip() == name:
                    os.sched_setaffinity(int(tid), self._cpu)
            except OSError:
                continue  # the thread ended

    def unpin(self) -> None:
        os.sched_setaffinity(0, self._all)


class JvmProbe:
    """Driver-JVM counters read over py4j: collector time and heap pool
    peaks from the management beans, and Spark's cached-RDD storage."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()

    def gc_ms(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def _heap_pools(self):
        mf = self._jvm.java.lang.management.ManagementFactory
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def cached_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s query execution,
    from Catalyst's own ``QueryPlanningTracker``. Forces planning, so only
    traced runs call it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = 0.0 if ph.isEmpty() else float(ph.get().durationMs())
    return out
