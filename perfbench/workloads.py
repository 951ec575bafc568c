"""The benchmark's workloads: what one op does, how set-up prepares it,
and how its outputs are checked against a reference that is never the
program's own output. ``README.md`` in this directory records why each
workload and op shape was chosen.
"""

from __future__ import annotations

import math
import random
import time
from pathlib import Path

import rules
from tracing import Tracer, catalyst_phases_ms

NOOP = "noop"


def drain(df) -> None:
    """Execute ``df`` fully and discard the rows."""
    df.write.format(NOOP).mode("overwrite").save()


class Workload:
    name = ""
    tables: dict[str, int] = {}
    #: untimed ops between set-up and the timed window; a fixed count, so
    #: ``setup_s`` holds the same work in every run
    warmup = 0
    #: the timed window runs for ``--seconds`` and at least this many ops
    min_ops = 1

    def __init__(self, spark, sf_dir: str, seed: int, work: Path, tracer: Tracer) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.work = work
        self.tracer = tracer
        #: per op: layer numbers that only traced runs record
        self.layers: dict[str, dict[str, float]] = {}

    def setup(self) -> None:
        pass

    def op(self, op_id: str, timed: bool) -> None:
        raise NotImplementedError

    def check(self, timed_ops: list[str]) -> set[str]:
        """Return the timed op ids whose output disagrees with the
        reference."""
        raise NotImplementedError

    def _phases(self, op_id: str, df) -> None:
        if self.tracer.enabled:
            with self.tracer.span("catalyst"):
                for k, v in catalyst_phases_ms(df).items():
                    d = self.layers.setdefault(op_id, {})
                    d[f"catalyst.{k}_ms"] = d.get(f"catalyst.{k}_ms", 0.0) + v


class SparkifyRules(Workload):
    """One op: ``sparkify`` a fresh seeded 8-rule program, build its
    Column, and drain ``select`` over lineitem. Every op uses a program no
    earlier op used, so each pays transpile, Column build, Catalyst and a
    Janino compile the codegen cache cannot serve."""

    name = "sparkify_rules"
    tables = {"lineitem": 600_000}
    programs = 256
    # measured: the first op is ~3x the steady one, the second within
    # ~15% of it, and the next few often still 10-20% above the steady
    # ops, as the JVM goes on compiling the hot paths
    warmup = 5
    min_ops = 5

    def setup(self) -> None:
        path = self.work / f"perfbench_rules_{self.seed}.py"
        self.names = rules.write_programs(path, self.seed, self.programs)
        self.module = rules.import_module(path)
        self.lineitem = self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet")
        self.next = 0
        #: per op: ms in ``sparkify(fn)`` plus the Column build
        self.compile_ms: list[float] = []
        #: op id -> (plain function, the Column its sparkified wrapper built)
        self.done: dict[str, tuple] = {}
        self.gen_code_bytes: list[int] = []
        self.when_calls: list[int] = []

    def op(self, op_id: str, timed: bool) -> None:
        from pyspark.sql import functions as F

        from polarify_spark import sparkify

        if self.next >= len(self.names):
            raise RuntimeError("ran out of distinct rule programs; raise `programs`")
        fn = getattr(self.module, self.names[self.next])
        self.next += 1
        t0 = time.perf_counter()
        with self.tracer.span("transpiler.sparkify"):
            dec = sparkify(fn)
        with self.tracer.span("sparkify.call"):
            col = dec(*(F.col(c) for c in rules.COLUMNS))
        self.compile_ms.append((time.perf_counter() - t0) * 1000.0)
        df = self.lineitem.select(col.alias("score"))
        self._phases(op_id, df)
        with self.tracer.span("drain"):
            drain(df)
        if timed:
            src = dec.__wrapped_source__
            self.done[op_id] = (fn, col)
            self.gen_code_bytes.append(len(src.encode()))
            self.when_calls.append(src.count("F.when("))

    def check(self, timed_ops: list[str]) -> set[str]:
        """Each timed op's program, run by Spark over every distinct
        ``(quantity, price, discount)`` input, against the plain-Python
        call of the same undecorated function.

        The distinct inputs are written with lineitem's schema and run
        through the op's own Column, so Spark reuses the op's compiled
        code; one file and one row group keep the rows in file order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(f"{self.sf_dir}/lineitem.parquet")
        keys = table.group_by(list(rules.COLUMNS)).aggregate([])
        distinct = pa.table(
            {
                f.name: keys[f.name] if f.name in rules.COLUMNS
                else pa.nulls(keys.num_rows, f.type)
                for f in table.schema
            }
        )
        path = self.work / "check" / "lineitem.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(distinct, path, row_group_size=max(1, distinct.num_rows))
        inputs = list(zip(*(keys[c].to_pylist() for c in rules.COLUMNS)))
        scan = self.spark.read.parquet(str(path))
        bad = set()
        for op_id in timed_ops:
            fn, col = self.done[op_id]
            got = [r[0] for r in scan.select(col.alias("score")).collect()]
            if len(got) != len(inputs) or any(
                not math.isclose(v, fn(*x), rel_tol=1e-12, abs_tol=1e-9)
                for v, x in zip(got, inputs)
            ):
                bad.add(op_id)
        return bad


#: the warm queries of one pass, with the layer name of their per-layer
#: metric: one per operator module plus the slowest steady floors
#: (pagerank's unrolled iterations, a streaming drain)
WARM_QUERIES = {
    "dedup_graph_pagerank": "dedup.graph_pagerank",
    "similarity_recall": "similarity.recall",
    "similarity_knn_index_serve": "knn.index_serve",
    "text_charlm_quality": "search.charlm_quality",
    "text_bpe_encode": "bpe.encode",
    "docs_logreg_quality": "ml.logreg_quality",
    "stream_dedup_events": "streaming.dedup_events",
}


class OperatorsWarm(Workload):
    """Set-up builds the training corpus through the durable artifact
    path, then fills every artifact of the warm queries in the default
    localCheckpoint mode; one op is then a pass over the warm queries in a
    seed-shuffled order, each drained."""

    name = "operators_warm"
    tables = {"documents": 500, "embeddings": 500, "events": 10_000}
    # the fill pass runs every query once, so every artifact is built;
    # one warm-up pass then compiles the warm read paths (measured: the
    # first pass after the fills was up to 1.3x the later ones)
    warmup = 1
    # a pass is 4.5-5.5 s, so four passes outlast a 16 s window and the
    # pass count does not follow the host's speed; only on a quiet host
    # (passes of 3.4-4.0 s) does a fifth pass start
    min_ops = 4

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.artifacts = self.work / "artifacts"
        self.steps = list(WARM_QUERIES)
        random.Random(self.seed).shuffle(self.steps)
        #: set-up wall per warm query, and of the pipeline's call and drain
        self.fill_ms: dict[str, float] = {}

    def _build(self, step: str):
        from polarify_spark.operators import EXTENSION_QUERIES

        return EXTENSION_QUERIES[step][0](self.spark, self.sf_dir)

    def _timed(self, key: str, span: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn()
        self.fill_ms[key] = (time.perf_counter() - t0) * 1000.0
        return out

    def setup(self) -> None:
        from polarify_spark.operators import release_shared_caches
        from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
        from polarify_spark.pipeline import CorpusPipelineConfig, build_training_corpus

        # the memo write path: the pipeline's dedup, LSH, component and
        # quality artifacts are written, published and read back as parquet
        self.spark.conf.set(ARTIFACTS_DIR_CONF, str(self.artifacts))
        cfg = CorpusPipelineConfig(leakage_safe_split=True)
        self.manifest = self._timed(
            "pipeline.call", "pipeline.call",
            lambda: build_training_corpus(self.spark, self.sf_dir, cfg),
        )
        self._timed("pipeline.drain", "pipeline.drain", lambda: drain(self.manifest))
        # the warm queries fill and serve their memos in the default
        # localCheckpoint mode; the manifest keeps reading its parquet
        # artifacts, which outlive the release
        self.spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(self.spark, "all")
        for step in self.steps:
            layer = WARM_QUERIES[step]
            self._timed(step, f"{layer}_fill", lambda: drain(self._build(step)))

    def op(self, op_id: str, timed: bool) -> None:
        frames = {}
        for step in self.steps:
            layer = WARM_QUERIES[step]
            with self.tracer.span(layer):
                with self.tracer.span(f"{layer}.call"):
                    df = frames[step] = self._build(step)
                self._phases(op_id, df)
                with self.tracer.span(f"{layer}.drain"):
                    drain(df)
        if timed:
            #: the last timed pass's DataFrames, which the check collects
            self.last = frames

    def check(self, timed_ops: list[str]) -> set[str]:
        import oracle

        mismatched = oracle.compare(self.sf_dir, self.last, self.manifest)
        # every pass ran every query, so one wrong query fails every op;
        # a wrong manifest is a wrong set-up, which fails them too
        return set(timed_ops) if mismatched else set()


WORKLOADS = {w.name: w for w in (SparkifyRules, OperatorsWarm)}
