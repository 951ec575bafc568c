"""One-time steady profile for stream_decontaminate's drift (r17).

VERDICT r16 "What's wrong" #1 / "Next round" #2: the query's steady
median moved 2.27 s (r15) -> 3.00 s (r16) -> 2.67 s (r17 bench), never
returning inside r15's spread band [2.154, 2.383] — the same
second-consecutive-exit pattern that earned the dedup family its fill
profile. The question is WHERE in the steady path the extra second
lives, so this probe decomposes one drained run into its three serial
components and times each in steady state (each stage gets its own
unmeasured warm run first, so the JSONL export, codegen, and JVM are
hot — matching what bench's ``queries_steady`` median measures):

    static_build   the batch eval-gram side: _decontam_grams -> explode
                   -> collect_set -> eager localCheckpoint (re-paid on
                   every call — streaming_decontaminate rebuilds it)
    source_drain   _drained(streaming_docs_jsonl): the SAME JSONL file
                   stream + stateless projection + parquet-sink
                   availableNow drain -> source-scan plus micro-batch
                   commit/state-store machinery, no join
    full           _drained(streaming_decontaminate): everything

Join + gram-hash attribution ~= full - source_drain - static_build.
One fresh JVM per rep (parent re-execs itself, same isolation
rationale as probe_dedup_fill), K in-process steady timings per stage
per rep, median reported; the parent prints the shared per-stage
envelope (probe_dedup_fill.summarize — per-stage ``n`` + top-level
``reps_failed``, ADVICE r16 #3 semantics).

    python tools/probe_stream_decontam.py          # parent: N reps
    python tools/probe_stream_decontam.py child    # one rep, fresh JVM
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
_TOOLS = os.path.join(_REPO, "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("PROBE_REPS", "3"))
#: steady in-process timings per stage per rep (median reported) —
#: mirrors bench's 3-run queries_steady median
STEADY_RUNS = int(os.environ.get("PROBE_STEADY_RUNS", "3"))
#: run_to_parquet_sink's internal awaitTermination wall (keep in sync
#: with polarify_spark/streaming/jobs.py run_to_parquet_sink)
DRAIN_TIMEOUT_S = 120
#: hard wall per child JVM, derived ABOVE the child's own internal
#: worst case (ADVICE r17 #2): 2 drain stages x (1 warm + STEADY_RUNS
#: timed) run_to_parquet_sink calls, each bounded by DRAIN_TIMEOUT_S,
#: plus 600 s slack for session startup, the JSONL export, and the 4
#: static builds — so a degraded-but-progressing child surfaces its own
#: cleaner internal TimeoutError instead of being killed mid-rep and
#: scored as a failed rep. Floor of 1800 s matches probe_dedup_fill.
CHILD_TIMEOUT_S = max(1800, 2 * (1 + STEADY_RUNS) * DRAIN_TIMEOUT_S + 600)

#: run_to_parquet_sink's mkdtemp prefix (keep in sync with
#: polarify_spark/streaming/jobs.py run_to_parquet_sink)
SINK_DIR_PREFIX = "polarify_stream_out_"


@contextlib.contextmanager
def capture_sink_dirs(into: "list[str]"):
    """Record every tempfile.mkdtemp dir created with the parquet-sink
    prefix while the block runs (ADVICE r17 #1): the sink dir must be
    captured at creation, not re-derived from df.inputFiles() — a
    zero-row drain has no output files and would leak the dir, and the
    URI-prefix stripping that derivation needed was itself buggy
    (replace("file:", "") strips ALL occurrences). Only the sink
    prefix is matched: the JSONL export dir (polarify_docs_jsonl_) is
    memoized across drains and must survive until the rep's finally
    block reaps it."""
    real_mkdtemp = tempfile.mkdtemp

    def capturing_mkdtemp(suffix=None, prefix=None, dir=None):
        d = real_mkdtemp(suffix=suffix, prefix=prefix, dir=dir)
        if prefix == SINK_DIR_PREFIX:
            into.append(d)
        return d

    tempfile.mkdtemp = capturing_mkdtemp
    try:
        yield
    finally:
        tempfile.mkdtemp = real_mkdtemp


def run_rep() -> dict:
    import shutil

    from pyspark.sql import functions as F

    from polarify_spark.streaming import (
        STREAM_STATE_PARTITIONS,
        _drained,
        scoped_shuffle_partitions,
    )
    from polarify_spark.streaming import jobs as stream_jobs
    from polarify_spark.streaming.jobs import (
        streaming_decontaminate,
        streaming_docs_jsonl,
    )
    from polarify_spark.operators.dedup import (
        DECONTAM_EVAL_MOD,
        _decontam_grams,
    )
    import __spark_entry__
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF

    spark = __spark_entry__.session(CPUS, "16g")
    try:
        # bench's queries_steady pays session-local localCheckpoint
        # memos (no durable dir); force that here too so an ambient
        # spark-defaults artifacts dir can't turn static_build into a
        # durable-read benchmark (same guard as probe_dedup_fill)
        try:
            spark.conf.unset(ARTIFACTS_DIR_CONF)
        except Exception:
            pass

        def _drain(builder):
            """Drain + count with the sink's tmp dirs cleaned AFTER the
            caller stops its timer (returns the dirs to rmtree) — each
            _drained call mkdtemps a parquet sink it never removes, and
            7 drains/rep at sf>=0.1 would pile gigabytes under /tmp.
            The sink dir is captured at its mkdtemp call via
            capture_sink_dirs (ADVICE r17 #1 — covers zero-row drains,
            where inputFiles() is empty)."""
            sink_dirs: "list[str]" = []
            try:
                with capture_sink_dirs(sink_dirs):
                    df = _drained(builder, "append")(spark, SF_DIR)
                    n = df.count()
            except BaseException:
                # a raising drain (e.g. the 120 s awaitTermination wall)
                # never reaches the caller's cleanup — reap here, or the
                # failed rep leaks the very dirs this capture exists for
                for d in sink_dirs:
                    shutil.rmtree(d, ignore_errors=True)
                raise
            return n, sink_dirs

        def static_build():
            # mirrors streaming_decontaminate's static eval-gram side
            # (polarify_spark/streaming/jobs.py, eval_hv) — keep in sync
            # with the query. The real query builds this INSIDE _drained's
            # scoped_shuffle_partitions(8), so time it under the same
            # conf or the full-minus-parts arithmetic skews.
            with scoped_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
                n = (
                    _decontam_grams(spark, SF_DIR)
                    .where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
                    .select(F.explode("hv").alias("h"))
                    .agg(F.array_sort(F.collect_set("h")).alias("eval_hv"))
                    .withColumn("k", F.lit(1))
                    .localCheckpoint(eager=True)
                    .count()
                )
            return n, []

        def source_drain():
            return _drain(streaming_docs_jsonl)

        def full():
            return _drain(streaming_decontaminate)

        stages = {}
        for name, fn in (
            ("static_build", static_build),
            ("source_drain", source_drain),
            ("full", full),
        ):
            # per-stage warm run: the single full-query warmup does not
            # compile source_drain's projection, and an unwarmed first
            # timing would inflate the reported same-code spread
            _rows, junk = fn()
            for d in junk:
                shutil.rmtree(d, ignore_errors=True)
            runs = []
            rows = None
            for _ in range(STEADY_RUNS):
                t0 = time.monotonic()
                rows, junk = fn()
                runs.append(time.monotonic() - t0)
                for d in junk:
                    shutil.rmtree(d, ignore_errors=True)
            stages[name] = {
                "s": round(statistics.median(runs), 4),
                "spread": [round(min(runs), 4), round(max(runs), 4)],
                "rows": rows,
            }
        return {"stages": stages}
    finally:
        # the per-process JSONL export dir is this child's to reap
        stream_jobs._reap_jsonl_exports()
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1:  # child: one rep, fresh JVM
        print(json.dumps(run_rep()))
        return
    from probe_dedup_fill import parse_child_rep, summarize

    reps = []
    for i in range(REPS):
        # hard wall per child (CHILD_TIMEOUT_S, derived above the
        # child's internal worst case): a hung JVM must become a failed
        # rep, not hang the whole probe and lose the completed reps'
        # envelope — but a merely-slow child gets to surface its own
        # internal drain TimeoutError first
        try:
            out = subprocess.run(
                [sys.executable, __file__, "child"],
                capture_output=True,
                text=True,
                cwd=_REPO,
                timeout=CHILD_TIMEOUT_S,
            )
            stdout, stderr = out.stdout, out.stderr
        except subprocess.TimeoutExpired as exc:
            stdout = ""
            stderr = f"child timed out after {exc.timeout}s"
        reps.append(parse_child_rep(stdout, stderr))
        print(json.dumps({"rep": i, **reps[-1]}), flush=True)
    print(
        json.dumps(
            summarize(reps, REPS, probe="stream_decontam_steady", sf_dir=SF_DIR)
        )
    )


if __name__ == "__main__":
    main()
