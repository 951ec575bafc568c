#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": ..., "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Extra keys record the BASELINE.md targets: transpile_ms_per_func (< 50 ms),
speedup_vs_python_udf (>= 10x target: transpiled CaseWhen vs row-wise Python
UDF on Q1), and ratio_vs_handwritten (~1x: generated chain vs hand-written
F.when on the same query).

Execution is measured with the noop sink (full pipeline runs, nothing
collected to the driver) after a warm-up action to exclude JVM/session
startup from per-query numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: first-run wall (sec) above which a query gets a steady-state rerun even
#: when it built no memo: every expensive entry gets a reproducible second
#: number, so a one-off anomaly (GC pause, fill attribution) can't pass
#: for a regression — nor a real regression for an anomaly. Lowered 4.0
#: -> 1.5 in r12 (VERDICT r11 ask #6): dedup_simhash (+22%) and
#: dedup_simhash_pairs (+20%, first wall ~1.6-1.8 s) drifted in r11 with
#: no steady entry to adjudicate noise vs real; 1.5 s puts the whole
#: 2-4 s drift-prone band — and the pairs query specifically — on the
#: reproducible-median record for ~1-2 min of extra sweep time.
_STEADY_RERUN_WALL_S = 1.5

#: steady reruns per flagged query (VERDICT r9 ask #2): a single steady
#: rerun left ±0.5 s drifts on 2-8 s queries indistinguishable from
#: regression (r9: pagerank +14%, stream_decontaminate +16%, both
#: unexplained). queries_steady now reports the MEDIAN of this many runs
#: and queries_steady_spread the [min, max], so session noise (GC cadence,
#: scheduler jitter) is visible as a band instead of burning a verdict
#: cycle per drift.
_STEADY_RUNS = 3


def _sf_from_dir(sf_dir: str) -> float:
    name = Path(sf_dir).name
    try:
        return float(name.removeprefix("sf"))
    except ValueError:
        return -1.0


def _run_noop(df) -> float:
    start = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def _bench_transpile_ms() -> float:
    from tests.corpus import VECTORIZABLE  # the fixture corpus doubles as load

    from polarify_spark import transform_func_to_new_source

    start = time.perf_counter()
    for func in VECTORIZABLE:
        transform_func_to_new_source(func)
    return (time.perf_counter() - start) * 1000 / len(VECTORIZABLE)


#: interleaved transpiled/handwritten rep pairs for the ~1x ratio gate.
#: Raised 9 -> 25 in r13 (VERDICT r12 ask #4): the median over 9 drifted
#: 0.971x -> 1.191x between rounds with plans pinned identical — inside
#: the 2x gate but unadjudicable from a point estimate. 25 reps cost a
#: few extra seconds and the reported [min, max] band makes the next
#: drift classifiable as noise (band straddles ~1.0) or real (it
#: doesn't) without a forensic session.
RATIO_ITERATIONS = 25


def _bench_vs_udf(
    spark, sf_dir: str
) -> tuple[float, float, float, float, list, list]:
    """(transpiled_sec, handwritten_sec, python_udf_sec, ratio_median,
    ratio_band, speedup_band) for
    Q1 signum. The transpiled/handwritten pair is interleaved and the ratio
    is the per-iteration median, so a one-off GC/compilation hiccup on either
    side can't swing the ~1x ratio gate (it moved 0.948 -> 1.151 between
    rounds on single measurements). Iteration counts are sized for the
    host's measured multi-second stall bursts: min over RATIO_ITERATIONS
    (25) transpiled reps
    and MEDIAN over 5 UDF reps (ADVICE r10 — the median keeps the point
    estimate inside the [min, max]/t_transpiled band instead of pinned to
    its lower bound) keep one burst from inflating a side and tripping the
    >=10x UDF gate (seen once at 9.4x on a uniformly slow run)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from polarify_spark.queries import q1_signum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    transpiled = li.select(
        "l_orderkey", q1_signum(F.col("l_quantity") - 25).alias("v")
    )
    x = F.col("l_quantity") - 25
    handwritten = li.select(
        "l_orderkey",
        F.when(x > 0, 1).otherwise(F.when(x < 0, -1).otherwise(0)).alias("v"),
    )

    def py_signum(q: float) -> int:
        x = q - 25
        s = 0
        if x > 0:
            s = 1
        elif x < 0:
            s = -1
        return s

    udf_signum = F.udf(py_signum, IntegerType())
    via_udf = li.select("l_orderkey", udf_signum("l_quantity").alias("v"))


    pairs = [(_run_noop(transpiled), _run_noop(handwritten)) for _ in range(RATIO_ITERATIONS)]
    t_transpiled = min(t for t, _ in pairs)
    t_hand = min(h for _, h in pairs)
    ratios = sorted(t / h for t, h in pairs)
    ratio_median = statistics.median(ratios)
    # the band the median can drift WITHIN across rounds (the UDF-headline
    # convention): if a future round's median falls inside this round's
    # band, it's rep-to-rep noise, not a plan divergence
    ratio_band = [round(ratios[0], 3), round(ratios[-1], 3)]
    udf_runs = [_run_noop(via_udf) for _ in range(5)]
    # VERDICT r9 ask #7 / ADVICE r10: the >=10x UDF gate needs a band the
    # point estimate can drift WITHIN. Point estimate = MEDIAN UDF wall over
    # the min transpiled wall (the stable side: RATIO_ITERATIONS reps of a codegen'd
    # CaseWhen); band = [min, max] UDF wall over the same denominator, so
    # the band genuinely brackets the reported number on both sides — the
    # r10 form used min/min for the point estimate, which coincided with
    # the band's lower bound by construction and could never show the
    # headline drifting high.
    t_udf = statistics.median(udf_runs)
    speedup_band = [
        round(min(udf_runs) / t_transpiled, 2),
        round(max(udf_runs) / t_transpiled, 2),
    ]
    return t_transpiled, t_hand, t_udf, ratio_median, ratio_band, speedup_band


#: stdout tail the driver keeps and parses the last line of; the compact
#: JSON line must fit or the whole record parses as null (rounds 2-5).
_TAIL_BUDGET = 1900


def _compact_stdout_line(
    headline: dict, timings: dict, budget: int = _TAIL_BUDGET
) -> str:
    """The ONE stdout JSON line, compacted to fit the driver's tail.

    Extracted from ``main`` (r14) so the shed invariants are unit-testable
    without a bench run: (1) the per-query maps and long note always move
    to BENCH_DETAIL.json first; (2) over-budget lines keep only the
    slowest queries inline; (3) the last-resort shed drops bulky keys in
    preference order, with ``queries``/``queries_inline`` dropped as a
    PAIR (ADVICE r13 — a record must never claim N inline queries with
    no queries key present)."""
    line_payload = dict(headline)
    # the per-query steady map and the long attribution note live in
    # BENCH_DETAIL.json; the stdout line keeps only the scalar + a pointer
    line_payload.pop("queries_fills", None)
    line_payload.pop("queries_steady", None)
    line_payload.pop("queries_steady_spread", None)
    line_payload.pop("queries_pass2", None)
    line_payload["note"] = "queries_steady + fill attribution: BENCH_DETAIL.json"
    line = json.dumps(line_payload, separators=(",", ":"))

    def _trim(payload: dict) -> str:
        """Inline the largest slowest-first query map that fits.

        `while kept`, not `len(kept) > 1` (r14 review fix): the
        single-query line must be TRIED before giving up — at budgets
        that fit exactly one inline query the old loop exited holding
        the over-budget 2-query line and the last-resort shed dropped
        the map entirely. May return an over-budget line (the 1-query
        form) when even that doesn't fit; the shed below handles it."""
        by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
        kept = dict(by_cost)
        while kept:
            payload["queries"] = {k: round(v, 3) for k, v in sorted(kept.items())}
            payload["queries_inline"] = len(kept)
            payload["queries_full_map"] = "BENCH_DETAIL.json"
            line = json.dumps(payload, separators=(",", ":"))
            if len(line) <= budget:
                return line
            kept.pop(by_cost[len(kept) - 1][0])
        return json.dumps(payload, separators=(",", ":"))

    if len(line) > budget:
        line = _trim(line_payload)
    # last-resort shed: if the fixed keys alone outgrow the tail budget
    # (the per-query trim can only shrink so far), drop the bulky maps in
    # preference order — an oversized line parses as null driver-side
    # (rounds 2-5), which loses the WHOLE record, not just these keys;
    # every dropped map survives in BENCH_DETAIL.json
    _absent = object()
    for bulky in (("families_band",), ("queries", "queries_inline")):
        if len(line) <= budget:
            break
        removed = False
        for k in bulky:
            removed = line_payload.pop(k, _absent) is not _absent or removed
        line_payload["queries_full_map"] = "BENCH_DETAIL.json"
        if "queries" in line_payload:
            # ADVICE r14: the budget a bulky drop frees re-grows the
            # inline map — re-run the trim from the FULL map instead of
            # keeping the (possibly 1-entry) map computed against the
            # larger payload. Only when something was actually dropped:
            # a no-op pop frees nothing, so re-trimming would just redo
            # the identical O(n) serialization sweep for the same line.
            if removed:
                line = _trim(line_payload)
        else:
            line = json.dumps(line_payload, separators=(",", ":"))
    return line


def _detail_paths(repo_root: Path, cpus: str) -> list[Path]:
    """Both on-disk homes of the full bench payload: a per-core-count copy
    so runs at different $SPARK_GRAFT_CPUS never clobber each other's full
    per-query maps, plus the legacy unsuffixed file (cross-round diff
    tooling reads it), which mirrors the LATEST run's
    ``BENCH_DETAIL_c{N}.json`` whatever its core count."""
    return [
        repo_root / "BENCH_DETAIL.json",
        repo_root / f"BENCH_DETAIL_c{cpus}.json",
    ]


def main() -> None:
    import __spark_entry__ as entry_mod

    spark = entry_mod.session(
        CPUS,
        # sized well above the workload: the query sweep accumulates cached
        # tables and localCheckpoint blocks across the whole query registry,
        # and a tight heap shows up as multi-second GC spikes attributed to
        # whichever query is running when the collector fires
        "32g",
        **{
            "spark.app.name": "polarify-spark-bench",
            # the sweep churns ~130 queries' localCheckpoint blocks through one
            # JVM; ContextCleaner only frees a block after a DRIVER GC proves
            # the RDD unreachable, and with a 32 g heap a full GC can be tens
            # of queries away — dead blocks then pile up and inflate whichever
            # query runs late in a family (r7: repeated_spans 17.6 s in-sweep
            # vs 1.2 s standalone). A 30 s periodic GC bounds that drift.
            "spark.cleaner.periodicGC.interval": "30s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up: JVM, parquet footers, codegen
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # ... and the Arrow Python-worker pool: the first pandas-UDF stage of a
    # session pays worker spawn + module import (hundreds of ms per core);
    # without this, whichever mapInPandas/stateful query happens to run
    # first absorbs that one-time cost into its own timing
    from pyspark.sql import functions as F

    spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").count()
    # ... and the shuffle/join/window execution machinery: codegen
    # compilation, the sort/agg/exchange operator classes, and the
    # broadcast plumbing are JIT'd on first use — without this the first
    # query in sorted order absorbs those one-time costs (measured ~2-3 s
    # attributed to whichever dedup query runs first)
    from pyspark.sql.window import Window

    warm = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 100).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    (
        warm.groupBy("k")
        .agg(F.count("*").alias("n"), F.min("s").alias("m"))
        .join(F.broadcast(spark.range(100).withColumnRenamed("id", "k")), "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("n")))
        .count()
    )
    # ... and the localCheckpoint/block-manager path: the iterative operators
    # (connected components, ANN index builds) checkpoint eagerly, and the
    # first one in sorted order otherwise pays that machinery's first-use cost
    spark.range(1_000).localCheckpoint(eager=True).count()

    # time plan construction + execution together: streaming queries drain
    # their source during construction, so timing only the sink write would
    # under-report them.
    # canonical sorted order: several operators cache shared intermediates,
    # so the sweep order decides which query pays each shared memo fill;
    # sorted keeps timings comparable with the r20 sweep
    # Release dead shared caches at the two group boundaries where reuse
    # ends (dedup memos feed the docs_* pipelines; the ANN memo's last
    # reader is the similarity group): the sweep holds 100 queries' cached
    # tables and localCheckpoint blocks in one JVM, and without these
    # handoffs the tail groups (skew/stream/text) pay the accumulated GC
    # pressure — measured 2-5x inflation on the streaming drains vs their
    # steady-state cost. The release runs between timings, so its cost is
    # attributed to no query.
    from polarify_spark.operators import release_shared_caches

    # after docs: dedup memo + caches are dead, but the ANN cell
    # assignments (built by dedup_embedding_neardup) are still ahead of
    # their main reader, the similarity group — keep them
    _RELEASE_AFTER_GROUP = {"docs": "dedup", "similarity": "all"}
    # The shared-memo families (dedup memo — read by dedup_* and docs_*;
    # ANN memo — similarity_*; BPE memo — text_bpe_*; the on-disk IVF
    # index memo) make a query's FIRST in-sweep wall depend on where it
    # lands in sorted order: whoever touches a memo first absorbs the
    # whole fill (r6: dedup_lsh_recall; r7: dedup_cluster_keep_best — a
    # phantom "regression" each time the sort moved). The sweep times a
    # SECOND, steady-state run right after the first for two detected
    # classes of query: (a) any query whose first run EXECUTED a memo
    # build (the fill payer — read from the memo families' build records,
    # which warm HITS never emit); (b) any query whose first wall
    # exceeded _STEADY_RERUN_WALL_S, memo or not —
    # the heavies (lineitem_profile, logreg, charlm, pagerank, the
    # streaming drains) previously had no reproducibility signal of the
    # kind that caught the r8 triangles anomaly. "queries"/"value" keep
    # the first-run walls (comparable with every prior round);
    # "queries_steady" is the reproducible per-query number to track
    # regressions against.
    import logging

    from polarify_spark.operators._memo import FAMILIES

    # [r12] record WHICH builds fired, not just whether one did: the fill
    # payer moves whenever the registry sort shifts (r6->r7 the dedup fill
    # migrated queries and read as a phantom regression), and a named
    # "queries_fills" entry lets the next round's verdict separate
    # fill-migration from real regression without re-deriving sort order.
    # Every executed memo build logs one record (key label included) on
    # the "polarify_spark.memo" logger; warm hits log nothing.
    _memo_built: list = []

    class _FillRecorder(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            _memo_built.append(record.key)

    memo_log = logging.getLogger("polarify_spark.memo")
    memo_log.addHandler(_FillRecorder())
    memo_log.setLevel(logging.INFO)

    def _sweep(with_steady: bool):
        """One full registry pass in canonical sorted order; returns
        (timings, steady, steady_spread, fills). Steady reruns only on
        the first pass — the second pass exists to band the FIRST-wall
        totals, and its per-query steady state is the first pass's."""
        timings: dict[str, float] = {}
        steady: dict[str, float] = {}
        steady_spread: dict[str, list[float]] = {}
        fills: dict[str, list[str]] = {}
        prev_group = None
        for name, fn in sorted(entry_mod.queries().items()):
            group = name.split("_", 1)[0]
            if prev_group in _RELEASE_AFTER_GROUP and group != prev_group:
                release_shared_caches(
                    spark, scope=_RELEASE_AFTER_GROUP[prev_group]
                )
            prev_group = group
            del _memo_built[:]
            start = time.perf_counter()
            _run_noop(fn(spark, SF_DIR))
            timings[name] = round(time.perf_counter() - start, 4)
            if _memo_built:
                fills[name] = sorted(set(_memo_built))
            if with_steady and (
                _memo_built or timings[name] > _STEADY_RERUN_WALL_S
            ):
                runs = []
                for _ in range(_STEADY_RUNS):
                    start = time.perf_counter()
                    _run_noop(fn(spark, SF_DIR))
                    runs.append(time.perf_counter() - start)
                steady[name] = round(statistics.median(runs), 4)
                steady_spread[name] = [round(min(runs), 4), round(max(runs), 4)]
        return timings, steady, steady_spread, fills

    timings, steady, steady_spread, fills = _sweep(with_steady=True)
    # Second full pass (VERDICT r12 ask #2): the four-run identical-code
    # band for the total was 166.6-202.2 s, so a single-shot total
    # inside that band is unadjudicable. All shared caches are released
    # first, so pass 2 re-pays every memo fill like pass 1 — but it
    # runs codegen-warm (Janino's class cache hits on the identical
    # plans), so it is a systematically-faster same-code floor, not an
    # independent draw; compare rounds pass1-vs-pass1 on "queries"/
    # "value", and use [pass2, pass1] as the same-session band a drift
    # must EXIT before it counts as regression.
    release_shared_caches(spark, scope="all")
    # the on-disk IVF index PATH family (knn_index) deliberately survives
    # release_shared_caches (the artifact holds no JVM memory, and
    # index_serve's semantic is build-once/serve-many) — but the band
    # premise above is "pass 2 re-pays EVERY memo fill", so drop it here
    # too or similarity_knn_index_serve's pass-2 wall is index-warm while
    # the note claims otherwise. Orphaned dirs stay tracked in
    # knn._INDEX_DIRS and are reaped at interpreter exit, so the clear
    # leaks nothing.
    FAMILIES["knn_index"].clear()
    timings2, _, _, _ = _sweep(with_steady=False)

    def _family(name: str) -> str:
        tok = name.split("_", 1)[0]
        # q1..q13 are the core transpiler queries — one family, not 13
        return "core" if tok[0] == "q" and tok[1:].isdigit() else tok

    families_band: dict[str, list[float]] = {}
    for fam in sorted({_family(n) for n in timings}):
        subtotals = [
            round(sum(t[n] for n in t if _family(n) == fam), 3)
            for t in (timings, timings2)
        ]
        families_band[fam] = [min(subtotals), max(subtotals)]

    # VERDICT r9 ask #6: the composed corpus pipeline with the leakage-safe
    # split ON (config parity-pinned in tests/test_pipeline.py but never
    # wall-clocked). Runs after the sweep, so the dedup memo released at
    # the group boundary is rebuilt here — the first wall is the
    # self-contained cost (gates + CC labels + split), the steady median
    # is the composed plan with warm artifacts.
    from polarify_spark.pipeline import CorpusPipelineConfig, build_training_corpus

    _pipe_cfg = CorpusPipelineConfig(leakage_safe_split=True)
    start = time.perf_counter()
    _run_noop(build_training_corpus(spark, SF_DIR, _pipe_cfg))
    pipeline_first = round(time.perf_counter() - start, 4)
    pipe_runs = []
    for _ in range(_STEADY_RUNS):
        start = time.perf_counter()
        _run_noop(build_training_corpus(spark, SF_DIR, _pipe_cfg))
        pipe_runs.append(time.perf_counter() - start)
    pipeline_steady = round(statistics.median(pipe_runs), 4)
    pipeline_spread = [round(min(pipe_runs), 4), round(max(pipe_runs), 4)]

    # the query sweep leaves cached DataFrames behind (dedup/LSH signature
    # tables); drop them so the micro-benchmark isn't competing for executor
    # memory with dead cache
    spark.catalog.clearCache()

    transpile_ms = _bench_transpile_ms()
    (
        t_transpiled,
        t_hand,
        t_udf,
        ratio_median,
        ratio_band,
        speedup_band,
    ) = _bench_vs_udf(spark, SF_DIR)

    total = round(sum(timings.values()), 3)
    total2 = round(sum(timings2.values()), 3)
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "value_band": [min(total, total2), max(total, total2)],
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(timings),
        "families_band": families_band,
        "transpile_ms_per_func": round(transpile_ms, 3),
        "q1_transpiled_sec": round(t_transpiled, 4),
        "q1_handwritten_sec": round(t_hand, 4),
        "q1_python_udf_sec": round(t_udf, 4),
        "ratio_vs_handwritten": round(ratio_median, 3),
        "ratio_vs_handwritten_band": ratio_band,
        "ratio_iterations": RATIO_ITERATIONS,
        "speedup_vs_python_udf": round(t_udf / t_transpiled, 2),
        "speedup_vs_python_udf_band": speedup_band,
        "queries_pass2": {k: round(v, 3) for k, v in timings2.items()},
        "queries_fills": fills,
        "queries_steady": {k: round(v, 3) for k, v in steady.items()},
        "queries_steady_spread": steady_spread,
        "steady_runs": _STEADY_RUNS,
        "steady_total": round(sum(steady.values()), 3),
        # fill-free total over ALL queries (r14 calibration: two same-code
        # runs put pass-1 totals 21% apart, all of it memo-fill/GC
        # attribution): per query, the steady median where one was
        # measured, else the pass-1 wall (sub-1.5 s entries, whose jitter
        # is bounded by _STEADY_RERUN_WALL_S). This is the scalar to
        # track cross-round; "value" is the throughput trend.
        "value_steady_proxy": round(
            sum(steady.get(k, v) for k, v in timings.items()), 3
        ),
        "pipeline_leakage_safe_first_sec": pipeline_first,
        "pipeline_leakage_safe_steady_sec": pipeline_steady,
        "pipeline_leakage_safe_spread": pipeline_spread,
        "note": (
            "queries/value = FIRST in-sweep wall per query (comparable "
            "with prior rounds). value_band / families_band = [min, max] "
            "of the (sub)totals over TWO full passes (r13): pass 2 runs "
            "after a full cache release so it re-pays every memo fill, "
            "but codegen-warm — a systematically-faster same-code floor, "
            "so the band under-covers UPWARD cross-run noise (r13 "
            "cross-check: two same-code runs gave pass-1 totals 162.5 "
            "and 166.4 s, the second just outside the first's band). "
            "Compare rounds pass1-vs-pass1; inside the other round's "
            "band = noise; outside it, treat as regression candidate "
            "only a drift at least the band's WIDTH on the high side. "
            "Per-query pass-2 walls: queries_pass2 (this file). "
            "For queries whose first run EXECUTED a "
            "shared-memo build (dedup_*/docs_* share the dedup memo, "
            "similarity_* the ANN memo, text_bpe_* the BPE memo, "
            "similarity_knn_index_serve its on-disk IVF index) the first "
            "wall folds in whatever memo fill sorted order assigns to "
            "that query, so it moves when the registry grows (r6->r7: "
            "the dedup fill migrated from dedup_lsh_recall to "
            "dedup_cluster_keep_best — not a regression). "
            "queries_steady = the MEDIAN of 3 immediately-following "
            "memo-warm reruns (r10: was a single rerun), with per-entry "
            "[min, max] in queries_steady_spread — a drift vs last round "
            "that falls inside last round's spread is session noise, not "
            "regression. Track per-query regressions against the median, "
            "family totals against queries. "
            "Since r9 the rerun covers (a) actual memo-fill payers only "
            "(warm hits no longer double-execute) and (b) EVERY query "
            "whose first wall exceeded the steady threshold (4 s through "
            "r11; 1.5 s since r12 so the 2-4 s drift-prone band carries "
            "medians too), memo or not, so the heavy "
            "non-memo entries have a reproducibility signal too. Known "
            "r10 deltas (all DROPS, see SCALE.md round-10 sections): "
            "dedup_repeated_spans + docs_strip_repeated_spans fall "
            "steeply (the window table and span set are now memoized "
            "checkpoints; the strip is reshaped to one corpus scan; and "
            "the hot-span guard's detection moved to the driver — with "
            "no corpus-dominant span the plan is the pure single-pass "
            "window, zero guard residue, where r9 paid an inert count "
            "pass + joins every call); "
            "stream_decontaminate/stream_jsonl_ingest fall because the "
            "JSONL export is now 32 files at 8 per trigger (intra-batch "
            "parallelism; was one file = one task per micro-batch — the "
            "profiled cause of the r9 'unexplained' stream drift)."
        ),
    }
    # The full payload always lands on disk, next to the script, so per-query
    # timings for the whole registry survive no matter what happens to stdout.
    # Two files (r20, VERDICT r19 ask #4 — additions-only): the unsuffixed
    # name keeps every prior round's diff tooling working, and the
    # core-count-suffixed copy survives the driver's low-core scaling rerun
    # — r19 lost the 32-core full 133-query map when the 8-core run
    # overwrote BENCH_DETAIL.json, exactly the map that debunked that
    # round's phantom inline-geomean regression.
    payload = json.dumps(headline, indent=1, sort_keys=True) + "\n"
    for detail_path in _detail_paths(Path(_REPO_ROOT), CPUS):
        detail_path.write_text(payload)

    # ONE compact JSON line, last thing on stdout: the driver keeps only a
    # ~2000-char tail of stdout and parses the last line, so the line must
    # fit in that tail or "parsed" comes back null (it did, rounds 2-5, once
    # the registry outgrew ~70 queries). If the full line is too long, keep
    # only the slowest queries inline — total/gates stay exact, and the
    # complete per-query map is in BENCH_DETAIL.json.
    line = _compact_stdout_line(headline, timings)
    print(f"json line length: {len(line)} bytes", file=sys.stderr)
    # print BEFORE stopping the session: a py4j shutdown error must not be
    # able to discard completed measurements (stop() logs go to stderr/log4j,
    # so nothing follows the line on stdout)
    sys.stdout.flush()
    print(line, flush=True)
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 — shutdown noise must stay off stdout
        print(f"spark.stop() failed after results were printed: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
