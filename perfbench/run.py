#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sparkify_rules --seed 1 --seconds 16 --trace 0

Run from the repository root. The run writes its seeded inputs, Spark
scratch space and durable artifacts under ``.perfbench/`` in the root and
removes them at exit. It prints a human-readable table, then, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. ``--workload all`` runs every workload in its
own process, one after another; with ``--trace 1`` it also runs each
untraced and reports the tracing overhead.

Every run is a closed loop with one op in flight on a fresh
``local[4]`` JVM. See ``README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
}
SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.driver_gap_ms": "ms",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_gc_ms": "ms",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from workloads import WARM_QUERIES

    units = {
        "trace.op_ms_p50": "ms",
        "transpiler.sparkify_ms": "ms",
        "transpiler.when_calls": "count",
        "transpiler.gen_code_kb": "KB",
        "sparkify.call_ms": "ms",
        "pipeline.call_ms": "ms",
        "pipeline.drain_ms": "ms",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        **SPARK_LAYER,
        "memo.artifacts": "count",
        "memo.durable_mb": "MB",
        "memo.cached_mb": "MB",
        "jvm.gc_ms": "ms",
        "jvm.heap_peak_mb": "MB",
    }
    for layer in WARM_QUERIES.values():
        units[f"{layer}_ms"] = "ms"
        units[f"{layer}_fill_ms"] = "ms"
    return units


def start_session(work: Path, trace: bool):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        # fits a 15 GB host next to the Python workers
        .config("spark.driver.memory", "3g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        # no hsperfdata file in /tmp; JVM temp files in the run directory
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        )
        .config("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", (work / "eventlog").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process the run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext
    from tracing import alive, descendants

    started = descendants()
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def dir_stats(path: Path) -> tuple[int, float]:
    """Committed artifact dirs (those holding the commit marker) and the
    bytes under ``path``, in MB."""
    from polarify_spark.operators._memo import COMMIT_MARKER

    if not path.exists():
        return 0, 0.0
    files = [p for p in path.rglob("*") if p.is_file()]
    committed = sum(p.name == COMMIT_MARKER for p in files)
    return committed, sum(p.stat().st_size for p in files) / 2**20


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def run_workload(args, work: Path) -> dict:
    import datagen
    from tracing import JvmProbe, Py4jPin, RssSampler, Tracer
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    trace = bool(args.trace)
    sf_dir = datagen.write_tables(work / "data", args.seed, cls.tables)
    tracer = Tracer(trace)

    t_setup = time.perf_counter()
    rss = RssSampler()
    wl = cls(None, str(sf_dir), args.seed, work, tracer)
    spark = start_session(work, trace)
    try:
        wl.spark = spark
        jvm = JvmProbe(spark) if trace else None
        pin = Py4jPin(spark)
        pin.pin()
        wl.setup()
        warm: list[float] = []
        for _ in range(wl.warmup):
            pin.pin()
            t0 = time.perf_counter()
            wl.op(f"warm{len(warm)}", timed=False)
            warm.append(time.perf_counter() - t0)
        setup_s = time.perf_counter() - t_setup
        if jvm:
            cached_mb = jvm.cached_mb()
            jvm.reset_heap_peak()

        walls: dict[str, float] = {}
        windows: list[tuple[str, float, float]] = []
        gc_ms: dict[str, float] = {}
        failed: set[str] = set()
        attempted = 0
        deadline = time.perf_counter() + args.seconds
        while attempted < wl.min_ops or time.perf_counter() < deadline:
            op_id = f"op{attempted}"
            attempted += 1
            pin.pin()
            tracer.op = op_id
            if trace:
                group = f"bench:{wl.name}:{op_id}"
                spark.sparkContext.setJobGroup(group, group)
                gc0 = jvm.gc_ms()
            w0, t0 = time.time(), time.perf_counter()
            try:
                wl.op(op_id, timed=True)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                failed.add(op_id)
                continue
            finally:
                tracer.op = None
            walls[op_id] = (time.perf_counter() - t0) * 1000.0
            windows.append((f"bench:{wl.name}:{op_id}", w0, time.time()))
            if trace:
                gc_ms[op_id] = jvm.gc_ms() - gc0
        if trace:
            spark.sparkContext.setJobGroup("bench:check", "bench:check")
            heap_peak_mb = jvm.heap_peak_mb()

        # the check's collects and DuckDB oracles are not the program's
        # memory
        rss.stop()
        pin.unpin()
        try:
            failed |= wl.check(sorted(walls, key=lambda k: int(k[2:])))
            checked = True
        except Exception:  # noqa: BLE001 - an unverifiable run is not correct
            traceback.print_exc()
            checked = False
    finally:
        rss.stop()
        stop_spark(spark)
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "correct": checked and not failed,
        "attempted": attempted,
        "failed": len(failed) if checked else attempted,
        "ops": len(walls),
        "warmup_ops": len(warm),
        "warmup_ms": [round(w * 1000.0, 1) for w in warm],
        "op_ms": [round(w, 1) for w in walls.values()],
    }
    ok = [w for k, w in walls.items() if k not in failed]
    if not trace:
        result["metrics"] = {
            "setup_s": setup_s,
            "op_ms_p50": median(ok),
        }
        result["extra"] = {
            "fail_frac": result["failed"] / attempted,
            "peak_rss_mb": rss.peak / 2**20,
        }
        if wl.name == "sparkify_rules":
            result["extra"]["compile_ms_p50"] = median(wl.compile_ms[len(warm):])
            result["extra"]["gen_code_kb"] = statistics.fmean(wl.gen_code_bytes) / 1024
        return result

    import eventlog

    by_op = eventlog.summarize(eventlog.parse(work / "eventlog"), windows)
    spans = tracer.op_totals()
    tracer.write(ROOT / ".perfbench" / "traces" / f"{wl.name}-{args.seed}.json")
    ops = list(walls)

    def span_p50(name: str) -> float:
        return median(spans.get(o, {}).get(name, 0.0) for o in ops)

    m = {k: 0.0 for k in per_layer_units()}
    m["trace.op_ms_p50"] = median(ok)
    m["transpiler.sparkify_ms"] = span_p50("transpiler.sparkify")
    m["sparkify.call_ms"] = span_p50("sparkify.call")
    if wl.name == "sparkify_rules" and wl.gen_code_bytes:
        m["transpiler.when_calls"] = statistics.fmean(wl.when_calls)
        m["transpiler.gen_code_kb"] = statistics.fmean(wl.gen_code_bytes) / 1024
    for k in ("analysis", "optimization", "planning"):
        key = f"catalyst.{k}_ms"
        m[key] = median(wl.layers.get(o, {}).get(key, 0.0) for o in ops)
    for key in SPARK_LAYER:
        m[key] = median(by_op[f"bench:{wl.name}:{o}"][key.split(".", 1)[1]] for o in ops)
    m["jvm.gc_ms"] = median(gc_ms.values())
    m["jvm.heap_peak_mb"] = heap_peak_mb
    m["memo.cached_mb"] = cached_mb
    m["memo.artifacts"], m["memo.durable_mb"] = dir_stats(work / "artifacts")
    if wl.name == "operators_warm":
        from workloads import WARM_QUERIES

        for q, layer in WARM_QUERIES.items():
            m[f"{layer}_ms"] = span_p50(layer)
            m[f"{layer}_fill_ms"] = wl.fill_ms[q]
        m["pipeline.call_ms"] = wl.fill_ms["pipeline.call"]
        m["pipeline.drain_ms"] = wl.fill_ms["pipeline.drain"]
    result["metrics"] = m
    return result


def emit(result: dict, units: dict[str, str]) -> None:
    print(f"workload {result['workload']}  seed {result['seed']}  ops {result['ops']}  "
          f"(warm-up {result['warmup_ops']}, attempted {result['attempted']}, "
          f"failed {result['failed']})")
    print(f"  warm-up op ms {result['warmup_ms']}")
    print(f"  timed op ms   {result['op_ms']}")
    rows = dict(result["metrics"])
    rows.update(result.get("extra", {}))
    extra_units = {
        "fail_frac": "1",
        "compile_ms_p50": "ms",
        "peak_rss_mb": "MB",
        "gen_code_kb": "KB",
    }
    for k, v in rows.items():
        print(f"  {k:40s} {v:14.4f} {units.get(k, extra_units.get(k, ''))}")
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
        },
    }
    print(json.dumps(line), flush=True)


def run_all(args) -> int:
    """Each workload in its own process; with tracing, also untraced, to
    report the tracing overhead."""
    from workloads import WORKLOADS

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        results = {}
        for trace in sorted({0, args.trace}):
            cmd = [sys.executable, str(Path(__file__)), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(out.stdout)
            if out.returncode != 0:
                print(f"perfbench: {name} exited {out.returncode}", file=sys.stderr)
                return out.returncode
            results[trace] = json.loads(out.stdout.strip().splitlines()[-1])
        for res in results.values():
            summary["correct"] &= res["correct"]
            summary["attempted"] += res["attempted"]
            summary["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                summary["metrics"][f"{name}.{k}"] = v
        if args.trace:
            base = results[0]["metrics"]["op_ms_p50"]["value"]
            traced = results[1]["metrics"]["trace.op_ms_p50"]["value"]
            print(f"{name}: tracing overhead {traced - base:+.1f} ms "
                  f"({(traced - base) / base:+.1%}) on op_ms_p50")
            summary["metrics"][f"{name}.trace_overhead_ms"] = {
                "value": traced - base, "unit": "ms"}
    print(json.dumps(summary), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "polarify_spark" / "__init__.py").is_file():
        print(f"perfbench: no polarify_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # temp files (stream sinks, JSONL exports) and Spark's scratch space go
    # to the run directory (SPARK_LOCAL_DIRS, when set, overrides
    # spark.local.dir); the JVM and the Python workers it forks inherit
    # these, and PYTHONPATH lets the workers import this checkout's package
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    try:
        result = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = END_TO_END if not args.trace else per_layer_units()
    emit(result, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
