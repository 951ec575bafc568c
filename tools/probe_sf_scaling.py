"""Core-count scaling evidence at sfN-equivalent volume (VERDICT r19 #5).

At sf0.1 every 8-vs-32-core bench ratio sits near 1: the registry is
bound by per-job scheduling/plan-compile floors, so the driver's scaling
block cannot show that the corpus-proportional operators parallelize.
This probe times exactly those operators at a replicated R=10 (~sf1)
volume — built by ``scale_probe.build_scaled``, which preserves workload
character (disjoint key spaces, replica-suffixed tokens so the near-dup
RATE stays sf0.1's) — one fresh JVM per (cpus, rep), cold memos, noop
sink, and prints one JSON line per child plus a final ratio table.

Probes (the VERDICT list):

* ``anchored``   — the anchored exact-Jaccard kernel fill (ground truth
                   behind ``dedup_lsh_recall``), timed standalone
* ``ngram``      — ``dedup_ngram_jaccard``: blocked pairwise kernel
* ``lsh``        — ``dedup_lsh_jaccard``: signatures + banded join + verify
* ``pq_encode``  — ``similarity_topk_pq``: PQ codebook train + encode fill
* ``bm25``       — ``search_bm25``: corpus-wide TF/DF + per-query scoring
* ``spine``      — ``docs_training_corpus``: the composed pipeline
* ``bpe_encode`` — ``text_bpe_encode``: corpus explode + broadcast join

Usage::

    python tools/probe_sf_scaling.py [--factor 10] [--cpus 32,8] [--reps 2]
    python tools/probe_sf_scaling.py child <cpus> <sf_dir>   # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PROBES = ("anchored", "ngram", "lsh", "pq_encode", "bm25", "spine", "bpe_encode")


def _session(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"probe-sf-scaling-{os.getpid()}")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def run_child(cpus: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from polarify_spark.operators import dedup
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF, DEDUP

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        try:
            spark.conf.unset(ARTIFACTS_DIR_CONF)
        except Exception:
            pass
        registry = entry_mod.queries()

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        # small warmup: JVM/codegen/Arrow, parquet footers — NOT the probes
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        noop(registry["dedup_exact"](spark, sf_dir))

        timings: dict[str, float] = {}

        def stage(name: str, thunk) -> None:
            spark.sparkContext.setJobDescription(f"sf-scaling: {name}")
            t0 = time.perf_counter()
            thunk()
            timings[name] = round(time.perf_counter() - t0, 2)
            spark.sparkContext.setJobDescription(None)

        # anchored kernel fill, standalone (before lsh fills the shared
        # gram artifact: this arm pays materialized + anchored, exactly
        # the corpus-proportional ground-truth path)
        sampled = dedup._recall_sample_grams(spark, sf_dir)
        memo = DEDUP.corpus(sampled)

        def build_anchored():
            mat = dedup._materialized_grams(dedup._grams_df(spark, sf_dir))
            from polarify_spark.operators.dedup import (
                RECALL_SAMPLE_DOCS,
                _anchored_pairwise,
                _docs,
                md5_top_n_ids,
            )

            ids = md5_top_n_ids(_docs(spark, sf_dir), "doc_id", RECALL_SAMPLE_DOCS)
            return _anchored_pairwise(
                mat.join(F.broadcast(ids), "doc_id", "semi"), mat
            )

        stage(
            "anchored",
            lambda: DEDUP.artifact(memo, "anchored", build_anchored).count(),
        )
        stage("ngram", lambda: noop(registry["dedup_ngram_jaccard"](spark, sf_dir)))
        stage("lsh", lambda: noop(registry["dedup_lsh_jaccard"](spark, sf_dir)))
        stage("pq_encode", lambda: noop(registry["similarity_topk_pq"](spark, sf_dir)))
        stage("bm25", lambda: noop(registry["search_bm25"](spark, sf_dir)))
        stage("spine", lambda: noop(registry["docs_training_corpus"](spark, sf_dir)))
        stage("bpe_encode", lambda: noop(registry["text_bpe_encode"](spark, sf_dir)))

        print(json.dumps({"cpus": cpus, "timings": timings}))
        sys.stdout.flush()
    finally:
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "child":
        run_child(sys.argv[2], sys.argv[3])
        return

    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--cpus", default="32,8")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_probe import build_scaled

    # build (or reuse) the replicated inputs with a full-width session
    build_spark = _session("32")
    build_spark.sparkContext.setLogLevel("ERROR")
    sf_dir = build_scaled(build_spark, args.factor)
    build_spark.stop()
    print(f"# scaled inputs ready: {sf_dir}", file=sys.stderr)

    results: dict[str, list[dict[str, float]]] = {}
    for rep in range(args.reps):
        for cpus in args.cpus.split(","):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "child", cpus, sf_dir],
                capture_output=True,
                text=True,
                cwd=_REPO,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(f"# child cpus={cpus} rep={rep} FAILED:", file=sys.stderr)
                print(out.stderr[-2000:], file=sys.stderr)
                continue
            rec = json.loads(line[-1])
            results.setdefault(cpus, []).append(rec["timings"])
            print(json.dumps({"rep": rep, **rec}))
            sys.stdout.flush()

    # min-over-reps per (cpus, probe); ratio = t8 / t32
    summary = {}
    for probe in PROBES:
        row = {}
        for cpus, recs in results.items():
            vals = [r[probe] for r in recs if probe in r]
            if vals:
                row[f"c{cpus}"] = min(vals)
        if "c8" in row and "c32" in row and row["c32"] > 0:
            row["ratio_c8_over_c32"] = round(row["c8"] / row["c32"], 2)
        summary[probe] = row
    print(json.dumps({"factor": args.factor, "summary": summary}))


if __name__ == "__main__":
    main()
