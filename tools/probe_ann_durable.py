"""Measure the durable artifact mode on the ANN index structures at scale.

Round 12 extended `spark.polarify.artifacts.dir` to the trained ANN
artifacts (PQ codebook, PQ-encoded corpus, SQ8 stats). The spans probe
covers the dedup family at R=100; this probe covers the ANN family: the
PQ index fill (Lloyd training + full-corpus fused encode) is the
heaviest trained artifact, so it is the one whose rebuild an executor
loss should not force. The r12 continuation added two more ops for the
families that joined the artifact layer that round: ``charlm`` (the
search family's per-doc bigram counts) and ``logreg`` (the trained
quality classifier — 12 gradient rounds whose refill-from-disk skips
the whole loop). One fresh JVM per arm:

    python tools/probe_ann_durable.py [--factor 10] [--runs 3]
    python tools/probe_ann_durable.py ARM --factor N   # child

Arms:
    pinned   — localCheckpoint memos at the shipped serialized level
    durable  — ARTIFACTS_DIR_CONF set to a fresh temp dir; reports the
               extra `refill_from_disk` wall (fresh memo state, index
               already on disk — the cross-session serve cost)

Per arm: `fill` = first `topk_pq` wall (pays codebook train + corpus
encode + materialization), `steady` = N memo-warm reruns.
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (_REPO, os.path.join(_REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def run_arm(arm: str, factor: int, runs: int, op: str = "pq") -> dict:
    import shutil
    import tempfile

    import __spark_entry__
    from polarify_spark.operators import release_shared_caches, similarity

    spark = __spark_entry__.session(CPUS, "24g")
    spark.sparkContext.setLogLevel("ERROR")
    from scale_probe import build_scaled

    sf_dir = build_scaled(spark, factor)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()  # warm fs

    art = None
    if arm == "durable":
        art = tempfile.mkdtemp(prefix="polarify_ann_artifacts_")
        from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
        spark.conf.set(ARTIFACTS_DIR_CONF, art)

    if op == "pq":
        def target(sp, d):
            return similarity.topk_pq(sp, d)
        scope = "ann"
    elif op == "bpe":  # the learned merge table (8 corpus-aggregate rounds)
        from polarify_spark.operators import bpe as bpe_mod

        def target(sp, d):
            return bpe_mod.bpe_train(sp, d)
        scope = "all"
    elif op == "charlm":  # search family: per-doc bigram counts (r12)
        from polarify_spark.operators import search as search_mod

        def target(sp, d):
            return search_mod.charlm_quality(sp, d)
        scope = "all"
    else:  # logreg: the trained classifier (12 gradient rounds, r12)
        from polarify_spark.operators import ml as ml_mod

        def target(sp, d):
            return ml_mod.logreg_quality(sp, d)
        scope = "all"

    def run_once() -> float:
        t0 = time.perf_counter()
        target(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    try:
        fill = run_once()
        steady = [run_once() for _ in range(runs)]
        out = {
            "arm": arm,
            "factor": factor,
            "fill": fill,
            "steady": steady,
            "median": statistics.median(steady),
        }
        out["op"] = op
        if arm == "durable":
            release_shared_caches(spark, scope=scope)
            out["refill_from_disk"] = run_once()
            from pathlib import Path

            out["artifact_mb"] = round(
                sum(
                    f.stat().st_size
                    for f in Path(art).rglob("*")
                    if f.is_file()
                )
                / 1e6,
                1,
            )
        return out
    finally:
        if art is not None:
            from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
            spark.conf.unset(ARTIFACTS_DIR_CONF)
            shutil.rmtree(art, ignore_errors=True)
        spark.stop()


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("arm", nargs="?", help="child mode: run one arm")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--op", default="pq",
                    choices=["pq", "bpe", "charlm", "logreg"])
    args = ap.parse_args()
    if args.arm:
        print(json.dumps(run_arm(args.arm, args.factor, args.runs, args.op)))
        return
    for arm in ("pinned", "durable"):
        out = subprocess.run(
            [
                sys.executable,
                __file__,
                arm,
                f"--factor={args.factor}",
                f"--runs={args.runs}",
                f"--op={args.op}",
            ],
            capture_output=True,
            text=True,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        print(line or json.dumps({"arm": arm, "error": out.stderr[-600:]}),
              flush=True)


if __name__ == "__main__":
    main()
