"""Measured scaling evidence beyond sf0.1 (VERDICT r4/r5 ask).

Builds sfN-equivalent inputs by replicating the driver's sf0.1 tables
R times with disjoint key spaces, then times the scale-sensitive
operators at each factor and reports wall-clock ratios vs R=1.

Replication is designed to preserve workload *character*, not just row
count:

* every id column shifts by ``replica * 10**7`` so keys stay disjoint and
  key cardinality scales with the data (users, docs, orders);
* every token of ``documents.text`` gets a per-replica suffix, so replicas
  share zero n-grams — the duplicate/near-duplicate RATE stays that of
  sf0.1 instead of every doc gaining R-1 exact copies (which would blow up
  LSH candidate pairs quadratically and measure a different workload);
* ``events`` keeps its time range (windows gain R x rows) while its user
  space scales (sessionization state scales).

Usage: ``python tools/scale_probe.py [--factors 1,2,5,10]``. Writes scaled
parquet under ``.scale/`` (gitignored, reused across runs) and prints one
JSON line per factor plus a final ratio summary — paste into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BASE_SF = "/root/testdata/sf0.1"
SCALE_ROOT = REPO / ".scale"
ID_STRIDE = 10**7

#: table -> columns to shift per replica (keeps key spaces disjoint and
#: cardinalities scaling). Tables not listed are copied once per replica
#: unchanged (dimension tables: their row counts do not scale with SF).
SHIFT_COLS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}
DIM_TABLES = ["region", "nation", "supplier", "part"]

PROBES = [
    # (name, registry query) — each scale-sensitive in a different way
    "dedup_exact",                # one uniform hash shuffle
    "dedup_lsh_jaccard",          # linear signatures + banded bucket join
    "docs_training_corpus",       # the composed pipeline (CC, decontam, ...)
    "similarity_topk_bruteforce", # corpus-linear broadcast scan
    "similarity_topk_ivf",        # cell-pruned scan
    "events_windowed_agg",        # windowed aggregation, R x rows/window
    "events_sessionize",          # per-user ordered window, R x users
    "relational_pricing_summary", # TPC-H Q1 scan+agg
]


def _ensure_flat_events(spark, out: Path) -> None:
    """The streaming source globs for FILES named events*.parquet; the
    replica writer produces a directory. Flatten idempotently (works on
    pre-existing replica caches too): rewrite the directory as one file.
    Batch readers accept either layout, so this changes nothing for the
    batch probes."""
    events_dir = out / "events.parquet"
    if not events_dir.is_dir():
        return
    from polarify_spark.sources import read_table

    tmp = out / "_events_flat"
    shutil.rmtree(tmp, ignore_errors=True)
    # small row groups: a coalesce(1) single file with default 128 MB
    # blocks leaves the batch scan 1-2 splits at R=100 (measured 16x on
    # gapfill); 8 MB groups restore split parallelism while keeping the
    # single-FILE layout the stream glob needs
    (
        read_table(spark, str(out), "events")
        .coalesce(1)
        .write.option("parquet.block.size", 8 * 1024 * 1024)
        .parquet(str(tmp))
    )
    part = next(tmp.glob("part-*.parquet"))
    shutil.rmtree(events_dir)
    part.rename(out / "events.parquet")
    shutil.rmtree(tmp)


def build_scaled(spark, factor: int) -> str:
    from pyspark.sql import functions as F

    out = SCALE_ROOT / f"r{factor}"
    marker = out / "_COMPLETE"
    if marker.exists():
        _ensure_flat_events(spark, out)
        return str(out)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)

    for t in DIM_TABLES:
        spark.read.parquet(f"{BASE_SF}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(str(out / f"{t}.parquet"))

    from polarify_spark.sources import read_table

    for t, cols in SHIFT_COLS.items():
        # events goes through the normalizing reader: a raw re-write would
        # embed Spark's TIMESTAMP_NTZ schema metadata, which overrides the
        # library's reader confs on the way back in. The normalized column
        # is a plain instant, which round-trips unambiguously.
        base = (
            read_table(spark, BASE_SF, t)
            if t == "events"
            else spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        )
        parts = []
        for i in range(factor):
            rep = base
            for c in cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(i * ID_STRIDE))
            if t == "documents":
                # per-replica token suffix: replicas share no n-grams, so
                # dup rate stays sf0.1's instead of going degenerate
                rep = rep.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1x{i}")
                    if i
                    else F.col("text"),
                )
            parts.append(rep)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.write.mode("overwrite").parquet(str(out / f"{t}.parquet"))
    _ensure_flat_events(spark, out)
    marker.touch()
    return str(out)


def main() -> None:
    global PROBES

    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,2,5,10")
    ap.add_argument(
        "--probes",
        default=",".join(PROBES),
        help="comma-separated subset of probes (big factors can be chunked "
        "across runs and merged by hand)",
    )
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]
    PROBES = [p for p in args.probes.split(",") if p]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("polarify-spark-scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()

    def reset_memos() -> None:
        # each timed factor builds its pipeline/index artifacts from
        # scratch: the module memos would otherwise hand the warmup's
        # materializations back to the measured run
        from polarify_spark.operators._memo import FAMILIES

        for family in ("dedup", "ann", "bpe"):
            FAMILIES[family].clear()
        spark.catalog.clearCache()

    # untimed warmup at the base factor: JVM JIT, codegen, Arrow workers,
    # parquet footers — so the first measured factor isn't the cold one
    warm_dir = build_scaled(spark, factors[0])
    for name in PROBES:
        registry[name](spark, warm_dir).count()

    results: dict[int, dict[str, float]] = {}
    for f in factors:
        sf_dir = build_scaled(spark, f)
        reset_memos()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm fs
        timings = {}
        for name in PROBES:
            fn = registry[name]
            # time the NOOP WRITE (the bench convention), not count():
            # Catalyst prunes everything count(1) doesn't need, so a
            # union of ungrouped aggregates (table profile, constraint
            # checks) "costs" only its parquet-footer row counts under
            # count() — measured 0.45 s vs the real 80 s for
            # lineitem_profile at R=100. The row count for the
            # workload-character check runs untimed afterwards.
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
            timings[f"{name}__rows"] = df.count()
        results[f] = timings
        print(json.dumps({"factor": f, "timings": timings}), flush=True)

    base = results[factors[0]]
    summary = {}
    for f in factors[1:]:
        summary[f] = {
            name: round(results[f][name] / max(base[name], 1e-9), 2)
            for name in PROBES
        }
    print(json.dumps({"wall_ratios_vs_r1": summary}, indent=2))


if __name__ == "__main__":
    main()
