"""Settle the R=100 repeated-spans steady-wall variance (VERDICT r10 ask #4).

Round 10 measured direct steady re-runs of ``dedup_repeated_spans`` at
R=100 spanning 2.4-9.6 s over the ~35M-row in-memory window-table
checkpoint — a 4x band on an unchanged plan, attributed to driver-heap GC
pressure from the deserialized row objects the default localCheckpoint
storage level keeps resident. This probe measures the candidates the
verdict names, each in the SAME session over the SAME cached R=100
replica (tools/scale_probe.py's .scale/r100):

* ``default``   — localCheckpoint at Spark's default level (deserialized)
* ``ser``       — localCheckpoint at MEMORY_AND_DISK (serialized bytes)
* ``disk``      — localCheckpoint at DISK_ONLY
* ``gc30``      — default level + spark.cleaner.periodicGC.interval=30s
                  (the bench.py cadence pin, applied at session build)
* ``pinned``    — whatever ``_memo._CHECKPOINT_STORAGE`` ships with (the
                  level the measurements selected), for regression re-runs
* ``durable``   — the parquet artifact mode (``ARTIFACTS_DIR_CONF`` set to
                  a fresh temp dir): fill = write+read-back, plus a
                  ``refill`` wall (fresh memo state, artifacts on disk —
                  the cross-session reuse cost at scale)

For each mode: reset the dedup memos, pay the fill once, then time N
steady runs; report median, [min, max], and the band/median ratio the ask
gates on (within +/-25% of the median). Usage::

    python tools/probe_spans_steady.py [--runs 3] [--modes default,ser,disk]

r18 extension (VERDICT r17 ask #1 — adjudicate the driver-bench steady
level shift 0.50 -> 1.195 s on byte-identical code): ``--sf-dir`` skips
the scaled-replica build and measures directly against the given corpus
(e.g. /root/testdata/sf0.1, exactly what bench's queries_steady times),
and every mode line now decomposes the fill into its serial stages —
``window_build`` (the memoized window-hash checkpoint),
``detect`` (driver-side hot-hash count, with ``hot_n`` logging which
guard path the steady plan took: hot_n=0 = pure single-pass window) —
before the ``fill`` first full run and the steady reruns. One probe
invocation = one fresh JVM; run it several times for cross-JVM spread.

Prints one JSON line per mode; paste into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

MODES = ["default", "ser", "disk", "gc30", "pinned", "durable"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--modes", default="default,ser,disk")
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument(
        "--sf-dir",
        default=None,
        help="measure this corpus directly (skips the scaled-replica "
        "build) — use /root/testdata/sf0.1 to mirror bench",
    )
    args = ap.parse_args()
    modes = [m for m in args.modes.split(",") if m]
    unknown = [m for m in modes if m not in MODES]
    if unknown:
        # validate BEFORE the Spark session + minutes-long replica build
        ap.error(f"unknown modes {unknown}; choose from {MODES}")

    from pyspark import StorageLevel
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[32]")
        .appName("polarify-spans-steady-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if "gc30" in modes:
        # session confs are fixed at build: the GC-cadence candidate rides
        # along for every mode, so run it in a separate invocation if the
        # cadence must be isolated (default run leaves it unset)
        builder = builder.config("spark.cleaner.periodicGC.interval", "30s")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from scale_probe import build_scaled  # noqa: E402 (sibling module)

    from polarify_spark.operators import _memo, dedup, release_shared_caches

    if args.sf_dir:
        sf_dir = args.sf_dir
    else:
        sf_dir = build_scaled(spark, args.factor)
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm fs

    pinned = _memo._CHECKPOINT_STORAGE  # the shipped default, restored at exit
    levels = {
        "default": None,  # Spark's localCheckpoint default: deserialized
        "gc30": None,
        "ser": StorageLevel.MEMORY_AND_DISK,
        "disk": StorageLevel.DISK_ONLY,
        "pinned": pinned,
        # the durable arm measures the parquet artifact path at the
        # SHIPPED checkpoint level (ADVICE r11 #3: it used to inherit
        # whatever level the previous arm left behind)
        "durable": pinned,
    }

    def run_once() -> float:
        t0 = time.perf_counter()
        dedup.dedup_repeated_spans(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    # try/finally: an exception mid-loop must not leave the module global
    # on a non-shipped level for the rest of the process (ADVICE r11 #3)
    try:
        for mode in modes:
            extra = {}
            _memo._CHECKPOINT_STORAGE = levels[mode]
            # per-arm try/finally (ADVICE r12): the durable arm's session
            # conf + temp dir must be torn down even when a run raises,
            # or every later arm silently measures the parquet-artifact
            # path instead of its own level — arm-order-dependent numbers
            art = None
            try:
                if mode == "durable":
                    import tempfile

                    art = tempfile.mkdtemp(prefix="polarify_artifacts_r_")
                    spark.conf.set(_memo.ARTIFACTS_DIR_CONF, art)
                release_shared_caches(spark, scope="dedup")
                # staged fill decomposition (VERDICT r17 ask #1): the
                # query's eager construction = window-hash checkpoint
                # build + driver-side hot detection; time each serial
                # stage, then the first full run (plan build + the
                # membership window + interval merge, memos warm)
                t0 = time.perf_counter()
                dedup._span_windows(spark, sf_dir).count()
                extra["window_build"] = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                hot = dedup._hot_span_hash_list(
                    spark, sf_dir, dedup.SPAN_HOT_WINDOWS
                )
                extra["detect"] = round(time.perf_counter() - t0, 3)
                # which guard path the steady plan takes: 0 = the pure
                # single-pass window, >0 = the routed hot/cold plan
                extra["hot_n"] = len(hot)
                fill = run_once()
                steady = [run_once() for _ in range(args.runs)]
                if mode == "durable":
                    # cross-session reuse at scale: fresh memo, artifacts
                    # on disk
                    release_shared_caches(spark, scope="dedup")
                    extra["refill_from_disk"] = run_once()
                    extra["artifact_mb"] = round(
                        sum(
                            f.stat().st_size
                            for f in Path(art).rglob("*")
                            if f.is_file()
                        )
                        / 1e6,
                        1,
                    )
            finally:
                if art is not None:
                    import shutil

                    spark.conf.unset(_memo.ARTIFACTS_DIR_CONF)
                    shutil.rmtree(art, ignore_errors=True)
            med = statistics.median(steady)
            band_pct = round(
                100 * max(med - min(steady), max(steady) - med) / med, 1
            )
            print(
                json.dumps(
                    {
                        "mode": mode,
                        **(
                            {"sf_dir": sf_dir}
                            if args.sf_dir
                            else {"factor": args.factor}
                        ),
                        "fill": fill,
                        "steady": steady,
                        "median": med,
                        "band_pct_of_median": band_pct,
                        **extra,
                    }
                ),
                flush=True,
            )
    finally:
        _memo._CHECKPOINT_STORAGE = pinned


if __name__ == "__main__":
    sys.path.insert(0, str(REPO / "tools"))
    main()
