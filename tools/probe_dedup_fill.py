"""One-time fill profile for the dedup family's pass-1 band exit (r16).

VERDICT r15 ask #2: the dedup pass-1 subtotal exited the r14
families_band upward in r15 ([35.6, 46.1] vs [27.0, 36.5]) and again in
one of r16's two byte-identical bench runs ([31.7, 43.5] and
[46.5, 54.0] — a 24% same-code, same-session-config swing on its own).
Steady medians tripped nothing in any round, so the question is WHERE
in the cold fill the variance lives, not whether the steady plans
regressed. This probe decomposes the family's dominant fill chain —
the shared pairwise-Jaccard memo, the connected-components build over
it, the quality-score artifact, and the final keeper pick — one fresh
JVM per rep, so no rep inherits another's JIT, caches or heap state and
the per-stage spread over byte-identical code is measured directly:

    python tools/probe_dedup_fill.py            # parent: N reps
    python tools/probe_dedup_fill.py child      # one rep, fresh JVM

Stages per rep (cumulative chain, cold memo each rep):
    pairwise    _memoized_pairwise(_grams_df(...)).count()
    components  dedup_duplicate_clusters(..., "two-phase").count()
    quality     quality_score(...).count()
    keep_best   dedup_cluster_keep_best(...).count()  (sum of parts paid)
    ngram       dedup_ngram_jaccard(...).count()      (re-reads pairwise)
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("PROBE_REPS", "3"))


def run_rep() -> dict:
    from polarify_spark.operators import dedup
    from polarify_spark.operators.text import quality_score

    import __spark_entry__
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF

    spark = __spark_entry__.session(CPUS, "16g")
    try:
        # the bench's pass-1 fills are session-local localCheckpoint
        # memos (no durable dir); force that here too so an ambient
        # spark-defaults artifacts dir can't warm later reps and
        # silently turn this into a durable-read benchmark.
        try:
            spark.conf.unset(ARTIFACTS_DIR_CONF)
        except Exception:
            pass  # already unset
        stages = {}

        def stage(name, thunk):
            t0 = time.perf_counter()
            n = thunk()
            stages[name] = {"s": round(time.perf_counter() - t0, 3), "rows": n}

        grams = dedup._grams_df(spark, SF_DIR)
        stage("pairwise", lambda: dedup._memoized_pairwise(grams).count())
        stage(
            "components",
            lambda: dedup.dedup_duplicate_clusters(
                spark, SF_DIR, algorithm="two-phase"
            ).count(),
        )
        stage("quality", lambda: quality_score(spark, SF_DIR).count())
        stage(
            "keep_best",
            lambda: dedup.dedup_cluster_keep_best(spark, SF_DIR).count(),
        )
        stage(
            "ngram", lambda: dedup.dedup_ngram_jaccard(spark, SF_DIR).count()
        )
        return {"stages": stages}
    finally:
        spark.stop()


def summarize(
    reps: "list[dict]",
    reps_requested: int,
    probe: str = "dedup_fill",
    sf_dir: "str | None" = None,
) -> dict:
    """Pure per-stage min/max envelope over rep dicts (ADVICE r16 #3).

    A child rep that errored, or that printed valid JSON without a
    ``stages`` key, contributes nothing to any stage's envelope — so
    each stage carries its own sample size ``n`` and the summary
    carries ``reps_failed``, making a partial envelope (e.g. a 1-rep
    "spread" out of 3 requested) visible instead of silently narrow.
    A malformed stage entry (not a dict, or no numeric ``s`` — ADVICE
    r17 #3) is likewise skipped per-stage rather than raising KeyError
    and losing every completed rep's summary; a rep whose entries are
    ALL malformed counts as failed. Shared by the other staged probes
    (``probe`` names the caller)."""

    def _seconds(st) -> "float | None":
        s = st.get("s") if isinstance(st, dict) else None
        # bool is an int subclass; a stage timing is never a flag
        return s if isinstance(s, (int, float)) and not isinstance(s, bool) else None

    def _stages(rep) -> dict:
        # the container itself can be malformed too ({"stages": null} /
        # a list) — same blast radius as a malformed entry
        st = rep.get("stages")
        return st if isinstance(st, dict) else {}

    spread: "dict[str, list[float]]" = {}
    for rep in reps:
        for name, st in _stages(rep).items():
            s = _seconds(st)
            if s is not None:
                spread.setdefault(name, []).append(s)
    failed = sum(
        1
        for rep in reps
        if not any(_seconds(st) is not None for st in _stages(rep).values())
    )
    return {
        "probe": probe,
        "sf_dir": sf_dir if sf_dir is not None else SF_DIR,
        "reps": reps_requested,
        "reps_failed": failed,
        "stage_envelope": {
            name: {
                "n": len(v),
                "min": min(v),
                "max": max(v),
                # a sub-resolution stage can round to min 0.0 — report
                # the spread as null rather than dividing by zero and
                # losing every completed rep's summary
                "spread_pct": (
                    round((max(v) - min(v)) / min(v) * 100, 1)
                    if min(v) > 0
                    else None
                ),
            }
            for name, v in spread.items()
            if v
        },
    }


def parse_child_rep(stdout: str, stderr: str) -> dict:
    """Parse a child JVM's final stdout line into a rep dict, degrading
    to an error rep (scored via ``reps_failed``) instead of raising.
    Shared by the staged probes' parent loops: a last line that is
    valid JSON but not an object (a stray bare number/list/null from a
    debug print or py4j noise) must become ONE failed rep, not a
    TypeError that aborts the probe and loses every completed rep."""
    line = stdout.strip().splitlines()[-1] if stdout.strip() else ""
    try:
        rep = json.loads(line)
        if not isinstance(rep, dict):
            raise ValueError("child output is not a JSON object")
        return rep
    except (json.JSONDecodeError, ValueError):
        return {"error": stderr[-800:]}


def main() -> None:
    if len(sys.argv) > 1:  # child: one rep, fresh JVM, cold memo
        print(json.dumps(run_rep()))
        return
    reps = []
    for i in range(REPS):
        # hard wall per child: a hung JVM must become a failed rep
        # (visible via reps_failed), not stall the probe and lose the
        # completed reps' envelope — same guard as probe_stream_decontam
        try:
            out = subprocess.run(
                [sys.executable, __file__, "child"],
                capture_output=True,
                text=True,
                cwd=_REPO,
                timeout=1800,
            )
            stdout, stderr = out.stdout, out.stderr
        except subprocess.TimeoutExpired as exc:
            stdout = ""
            stderr = f"child timed out after {exc.timeout}s"
        reps.append(parse_child_rep(stdout, stderr))
        print(json.dumps({"rep": i, **reps[-1]}), flush=True)
    print(json.dumps(summarize(reps, REPS)))


if __name__ == "__main__":
    main()
