#!/usr/bin/env python
"""Physical-plan audit over the whole query registry.

Builds every registered query's DataFrame at sf0.001 and reports the plan
properties the scale story depends on: exchange count,
broadcast joins, cartesian products, row-wise Python UDFs, Arrow-batched
pandas operators, and whole-stage-codegen spans. Prints one line per query
plus a summary, and exits non-zero if a query plans a CartesianProduct whose
build side is not a broadcast, or any row-wise (non-Arrow) BatchEvalPython
appears anywhere — the two unconditional plan smells.

Usage: PYTHONPATH=. python tools/plan_audit.py [--markdown]
Streaming queries are audited on their drained batch output (the stream plan
itself is owned by the streaming engine); iterative operators (connected
components, k-means) report the plan of their final assembled output.

Not plan-only: most queries are audited lazily (no jobs run), but the
eager-construction operators execute real bounded Spark jobs while their
output plan is assembled — the logreg/BPE training loops run their
per-round aggregates, the anchored dedup kernel runs its sample sizing
action, and the served-index query writes its on-disk IVF index on first
touch. At sf0.001 these are sub-second; pointing the CLI at a large sf_dir
runs them at that scale.
"""

from __future__ import annotations

import argparse
import re
import sys

SF_DIR = "/root/testdata/sf0.001"


def count_keyed_sortaggs(simple_plan: str) -> int:
    """Advisory count of LOGICAL keyed sort-aggregates in a simple-mode
    plan string. A multi-phase aggregate prints its partial (and, for
    distinct aggregates, merge) SortAggregate nodes with the same key as
    the final one, so nodes whose first function starts with
    ``partial_``/``merge_`` are skipped — the final node is the one per
    logical aggregate (ADVICE r12: a distinct aggregate's ``merge_``
    node was counted as a second logical aggregate). Key-less
    SortAggregates are sort-free folds and not counted either.
    A grouped DISTINCT has NO aggregate functions — both its phases
    print ``functions=[]``, matching neither phase prefix — so
    empty-functions nodes are counted as phase pairs PER GROUPING KEY
    (``ceil(n_key/2)``: one logical aggregate per same-key pair, an
    AQE-elided partial still counts once, and two distincts on
    DIFFERENT keys never merge into one), per ADVICE r13 + the r14
    review fix. Keys are normalized by stripping ``#<exprId>`` suffixes
    before pairing (ADVICE r14): today both phases print the same expr
    ids, but nothing in Spark pins that, and an id drift would split one
    logical distinct into two buckets of one node each (ceil(1/2)×2 = 2).
    The trade-off is textual and inherent: a drifted PAIR (k#1 + k#7,
    one aggregate) and two same-NAMED different-column aggregates whose
    partials were both AQE-elided (also k#1 + k#9, TWO aggregates)
    print identically, so no keying can count both right. Normalization
    picks drift-robustness: the elided-same-name case under-counts by
    ceil (fully-phased same-name aggregates still count exactly —
    2k nodes → k). Advisory counter; the registry-level plan test pins
    every real plan's count, so a miscount on a future plan surfaces
    there."""
    import math

    empties_by_key: dict = {}
    finals = 0
    for keys, funcs in re.findall(
        r"SortAggregate\(key=\[(.*?)\], functions=\[(\w*)",
        simple_plan,
    ):
        if not keys.strip():
            continue
        if not funcs:
            norm = re.sub(r"#\d+", "", keys)
            empties_by_key[norm] = empties_by_key.get(norm, 0) + 1
        elif not re.match(r"partial_|merge_", funcs):
            finals += 1
    return finals + sum(
        math.ceil(n / 2) for n in empties_by_key.values()
    )


def audit_registry(
    spark, sf_dir: str = SF_DIR
) -> tuple[list[tuple], list[str]]:
    """Build every registered query's plan and collect the smell report.

    Returns ``(rows, hard_fails)`` where each row is
    (name, exchanges, broadcasts, codegen_spans, cartesian, rowwise_udf,
    arrow_ops, keyed_sortaggs) and ``hard_fails`` lists the unconditional
    smells: a CartesianProduct with no broadcast anywhere in the plan, any
    row-wise (non-Arrow) BatchEvalPython, or a query whose build fails (plan
    construction or the bounded jobs eager operators run during it).
    ``keyed_sortaggs`` is an advisory count of LOGICAL aggregates planned
    as a SortAggregate with a non-empty grouping key (two-phase
    partial/final node pairs count once): those exist only when some
    aggregate buffer is immutable (string/struct min-max, declarative
    first/last over strings),
    which knocks the WHOLE aggregate out of HashAggregate and usually plans
    an extra full Sort of the aggregate input — the smell behind the
    lineitem_profile 6.9 s regression (key-less SortAggregates are sort-free
    folds and not counted). Known-deliberate hits (adjudicated in their
    docstrings): dedup_keep_best / dedup_cluster_keep_best /
    docs_training_corpus all use a lexicographic struct-max to pick a
    deterministic keeper — hash-only rewrites would add a second corpus
    shuffle without shrinking the spine, so the in-partition sort is the
    better 100 TB shape there. Importable so the test suite can fail red on
    the same contract the CLI enforces (``tests/test_plan_audit.py``)."""
    import __spark_entry__ as entry_mod

    from polarify_spark.plans import (
        broadcast_joins,
        exchange_count,
        plan_string,
        wholestage_codegen_count,
    )

    rows = []
    hard_fails: list[str] = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = plan_string(df)
            n_ex = exchange_count(df)
            n_bc = len(broadcast_joins(df))
            n_wsc = wholestage_codegen_count(df)
            cartesian = "CartesianProduct" in plan
            # BroadcastNestedLoopJoin is the sanctioned "tiny side vs scan"
            # pairing; a CartesianProduct without any broadcast is the smell
            bad_cartesian = cartesian and n_bc == 0 and "Broadcast" not in plan
            rowwise_udf = bool(re.search(r"BatchEvalPython", plan))
            arrow_ops = len(
                re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
            )
            keyed_sortaggs = count_keyed_sortaggs(
                plan_string(df, "simple")
            )
            rows.append(
                (name, n_ex, n_bc, n_wsc, cartesian, rowwise_udf, arrow_ops,
                 keyed_sortaggs)
            )
            if bad_cartesian:
                hard_fails.append(f"{name}: CartesianProduct without broadcast")
            if rowwise_udf:
                hard_fails.append(f"{name}: row-wise BatchEvalPython in plan")
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            rows.append((name, -1, -1, -1, False, False, 0, 0))
            # "build" covers both plan construction and the bounded jobs
            # eager-construction operators run during it (see module doc)
            hard_fails.append(f"{name}: query build failed: {exc}")
    return rows, hard_fails


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--markdown", action="store_true")
    args = ap.parse_args()

    import __spark_entry__

    spark = __spark_entry__.session(8, "1g")
    spark.sparkContext.setLogLevel("ERROR")

    rows, hard_fails = audit_registry(spark)

    if args.markdown:
        print("| query | exchanges | broadcasts | codegen spans | cartesian | arrow ops | keyed sortaggs |")
        print("| --- | --- | --- | --- | --- | --- | --- |")
        for name, n_ex, n_bc, n_wsc, cart, _udf, arrow, ksa in rows:
            print(
                f"| {name} | {n_ex} | {n_bc} | {n_wsc} | "
                f"{'yes' if cart else ''} | {arrow or ''} | {ksa or ''} |"
            )
    else:
        for name, n_ex, n_bc, n_wsc, cart, udf, arrow, ksa in rows:
            flags = "".join(
                [" CART" if cart else "", " PYUDF" if udf else "",
                 f" arrow={arrow}" if arrow else "",
                 f" KEYED_SORTAGG={ksa}" if ksa else ""]
            )
            print(f"{name}: exchanges={n_ex} broadcasts={n_bc} codegen={n_wsc}{flags}")

    total_ex = sum(r[1] for r in rows if r[1] >= 0)
    print(
        f"\n{len(rows)} queries audited; total exchanges={total_ex}; "
        f"hard failures={len(hard_fails)}",
        flush=True,
    )
    for f in hard_fails:
        print(f"FAIL {f}")
    spark.stop()
    sys.exit(1 if hard_fails else 0)


if __name__ == "__main__":
    main()
