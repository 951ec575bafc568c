#!/usr/bin/env python
"""Local simulation of the driver correctness gate: run every registered
query against its DuckDB oracle at sf0.01 and report per-query
rows/schema/values agreement: PYTHONPATH=. python tools/driver_sim.py

Options (VERDICT r11 asks #2/#4):
    --out=FILE      also write a PREGATE-style JSON artifact
    --durable[=DIR] run with `spark.polarify.artifacts.dir` set (fresh
                    temp dir unless DIR given) — every memo artifact on
                    the sweep goes through the durable parquet publish
                    protocol instead of localCheckpoint, so the oracle
                    gate itself proves the durable read path
    name1 name2 ... filter to specific queries"""
import json, os, sys, tempfile, time, traceback

# self-sufficient sys.path (the probe-tool convention): the documented
# `PYTHONPATH=. python tools/driver_sim.py` keeps working, but a bare
# invocation from anywhere resolves the repo root too
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import __spark_entry__ as e

OUT = None
DURABLE = None
args = []
for a in sys.argv[1:]:
    if a.startswith("--out="):
        OUT = a.split("=", 1)[1]
    elif a == "--durable":
        DURABLE = tempfile.mkdtemp(prefix="polarify-artifacts-")
    elif a.startswith("--durable="):
        DURABLE = a.split("=", 1)[1]
    elif a.startswith("-"):
        # fail loudly: a misspelled flag (or the space form '--out FILE')
        # used to fall through into the name filter and produce a
        # vacuous 0-query run that READS like a clean pregate
        sys.exit(f"unknown option {a!r} (did you mean --out=FILE?)")
    else:
        args.append(a)

q, o = e.queries(), e.oracle_sql()
if args:  # optional filter: tools/driver_sim.py name1 name2 ...
    want = set(args)
    unknown = sorted(want - set(q))
    if unknown:
        # same vacuous-run hazard as a misspelled flag: a typo'd query
        # name must error (BEFORE the minutes-long Spark init), not
        # silently shrink the sweep
        sys.exit(f"unknown query names {unknown}; see __spark_entry__.queries()")
    q = {k: v for k, v in q.items() if k in want}

spark = e.session(16, "8g")
spark.sparkContext.setLogLevel("ERROR")
if DURABLE:
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
    spark.conf.set(ARTIFACTS_DIR_CONF, DURABLE)
    print(f"durable arm: {ARTIFACTS_DIR_CONF}={DURABLE}", flush=True)
import duckdb, numpy as np, pandas as pd
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")

results = {}
for name, fn in q.items():
    t0 = time.time()
    try:
        mine = fn(spark, "/root/testdata/sf0.01").toPandas()
        if o.get(name) is None:
            # driver contract: a query without oracle SQL gets the weaker
            # rows-only check (runs, returns >=0 rows, stable schema) —
            # not a KeyError scored as FAIL
            results[name] = {
                "rows": True, "schema": True, "vals": True,
                "rows_only": True, "n": len(mine),
                "sec": round(time.time() - t0, 1),
            }
            print(f"OK  {name}: {results[name]}", flush=True)
            continue
        oracle = con.execute(o[name]).df()
        cols = sorted(oracle.columns)
        ok_rows = len(mine) == len(oracle)
        ok_schema = sorted(mine.columns) == cols
        ok_vals = ok_rows and ok_schema
        dtype_drift = []
        if ok_vals:
            # round floats BEFORE sorting so near-equal values can't sort
            # into different row orders on the two sides, and normalize
            # NaN/None so object columns stringify identically
            def norm(df):
                out = df[cols].copy()
                for c in cols:
                    if out[c].dtype.kind == "f":
                        out[c] = out[c].astype(float).round(6)
                    else:
                        out[c] = out[c].where(out[c].notna(), None)
                return out.sort_values(cols).reset_index(drop=True)
            om, mm = norm(oracle), norm(mine)
            # the real driver hashes cell REPRS, so an int64 column on one
            # side and float64 on the other ("888" vs "888.0") hash-fails
            # even when every value is numerically identical (DuckDB
            # HUGEINT sums are the classic source). Mirror that strictness:
            # a float/int dtype-class mismatch is a failure here too.
            kind = lambda s: "f" if s.dtype.kind in "fc" else ("i" if s.dtype.kind in "iub" else "o")
            dtype_drift = [c for c in cols if kind(om[c]) != kind(mm[c])]
            ok_vals = ok_vals and not dtype_drift
            # the real driver hashes EXACT value reprs, so floats must be
            # bit-equal after each side's rounding convention — allclose
            # slack would pass pre-flight and fail the gate. Keep allclose
            # as a diagnostic: exact-fail + allclose-pass = ulp drift.
            float_drift = []
            for c in cols:
                ov, mv = om[c], mm[c]
                if ov.dtype.kind == "f" or mv.dtype.kind == "f":
                    ovf, mvf = ov.astype(float), mv.astype(float)
                    exact = bool(((ovf.values == mvf.values) | (ovf.isna().values & mvf.isna().values)).all())
                    close = np.allclose(ovf, mvf, atol=1e-6, equal_nan=True)
                    if close and not exact:
                        float_drift.append(c)
                    ok_vals = ok_vals and exact
                else:
                    ok_vals = ok_vals and (ov.astype(str).values == mv.astype(str).values).all()
        results[name] = {"rows": ok_rows, "schema": ok_schema, "vals": bool(ok_vals), "n": len(mine), "sec": round(time.time()-t0, 1)}
        if ok_rows and ok_schema and dtype_drift:
            results[name]["dtype_drift"] = dtype_drift
        if ok_rows and ok_schema and float_drift:
            results[name]["float_drift_ulp"] = float_drift
    except Exception as ex:
        results[name] = {"err": f"{type(ex).__name__}: {str(ex)[:150]}"}
    r = results[name]
    status = "OK " if r.get("vals") else "FAIL"
    print(f"{status} {name}: {r}", flush=True)

bad = {k: v for k, v in results.items() if not v.get("vals")}
print(f"\nTOTAL {len(results)} queries, {len(results)-len(bad)} green, {len(bad)} problems")
if bad: print(json.dumps(bad, indent=1))
if OUT:
    import datetime, subprocess
    # check=True: the artifact exists to certify WHICH head was pregated —
    # a failed rev-parse must abort loudly, not stamp head_after=""
    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    payload = {
        "date": datetime.date.today().isoformat(),
        "head_after": head,
        "n_green": len(results) - len(bad),
        "n_queries": len(results),
        "durable_artifacts_dir": DURABLE,
        "note": "",
        "results": results,
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}", flush=True)
spark.stop()
