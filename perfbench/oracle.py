"""Output check for ``operators_warm``: every query against its DuckDB
oracle SQL from the query registry, and the set-up's training-corpus
manifest against the oracles of ``docs_training_corpus`` (membership) and
``docs_leakage_safe_split`` (each member's split). Floats compare after
rounding to 6 decimals, the registry's rule, with a 1e-6 tolerance for
values that straddle a rounding boundary."""

from __future__ import annotations

import math
import sys
from pathlib import Path


def _connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=0.0, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _same(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    if sorted(spark_cols) != sorted(duck_cols) or len(spark_rows) != len(duck_rows):
        return False
    return all(
        _close(a, b)
        for a, b in zip(_rows(spark_cols, spark_rows), _rows(duck_cols, duck_rows))
    )


#: the registered queries the pipeline's manifest is checked against
PIPELINE_ORACLES = ("docs_training_corpus", "docs_leakage_safe_split")


def _oracles(sf_dir: str, names, registry) -> dict[str, tuple]:
    """The reference result of each named query, from DuckDB alone."""
    con = _connect(sf_dir)
    out = {}
    try:
        for name in names:
            cur = con.execute(registry[name][1])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return out


def _manifest_ok(rows, want: dict[str, tuple]) -> bool:
    cols, corpus = want["docs_training_corpus"]
    members = {r[cols.index("doc_id")] for r in corpus}
    cols, split = want["docs_leakage_safe_split"]
    fold = {r[cols.index("doc_id")]: r[cols.index("split")] for r in split}
    return {r["doc_id"] for r in rows} == members and all(
        r["split"] == fold[r["doc_id"]] for r in rows
    )


def compare(sf_dir: str, frames: dict, manifest) -> list[str]:
    """Collect each query's DataFrame (query name -> DataFrame) and the
    manifest; return the queries, and ``pipeline``, whose result differs
    from its oracle. DuckDB computes the oracles on a second thread while
    Spark collects."""
    from concurrent.futures import ThreadPoolExecutor

    from polarify_spark.operators import EXTENSION_QUERIES

    with ThreadPoolExecutor(1) as pool:
        future = pool.submit(_oracles, sf_dir, [*frames, *PIPELINE_ORACLES], EXTENSION_QUERIES)
        got = {step: (df.columns, df.collect()) for step, df in frames.items()}
        rows = manifest.collect()
        want = future.result()
    bad = [step for step in frames if not _same(*got[step], *want[step])]
    if not _manifest_ok(rows, want):
        bad.append("pipeline")
    for name in bad:
        print(f"perfbench: {name} disagrees with its oracle", file=sys.stderr)
    return bad
