"""Seeded input tables for the benchmark.

The benchmark reads nothing outside its own checkout, so it writes the
tables the workloads scan from ``--seed``: the same seed gives byte-equal
parquet. Schemas and value distributions follow the repository's
TPC-H-ish test tables (``TESTDATA.md``, ``FIXTURES.md``): documents are
10-100 words drawn from a 30-word vocabulary (the BM25 and decontamination
oracles hard-code terms from it) with a share of near-duplicates ending in
``dup``, embeddings are unit 64-d float vectors with a 10-way label, events
are timestamp-ordered over 30 days.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _write(path: Path, table: pa.Table) -> None:
    # one file, one row group: the scan layout the program sees must not
    # depend on writer defaults
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def lineitem(rng: np.random.Generator, rows: int) -> pa.Table:
    # 50 quantities x 20 unit prices x 11 discounts: the rule workload's
    # output check evaluates every distinct input tuple in plain Python
    qty = rng.integers(1, 51, rows).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, 20), 2)
    price = np.round(qty * unit[rng.integers(0, 20, rows)], 2)
    disc = rng.integers(0, 11, rows) / 100.0
    return pa.table(
        {
            "l_orderkey": np.arange(rows, dtype=np.int64) // 4,
            "l_linenumber": (np.arange(rows) % 4 + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup, LSH and
            # leakage-safe-split stages have clusters to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    # ~60 events per user, as in the test tables
    users = max(1, n // 60)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


#: table name -> generator; the index seeds each table's own stream
TABLES = {"lineitem": lineitem, "documents": documents, "embeddings": embeddings, "events": events}


def write_tables(out: Path, seed: int, sizes: dict[str, int]) -> Path:
    """Write each table named in ``sizes`` (name -> rows) under ``out``.

    Each table draws from its own stream of ``seed`` so resizing one table
    leaves the others unchanged."""
    out.mkdir(parents=True, exist_ok=True)
    for name, rows in sizes.items():
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        _write(out / f"{name}.parquet", TABLES[name](rng, rows))
    return out
