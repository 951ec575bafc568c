"""The top-k result contract under ties, on every ANN operator: each
``similarity.topk_*`` and each ``knn.knn_join`` method returns
(q_id, neighbor_id, cosine, rank) with the cosine rounded to 4 decimals,
ranks 1..n (n <= k) per query, ordered by (cosine desc, neighbor_id asc).
Needs no generated testdata: the vectors are an in-memory table with
planted duplicates, so equal cosines occur in every query's candidates."""

from __future__ import annotations

import pytest

from polarify_spark.operators import knn, similarity
from polarify_spark.operators.similarity import N_QUERIES, PQ_K, TOP_K

#: rows in the table: enough for the query block, the IVF seed cells and
#: the PQ_K codebook seeds, plus a tail of duplicates
N_ROWS = N_QUERIES + PQ_K + 24
#: distinct base vectors; row ``i`` carries base ``i % N_BASES``, so every
#: base appears 4 times and each query has 3 exact duplicates
N_BASES = N_ROWS // 4
KNN_K = 5

TOPK = [
    similarity.topk_bruteforce,
    similarity.topk_ivf,
    similarity.topk_ivf_multiprobe,
    similarity.topk_rplsh,
    similarity.topk_rplsh_multiprobe,
    similarity.topk_rplsh_multitable,
    similarity.topk_sq8,
    similarity.topk_pq,
    similarity.topk_pq_rerank,
]


@pytest.fixture(scope="module")
def emb(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from polarify_spark.operators import release_shared_caches

    def vec(j: int) -> list[float]:
        return [
            float((j * 7 + d * 13) % 11 - 5 + (j * 3 + d * 5) % 7 - 3)
            for d in range(64)
        ]

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    rows = [(i, vec(i % N_BASES)) for i in range(N_ROWS)]
    yield spark.createDataFrame(rows, schema)
    release_shared_caches(spark, scope="ann")


def _check_contract(df, k: int) -> dict:
    """Assert the contract on ``df``; returns q_id -> [(cosine, id)]."""
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("q_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("cosine", "double"),
        ("rank", "int"),
    ]
    by_q: dict = {}
    for r in df.collect():
        by_q.setdefault(r["q_id"], []).append(
            (r["rank"], r["cosine"], r["neighbor_id"])
        )
    assert by_q, "no rows"
    out = {}
    for q_id, hits in by_q.items():
        hits.sort()
        ranks = [h[0] for h in hits]
        assert ranks == list(range(1, len(hits) + 1)), (q_id, ranks)
        assert len(hits) <= k, (q_id, len(hits))
        keys = [(-cos, nid) for _rank, cos, nid in hits]
        assert keys == sorted(keys) and len(set(keys)) == len(keys), (q_id, hits)
        assert all(round(cos, 4) == cos for _rank, cos, _nid in hits), hits
        out[q_id] = [(cos, nid) for _rank, cos, nid in hits]
    return out


@pytest.mark.parametrize("fn", TOPK, ids=[f.__name__ for f in TOPK])
def test_topk_contract_under_ties(spark, emb, fn):
    out = _check_contract(fn(spark, "", emb=emb), TOP_K)
    assert set(out) <= set(range(N_QUERIES))
    for q_id, hits in out.items():
        assert all(nid != q_id for _cos, nid in hits), (q_id, hits)


def test_bruteforce_sees_ties(spark, emb):
    """The planted duplicates do tie: every query's exact top-k holds its
    3 duplicates at cosine 1.0, ranked by neighbor id."""
    out = _check_contract(similarity.topk_bruteforce(spark, "", emb=emb), TOP_K)
    for q_id, hits in out.items():
        dups = [q_id + m * N_BASES for m in (1, 2, 3)]
        assert hits[:3] == [(1.0, d) for d in dups], (q_id, hits)


@pytest.mark.parametrize("method", ["bruteforce", "ivf", "rplsh"])
def test_knn_join_contract_under_ties(emb, method):
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") < N_QUERIES)
    corpus = emb.where(F.col("vec_id") >= N_QUERIES)
    centroids = similarity._seed_centroids(emb) if method == "ivf" else None
    df = knn.knn_join(queries, corpus, KNN_K, method=method, centroids=centroids)
    out = _check_contract(df, KNN_K)
    assert set(out) <= set(range(N_QUERIES))
