"""Approximate-nearest-neighbor search over the ``embeddings`` table
(``array<float>`` column): brute-force cosine top-k as the exactness
baseline, plus the three production levers — IVF cells (compute), RP-LSH
buckets (compute, training-free), and int8 scalar quantization (memory) —
with k-means centroid training and a continuously-measured recall harness.

Scale design (100 TB / billions of vectors, 1000 executors):

* ``topk_bruteforce`` — the query set is small and BROADCAST; each
  partition computes partial per-query top-k (the window is partitioned by
  query id, so AQE plans a shuffle only on ``q_id`` — k rows per query per
  partition survive the exchange). Exact results; linear in corpus size.
  Broadcasting the queries is what makes this scan-shaped: the big side is
  never shuffled.
* ``topk_ivf`` / ``topk_ivf_multiprobe`` — corpus is assigned once to its
  nearest centroid (seed vectors by default; ``kmeans_centroids`` trains
  them), queries probe their P nearest cells: compute drops by
  ~P/n_cells. The cell id is the bucketing/partitioning key at scale.
* ``topk_rplsh`` / ``topk_rplsh_multiprobe`` — training-free
  signed-random-projection buckets; multi-probe flips the lowest-margin
  bit.
* ``topk_rplsh_multitable`` — AND-OR amplified LSH: 4 independent 4-plane
  tables OR'd (measured clustered recall ~0.96 vs 0.18/0.48 single-table
  probe-1/probe-2 at sf0.1).
* ``topk_sq8`` — per-dim int8 quantization (4x memory), asymmetric
  scoring; near-lossless (measured recall 0.975 uniform / 0.99 clustered).
* ``topk_pq`` — product quantization (16x memory: 16 subspaces x 6-bit
  codes vs 256-byte float32 vectors) with per-subspace Lloyd codebooks
  trained on the fixed PQ_TRAIN_VECS sample; the deep-compression end of
  the frontier (measured recall 0.46 uniform / 0.88 clustered at sf0.1 —
  uniform-random vectors are PQ's worst case; the clustered number is the
  representative one).
* ``similarity_recall`` / ``similarity_recall_clustered`` — recall@k of
  every index vs the exact baseline, on uniform and clustered vectors.

All top-k paths emit (q_id, neighbor_id, cosine, rank) with cosine rounded
to 4 decimals and rank ties broken by neighbor id, so results are
deterministic and oracle-checkable against DuckDB. That contract has one
home, shared with ``operators.knn`` and ``operators.dedup``: ``_scored``
(the round-4 cosine of a query-candidate join), ``_top_k`` (the per-q_id
rank window cut at k), ``_ranked_by_centroid`` (a vector column ranked
against a broadcast centroid array), ``_dot``/``_cosine``, and the oracle
fragments ``_cosine_sql`` and ``_topk_tail_sql``. Each operator keeps only
its own join.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from ..functions import md5_top_n_ids_sql
from ._memo import ANN

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10
N_CELLS = 8  # IVF: vec_id in [8, 16) serve as deterministic centroids


def _emb(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a: "Column", b: "Column") -> "Column":
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: "Column", b: "Column") -> "Column":
    """Cosine via the zip_with+aggregate fold. (Unrolling the dot over
    EMB_DIM for codegen was tried and measured 2-3x SLOWER across every
    scoring path: ~600 expression nodes per cosine blow past the
    whole-stage-codegen method budget and fall back worse than the
    interpreted HOF. Don't repeat it.)"""
    from pyspark.sql import functions as F

    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _scored(
    joined: "DataFrame", c_vec: str = "c_vec", score: str = "cosine"
) -> "DataFrame":
    """(q_id, neighbor_id, score): the round-4 cosine of every
    (``q_vec``, ``c_vec``) pair of a query-candidate join — the scoring
    half of the top-k contract."""
    from pyspark.sql import functions as F

    return joined.select(
        "q_id",
        "neighbor_id",
        F.round(_cosine(F.col("q_vec"), F.col(c_vec)), 4).alias(score),
    )


def _top_k(
    scored: "DataFrame", k: int, score: str = "cosine", rank: str = "rank"
) -> "DataFrame":
    """The ranking half of the top-k contract: ``row_number`` per q_id
    over (score desc, neighbor_id asc), kept while ``rank <= k``."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    window = Window.partitionBy("q_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(rank, F.row_number().over(window)).where(
        F.col(rank) <= k
    )


def _seed_centroids(emb: "DataFrame") -> "DataFrame":
    """(cell_id, cent_vec): the fixed seed centroids, embeddings vec_id in
    [N_QUERIES, N_QUERIES + N_CELLS)."""
    from pyspark.sql import functions as F

    return emb.where(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cell_id"),
        F.col("embedding").alias("cent_vec"),
    )


def _cents_row(centroids: "DataFrame") -> "DataFrame":
    """A (cell_id, cent_vec) table collapsed to the 1-row ``cents`` array
    that rides along as a broadcast."""
    from pyspark.sql import functions as F

    return centroids.select(
        F.struct(F.col("cell_id"), F.col("cent_vec")).alias("c")
    ).agg(F.collect_list("c").alias("cents"))


def _by_centroid(vec: "Column", cos: str = "cell_cos") -> "Column":
    """``vec`` scored against every centroid of the ``cents`` column,
    best first: sort key (round-4 cosine desc, -cell_id desc) == (cosine
    desc, cell_id asc), the oracle's assignment order."""
    from pyspark.sql import functions as F

    return F.sort_array(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(_cosine(vec, c["cent_vec"]), 4).alias(cos),
                (-c["cell_id"]).alias("neg_cell_id"),
            ),
        ),
        asc=False,
    )


def _ranked_by_centroid(
    side: "DataFrame",
    centroids: "DataFrame",
    id_col: str = "id",
    vec: str = "vec",
) -> "DataFrame":
    """(id_col, vec, cell_id, cell_cos, rn): every row of ``side`` ranked
    against every centroid of ``centroids`` (cell_id, cent_vec), with ZERO
    side shuffle: the centroids ride along as a 1-row broadcast array,
    each row scores and sorts its own bounded (cos, cell) list map-side,
    and posexplode emits the ranking. (A broadcast join + row_number
    window planned an Exchange over |side| x |centroids| rows just to rank
    a bounded list.) rn=1 is the home cell, rn<=P the probe set."""
    from pyspark.sql import functions as F

    return (
        side.crossJoin(F.broadcast(_cents_row(centroids)))
        .select(
            id_col, vec, F.posexplode(_by_centroid(F.col(vec))).alias("pos", "s")
        )
        .select(
            id_col,
            vec,
            (-F.col("s.neg_cell_id")).alias("cell_id"),
            F.col("s.cell_cos").alias("cell_cos"),
            (F.col("pos") + 1).cast("int").alias("rn"),
        )
    )


def _cosine_sql(a: str, b: str, col: int = 9) -> str:
    """The oracle's round-4 cosine of list columns ``a`` and ``b``, its
    continuation lines aligned for an expression starting at ``col``."""
    pad = " " * col
    return (
        f"ROUND(list_dot_product({a}, {b})\n"
        f"{pad}      / (sqrt(list_dot_product({a}, {a}))\n"
        f"{pad}         * sqrt(list_dot_product({b}, {b}))), 4)"
    )


def _topk_tail_sql(k: int, src: str = "scored") -> str:
    """The oracle's top-k tail: a ``ranked`` CTE over ``src`` (q_id,
    neighbor_id, cosine) plus the final ``rank <= k`` select."""
    return f"""ranked AS (
  SELECT q_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM {src}
)
SELECT q_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


def topk_bruteforce(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, per-query window ranking on (rounded cosine desc, id asc).

    ``emb`` overrides the vector source (same schema as the embeddings
    table) — used by the clustered-recall harness; default is the parquet
    table."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir) if emb is None else emb
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    joined = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("q_id")
    )
    return _top_k(_scored(joined), TOP_K)


TOPK_BRUTEFORCE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM e q JOIN e c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_topk_tail_sql(TOP_K)}"""


def _cell_ranked(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Every (vector, centroid) pairing ranked by cosine per vector
    (vec_id in [N_QUERIES, N_QUERIES + N_CELLS) are the fixed seed
    centroids; ties break on lower cell id). One shuffle-free corpus scan:
    the centroid list rides along as a 1-row broadcast. rn=1 is the IVF
    home cell; rn<=P is the probe set for multi-probe queries."""
    emb = _emb(spark, sf_dir) if emb is None else emb
    scored = _ranked_by_centroid(
        emb, _seed_centroids(emb), id_col="vec_id", vec="embedding"
    )
    # memoized + checkpointed: probe-1, probe-2, the recall harnesses, and
    # the cell-blocked near-dup all derive from this ranking — build it
    # once per corpus and let downstream plans start from the materialized
    # table instead of re-deriving the broadcast-score-rank lineage
    # serialized checkpoint (_memo.local_checkpoint): this is N_CELLS x
    # corpus rows each carrying the full embedding — the largest resident
    # table in the module, exactly the deserialized-row GC hazard the
    # storage-level measurements in SCALE.md r11 were about (r18 audit)
    from ._memo import local_checkpoint

    memo = ANN.corpus(emb)
    return ANN.build(memo, "cell_ranked", lambda: local_checkpoint(scored))


def _cell_assignment(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Each vector's single max-cosine home cell (IVF assignment)."""
    from pyspark.sql import functions as F

    return (
        _cell_ranked(spark, sf_dir, emb)
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "cell_id")
    )


def topk_ivf(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """IVF probe-1 ANN: rank only within the query's own centroid cell."""
    from pyspark.sql import functions as F

    assigned = _cell_assignment(spark, sf_dir, emb)
    queries = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("cell_id").alias("q_cell"),
    )
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("cell_id").alias("c_cell"),
    )
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("c_cell") == F.col("q_cell"))
        & (F.col("neighbor_id") != F.col("q_id")),
    )
    return _top_k(_scored(joined), TOP_K)


#: shared "assign every vector to its max-cosine centroid cell" CTE chain —
#: the SQL twin of ``_cell_assignment``; reused by ``operators.dedup``'s
#: cell-blocked embedding near-dup so both oracles share the cell logic.
IVF_ASSIGN_CTES = f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
cent AS (
  SELECT vec_id - {N_QUERIES} AS cell_id, v AS cent_v
  FROM e WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
),
assign_scored AS (
  SELECT e.vec_id, e.v, cent.cell_id,
         {_cosine_sql("e.v", "cent.cent_v")} AS cc,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cosine_sql("e.v", "cent.cent_v", 37)} DESC,
                                     cent.cell_id ASC) AS rn
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, v, cell_id FROM assign_scored WHERE rn = 1
)"""

TOPK_IVF_SQL = f"""
WITH {IVF_ASSIGN_CTES},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM assigned q
  JOIN assigned c ON c.cell_id = q.cell_id AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_topk_tail_sql(TOP_K)}"""


N_PROBES = 2


def topk_ivf_multiprobe(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """IVF probe-P ANN: the corpus stays in its single home cell, but each
    query probes its P nearest cells — the standard recall lever (compute
    scales with P, memory and index layout unchanged). At 100 TB the scan
    still touches only P/n_cells of the corpus, and the probe set rides the
    same broadcast as the queries."""
    from pyspark.sql import functions as F

    ranked = _cell_ranked(spark, sf_dir, emb)
    queries = (
        ranked.where((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBES))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("cell_id").alias("q_cell"),
        )
    )
    corpus = (
        ranked.where(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            F.col("cell_id").alias("c_cell"),
        )
    )
    # no candidate dedup needed: each corpus vector lives in exactly one
    # cell and a query's probe cells are distinct, so a (q, neighbor) pair
    # appears at most once
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("c_cell") == F.col("q_cell"))
        & (F.col("neighbor_id") != F.col("q_id")),
    )
    return _top_k(_scored(joined), TOP_K)


TOPK_IVF_MULTIPROBE_SQL = f"""
WITH {IVF_ASSIGN_CTES},
probes AS (
  SELECT vec_id, v, cell_id FROM assign_scored
  WHERE rn <= {N_PROBES} AND vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM probes q
  JOIN assigned c ON c.cell_id = q.cell_id AND c.vec_id != q.vec_id
),
{_topk_tail_sql(TOP_K)}"""


# --- random-projection LSH --------------------------------------------------

N_PLANES = 8  # 2^8 = 256 buckets
EMB_DIM = 64


def _plane(j: int) -> list[int]:
    """Deterministic pseudo-random hyperplane j: small integer coords from a
    fixed affine-mod formula, so Spark and the SQL oracle share the planes
    exactly (no RNG, no state)."""
    return [((j * 31 + d * 17) % 13) - 6 for d in range(EMB_DIM)]


def _bucket_expr(vec: "Column") -> "Column":
    """256-way signed-random-projection bucket id of an embedding: bit j is
    sign(dot(v, plane_j)) > 0. Pure array expressions — bucketing the whole
    corpus is one shuffle-free scan."""
    from pyspark.sql import functions as F

    bucket: "Column" = F.lit(0)
    for j in range(N_PLANES):
        plane = F.array(*[F.lit(float(c)) for c in _plane(j)])
        d = _dot(vec, plane)
        bucket = bucket + F.when(d > 0, F.lit(2**j)).otherwise(0)
    return bucket


def _bucketed(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """(vec_id, embedding, bucket): the corpus with its RP-LSH bucket —
    memoized + checkpointed so the single-probe index, the multi-probe
    index, and the recall harnesses share one materialized bucket table."""
    from pyspark.sql import functions as F

    # serialized checkpoint: a full-corpus table with embeddings resident
    # (see _cell_ranked's storage note)
    from ._memo import local_checkpoint

    emb = _emb(spark, sf_dir) if emb is None else emb
    memo = ANN.corpus(emb)
    return ANN.build(
        memo,
        "rplsh_bucketed",
        lambda: local_checkpoint(
            emb.select(
                "vec_id",
                "embedding",
                _bucket_expr(F.col("embedding")).alias("bucket"),
            )
        ),
    )


def topk_rplsh(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """LSH-bucketed ANN: signed-random-projection bucket per vector, then
    exact cosine top-k within the query's bucket only.

    Scale shape is identical to ``topk_ivf`` — one scan assigns buckets,
    bucket id becomes the partition/bucketing key, a probe touches
    ~1/2^planes of the corpus — but needs no centroid training and extends
    to multi-probe (flip low-margin bits) for recall."""
    from pyspark.sql import functions as F

    emb = _bucketed(spark, sf_dir, emb)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("bucket").alias("c_bucket"),
    )
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("c_bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("q_id")),
    )
    return _top_k(_scored(joined), TOP_K)


def topk_rplsh_multiprobe(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Multi-probe RP-LSH: each query probes its own bucket AND the bucket
    with its lowest-margin bit flipped (the plane whose |dot| is smallest —
    the boundary the vector most nearly crossed, so the flipped bucket is
    the likeliest home of missed neighbors). The corpus stays single-bucket;
    only the broadcast query side fans out 2x, so the scan cost is ~2x
    probe-1 at unchanged memory — the standard LSH recall lever without
    adding tables or planes."""
    from pyspark.sql import functions as F

    emb = _bucketed(spark, sf_dir, emb)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("bucket").alias("c_bucket"),
    )
    # lowest-margin plane: index of min |dot(v, plane_j)| (ties -> lower j)
    q = emb.where(F.col("vec_id") < N_QUERIES)
    margins = [
        F.abs(
            _dot(
                F.col("embedding"),
                F.array(*[F.lit(float(c)) for c in _plane(j)]),
            )
        ).alias(f"m{j}")
        for j in range(N_PLANES)
    ]
    q = q.select("vec_id", "embedding", "bucket", *margins)
    min_margin = F.least(*[F.col(f"m{j}") for j in range(N_PLANES)])
    # first (lowest-j) plane achieving the minimum wins, matching the SQL
    # oracle's CASE chain; the when-chain yields the bit MASK directly
    flip_mask: "Column" = F.lit(1 << (N_PLANES - 1))
    for j in reversed(range(N_PLANES)):
        flip_mask = F.when(F.col(f"m{j}") == min_margin, F.lit(1 << j)).otherwise(
            flip_mask
        )
    probe2 = F.col("bucket").bitwiseXOR(flip_mask)
    queries = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(F.array(F.col("bucket"), probe2)).alias("q_bucket"),
    )
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("c_bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("q_id")),
    )
    return _top_k(_scored(joined), TOP_K)


def _plane_sql(j: int) -> str:
    return "[" + ", ".join(f"{c}.0" for c in _plane(j)) + "]"


_BUCKET_SQL = " + ".join(
    f"CASE WHEN list_dot_product(v, {_plane_sql(j)}) > 0 THEN {2**j} ELSE 0 END"
    for j in range(N_PLANES)
)

TOPK_RPLSH_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM bucketed q
  JOIN bucketed c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_topk_tail_sql(TOP_K)}"""


_MARGIN_SQL = ", ".join(
    f"abs(list_dot_product(v, {_plane_sql(j)})) AS m{j}" for j in range(N_PLANES)
)
_MIN_MARGIN_SQL = "LEAST(" + ", ".join(f"m{j}" for j in range(N_PLANES)) + ")"
_FLIP_BIT_SQL = (
    "CASE "
    + " ".join(
        f"WHEN m{j} = {_MIN_MARGIN_SQL} THEN {j}" for j in range(N_PLANES)
    )
    + " END"
)

TOPK_RPLSH_MULTIPROBE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e
),
qm AS (
  SELECT vec_id, v, bucket, {_MARGIN_SQL}
  FROM bucketed WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT vec_id, v,
         unnest([bucket, CAST(xor(bucket, 1 << ({_FLIP_BIT_SQL})) AS BIGINT)])
           AS q_bucket
  FROM qm
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM probes q
  JOIN bucketed c ON c.bucket = q.q_bucket AND c.vec_id != q.vec_id
),
{_topk_tail_sql(TOP_K)}"""


# --- AND-OR amplified RP-LSH (multiple hash tables) --------------------------
#
# The classic LSH recall lever the single-table variants lack: L
# independent tables of fewer planes each (AND within a table, OR across
# tables). A table with only TABLE_PLANES=4 planes keeps same-cluster
# vectors together with probability p^4 instead of p^8, and a pair is a
# candidate if it collides in ANY of the N_TABLES=4 tables:
# 1 - (1 - p^4)^4 — measured clustered recall ~0.8 vs 0.26 (probe-1) /
# 0.39 (probe-2) for the single 8-plane table, at ~4x probe compute and
# 4x bucket-table memory (the corpus vectors themselves are not copied at
# scale: the (vec_id, t, bucket) index is the only L-replicated state).

N_TABLES = 4  # OR: independent hash tables
TABLE_PLANES = 4  # AND: planes (bits) per table


def _table_plane(j: int) -> list[int]:
    """Hyperplane j of the table family — a second affine-mod lattice with
    period 17 > N_TABLES * TABLE_PLANES, so all 16 table planes are
    mutually distinct AND distinct from the 8-plane ``_plane`` family
    (whose period-13 formula would repeat at j >= 13)."""
    return [((j * 37 + d * 23) % 17) - 8 for d in range(EMB_DIM)]


def _table_bucket_expr(vec: "Column", t: int) -> "Column":
    """16-way bucket id of ``vec`` in table t: bit i is
    sign(dot(v, table_plane(t * TABLE_PLANES + i))) > 0."""
    from pyspark.sql import functions as F

    bucket: "Column" = F.lit(0)
    for i in range(TABLE_PLANES):
        plane = F.array(
            *[F.lit(float(c)) for c in _table_plane(t * TABLE_PLANES + i)]
        )
        bucket = bucket + F.when(_dot(vec, plane) > 0, F.lit(2**i)).otherwise(0)
    return bucket


def _multitable_bucketed(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """(vec_id, embedding, t, bucket): every vector's bucket in each of the
    N_TABLES tables — one shuffle-free scan computing all table buckets,
    posexploded to L rows per vector. Memoized + checkpointed: the index
    and the recall harnesses share one materialized table."""
    from pyspark.sql import functions as F

    from ._memo import local_checkpoint

    emb = _emb(spark, sf_dir) if emb is None else emb
    memo = ANN.corpus(emb)
    return ANN.build(
        memo,
        "rplsh_multitable",
        # serialized checkpoint: N_TABLES x corpus rows with embeddings
        # resident (see _cell_ranked's storage note)
        lambda: local_checkpoint(
            emb.select(
                "vec_id",
                "embedding",
                F.posexplode(
                    F.array(
                        *[
                            _table_bucket_expr(F.col("embedding"), t)
                            for t in range(N_TABLES)
                        ]
                    )
                ).alias("t", "bucket"),
            )
        ),
    )


def topk_rplsh_multitable(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """AND-OR amplified RP-LSH ANN: a corpus vector is a candidate for a
    query if they share a bucket in ANY of the N_TABLES hash tables; exact
    cosine top-k over the deduplicated candidate set.

    Scale shape: the per-table join is the same broadcast-query equi-join
    on (t, bucket) as the single-table index — linear scan, no corpus
    shuffle; the OR is a groupBy(q_id, neighbor_id) dedup of candidate
    pairs (max(cosine) — identical across tables — rather than a
    re-fetch join, since the scoring columns already ride on the join).
    At billions of vectors the (t, bucket) pair is the partitioning key,
    exactly like the IVF cell id."""
    from pyspark.sql import functions as F

    b = _multitable_bucketed(spark, sf_dir, emb)
    queries = b.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("t").alias("q_t"),
        F.col("bucket").alias("q_bucket"),
    )
    corpus = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "t",
        "bucket",
    )
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("t") == F.col("q_t"))
        & (F.col("bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("q_id")),
    )
    dedup = _scored(joined).groupBy("q_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return _top_k(dedup, TOP_K)


def _table_plane_sql(j: int) -> str:
    return "[" + ", ".join(f"{c}.0" for c in _table_plane(j)) + "]"


def _table_bucket_sql(t: int) -> str:
    return " + ".join(
        f"CASE WHEN list_dot_product(v, {_table_plane_sql(t * TABLE_PLANES + i)}) > 0"
        f" THEN {2**i} ELSE 0 END"
        for i in range(TABLE_PLANES)
    )


_MT_UNION_SQL = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, v, {t} AS t, {_table_bucket_sql(t)} AS bucket FROM e"
    for t in range(N_TABLES)
)

TOPK_RPLSH_MULTITABLE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
mt AS (
{_MT_UNION_SQL}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
  FROM mt q
  JOIN mt c ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
scored AS (
  SELECT cand.q_id, cand.neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM cand
  JOIN e q ON q.vec_id = cand.q_id
  JOIN e c ON c.vec_id = cand.neighbor_id
),
{_topk_tail_sql(TOP_K)}"""


# --- int8 scalar quantization (SQ8) -----------------------------------------
#
# The standard vector-DB memory lever: per-dimension affine quantization of
# the corpus to uint8 codes (4x smaller than float32, 8x than float64),
# scored asymmetrically — the query stays full precision, corpus vectors
# are dequantized inside the dot product. At 100 TB this is the difference
# between an index that fits executor memory and one that doesn't; recall
# cost is measured by the recall harness (sq8 is near-exact: quantization
# noise per dim is range/255).


def _sq8_stats(emb: "DataFrame") -> "DataFrame":
    """One-row (mn_arr, mx_arr): per-dimension min/max over the corpus.
    posexplode -> groupBy(dim) min/max (uniform 64-key shuffle, map-side
    partials) -> fold back into two 64-element arrays for broadcast."""
    from pyspark.sql import functions as F

    dims = emb.select(F.posexplode("embedding").alias("dim", "x"))
    per_dim = dims.groupBy("dim").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    return per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mn_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("mx_arr"),
    )


def _sq8_codes(emb: "DataFrame", stats: "DataFrame") -> "DataFrame":
    """(vec_id, codes): uint8 codes c_d = round(255 * (x_d - mn_d) / rng_d),
    guarded for constant dimensions (rng 0 -> code 0)."""
    from pyspark.sql import functions as F

    def code(x: "Column", d: "Column") -> "Column":
        mn = F.get(F.col("mn_arr"), d)
        rng = F.get(F.col("mx_arr"), d) - mn
        return (
            F.when(rng == 0, F.lit(0))
            .otherwise(F.round((x.cast("double") - mn) * 255 / rng))
            .cast("int")
        )

    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id", F.transform("embedding", code).alias("codes")
    )


def _dequant(codes: "Column") -> "Column":
    """Dequantized double vector from codes + the broadcast stats columns."""
    from pyspark.sql import functions as F

    def dq(c: "Column", d: "Column") -> "Column":
        mn = F.get(F.col("mn_arr"), d)
        rng = F.get(F.col("mx_arr"), d) - mn
        return mn + c.cast("double") * rng / 255

    return F.transform(codes, dq)


def topk_sq8(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Brute-force top-k over the int8-quantized corpus, asymmetric scoring
    (full-precision query x dequantized corpus). Same scan shape as
    ``topk_bruteforce`` — queries broadcast, corpus never shuffled — at a
    quarter of the corpus memory."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir) if emb is None else emb
    # one row; memoized + checkpointed so the min/max corpus pass runs once
    # per corpus and isn't re-run for the second crossJoin branch (dequant)
    memo = ANN.corpus(emb)
    stats = ANN.artifact(memo, "sq8_stats", lambda: _sq8_stats(emb))
    codes = _sq8_codes(emb, stats)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = codes.crossJoin(F.broadcast(stats)).select(
        F.col("vec_id").alias("neighbor_id"), _dequant(F.col("codes")).alias("c_vec")
    )
    joined = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("q_id")
    )
    return _top_k(_scored(joined), TOP_K)


_SQ8_CTES = f"""stats AS (
  SELECT list(mn ORDER BY d) AS mn_arr, list(mx ORDER BY d) AS mx_arr
  FROM (
    SELECT d, MIN(v[CAST(d AS INT) + 1]) AS mn, MAX(v[CAST(d AS INT) + 1]) AS mx
    FROM e, range(0, {EMB_DIM}) t(d)
    GROUP BY d
  )
),
dq AS (
  SELECT vec_id,
         list_transform(range(0, {EMB_DIM}), d ->
           mn_arr[CAST(d AS INT) + 1]
           + (CASE WHEN mx_arr[CAST(d AS INT) + 1] = mn_arr[CAST(d AS INT) + 1] THEN 0
                   ELSE ROUND((v[CAST(d AS INT) + 1] - mn_arr[CAST(d AS INT) + 1]) * 255
                              / (mx_arr[CAST(d AS INT) + 1] - mn_arr[CAST(d AS INT) + 1]))
              END)
             * (mx_arr[CAST(d AS INT) + 1] - mn_arr[CAST(d AS INT) + 1]) / 255) AS cv
  FROM e CROSS JOIN stats
)"""

TOPK_SQ8_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
{_SQ8_CTES},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.cv")} AS cosine
  FROM e q JOIN dq c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_topk_tail_sql(TOP_K)}"""


# --- product quantization (PQ) ----------------------------------------------
#
# The other classic compression: split each vector into M subvectors and
# replace each with the id of its nearest entry in a per-subspace codebook
# — M log2(K) bits per vector (here 16 subspaces x 64 codes = 12 bytes,
# vs 64 for SQ8 and 256 for float32). Codebooks are TRAINED: init = sampled
# corpus subvectors (the first PQ_K vectors after the query block), then
# PQ_ITERS rounds of per-subspace Lloyd k-means over the deterministic
# PQ_TRAIN_VECS training sample (assign each training subvector to its
# nearest code by squared L2, recompute each code as the element-wise mean
# of its members) — the same deterministic unrolled-iteration shape as
# ``kmeans_centroids``, reproduced exactly by the SQL oracle; the full
# corpus is encoded exactly once with the trained books. Scoring is
# asymmetric: full-precision query x dequantized (codebook-concatenated)
# corpus vector.

PQ_M = 16  # subspaces
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 64  # codes per subspace
PQ_ITERS = 2  # Lloyd training rounds per subspace
#: fixed count of corpus vectors whose subvectors feed Lloyd training:
#: the PQ_TRAIN_VECS vectors with the smallest md5(vec_id) — the same
#: deterministic top-N sample bound as the dedup recall harness. Codebooks
#: are trained on the sample and the FULL corpus is encoded once: at
#: 100 TB nobody Lloyd-iterates over every vector (classic PQ trains on
#: a fixed ~100k-1M sample), and a FIXED size (not a percentage) is what
#: keeps training O(1) in the corpus and the assignment table broadcast-
#: safe. At the <= 512-vector test fixtures the sample IS the corpus, so
#: small-SF codebooks equal full-corpus training exactly.
PQ_TRAIN_VECS = 512


def _pq_subvectors(emb: "DataFrame") -> "DataFrame":
    """(vec_id, m, sub_vec): every corpus vector split into its PQ_M
    subvectors — the training set AND the encode input. One shuffle-free
    scan; the M-way explode carries PQ_SUB scalars per row."""
    from pyspark.sql import functions as F

    return emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        "embedding",
    ).select(
        "vec_id",
        "m",
        F.transform(
            F.slice(F.col("embedding"), F.col("m") * PQ_SUB + 1, PQ_SUB),
            lambda x: x.cast("double"),
        ).alias("sub_vec"),
    )


def _pq_code(sub_vec: "Column", cb_vec: "Column", k: "Column") -> "Column":
    """BIGINT argmin code for one (subvector, codebook-entry) candidate:
    ``round(d2 * 1e6) * PQ_K + k``, where d2 is the squared L2 distance.

    ``min()`` of this over the K-expansion picks the nearest code with ties
    to lower k, as a PURE SCALAR aggregation. This matters: min() over a
    struct (let alone one carrying an array payload) forces a SortAggregate
    over the full K x M candidate expansion — measured ~6x slower than the
    HashAggregate this scalar admits. The 1e6 quantization is the same
    6-decimal cross-engine contract the rest of the module uses; distances
    here are O(100), so the coded value stays far below 2^63 (and ANSI mode
    would fail loudly, not wrap, if it ever didn't).

    The distance is UNROLLED over the PQ_SUB dims (a compile-time constant)
    instead of zip_with/aggregate: higher-order functions are interpreted
    per row, and this expression runs once per candidate in the K x M
    expansion — unrolling keeps it inside whole-stage codegen (measured
    ~4x on the assignment pass). The fold order (((0 + t0) + t1) + ...)
    matches both the HOF version and DuckDB's list_sum exactly, so the
    quantized values are bit-identical across engines."""
    from pyspark.sql import functions as F

    d2 = F.lit(0.0)
    for d in range(PQ_SUB):
        diff = sub_vec[d] - cb_vec[d]
        d2 = d2 + diff * diff
    return F.round(d2 * 1e6, 0).cast("long") * PQ_K + k


def _pq_codebook(emb: "DataFrame", n_iter: int = PQ_ITERS) -> "DataFrame":
    """(m, k, cb_vec): per-subspace codebook, Lloyd-trained.

    Init = subvector m of sampled corpus vector N_QUERIES + k; then
    ``n_iter`` rounds of (assign every subvector to its nearest code) ->
    (per-(m, k, dim) mean, rounded to 4 decimals so Spark and the SQL
    oracle carry bit-identical codebooks into the next round). A code that
    captures no members keeps its previous entry (COALESCE on both
    engines), so the codebook stays exactly PQ_M x PQ_K rows — tiny at any
    corpus size; always broadcast.

    Cross-engine determinism caveat: ROUND(AVG(x), 4) assumes the mean is
    bit-identical in Spark's partition-parallel partial sums and DuckDB's
    sequential sum. A mean landing exactly on a 0.00005 boundary could
    round apart and one flipped codebook entry cascades through the
    full-corpus encode. Deterministic in practice here (pinned by the
    oracle suite), but partition-count-sensitive in principle; if it ever
    flakes, quantize the inputs (sum of pre-rounded values / count)
    instead of rounding the float mean — that is associativity-proof.

    Scale shape per iteration: ONE chained aggregation over the bounded
    training table — the K-expansion reduces per (vec_id, m) with a scalar
    min-code HashAggregate (never a struct/array min — see ``_pq_code``;
    ``first(sub_vec)`` rides along, every candidate row of a group carries
    the identical subvector), then the per-(m, winning-k) means take
    PQ_SUB unrolled per-dim avg aggregates with map-side partials. Never
    collect_list of a cluster's members. The training table itself is
    bounded at PQ_TRAIN_VECS x PQ_M rows at ANY corpus size, so it is
    checkpointed to a SINGLE partition (repartition(1): the sampling scan
    stays distributed, only the bounded result collapses) — each Lloyd
    round is then one small single-job chain instead of the previous
    assign-job + broadcast-collect + update-join sequence, which paid ~3x
    the round's compute in job scheduling on the tiny training set
    (measured at sf0.1; the fused form also drops the per-round broadcast
    of the assignment entirely).

    The trained codebook is MEMOIZED per (corpus, n_iter) and materialized
    through the shared artifact layer (VERDICT r11 ask #5): it costs a
    driver-controlled iterative loop — the exact artifact class that an
    executor loss or session end should not force a retrain of — so under
    ``spark.polarify.artifacts.dir`` it becomes a durable parquet table."""
    memo = ANN.corpus(emb)
    return ANN.artifact(
        memo,
        ("pq_codebook", n_iter),
        lambda: _pq_codebook_train(emb, n_iter, memo),
        f"pq_codebook{n_iter}",
    )


def _pq_codebook_train(
    emb: "DataFrame", n_iter: int, memo: dict
) -> "DataFrame":
    """The Lloyd training loop behind :func:`_pq_codebook` (see there)."""
    from pyspark.sql import functions as F

    seeds = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
    ).select((F.col("vec_id") - N_QUERIES).alias("k"), "embedding")
    cb = seeds.select(
        "k",
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        "embedding",
    ).select(
        "m",
        "k",
        F.transform(
            F.slice(F.col("embedding"), F.col("m") * PQ_SUB + 1, PQ_SUB),
            lambda x: x.cast("double"),
        ).alias("cb_vec"),
    )
    from ..functions import md5_top_n_ids

    # the training set derives straight from the sampled corpus vectors —
    # NOT from the full-corpus subvector expansion, so training never
    # waits on (or forces) that much larger materialization; lazy so the
    # first round's job materializes it without an extra barrier
    train = ANN.build(
        memo,
        "pq_train_subvectors",
        lambda: _pq_subvectors(
            emb.join(
                F.broadcast(md5_top_n_ids(emb, "vec_id", PQ_TRAIN_VECS)),
                "vec_id",
                "semi",
            )
        )
        .repartition(1)
        .localCheckpoint(eager=False),
    )
    for _ in range(n_iter):
        scored = train.join(F.broadcast(cb), "m").select(
            "vec_id",
            "m",
            "sub_vec",
            _pq_code(F.col("sub_vec"), F.col("cb_vec"), F.col("k")).alias(
                "code"
            ),
        )
        best = scored.groupBy("vec_id", "m").agg(
            F.min("code").alias("code"),
            F.first("sub_vec").alias("sub_vec"),
        )
        new_vecs = (
            best.groupBy("m", (F.col("code") % PQ_K).alias("k"))
            .agg(
                *[
                    F.round(F.avg(F.col("sub_vec")[d]), 4).alias(f"mu{d}")
                    for d in range(PQ_SUB)
                ]
            )
            .select(
                "m",
                "k",
                F.array(*[f"mu{d}" for d in range(PQ_SUB)]).alias("new_vec"),
            )
        )
        # each iteration references the previous codebook TWICE (assignment
        # join + the COALESCE left-join) — without truncation that diamond
        # doubles the recompute per unrolled round; the checkpoint is
        # PQ_M x PQ_K tiny rows, so materializing eagerly is free and keeps
        # the training lineage linear in n_iter
        cb = cb.join(new_vecs, ["m", "k"], "left").select(
            "m", "k", F.coalesce("new_vec", "cb_vec").alias("cb_vec")
        ).localCheckpoint()
    return cb


def _pq_dequantized(emb: "DataFrame") -> "DataFrame":
    """(vec_id, dq_vec): each corpus vector PQ-encoded then decoded — the
    vector the index actually scores against.

    Encode+decode are FUSED into one corpus aggregation: the scored K x M
    expansion reduces per vec_id with PQ_M scalar min-code aggregates
    (the same min-code argmin the training loop uses, one HashAggregate),
    and the winning codes reassemble map-side through a 1-row broadcast
    codebook map — no second shuffle, no codebook join, no collect_list.

    Materialized eagerly (localCheckpoint) and MEMOIZED per corpus: the
    encoded corpus IS the PQ index — one row of 64 doubles per vector,
    same footprint as the input embeddings — and an index is built once
    per corpus, then queried many times (topk_pq and each recall harness
    share one build; `.cache()` can't provide this reuse because the
    checkpointed codebook RDDs make every build's plan unique). Leaving it
    lazy measures ~15x slower at sf0.1: every downstream stage boundary
    re-runs the K x M encode expansion."""
    from pyspark.sql import functions as F

    memo = ANN.corpus(emb)

    def build() -> "DataFrame":
        cb = _pq_codebook(emb)  # trains on its own bounded sample table
        # the full-corpus subvector expansion is the ENCODE's input (the
        # training loop deliberately never touches it — its sample table
        # is bounded and separate); lazy so the encode job materializes
        # it without an extra barrier
        subs = ANN.build(
            memo,
            "pq_subvectors",
            lambda: _pq_subvectors(emb).localCheckpoint(eager=False),
        )
        # Fused encode+decode in ONE corpus aggregation: the scored K x M
        # expansion reduces per vec_id with PQ_M min-code aggregates (one
        # HashAggregate, min(code) per subspace — the scalar-min-code
        # argmin), then the winning (m, k) pairs look their vectors up in
        # a 1-row broadcast codebook map and reassemble map-side. The
        # previous shape paid a second (vec_id, m) shuffle, a codebook
        # join, and a collect_list sort for the same values.
        scored = subs.join(F.broadcast(cb), "m").select(
            "vec_id",
            "m",
            _pq_code(F.col("sub_vec"), F.col("cb_vec"), F.col("k")).alias(
                "code"
            ),
        )
        codes = scored.groupBy("vec_id").agg(
            *[
                F.min(F.when(F.col("m") == j, F.col("code"))).alias(f"c{j}")
                for j in range(PQ_M)
            ]
        )
        cbmap = cb.agg(
            F.map_from_arrays(
                F.collect_list(
                    (F.col("m") * PQ_K + F.col("k")).cast("long")
                ),
                F.collect_list("cb_vec"),
            ).alias("cbm")
        )
        keys = F.array(
            *[
                (F.lit(j) * PQ_K + F.col(f"c{j}") % PQ_K).cast("long")
                for j in range(PQ_M)
            ]
        )
        return codes.crossJoin(F.broadcast(cbmap)).select(
            "vec_id",
            F.flatten(
                F.transform(keys, lambda k: F.element_at(F.col("cbm"), k))
            ).alias("dq_vec"),
        )

    # materialized via the shared artifact layer: the encoded corpus IS
    # the PQ index — under the durable conf it becomes the on-disk index
    # file a serving tier would ship (VERDICT r11 ask #5)
    return ANN.artifact(memo, "pq_dequantized", build)


def topk_pq(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Brute-force top-k over the PQ-dequantized corpus, asymmetric scoring
    — 12 bytes per corpus vector at scan time. Same broadcast-query scan
    shape as ``topk_bruteforce``/``topk_sq8``; recall cost of the heavier
    compression is measured by the recall harness."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir) if emb is None else emb
    corpus = _pq_dequantized(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("dq_vec").alias("c_vec")
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    joined = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("q_id")
    )
    return _top_k(_scored(joined), TOP_K)


def cluster_quality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-cell clustering QC, simplified-silhouette style: for every
    vector, its cosine to its own (best) centroid vs the runner-up
    centroid; per home cell, the member count, mean own-centroid cosine,
    and mean margin (own - runner-up). A cell whose margin collapses
    toward 0 has members sitting on a centroid boundary — the signal that
    says "re-train or split this cell" before IVF recall degrades.

    Shape at scale: derives entirely from the memoized broadcast-centroid
    ranking every IVF operator shares (one corpus scan, no shuffle beyond
    the per-vector window), then one uniform cell_id groupBy. Cosines are
    already 4-dp rounded, so the per-cell means ride exact integer
    1e4-unit sums (module micro-unit convention)."""
    from pyspark.sql import functions as F

    ranked = _cell_ranked(spark, sf_dir)
    own = ranked.where(F.col("rn") == 1).select(
        "vec_id", "cell_id", F.col("cell_cos").alias("own_cos")
    )
    runner = ranked.where(F.col("rn") == 2).select(
        "vec_id", F.col("cell_cos").alias("runner_cos")
    )
    units = lambda c: F.round(c * 1e4).cast("long")  # noqa: E731
    joined = own.join(runner, "vec_id")
    return joined.groupBy("cell_id").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum(units(F.col("own_cos"))) / (F.count("*") * 1e4), 6).alias(
            "mean_own_cos"
        ),
        F.round(
            F.sum(units(F.col("own_cos") - F.col("runner_cos")))
            / (F.count("*") * 1e4),
            6,
        ).alias("mean_margin"),
    )


CLUSTER_QUALITY_SQL = f"""
WITH {IVF_ASSIGN_CTES},
own AS (
  SELECT vec_id, cell_id, cc AS own_cos FROM assign_scored WHERE rn = 1
),
runner AS (
  SELECT vec_id, cc AS runner_cos FROM assign_scored WHERE rn = 2
)
SELECT o.cell_id, COUNT(*) AS n_vectors,
       ROUND(SUM(CAST(ROUND(o.own_cos * 1e4) AS BIGINT))
             / (COUNT(*) * 1e4), 6) AS mean_own_cos,
       ROUND(SUM(CAST(ROUND((o.own_cos - r.runner_cos) * 1e4) AS BIGINT))
             / (COUNT(*) * 1e4), 6) AS mean_margin
FROM own o JOIN runner r USING (vec_id)
GROUP BY 1
"""


RERANK_SHORTLIST = 50


def topk_pq_rerank(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """Two-stage ANN serving: PQ shortlist, exact re-rank — the standard
    production pattern (FAISS/ScaNN style). Stage 1 scores the 12-byte
    PQ-dequantized corpus and keeps a shortlist of ``RERANK_SHORTLIST``
    candidates per query; stage 2 fetches only those candidates' full
    vectors and re-ranks them with exact cosine.

    Scale shape: stage 1 is the same broadcast-query scan as ``topk_pq``
    (compressed corpus, never reshuffled); stage 2's shortlist is
    queries x shortlist rows — broadcast back against the full-precision
    corpus, so the expensive vectors are read for ~C/N of the corpus.
    Recall recovers toward exact within the shortlist (pinned >= plain PQ
    in the tests) while the full-precision scan cost stays shortlist-
    bounded."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir) if emb is None else emb
    corpus = _pq_dequantized(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("dq_vec").alias("c_vec")
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = _scored(
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("q_id")),
        score="pq_cosine",
    )
    shortlist = _top_k(
        approx, RERANK_SHORTLIST, score="pq_cosine", rank="srank"
    ).select("q_id", "neighbor_id")
    exact = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("t_vec"))
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(queries), "q_id")
    )
    return _top_k(_scored(exact, c_vec="t_vec"), TOP_K)


def _pq_code_sql(s: str, c: str) -> str:
    """The DuckDB twin of ``_pq_code``: BIGINT argmin code between
    ``{s}.sub_vec`` and ``{c}.cb_vec`` / ``{c}.k``."""
    diff = (
        f"({s}.sub_vec[CAST(d AS INT) + 1] - {c}.cb_vec[CAST(d AS INT) + 1])"
    )
    return (
        f"CAST(ROUND(list_sum(list_transform(range(0, {PQ_SUB}), d ->\n"
        f"           {diff} * {diff})) * 1000000, 0) AS BIGINT)"
        f" * {PQ_K} + {c}.k"
    )


def _pq_train_ctes(n_iter: int = PQ_ITERS) -> str:
    """Unrolled per-subspace Lloyd training as CTEs, mirroring
    ``_pq_codebook`` exactly: cb0 = sampled init, then each round assigns
    every TRAINING subvector (the md5-top-N PQ_TRAIN_VECS sample) to its
    nearest code (scalar MIN of the ``_pq_code_sql`` argmin code —
    squared-L2 quantized to 6 decimals, ties to lower k), recomputes each
    code as the per-dimension mean rounded to 4 decimals, and COALESCEs
    codes that captured no members. The final iteration's table is aliased
    ``cb`` for the downstream encode CTEs (which encode the FULL corpus)."""
    ctes = [
        f"""cb0 AS (
  SELECT m, vec_id - {N_QUERIES} AS k,
         list_transform(range(0, {PQ_SUB}), d -> v[CAST(m * {PQ_SUB} + d AS INT) + 1]) AS cb_vec
  FROM e, range(0, {PQ_M}) t(m)
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
),
subs AS (
  SELECT vec_id, m,
         list_transform(range(0, {PQ_SUB}), d -> v[CAST(m * {PQ_SUB} + d AS INT) + 1]) AS sub_vec
  FROM e, range(0, {PQ_M}) t(m)
),
train_ids AS (
  {md5_top_n_ids_sql("e", "vec_id", PQ_TRAIN_VECS)}
),
train_subs AS (
  SELECT s.* FROM subs s JOIN train_ids USING (vec_id)
)"""
    ]
    for it in range(1, n_iter + 1):
        ctes.append(
            f"""asg{it} AS (
  SELECT s.vec_id, s.m,
         MIN({_pq_code_sql("s", "c")}) % {PQ_K} AS k
  FROM train_subs s JOIN cb{it - 1} c ON c.m = s.m
  GROUP BY s.vec_id, s.m
),
mu{it} AS (
  SELECT s.m, a.k, d, ROUND(AVG(s.sub_vec[CAST(d AS INT) + 1]), 4) AS mu
  FROM train_subs s JOIN asg{it} a ON a.vec_id = s.vec_id AND a.m = s.m,
       range(0, {PQ_SUB}) t(d)
  GROUP BY s.m, a.k, d
),
nv{it} AS (
  SELECT m, k, list(mu ORDER BY d) AS nv FROM mu{it} GROUP BY m, k
),
cb{it} AS (
  SELECT c.m, c.k, COALESCE(n.nv, c.cb_vec) AS cb_vec
  FROM cb{it - 1} c LEFT JOIN nv{it} n ON n.m = c.m AND n.k = c.k
)"""
        )
    ctes.append(f"cb AS (SELECT * FROM cb{n_iter})")
    return ",\n".join(ctes)


_PQ_CTES = f"""{_pq_train_ctes()},
enc AS (
  SELECT s.vec_id, s.m,
         MIN({_pq_code_sql("s", "cb")}) % {PQ_K} AS k
  FROM subs s JOIN cb ON cb.m = s.m
  GROUP BY s.vec_id, s.m
),
dq AS (
  SELECT enc.vec_id, flatten(list(cb.cb_vec ORDER BY enc.m)) AS cv
  FROM enc JOIN cb ON cb.m = enc.m AND cb.k = enc.k
  GROUP BY enc.vec_id
)"""

TOPK_PQ_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
{_PQ_CTES},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.cv")} AS cosine
  FROM e q JOIN dq c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_topk_tail_sql(TOP_K)}"""

TOPK_PQ_RERANK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
{_PQ_CTES},
approx AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cosine_sql("q.v", "c.cv")} AS pq_cosine
  FROM e q JOIN dq c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
short AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY pq_cosine DESC, neighbor_id ASC) AS srank
    FROM approx
  ) WHERE srank <= {RERANK_SHORTLIST}
),
exact AS (
  SELECT s.q_id, s.neighbor_id,
         {_cosine_sql("q.v", "c.v")} AS cosine
  FROM short s
  JOIN e q ON q.vec_id = s.q_id
  JOIN e c ON c.vec_id = s.neighbor_id
),
{_topk_tail_sql(TOP_K, "exact")}"""


# --- measured ANN recall ----------------------------------------------------


#: recall-harness method label -> top-k implementation, in output order.
_RECALL_METHODS: "tuple[tuple[str, Callable], ...]" = (
    ("ivf", topk_ivf),
    ("ivf_probe2", topk_ivf_multiprobe),
    ("rplsh", topk_rplsh),
    ("rplsh_probe2", topk_rplsh_multiprobe),
    ("rplsh_mt", topk_rplsh_multitable),
    ("sq8", topk_sq8),
    ("pq", topk_pq),
)


def _materialized_hits(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame"
) -> "tuple[DataFrame, dict[str, DataFrame]]":
    """(exact baseline, label -> COMPLETE per-method recall grid rows)
    for every index path, each eagerly checkpointed, built from
    concurrent driver threads and memoized per corpus next to the index
    structures.

    Each path's thread runs its FULL recall chain: build the path's top-k
    (N_QUERIES x k rows, so materialization is free), join it against the
    exact baseline, reduce to per-query hit counts, and left-join the
    shared query-id grid so missed queries carry n_hits = 0 — so ALL the
    comparison and assembly work of the seven fast paths overlaps the PQ
    training chain (the longest) instead of waiting for it behind a
    barrier, and the harness's final job is a pure union of eight tiny
    checkpointed tables with no join/distinct left on the serial tail
    (measured: the deferred compare + grid join was ~1.5-3 s of
    sequential tail after the slowest path; overlapped it disappears into
    the chain). The public ``topk_*`` functions stay un-memoized on
    purpose — their callers (driver gate, plan-shape pins) must see the
    real plan, not a checkpoint scan.

    There is deliberately NO prebuild barrier: each path builds the index
    structures it needs on demand, deduplicated by ``ANN.build``'s
    per-key locks — the baseline (`bf`) is one such shared build, so every
    path's hit join waits on exactly one bruteforce scan, and the harness
    wall is ~max(path chain), not (all builds) + (all queries).

    (Rejected alternative, measured 2.5x SLOWER: unioning all eight paths
    under a method tag and checkpointing once, hoping one job's DAG
    parallelism replaces the threads — Spark materializes every broadcast
    subquery of the giant plan sequentially during planning, so the paths
    serialize exactly where the threads overlap them.)"""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    memo = ANN.corpus(emb)

    def topk_of(label: str, fn: "Callable") -> "DataFrame":
        # repartition(1) before the checkpoint: the result is bounded
        # at N_QUERIES x k rows at any corpus scale, but inherits the
        # session's shuffle partitioning — without this the harness's
        # compare job schedules |paths| x 32 near-empty tasks just to
        # read ~80-row tables. (repartition, not coalesce: coalesce
        # would collapse the path's upstream stages to one task.)
        return ANN.build(
            memo,
            ("topk", label),
            lambda: fn(spark, sf_dir, emb)
            .repartition(1)
            .localCheckpoint(eager=True),
        )

    def bf() -> "DataFrame":
        return topk_of("bf", topk_bruteforce)

    def q_grid() -> "DataFrame":
        # the distinct query ids of the exact baseline — the rows every
        # method's recall table must cover (a query an index missed
        # entirely reports recall 0 instead of vanishing)
        return ANN.build(
            memo,
            "recall_q_grid",
            lambda: bf()
            .select("q_id")
            .distinct()
            .repartition(1)
            .localCheckpoint(eager=True),
        )

    def hits(item: "tuple[str, Callable]") -> "tuple[str, DataFrame]":
        # the COMPLETE per-method recall rows — grid left-joined against
        # the hit counts inside the path's own thread, so the harness's
        # final job is a pure union of |methods| checkpointed tables with
        # no remaining join/distinct work on the serial tail
        label, fn = item
        part = topk_of(label, fn).select("q_id", "neighbor_id")

        def build() -> "DataFrame":
            counts = (
                bf()
                .select("q_id", "neighbor_id")
                .join(F.broadcast(part), ["q_id", "neighbor_id"])
                .groupBy("q_id")
                .agg(F.count("*").alias("n_hits"))
            )
            return (
                q_grid()
                .join(F.broadcast(counts), ["q_id"], "left")
                .select(
                    F.lit(label).alias("method"),
                    "q_id",
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    .cast("int")
                    .alias("n_hits"),
                )
                .repartition(1)
                .localCheckpoint(eager=True)
            )

        return label, ANN.build(memo, ("hits", label), build)

    def prewarm_pq_subvectors() -> "DataFrame":
        # the full-corpus subvector expansion is the PQ ENCODE's input but
        # is independent of the codebook, so materialize it eagerly while
        # the training rounds run — on the harness's critical path (the PQ
        # chain) this removes the expansion's cost from the serial tail.
        # Same memo key as _pq_dequantized's lazy registration: whichever
        # side arrives first builds, the per-key lock dedupes.
        return ANN.build(
            memo,
            "pq_subvectors",
            lambda: _pq_subvectors(emb).localCheckpoint(eager=True),
        )

    with ThreadPoolExecutor(len(_RECALL_METHODS) + 2) as ex:
        warm = ex.submit(bf)  # start the shared baseline immediately
        warm_subs = ex.submit(prewarm_pq_subvectors)
        out = dict(ex.map(hits, _RECALL_METHODS))
        warm.result()
        warm_subs.result()
    return bf(), out


def similarity_recall(
    spark: "SparkSession", sf_dir: str, emb: "DataFrame | None" = None
) -> "DataFrame":
    """recall@k of each approximate index (IVF probe-1, RP-LSH) against the
    exact brute-force top-k, per query: |approx top-k ∩ exact top-k| / k.

    This is what makes "the ANN works" falsifiable — a bucketing bug that
    silently dropped neighbors would pass the per-method oracles (they
    verify the bucketing itself) but crater here. Cost: both index paths are
    re-run plus one broadcast-joinable comparison over 8 x k rows — noise
    next to the scans.

    Measured mean recall@10 (sf0.1 / sf0.01): IVF probe-1 = 0.20 / 0.175;
    IVF probe-2 = 0.475 / 0.325; RP-LSH single-probe = 0.05 / 0.0125;
    RP-LSH probe-2 (lowest-margin bit flipped) = 0.0625 / 0.025. The
    testdata embeddings are near-uniform random, so probe-1 recall sits
    close to its analytic floor (a random pair shares a cell with
    probability ~1/n_cells = 0.125; ~1/2^planes for LSH buckets) — on real
    clustered embeddings the same index shapes do far better. The probe
    count is the demonstrated lever in both index families: each extra
    probe buys recall at linear extra probe compute, memory unchanged. The
    point of this query is that the number is *measured*, continuously,
    against the exact baseline. ``similarity_recall_clustered`` runs the
    same harness over clustered vectors, where the indexes must clear real
    recall floors."""
    from pyspark.sql import functions as F

    # one cached corpus scan feeds the exact baseline and all seven index
    # paths (cache() is idempotent for the already-cached clustered emb);
    # without it each path re-reads and re-derives the embeddings
    emb = (_emb(spark, sf_dir) if emb is None else emb).cache()
    emb.count()  # materialize the shared scan before the concurrent paths
    _bf_tk, per_method = _materialized_hits(spark, sf_dir, emb)
    # each entry is an already-checkpointed COMPLETE (method, q_id,
    # n_hits) grid — the hit joins AND the full-grid left join ran inside
    # the path threads (see _materialized_hits), so this final assembly is
    # a pure union of |methods| tiny one-partition tables plus the scalar
    # recall projection: nothing joins, shuffles, or deduplicates on the
    # serial tail after the slowest path finishes
    hits = None
    for label, _fn in _RECALL_METHODS:
        part = per_method[label]
        hits = part if hits is None else hits.unionByName(part)
    return hits.select(
        "method",
        "q_id",
        "n_hits",
        F.round(F.col("n_hits") / F.lit(TOP_K), 4).alias("recall_at_k"),
    )


SIMILARITY_RECALL_SQL = f"""
WITH bf AS ({TOPK_BRUTEFORCE_SQL}),
ivf AS ({TOPK_IVF_SQL}),
ivf2 AS ({TOPK_IVF_MULTIPROBE_SQL}),
rplsh AS ({TOPK_RPLSH_SQL}),
rplsh2 AS ({TOPK_RPLSH_MULTIPROBE_SQL}),
rplshmt AS ({TOPK_RPLSH_MULTITABLE_SQL}),
sq8 AS ({TOPK_SQ8_SQL}),
pq AS ({TOPK_PQ_SQL}),
approx AS (
  SELECT 'ivf' AS method, q_id, neighbor_id FROM ivf
  UNION ALL
  SELECT 'ivf_probe2' AS method, q_id, neighbor_id FROM ivf2
  UNION ALL
  SELECT 'rplsh' AS method, q_id, neighbor_id FROM rplsh
  UNION ALL
  SELECT 'rplsh_probe2' AS method, q_id, neighbor_id FROM rplsh2
  UNION ALL
  SELECT 'rplsh_mt' AS method, q_id, neighbor_id FROM rplshmt
  UNION ALL
  SELECT 'sq8' AS method, q_id, neighbor_id FROM sq8
  UNION ALL
  SELECT 'pq' AS method, q_id, neighbor_id FROM pq
),
hits AS (
  SELECT a.method, a.q_id, COUNT(*) AS n_hits
  FROM approx a JOIN bf ON bf.q_id = a.q_id AND bf.neighbor_id = a.neighbor_id
  GROUP BY 1, 2
),
grid AS (
  SELECT m.method, q.q_id
  FROM (SELECT DISTINCT q_id FROM bf) q
  CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'ivf_probe2'
              UNION ALL SELECT 'rplsh'
              UNION ALL SELECT 'rplsh_probe2'
              UNION ALL SELECT 'rplsh_mt'
              UNION ALL SELECT 'sq8'
              UNION ALL SELECT 'pq') m
)
SELECT g.method, g.q_id,
       CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / {TOP_K}.0, 4) AS recall_at_k
FROM grid g LEFT JOIN hits h ON h.method = g.method AND h.q_id = g.q_id
"""


# --- IVF centroid training (k-means) ----------------------------------------

KMEANS_ITERS = 2


def _assign_to_centroids(emb: "DataFrame", cents: "DataFrame") -> "DataFrame":
    """(vec_id, embedding, cell_id): each vector's max-cosine centroid from
    an explicit centroid table (cell_id, cent_vec) — ``_by_centroid``'s
    map-side ranking cut to its head with ``[0]``, so no k-means iteration
    shuffles the corpus. Ties break on lower cell_id after 4-decimal
    rounding, matching the SQL oracle exactly."""
    from pyspark.sql import functions as F

    best = _by_centroid(F.col("embedding"), cos="cc")[0]
    return emb.crossJoin(F.broadcast(_cents_row(cents))).select(
        "vec_id", "embedding", (-best["neg_cell_id"]).alias("cell_id")
    )


def kmeans_centroids(
    spark: "SparkSession",
    sf_dir: str,
    emb: "DataFrame | None" = None,
    n_iter: int = KMEANS_ITERS,
) -> "DataFrame":
    """Lloyd's k-means for IVF centroid training, fully deterministic:
    init = the fixed seed vectors, then ``n_iter`` rounds of (assign to
    max-cosine centroid) -> (per-cell element-wise mean). Returns the final
    centroids exploded as (cell_id, dim, centroid) so the oracle compares
    scalars, not float arrays.

    Scale shape: assignment is a broadcast join over a corpus scan (k
    centroid vectors always fit in a broadcast); the mean is
    posexplode -> groupBy(cell_id, dim) -> avg — a single shuffle per
    iteration on (cell, dim) keys that are uniform by construction, with
    map-side partial aggregation. This is the standard Spark k-means shape:
    never collect_list of a cluster's vectors (a giant cluster would blow a
    reducer), always flat per-dimension partial sums. n_iter is a constant,
    so the lineage stays bounded without checkpointing."""
    from pyspark.sql import functions as F

    emb = (_emb(spark, sf_dir) if emb is None else emb).select(
        "vec_id", "embedding"
    )
    cents = _seed_centroids(emb)
    mu = None
    for _ in range(n_iter):
        assigned = _assign_to_centroids(emb, cents)
        dims = assigned.select(
            "cell_id", F.posexplode("embedding").alias("dim", "x")
        )
        mu = dims.groupBy("cell_id", "dim").agg(
            F.avg(F.col("x").cast("double")).alias("mu")
        )
        cents = mu.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda s: s["mu"],
            ).alias("cent_vec")
        )
    return mu.select(
        "cell_id", "dim", F.round("mu", 4).alias("centroid")
    )


def similarity_kmeans_centroids(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return kmeans_centroids(spark, sf_dir)


def _kmeans_sql(n_iter: int = KMEANS_ITERS) -> str:
    """Unrolled Lloyd iterations as CTEs (n_iter is a small constant)."""
    ctes = [
        f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
cent0 AS (
  SELECT vec_id - {N_QUERIES} AS cell_id, v AS cv
  FROM e WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
)"""
    ]
    for it in range(1, n_iter + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT e.vec_id, e.v, c.cell_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cosine_sql("e.v", "c.cv", 37)} DESC,
                                     c.cell_id ASC) AS rn
  FROM e CROSS JOIN cent{it - 1} c
),
m{it} AS (
  SELECT cell_id, d, AVG(v[CAST(d AS INT) + 1]) AS mu
  FROM a{it}, range(0, {EMB_DIM}) t(d)
  WHERE rn = 1
  GROUP BY cell_id, d
),
cent{it} AS (
  SELECT cell_id, list(mu ORDER BY d) AS cv FROM m{it} GROUP BY cell_id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT cell_id, CAST(d AS INTEGER) AS dim, ROUND(mu, 4) AS centroid
FROM m{n_iter}
"""
    )


SIMILARITY_KMEANS_SQL = _kmeans_sql()


# --- clustered-embedding recall ---------------------------------------------
#
# The parquet embeddings are near-uniform random, so probe-1 recall sits at
# its analytic floor there no matter how good the index is (a random pair
# shares a cell with probability ~1/n_cells). To demonstrate the indexes on
# data with actual neighborhood structure, derive a clustered table: every
# vector becomes its cluster centroid (the existing IVF seed vectors,
# vec_id in [N_QUERIES, N_QUERIES+N_CELLS)) plus small deterministic noise.
# The noise is a two-modulus integer lattice — SQL-expressible, no RNG — so
# the DuckDB oracle reproduces the derived vectors bit-for-bit, and the two
# moduli (19, 23) keep same-cluster noise patterns from repeating inside
# the corpus (combined period lcm(8,19,23) = 3496 > corpus size).

NOISE_M1, NOISE_D1 = 19, 90.0
NOISE_M2, NOISE_D2 = 23, 100.0


def clustered_embeddings(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """(vec_id, embedding): mixture-of-clusters vectors — centroid of cell
    ``vec_id % N_CELLS`` plus deterministic lattice noise (~56% of the
    centroid norm, so same-cluster cosines land around 0.7-0.9 and
    cross-cluster near 0)."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    cents = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cl"),
        F.col("embedding").alias("cent_vec"),
    )
    base = emb.select("vec_id", (F.col("vec_id") % N_CELLS).alias("cl"))
    i = F.col("vec_id")

    def jitter(x: "Column", d: "Column") -> "Column":
        t1 = ((i * 37 + d * 101) % NOISE_M1 - (NOISE_M1 - 1) // 2) / NOISE_D1
        t2 = ((i * 53 + d * 29) % NOISE_M2 - (NOISE_M2 - 1) // 2) / NOISE_D2
        return x.cast("double") + t1 + t2

    return base.join(F.broadcast(cents), "cl").select(
        "vec_id", F.transform("cent_vec", jitter).alias("embedding")
    )


def similarity_recall_clustered(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """``similarity_recall`` over the clustered table — the demonstration
    that the index *shapes* deliver once the data has neighborhood
    structure; recall floors pinned in tests/test_operators_similarity.py.

    The derivation is cached: all five index paths read it, and without the
    cache each path would redo the centroid join + noise transform (cache
    manager dedupes by canonical plan, so repeated invocations share it)."""
    return similarity_recall(
        spark, sf_dir, emb=clustered_embeddings(spark, sf_dir).cache()
    )


_E_BASE_BODY = (
    "  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings\n"
)

_E_CLUSTERED_BODY = f"""  SELECT b.vec_id,
         list_transform(range(0, {EMB_DIM}), d ->
           c.cent_v[CAST(d AS INT) + 1]
           + (((b.vec_id * 37 + d * 101) % {NOISE_M1}) - {(NOISE_M1 - 1) // 2}) / {NOISE_D1}
           + (((b.vec_id * 53 + d * 29) % {NOISE_M2}) - {(NOISE_M2 - 1) // 2}) / {NOISE_D2}) AS v
  FROM embeddings b
  JOIN (SELECT vec_id - {N_QUERIES} AS cl,
               list_transform(embedding, x -> x::DOUBLE) AS cent_v
        FROM embeddings
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}) c
    ON c.cl = b.vec_id % {N_CELLS}
"""

# every index path's `e` CTE (brute force, IVF assignment, all three
# RP-LSH variants, SQ8, PQ) swaps to the clustered derivation; centroids/
# buckets/codes are then computed from the clustered vectors on both
# engines identically. Plain raise, not assert: python -O would strip an
# assert and a drifted recall SQL would silently produce a
# partially-substituted clustered oracle.
if SIMILARITY_RECALL_SQL.count(_E_BASE_BODY) != 8:
    raise RuntimeError(
        "similarity recall SQL drifted: expected 8 base-embedding CTE "
        f"bodies, found {SIMILARITY_RECALL_SQL.count(_E_BASE_BODY)} — the "
        "clustered-oracle substitution would be partial"
    )
SIMILARITY_RECALL_CLUSTERED_SQL = SIMILARITY_RECALL_SQL.replace(
    _E_BASE_BODY, _E_CLUSTERED_BODY
)


# --- per-label centroid statistics ------------------------------------------


def embeddings_label_centroids(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-label mean embedding, one row per (label, dimension) — the QC
    aggregate run after any labeling/clustering pass (are the label
    centroids separated? did a dimension collapse?).

    Shape at scale: posexplode the vectors to (label, dim, value) rows and
    take one uniform groupBy over (label, dim) — labels x dims cells
    regardless of corpus size, partial means combine map-side, and the
    relational output (no array re-assembly) is what downstream monitoring
    joins against. Mean rounding to 6 decimals is the module's established
    cross-engine convention (see the PQ codebook note)."""
    from pyspark.sql import functions as F

    return (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("label", "dim_idx")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_val"),
            F.count("*").alias("n_vecs"),
        )
    )


EMBEDDINGS_LABEL_CENTROIDS_SQL = """
WITH flat AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim_idx,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, CAST(dim_idx AS INTEGER) AS dim_idx,
       ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_val,
       COUNT(*) AS n_vecs
FROM flat GROUP BY 1, 2
"""


def embeddings_centroid_separation(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """Pairwise cosine similarity between per-label mean embeddings — the
    cluster-separation QC that tells you whether two labels collapsed onto
    each other. Runs entirely on the (labels x dims) centroid table from
    :func:`embeddings_label_centroids`: the pairwise join keys on the
    dimension index, partial dot-products combine map-side, and the output
    is labels^2 / 2 rows regardless of corpus size."""
    from pyspark.sql import functions as F

    cent = embeddings_label_centroids(spark, sf_dir).select(
        "label", "dim_idx", "mean_val"
    )
    a, b = cent.alias("a"), cent.alias("b")
    pairs = a.join(
        b,
        (F.col("a.dim_idx") == F.col("b.dim_idx"))
        & (F.col("a.label") < F.col("b.label")),
    ).groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")).agg(
        F.sum(F.col("a.mean_val") * F.col("b.mean_val")).alias("dot"),
        F.sum(F.col("a.mean_val") * F.col("a.mean_val")).alias("na"),
        F.sum(F.col("b.mean_val") * F.col("b.mean_val")).alias("nb"),
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 4
        ).alias("centroid_cosine"),
    )


EMBEDDINGS_CENTROID_SEPARATION_SQL = f"""
WITH cent AS ({EMBEDDINGS_LABEL_CENTROIDS_SQL}),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(a.mean_val * b.mean_val) AS dot,
         SUM(a.mean_val * a.mean_val) AS na,
         SUM(b.mean_val * b.mean_val) AS nb
  FROM cent a JOIN cent b
    ON a.dim_idx = b.dim_idx AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS centroid_cosine
FROM pairs
"""


QUERIES: dict[str, tuple[Callable, str]] = {
    "similarity_topk_bruteforce": (topk_bruteforce, TOPK_BRUTEFORCE_SQL),
    "embeddings_label_centroids": (
        embeddings_label_centroids,
        EMBEDDINGS_LABEL_CENTROIDS_SQL,
    ),
    "embeddings_centroid_separation": (
        embeddings_centroid_separation,
        EMBEDDINGS_CENTROID_SEPARATION_SQL,
    ),
    "similarity_topk_ivf": (topk_ivf, TOPK_IVF_SQL),
    "similarity_topk_ivf_multiprobe": (topk_ivf_multiprobe, TOPK_IVF_MULTIPROBE_SQL),
    "similarity_topk_rplsh": (topk_rplsh, TOPK_RPLSH_SQL),
    "similarity_topk_rplsh_multiprobe": (
        topk_rplsh_multiprobe,
        TOPK_RPLSH_MULTIPROBE_SQL,
    ),
    "similarity_topk_rplsh_multitable": (
        topk_rplsh_multitable,
        TOPK_RPLSH_MULTITABLE_SQL,
    ),
    "similarity_topk_sq8": (topk_sq8, TOPK_SQ8_SQL),
    "similarity_topk_pq": (topk_pq, TOPK_PQ_SQL),
    "similarity_topk_pq_rerank": (topk_pq_rerank, TOPK_PQ_RERANK_SQL),
    "embeddings_cluster_quality": (cluster_quality, CLUSTER_QUALITY_SQL),
    "similarity_recall": (similarity_recall, SIMILARITY_RECALL_SQL),
    "similarity_recall_clustered": (
        similarity_recall_clustered,
        SIMILARITY_RECALL_CLUSTERED_SQL,
    ),
    "similarity_kmeans_centroids": (
        similarity_kmeans_centroids,
        SIMILARITY_KMEANS_SQL,
    ),
}
