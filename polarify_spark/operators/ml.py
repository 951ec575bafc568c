"""In-engine trained models over the ``documents`` table: a logistic
regression quality classifier trained by batch gradient descent — the
model-based quality filter (fastText-classifier class) every production
training-data pipeline runs after the heuristic gates, here expressed
entirely as DataFrame aggregations so the training loop scales with the
corpus instead of collecting features to the driver.

The reference (Quantco/polarify) has no ML surface (SURVEY.md section 2.5);
this implements the north-star extension set required by the build brief,
oracle-checked against DuckDB via an unrolled-iteration CTE (the
``similarity.kmeans_centroids`` oracle pattern).

Engine-portable float convention (module convention shared with
``operators.search``): per-document gradient contributions are quantized to
integer micro-units before the cross-row sum, so each iteration's gradient
is exact integer arithmetic on both engines and the weight trajectory is
bit-identical; only per-row ``exp`` is trusted to agree (same class as the
``ln``/``exp`` convention established in text/search/similarity).

Scale shape (100 TB): one features scan per iteration (narrow projection,
shuffle-free), each reduced by a map-side-combined global aggregate to ONE
gradient row; the weight vector rides a broadcast back into the next pass.
K iterations = K linear passes, no driver-side data movement (the weights
never leave the plan — each pass references the previous weights exactly
once, so the K-deep lazy lineage is linear and runs as one job of K
chained broadcast exchanges). A production run drops the
per-doc training scan to a deterministic sample; scoring stays a single
shuffle-free projection either way.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from ..functions import whitespace_tokens

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

LOGREG_ITERS = 12
LOGREG_LR = 8.0


def _trained(spark: "SparkSession", sf_dir: str) -> tuple:
    """(features_df, trained_weights_df): the trained model is a
    per-corpus artifact (deterministic: exact integer gradients, fixed
    iteration count), built once per session in ``_memo.ML`` like the BPE
    merge table, not re-trained per scoring call. A hit bound to a
    replaced SparkSession is retrained, not served; durable-mode eligible
    (``spark.polarify.artifacts.dir`` — the model file a trainer writes
    next to the corpus)."""
    from ._memo import ML

    return ML.get(spark, sf_dir, lambda: _train(spark, sf_dir))


#: feature scaling keeps z in a well-conditioned range without data-dependent
#: normalization (which would need an extra pass + exact-portability care).
FEATURES = ("x0", "x1", "x2", "x3")


def _features(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """(doc_id, x0..x3, y): bias, scaled token count, scaled mean token
    length, stopword fraction; label = the heuristic quality gate
    (``text.quality_score`` >= 75) the model learns to imitate — the
    standard bootstrap when no human labels exist."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = whitespace_tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace("text", "[^a-z]", ""))
    alpha_ratio = F.length(
        F.regexp_replace("text", "[^a-z ]", "")
    ).cast("double") / n_chars
    quality = (
        F.when(n_tokens >= 40, F.lit(50.0)).otherwise(n_tokens * 50 / 40)
        + alpha_ratio * 50
    )
    n_stop = F.size(F.filter(toks, lambda t: t == F.lit("the"))) + F.size(
        F.filter(toks, lambda t: t == F.lit("a"))
    )
    return docs.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        ((n_tokens - 20) / F.lit(20.0)).alias("x1"),
        (n_alpha / n_tokens / F.lit(10.0)).alias("x2"),
        (n_stop / n_tokens).alias("x3"),
        (quality >= 75).cast("int").alias("y"),
    )


FEATURES_SQL = r"""
  SELECT doc_id,
         1.0 AS x0,
         (len(string_split_regex(trim(text), '\s+')) - 20) / 20.0 AS x1,
         length(regexp_replace(text, '[^a-z]', '', 'g'))
           / len(string_split_regex(trim(text), '\s+')) / 10.0 AS x2,
         (len(list_filter(string_split_regex(trim(text), '\s+'), t -> t = 'the'))
          + len(list_filter(string_split_regex(trim(text), '\s+'), t -> t = 'a')))
           / len(string_split_regex(trim(text), '\s+'))::DOUBLE AS x3,
         CASE WHEN (CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 40
                         THEN 50.0
                         ELSE len(string_split_regex(trim(text), '\s+')) * 50 / 40 END
                    + length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE
                      / length(text) * 50) >= 75
              THEN 1 ELSE 0 END AS y
  FROM documents
"""


def logreg_quality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Score every document under the per-corpus trained classifier:
    (doc_id, y, prob, pred). Training (see :func:`_train`) runs once per
    corpus per session through ``_memo.ML`` — repeat calls are a single
    broadcast-join scoring pass over the materialized feature table."""
    from pyspark.sql import functions as F

    feats, w = _trained(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(w))
    margin = sum(
        (F.col(f"w{j}") * F.col(x) for j, x in enumerate(FEATURES)),
        start=F.lit(0.0),
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return scored.select(
        "doc_id",
        "y",
        F.round(p, 6).alias("prob"),
        (p >= 0.5).alias("pred"),
    )


def _train(spark: "SparkSession", sf_dir: str) -> tuple:
    """Train the classifier (K unrolled gradient-descent iterations from
    w = 0); returns (features_df, weights_df), both materialized.

    Each iteration: margin = w . x per doc, per-doc gradient component
    (sigmoid(margin) - y) * x_j quantized to micro-units, one global
    aggregate to the exact integer gradient, weight update rounded to 6
    decimals. The weight frame is one row, broadcast into the next pass.

    Each iteration's 1-row weight frame is EAGERLY checkpointed before it
    feeds ``F.broadcast``: without that, each of the K chained broadcast
    exchanges would compute a full-corpus gradient aggregate (and, on
    first touch, every prior iteration) inside BroadcastExchange
    materialization, which Spark bounds by ``spark.sql.broadcastTimeout``
    (default 300 s) — fine at sf0.1, a guaranteed "Could not execute
    broadcast in 300 secs" at the 100 TB scale this module targets. The
    eager checkpoint runs each aggregate as a normal (untimed) job and
    the broadcast then collects one already-materialized row; the K extra
    tiny jobs are the price of keeping corpus scans out of broadcast
    futures. Lineage stays linear in K either way (the crossJoin is the
    only reference to the previous weights; the update reads w_old back
    via ``first()`` over the joined rows rather than a second
    reference).

    Durable mode: the weight table's own plan is a chain of checkpoint
    RDD scans (session-specific, never key-stable), so BOTH artifacts key
    on the FEATURES plan — the lazy projection over the corpus scan,
    whose canonicalized form carries every feature-formula literal, so
    editing ``_features`` invalidates the committed artifacts
    automatically (keying on the bare corpus read would serve a
    stale-code model after a formula change). The two training constants
    the features plan can't see (``LOGREG_ITERS``/``LOGREG_LR``) ride in
    the artifact NAME. A refill session probes the committed artifacts
    FIRST — the training loop's per-iteration eager checkpoints would
    otherwise re-run in full before materialize()'s skip-to-read could
    help."""
    from pyspark.sql import functions as F

    from ._memo import materialize, read_artifact

    feats_plan = _features(spark, sf_dir)
    w_name = f"logreg_weights_i{LOGREG_ITERS}_lr{LOGREG_LR}"
    w_art = read_artifact(feats_plan, w_name)
    feats_art = read_artifact(feats_plan, "logreg_features")
    if w_art is not None and feats_art is not None:
        return feats_art, w_art
    # materialize the features ONCE: the projection is regex/split-heavy
    # and every one of the K training passes plus the scoring pass reads
    # it (without it each pass re-tokenizes the corpus — measured
    # 13.6 s -> ~3 s at sf0.1). Five doubles per doc: the persisted
    # feature table every production trainer checkpoints anyway.
    # storage=None (deserialized): this is the HOT-re-read case — K+1
    # passes each pay block deserialization at the serialized level
    # (measured 5.2 s vs 3.6 s for the 12-pass loop at sf0.01); the
    # table is 5 doubles/doc, nowhere near the corpus-positional GC
    # class the serialized default exists for.
    feats = materialize(
        feats_plan, "logreg_features", feats_plan, storage=None
    )

    w = spark.createDataFrame(
        [tuple(0.0 for _ in FEATURES)],
        ", ".join(f"w{j} double" for j in range(len(FEATURES))),
    )
    for _ in range(LOGREG_ITERS):
        joined = feats.crossJoin(F.broadcast(w))
        margin = sum(
            (F.col(f"w{j}") * F.col(x) for j, x in enumerate(FEATURES)),
            start=F.lit(0.0),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        agg = joined.agg(
            F.count("*").alias("n"),
            *[
                F.sum(
                    F.round((p - F.col("y")) * F.col(x) * 1e6).cast("long")
                ).alias(f"s{j}")
                for j, x in enumerate(FEATURES)
            ],
            *[F.first(f"w{j}").alias(f"w{j}_old") for j in range(len(FEATURES))],
        )
        w = agg.select(
            *[
                F.round(
                    F.col(f"w{j}_old")
                    - LOGREG_LR * (F.col(f"s{j}") / 1e6) / F.col("n"),
                    6,
                ).alias(f"w{j}")
                for j in range(len(FEATURES))
            ]
        )
        # eager: materialize the gradient aggregate as a normal job so the
        # next iteration's BroadcastExchange only collects this one row
        # (see docstring — broadcastTimeout at scale).
        w = w.localCheckpoint()

    # the trained model (1 row): keyed by the features plan (see
    # docstring), constants in the name, durable-eligible
    return feats, materialize(w, w_name, feats_plan)


def _logreg_sql() -> str:
    """Unrolled-iteration CTE oracle mirroring :func:`logreg_quality`."""
    nf = len(FEATURES)
    lines = [f"WITH feat AS MATERIALIZED ({FEATURES_SQL})", ",\nit0 AS (SELECT "]
    lines.append(", ".join(f"0.0 AS w{j}" for j in range(nf)))
    lines.append(")")
    for k in range(1, LOGREG_ITERS + 1):
        margin = " + ".join(f"w{j} * x{j}" for j in range(nf))
        sums = ", ".join(
            f"SUM(CAST(ROUND((1.0 / (1.0 + exp(-({margin}))) - y) * x{j} * 1e6)"
            f" AS BIGINT)) AS s{j}"
            for j in range(nf)
        )
        olds = ", ".join(f"FIRST(w{j}) AS w{j}_old" for j in range(nf))
        lines.append(
            f",\ng{k} AS (SELECT COUNT(*) AS n, {sums}, {olds}"
            f" FROM feat CROSS JOIN it{k - 1})"
        )
        ups = ", ".join(
            f"ROUND(w{j}_old - {LOGREG_LR} * (s{j} / 1e6) / n, 6) AS w{j}"
            for j in range(nf)
        )
        lines.append(f",\nit{k} AS (SELECT {ups} FROM g{k})")
    margin = " + ".join(f"w{j} * x{j}" for j in range(nf))
    lines.append(
        f"\nSELECT doc_id, y,"
        f" ROUND(1.0 / (1.0 + exp(-({margin}))), 6) AS prob,"
        f" 1.0 / (1.0 + exp(-({margin}))) >= 0.5 AS pred"
        f" FROM feat CROSS JOIN it{LOGREG_ITERS}"
    )
    return "".join(lines)


LOGREG_QUALITY_SQL = _logreg_sql()


QUERIES: dict[str, tuple[Callable, str]] = {
    "docs_logreg_quality": (logreg_quality, LOGREG_QUALITY_SQL),
}
