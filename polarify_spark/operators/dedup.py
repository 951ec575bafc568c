"""Deduplication operators over the ``documents`` / ``embeddings`` tables:
exact (content-hash), word-n-gram Jaccard, MinHash+LSH banding, SimHash, and
embedding-cosine near-dup.

The reference (Quantco/polarify) has no dedup surface (SURVEY.md section
2.5); this is the north-star extension set. All hashing is the portable
md5-derived scheme from ``polarify_spark.functions.hashing`` so every
operator is oracle-checkable in DuckDB.

Scale design (100 TB, 1000 executors):

* ``exact``      — one shuffle on the content hash; md5 is uniform so
  partitions balance; map-side partial aggregation halves traffic.
* ``minhash_lsh``— the scale path for near-dup: cost is linear in corpus
  size (K=16 permutations per doc), then a shuffle on (band, band-key) whose
  keys are uniform minhash material; only same-bucket candidates are
  verified. This is the textbook shingle->minhash->band->bucket-join.
* ``jaccard_verify`` — the public exact-verification kernel: takes a
  candidate-pair DataFrame (from any generator) and scores it with two
  equi-joins — linear in candidates. ``dedup_lsh_jaccard`` is the composed
  end-to-end query (LSH candidates -> verify -> threshold).
* ``ngram_jaccard`` — the blocked corpus-wide form of the same kernel,
  quadratic within (lang, size-band) blocks; kept as the oracle/test
  harness of the verification math. At scale run ``dedup_lsh_jaccard``
  instead — this one's block sizes grow with the corpus.
* ``simhash``    — 60-bit signatures from token md5 bits; pairing
  joins on 4-bit signature bands (pigeonhole over Hamming <= 3), never
  all-pairs.
* ``embedding_neardup`` — blocked on the data-driven IVF cell from
  ``operators.similarity``: quadratic only within a cell, and cell count
  scales with the corpus (centroid count is a knob), never across it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from ..functions import (
    MERSENNE_P,
    md5_long,
    md5_top_n_ids,
    md5_top_n_ids_sql,
    minhash_perm_params,
    normalize_ws,
    whitespace_tokens,
    word_ngrams,
)
from ._memo import DEDUP, SIMHASH_HANDLE, SPAN_PLAN

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

NUM_PERM = 16
BAND_ROWS = 4  # 16 perms / 4 rows -> 4 bands; Jaccard ~0.5+ pairs collide whp
JACCARD_THRESHOLD = 0.3
COSINE_THRESHOLD = 0.4
SIMHASH_BITS = 60  # 4 bands x 15 bits; 2^59 < max long, so no sign games


def _docs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ngrams_df(spark: "SparkSession", sf_dir: str, n: int = 2) -> "DataFrame":
    """(doc_id, lang, hv): the distinct *hashed* word ``n``-grams of each doc
    as ``array<long>`` (portable md5-derived 32-bit hashes); drops docs with
    fewer than ``n`` tokens (no gram material).

    Two deliberate performance shapes, both measured at sf0.1:

    * the token array is materialized in its own projection — inlining the
      ``split`` into the n-gram lambda re-runs the regex split once per
      produced element (codegen CSE does not reach into lambda bodies), a
      ~100x blowup;
    * downstream set ops (intersect/union for Jaccard) run on longs, not
      gram strings — hashing 8-byte values is ~10x cheaper than 30-char
      strings in the quadratic pairwise stage, and hash collisions merge
      identically in the DuckDB oracle.

    The input is repartitioned to default parallelism: the md5 work is
    CPU-bound and the testdata is a single parquet split (at cluster scale
    the scan provides splits for free)."""
    from pyspark.sql import functions as F

    with_tokens = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", whitespace_tokens(F.col("text")).alias("toks"))
        # filter on token count, not on size(hv): the predicate is pushed
        # below the exchange with projections substituted in, so a filter on
        # hv would re-evaluate the whole gram+hash pipeline per row in the
        # (serial) scan stage. size(toks) >= n <=> hv non-empty, and its
        # pushed-down form costs one split.
        .where(F.size("toks") >= n)
    )
    with_grams = with_tokens.select(
        "doc_id", "lang", word_ngrams(F.col("toks"), n).alias("grams")
    )
    return with_grams.select(
        "doc_id",
        "lang",
        F.array_distinct(
            F.transform("grams", lambda g: md5_long(g, 8))
        ).alias("hv"),
    )


def _grams_df(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The word-*bigram* signature table the near-dup operators share."""
    return _ngrams_df(spark, sf_dir, 2)


def _ngrams_cte(n: int = 2) -> str:
    """DuckDB twin of :func:`_ngrams_df` (same gram text, same md5-derived
    32-bit hashes), as a ``grams_t`` CTE body."""
    return rf"""
toks AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w
  FROM documents
),
grams_raw AS (
  SELECT doc_id, lang,
         list_transform(range(1, len(w) - {n} + 2),
                        i -> array_to_string(w[i:i + {n} - 1], ' ')) AS grams
  FROM toks
  WHERE len(w) >= {n}
),
grams_t AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
             grams, g -> CAST(CONCAT('0x', SUBSTR(md5(g), 1, 8)) AS BIGINT)
         )) AS hv
  FROM grams_raw
)
"""


_GRAMS_CTE = _ngrams_cte(2)


# --- exact dedup ------------------------------------------------------------


def dedup_exact(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Group documents by normalized-content hash; emit one keeper per group
    (min doc_id) with the duplicate count. The only shuffle is on the md5
    hash — uniform, skew-free, map-side combinable."""
    from pyspark.sql import functions as F

    normalized = F.lower(normalize_ws(F.col("text")))
    return (
        _docs(spark, sf_dir)
        .select(F.md5(normalized).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def source_dup_rates(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source duplication report: for each document source, how many
    documents it contributed, how many were exact duplicates of something
    (anything, in any source), and the duplicate rate — the number that
    decides which crawl/feed gets its mixture weight cut or its fetcher
    fixed. "Duplicate" = not the keeper of its content-hash group.

    Shape at scale: one content-hash groupBy (the dedup_exact shuffle),
    the keeper set joined back on doc_id (uniform), then a
    |sources|-sized aggregate. Rates ride exact integer counts."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    keepers = dedup_exact(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    labeled = docs.join(keepers, "doc_id", "left").select(
        "source",
        (~F.coalesce(F.col("is_keeper"), F.lit(False))).cast("long").alias(
            "is_dup"
        ),
    )
    return labeled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("n_dups"),
        F.round(F.sum("is_dup") / F.count("*").cast("double"), 6).alias(
            "dup_rate"
        ),
    )


DEDUP_SOURCE_RATES_SQL = f"""
WITH groups AS ({DEDUP_EXACT_SQL}),
labeled AS (
  SELECT d.source,
         CASE WHEN g.keeper_doc_id IS NULL THEN 1 ELSE 0 END AS is_dup
  FROM documents d
  LEFT JOIN groups g ON g.keeper_doc_id = d.doc_id
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       ROUND(SUM(is_dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM labeled GROUP BY 1
"""


# --- n-gram Jaccard ---------------------------------------------------------


#: docs whose gram-set sizes differ by more than this are not compared by
#: the blocked pairwise operator (they go through the LSH path instead).
SIZE_BAND = 16
#: sub-tasks per (lang, size-band) block in the pairwise kernel — spreads a
#: block's quadratic work across this many join tasks (see salting note in
#: :func:`dedup_ngram_jaccard`).
_BLOCK_SALTS = 8


def dedup_ngram_jaccard(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Word-bigram Jaccard >= threshold over (lang, size-band) blocked pairs.

    Oracle/test-harness form of the exact-Jaccard kernel: block sizes are
    data-defined, so this goes quadratic as the corpus grows. The public
    scale path is :func:`jaccard_verify` over :func:`minhash_lsh_candidates`
    (composed as ``dedup_lsh_jaccard``); use this corpus-wide form only to
    cross-check the verification math on bounded inputs.

    The pairwise result is memoized per corpus (eager ``localCheckpoint``,
    the ``_verified_pairs`` convention): the output is the near-dup-sized
    pair set, and every consumer (this query, historically also
    :func:`lsh_recall`) shares one computation instead of re-running the
    quadratic kernel."""
    return _memoized_pairwise(_grams_df(spark, sf_dir))


def _pairwise_jaccard(grams: "DataFrame") -> "DataFrame":
    """Blocked exact-Jaccard kernel over a ``(doc_id, lang, hv)`` gram
    frame -> ``(d1, d2, jaccard)`` pairs at/above ``JACCARD_THRESHOLD``.

    Exact-verification kernel with *blocking*: each doc lands in its size
    band and the next one, so every pair whose gram-set sizes differ by at
    most SIZE_BAND is compared exactly; wider size gaps imply low Jaccard
    anyway (j <= |smaller|/|larger|) and are delegated to the LSH operator.
    Blocking turns the 5-key lang join (5 giant tasks, O(n^2) pairs) into
    many small balanced blocks — this is what keeps the pairwise kernel
    viable at scale; the same keys become the shuffle partitioning."""
    from pyspark.sql import functions as F

    # explicit floor: DuckDB's double->int cast rounds-to-nearest while
    # Spark's truncates, so a bare (size/band) cast would disagree.
    g = (
        grams
        .withColumn("sz", F.size("hv"))
        .withColumn("band", F.floor(F.col("sz") / SIZE_BAND).cast("int"))
    )
    # Asymmetric blocking so every candidate pair is evaluated exactly once
    # (no dedup pass): the probe side lands in its own band and the next one,
    # the build side only in its own; cross-band pairs match in the higher
    # band (probe is the lower-band doc), same-band pairs are ordered by
    # doc_id. NOT cached (r20): the memoized consumers pass the
    # MATERIALIZED gram artifact, so both self-join sides already scan a
    # checkpointed table — the former corpus-scale ``cache()`` here was
    # redundant storage on top of it, an executor-memory hazard at
    # production scale, and (r19 measurement lesson) its CacheManager
    # plan-matching silently substituted an InMemoryRelation into every
    # OTHER query embedding the gram subplan, polluting A/B runs.
    #
    # Partitioning is deliberately the round-robin spread from _grams_df,
    # NOT the block key: when one side broadcasts (AQE picks this whenever a
    # side fits), the streamed side's partitioning is what parallelizes the
    # quadratic intersect work, and a block-keyed layout serializes the
    # largest (lang, band) block into one straggler task (measured ~70% of
    # wall at sf0.1). Round-robin averages each task's pair fan-out instead.
    # Within-block salting: one block = one join task, so the largest
    # (lang, band) block is a straggler that serializes the whole quadratic
    # stage (measured: ~70% of wall at sf0.1 in one task). The build side
    # gets a deterministic doc_id-derived salt and the probe replicates
    # across all salts — the pair set is identical, the block's pairs spread
    # over _BLOCK_SALTS tasks. At cluster scale this is what keeps the
    # hottest language/size block from pinning one executor core.
    salts = F.array(*[F.lit(s) for s in range(_BLOCK_SALTS)])
    probe = g.select(
        "doc_id",
        "lang",
        "hv",
        "band",
        "sz",
        F.explode(F.array("band", F.col("band") + 1)).alias("blk"),
    ).withColumn("salt", F.explode(salts))
    build = g.select(
        "doc_id",
        "lang",
        "hv",
        "band",
        "sz",
        F.col("band").alias("blk"),
        F.pmod(F.col("doc_id"), F.lit(_BLOCK_SALTS)).cast("int").alias("salt"),
    )
    a = probe.alias("a")
    b = build.alias("b")
    once = (F.col("a.band") < F.col("b.band")) | (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # Exact size prune, evaluated before the per-pair set intersection:
    # jaccard <= |smaller|/|larger|, so a pair whose size ratio cannot round
    # up to the threshold cannot appear in the output — dropping it is free
    # of false negatives (the 1e-6 slack covers ROUND(j, 6) landing exactly
    # on the threshold). This is a plan-level filter only; the oracle SQL
    # needs no twin because the result set is provably unchanged.
    ratio_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= (
        F.greatest(F.col("a.sz"), F.col("b.sz")) * (JACCARD_THRESHOLD - 1e-6)
    )
    # |A u B| = |A| + |B| - |A n B| (hv arrays are distinct by construction):
    # one hash-set pass per pair instead of two — array_union was ~35% of the
    # pairwise stage at sf0.1.
    inter = F.size(F.array_intersect(F.col("a.hv"), F.col("b.hv")))
    union = F.col("a.sz") + F.col("b.sz") - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.salt") == F.col("b.salt"))
            & once
            & ratio_ok,
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _pairwise_cte_sql(src: str) -> str:
    """DuckDB twin of :func:`_pairwise_jaccard` over gram table ``src``,
    as CTE bodies ending in a ``pairs(d1, d2, jaccard)`` relation."""
    return rf"""banded AS (
  SELECT doc_id, lang, hv, len(hv) AS sz,
         CAST(FLOOR(len(hv) / {SIZE_BAND}.0) AS INTEGER) AS band
  FROM {src}
),
probe AS (
  SELECT doc_id, lang, hv, band, sz, band AS blk FROM banded
  UNION ALL
  SELECT doc_id, lang, hv, band, sz, band + 1 AS blk FROM banded
),
pairs AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS d1,
         GREATEST(a.doc_id, b.doc_id) AS d2,
         ROUND(len(list_intersect(a.hv, b.hv))::DOUBLE
               / (a.sz + b.sz - len(list_intersect(a.hv, b.hv))), 6) AS jaccard
  FROM probe a
  JOIN banded b ON a.lang = b.lang AND a.blk = b.band
              AND (a.band < b.band OR (a.band = b.band AND a.doc_id < b.doc_id))
  WHERE ROUND(len(list_intersect(a.hv, b.hv))::DOUBLE
              / (a.sz + b.sz - len(list_intersect(a.hv, b.hv))), 6)
        >= {JACCARD_THRESHOLD}
)"""


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_GRAMS_CTE},
{_pairwise_cte_sql("grams_t")}
SELECT d1, d2, jaccard FROM pairs
"""


# --- MinHash + LSH ----------------------------------------------------------


def _minhash_signatures(grams: "DataFrame") -> "DataFrame":
    """(doc_id, m0..m{K-1}): K minhash values per document,
    ``min((a_j * (h % p) + b_j) % p)`` over the shingle-hash set.

    Shape: a per-document projection — ``array_min(transform(hv, perm_j))``
    per permutation — with NO shuffle: signature generation is
    embarrassingly parallel over input splits, exactly what a 100 TB corpus
    wants. The alternative (explode to (doc_id, h) rows + groupBy(doc_id)
    with K partial-min aggregates) was tried and measured ~10-25x SLOWER at
    sf0.1 (6-7.5 s vs 0.2-0.6 s over 256k shingles / 5k docs): the
    exploded form adds an all-shingles exchange and a 16-expression
    hash-aggregate whose generated update path dwarfs the interpreted
    array-lambda evaluation at every scale tested, and its shuffle grows
    with the corpus while this form shuffles nothing."""
    from pyspark.sql import functions as F

    def perm(a: int, b: int):
        # closure factory: pyspark counts lambda parameters, so defaults
        # (lambda h, a=a: ...) would read as a 2-arg lambda.
        return lambda h: (a * (h % MERSENNE_P) + b) % MERSENNE_P

    return grams.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("hv"), perm(a, b))).alias(f"m{j}")
            for j, (a, b) in enumerate(minhash_perm_params(NUM_PERM))
        ],
    )


def minhash_lsh_candidates(grams: "DataFrame") -> "DataFrame":
    """LSH candidate pairs (d1, d2) from a grams table (doc_id, hv):
    minhash (K=16) -> 4-row bands -> bucket self-join. Shuffle-free linear
    signature generation plus one uniform shuffle on (band_idx, band_key);
    never all-pairs."""
    from pyspark.sql import functions as F

    hashed = _minhash_signatures(grams)
    sig = [F.col(f"m{j}") for j in range(NUM_PERM)]
    bands = [
        F.concat_ws(
            "-", *[sig[band * BAND_ROWS + r] for r in range(BAND_ROWS)]
        ).alias(f"band_{band}")
        for band in range(NUM_PERM // BAND_ROWS)
    ]
    # shuffle only (doc_id, band_idx, band_key) — the gram arrays stay out of
    # the candidate-generation exchange entirely and are re-joined just for
    # verification of the (small) candidate set. Repartitioned on the bucket
    # key and cached: both self-join branches read the same signatures
    # (persisted storage at production scale).
    parallelism = grams.sparkSession.sparkContext.defaultParallelism
    exploded = (
        hashed.select("doc_id", *bands)
        .select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(NUM_PERM // BAND_ROWS)])
            ).alias("band_idx", "band_key"),
        )
        .repartition(parallelism, "band_idx", "band_key")
        .cache()
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def jaccard_verify(grams: "DataFrame", candidates: "DataFrame") -> "DataFrame":
    """Exact word-bigram Jaccard for a candidate-pair DataFrame (d1, d2) —
    the public verification kernel. Cost is linear in the candidate count
    (two equi-joins against the grams table), so it composes with any
    candidate generator (MinHash LSH, SimHash bands, size blocks) without
    ever going quadratic in the corpus.

    The two verification joins each scan ``grams`` once. NOT cached here
    (r20): the library call site passes the MATERIALIZED gram artifact,
    so a cache would be a second corpus-scale copy in executor memory on
    top of the checkpoint — and its CacheManager plan-matching would
    substitute an InMemoryRelation into every other plan embedding the
    artifact scan (the r19 A/B-pollution lesson). External callers with
    an expensive un-materialized gram plan should checkpoint or cache it
    themselves before composing."""
    from pyspark.sql import functions as F

    g = grams
    ga = g.select(F.col("doc_id").alias("d1"), F.col("hv").alias("g1"))
    gb = g.select(F.col("doc_id").alias("d2"), F.col("hv").alias("g2"))
    verified = candidates.join(ga, "d1").join(gb, "d2")
    inter = F.size(F.array_intersect("g1", "g2"))
    union = F.size("g1") + F.size("g2") - inter
    return verified.select(
        "d1",
        "d2",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


# The near-dedup stage artifacts live in the ``_memo.DEDUP`` family,
# one dict per corpus matched by plan semantics. The verified pair set
# and the component labels are the expensive, reused artifacts: four
# registered queries (lsh_jaccard, duplicate_clusters, twophase,
# cluster_keep_best) plus the composed training-corpus pipeline all derive
# from them, and the CC label map costs an iterative driver-controlled
# loop that should run once per corpus, not once per caller. At production
# scale these ARE the persisted signature/cluster tables a pipeline writes
# between stages. Entries assume static input files and live executors;
# the live-executors caveat disappears in durable artifact mode
# (``ARTIFACTS_DIR_CONF``): artifacts become write-once parquet tables.


def _decontam_grams(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Memoized, materialized word-5-gram signature table for
    decontamination. Materialization (localCheckpoint) matters beyond
    reuse: both decontamination consumers derive two subplans from the
    gram pipeline (eval aggregate + train scan), and un-materialized, each
    re-derives the token/gram/hash lineage with the n-gram lambda's
    per-element re-evaluation — measured ~4x the cost of building the
    table once at sf0.1 (~14s -> ~3.7s). At production scale this is the
    persisted signature table next to the corpus."""
    grams = _ngrams_df(spark, sf_dir, DECONTAM_NGRAM)
    memo = DEDUP.corpus(grams)
    return DEDUP.artifact(memo, "materialized", lambda: grams)


def _decontam_eval_hv(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Memoized 1-row (eval_hv) artifact: the eval benchmark's distinct
    hashed 5-grams as one sorted array — the static side of every
    decontamination gate (r19, guide §1.2 step 1: don't recompute what is
    per-corpus constant). Both the batch array-intersect gate and the
    stream-static join rebuilt this aggregate on every CALL (the stream
    form additionally eager-checkpointed it per call — measured ~0.55 s
    each time at sf0.1); it is a pure function of the memoized gram
    table, benchmark-sized, and exactly the persisted gate structure a
    production pipeline ships next to the eval suite, so it belongs in
    the artifact layer beside ``materialized``/``span_set``. Derived
    from the materialized gram artifact, so a fill never re-runs the
    gram pipeline."""
    from pyspark.sql import functions as F

    grams_plan = _ngrams_df(spark, sf_dir, DECONTAM_NGRAM)
    memo = DEDUP.corpus(grams_plan)
    mat = DEDUP.artifact(memo, "materialized", lambda: grams_plan)
    # DECONTAM_EVAL_MOD is part of the artifact NAME (ADVICE r19): the
    # durable on-disk key is (corpus plan, name), so a constant change
    # must force a rebuild instead of silently serving a stale eval set
    # from a prior build's ARTIFACTS_DIR.
    return DEDUP.artifact(
        memo,
        f"eval_hv_m{DECONTAM_EVAL_MOD}",
        lambda: (
            mat.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
            .select(F.explode("hv").alias("h"))
            .agg(F.array_sort(F.collect_set("h")).alias("eval_hv"))
        ),
    )


def _materialized_grams(grams: "DataFrame") -> "DataFrame":
    """Memoized, MATERIALIZED gram signature table for a gram plan — the
    shared input every dedup fill used to re-derive inline (r20, guide
    §1.2 step 1 / §5: don't recompute per-corpus constants). The r19
    anchored-kernel decomposition measured the cost: ~5.2 s of the 6.4 s
    anchored fill at sf0.1 was re-tokenize + md5 + ``array_distinct`` of
    the whole corpus, paid AGAIN by every consumer whose plan embedded
    the raw gram lineage (the pairwise kernel additionally held a
    corpus-scale ``cache()`` to blunt it — an executor-memory hazard at
    production scale, removed with this). Built once per corpus
    (1.9-2.9 s measured), every fill then scans the checkpointed table:
    anchored fill 6.5-7.0 -> 1.4-1.7 s, pair set bit-identical (0-row
    ``exceptAll`` both directions at sf0.1). Same artifact class as
    ``_decontam_grams``: at production scale this IS the persisted
    signature table a pipeline writes next to the corpus. Keyed by the
    RAW plan's semantics, so durable artifact keys stay session-stable."""
    memo = DEDUP.corpus(grams)
    return DEDUP.artifact(memo, "materialized", lambda: grams)


def _verified_pairs(grams: "DataFrame") -> "DataFrame":
    """Memoized (d1, d2, jaccard) for all LSH candidate pairs of a corpus —
    linear candidate generation + per-candidate exact verification,
    materialized once (``localCheckpoint``; the output is the small
    candidate set, not the corpus). The build reads the MATERIALIZED gram
    artifact (r20): signature generation and the verification joins scan
    the checkpointed table instead of re-deriving the token/gram/hash
    lineage once per subplan."""

    def build() -> "DataFrame":
        mat = _materialized_grams(grams)
        return jaccard_verify(mat, minhash_lsh_candidates(mat))

    memo = DEDUP.corpus(grams)
    return DEDUP.artifact(memo, "verified", build)


def _memoized_pairwise(grams: "DataFrame") -> "DataFrame":
    """Memoized blocked exact-Jaccard pair set of a gram frame (eager
    ``localCheckpoint`` — the output is near-dup-sized). Shared by
    ``dedup_ngram_jaccard`` (full corpus) and ``lsh_recall`` (bounded
    sample), each keyed by its own gram frame's semantics. The build runs
    the kernel over the MATERIALIZED gram artifact (r20): both self-join
    sides scan the checkpointed table, replacing the kernel's former
    corpus-scale ``cache()``."""

    def build() -> "DataFrame":
        return _pairwise_jaccard(_materialized_grams(grams))

    memo = DEDUP.corpus(grams)
    return DEDUP.artifact(memo, "pairwise", build)


def _duplicate_components(grams: "DataFrame", algorithm: str) -> "DataFrame":
    """Memoized, MATERIALIZED connected-component labels of the
    thresholded near-dup graph — the iterative CC loop runs once per
    (corpus, algorithm) and its label table (near-dup-sized, never
    corpus-sized) is shared by four cluster queries plus the
    leakage-safe split. Of all the memo artifacts this is the one most
    worth durability (``ARTIFACTS_DIR_CONF``): the labels cost an
    iterative driver-controlled loop that an executor loss or session
    restart re-pays wholesale, and at production scale they ARE the
    cluster table a pipeline writes between its dedup and split stages."""
    from pyspark.sql import functions as F

    def build_plan() -> "DataFrame":
        pairs = (
            _verified_pairs(grams)
            .where(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("d1", "d2")
        )
        return connected_components(pairs, algorithm=algorithm)

    # the artifact probe skips the whole CC loop on a durable refill
    return DEDUP.artifact(
        DEDUP.corpus(grams),
        ("components", algorithm),
        build_plan,
        f"components_{algorithm}",
    )


def dedup_minhash_lsh(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Shingle -> minhash (K=16) -> 4-row bands -> bucket join -> verified
    Jaccard. Candidate generation is linear + one uniform shuffle on
    (band_idx, band_key); only same-bucket pairs pay the exact-Jaccard
    verification. This is the operator a 100 TB near-dedup actually runs."""
    return _verified_pairs(_grams_df(spark, sf_dir))


def dedup_lsh_jaccard(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The end-to-end near-dedup composition a training-data pipeline runs:
    LSH candidate generation -> exact-Jaccard verification -> similarity
    threshold. Every stage is linear-or-bucketed; the quadratic pairwise
    kernel only ever sees LSH candidates."""
    from pyspark.sql import functions as F

    verified = _verified_pairs(_grams_df(spark, sf_dir))
    return verified.where(F.col("jaccard") >= JACCARD_THRESHOLD)


DEDUP_MINHASH_LSH_SQL = rf"""
WITH {_GRAMS_CTE},
hashed AS (
  SELECT doc_id, unnest(hv) AS hv FROM grams_t
),
mh AS (
  SELECT doc_id, j,
         MIN(((2 * j + 1) * (hv % {MERSENNE_P}) + 7919 * j) % {MERSENNE_P}) AS m
  FROM hashed CROSS JOIN (SELECT unnest(range({NUM_PERM})) AS j) perms
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {BAND_ROWS} AS band_idx,
         string_agg(m, '-' ORDER BY j) AS band_key
  FROM mh GROUP BY doc_id, j // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.d1, c.d2,
       ROUND(len(list_intersect(ga.hv, gb.hv))::DOUBLE
             / (len(ga.hv) + len(gb.hv) - len(list_intersect(ga.hv, gb.hv))),
             6) AS jaccard
FROM cand c
JOIN grams_t ga ON ga.doc_id = c.d1
JOIN grams_t gb ON gb.doc_id = c.d2
"""


DEDUP_LSH_JACCARD_SQL = f"""
SELECT d1, d2, jaccard FROM ({DEDUP_MINHASH_LSH_SQL}) AS lsh
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# --- SimHash ----------------------------------------------------------------


def dedup_simhash(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """60-bit SimHash over the distinct-token set: bit k is the sign of the
    summed (+/-1) value of bit k of each token's 60-bit md5-derived hash.
    One projection, no shuffle; near-dup pairing then groups on the
    signature (exposed via the hamming-pairs query below).

    60 bits (not the classic 64) keeps every ``2^k`` addend inside a signed
    long — bit 63 would need unsigned arithmetic on both engines — while
    still giving the banded pairing 2^15-value bands (a 16-bit signature's
    16-value bands put N/16 of the corpus in every bucket, which is
    quadratic blowup at scale).

    Each token is hashed to one packed long once (``hs``, via
    :func:`md5_long`). Bit counting is SWAR-vertical: each aggregate pass
    sums THREE bit positions at once into 20-bit lanes of one long
    accumulator (bit value << 0 / 20 / 40), so the 60 sign decisions need
    20 interpreted passes instead of 60 — higher-order lambdas are
    evaluated per element, and pass count is the cost driver (the original
    per-bit nibble-string form measured ~6 s at sf0.1, this form ~2 s).
    20-bit lanes cannot carry into each other below 2^20 = 1,048,576
    distinct tokens in one document (a multi-MB single doc) — far above
    any real document, and a doc that big would overflow INT token counts
    elsewhere first. Bit k set iff 2*count_k > n_tokens, identical to the
    sign-of-±1-sum rule the DuckDB oracle states directly.

    Registered-query plumbing: the result is served from the memoized
    banded signature artifact (``band_idx == 0`` selects exactly one row
    per document — every doc appears once per band), so the 20-pass SWAR
    computation runs once per corpus and is shared with the pair join
    and both graph queries; :func:`_simhash_signatures` holds the raw
    plan."""
    from pyspark.sql import functions as F

    _memo, banded = _simhash_banded_artifact(spark, sf_dir)
    return banded.where(F.col("band_idx") == 0).select(
        "doc_id", "lang", "simhash"
    )


def _simhash_signatures(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The raw (doc_id, lang, simhash) signature plan — see
    :func:`dedup_simhash` for the algorithm; un-memoized, consumed only
    by the banded-artifact build."""
    from pyspark.sql import functions as F

    tokens = F.array_distinct(whitespace_tokens(F.col("text")))
    docs = _docs(spark, sf_dir).select("doc_id", "lang", tokens.alias("toks"))
    packed = docs.select(
        "doc_id",
        "lang",
        F.transform("toks", lambda t: md5_long(t, 15)).alias("hs"),
    )

    LANE = 20  # counter width; 3 lanes per long

    def lane_contrib(base: int):
        return lambda acc, h: acc + (
            F.shiftright(h, base).bitwiseAND(F.lit(1))
            + F.shiftleft(F.shiftright(h, base + 1).bitwiseAND(F.lit(1)), LANE)
            + F.shiftleft(
                F.shiftright(h, base + 2).bitwiseAND(F.lit(1)), 2 * LANE
            )
        )

    n = F.size("hs")
    simhash: "Column" = F.lit(0)
    for g in range(SIMHASH_BITS // 3):
        lanes = F.aggregate(
            F.col("hs"), F.lit(0).cast("long"), lane_contrib(3 * g)
        )
        for b in range(3):
            k = 3 * g + b
            count_k = F.shiftright(lanes, b * LANE).bitwiseAND(
                F.lit((1 << LANE) - 1)
            )
            simhash = simhash + F.when(count_k * 2 > n, F.lit(2**k)).otherwise(0)
    return packed.select("doc_id", "lang", simhash.alias("simhash"))


def _simhash_bit_sql(k: int) -> str:
    return (
        f"CASE WHEN list_sum(list_transform(hs, h -> "
        f"((h >> {k}) & 1) * 2 - 1"
        f")) > 0 THEN {2**k} ELSE 0 END"
    )


DEDUP_SIMHASH_SQL = (
    r"""
WITH d AS (
  SELECT doc_id, lang,
         list_distinct(string_split_regex(trim(text), '\s+')) AS toks
  FROM documents
), p AS (
  SELECT doc_id, lang,
         list_transform(
           toks, t -> CAST(CONCAT('0x', SUBSTR(md5(t), 1, 15)) AS BIGINT)
         ) AS hs
  FROM d
)
SELECT doc_id, lang, """
    + " + ".join(_simhash_bit_sql(k) for k in range(SIMHASH_BITS))
    + " AS simhash FROM p"
)


#: Hamming radius of the near-dup pairing; the band count below is derived
#: from it so the pigeonhole guarantee holds by construction.
SIMHASH_MAX_HAMMING = 3
SIMHASH_N_BANDS = SIMHASH_MAX_HAMMING + 1  # 4 bands of 15 bits each
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_N_BANDS


def _simhash_banded_artifact(
    spark: "SparkSession", sf_dir: str
) -> "tuple[dict, DataFrame]":
    """(corpus memo, memoized banded signature table) — the ONE place the
    ``simhash_banded`` artifact is wired. The table carries every doc's
    full signature once per band row, so BOTH the pair join (all four
    band rows) and the signature query (``band_idx == 0``) read it —
    the signature computation (20 SWAR aggregate passes over the token
    explode, ~2 s/call at sf0.1) runs once per corpus, not per caller.

    The handle is front-cached per (session, sf_dir) in
    ``_memo.SIMHASH_HANDLE``: the DEDUP family matches corpora by
    ``sameSemantics``, which canonicalizes BOTH plans in the JVM — and
    the banded plan embeds the 60-bit SWAR signature expression (20
    aggregate lambdas of shift/mask algebra), whose canonicalization
    measures ~1.7 s PER LOOKUP at any data size. The O(1) front-cache
    pays it once per (session, corpus). The durable artifact keys still
    derive from the registered constant-bearing plan, so code changes
    keep invalidating committed artifacts."""
    return SIMHASH_HANDLE.get(
        spark, sf_dir, lambda: _simhash_banded_build(spark, sf_dir)
    )


def _simhash_banded_build(
    spark: "SparkSession", sf_dir: str
) -> "tuple[dict, DataFrame]":
    from pyspark.sql import functions as F

    parallelism = spark.sparkContext.defaultParallelism
    sig = _simhash_signatures(spark, sf_dir)
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = (
        sig.select(
            "doc_id",
            "lang",
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(band_mask))
                        .alias(f"b{b}")
                        for b in range(SIMHASH_N_BANDS)
                    ]
                )
            ).alias("band_idx", "band_bits"),
        )
        # round-robin spread + cache: the signature computation runs once,
        # not per self-join branch, and every task carries an even share of
        # the banded rows. Deliberately NOT partitioned by the bucket key:
        # when AQE broadcasts one branch, the streamed side's partitioning
        # is the stage's parallelism, and a key-partitioned layout both
        # collapses to few filled partitions (languages x bands x 16
        # values) and serializes hot buckets into straggler tasks — the
        # same measured pathology as the n-gram kernel's old block-keyed
        # layout. The shuffle-join case re-partitions on the join key
        # anyway.
        .repartition(parallelism)
        .cache()
    )
    # memoized per corpus: dedup_simhash, dedup_simhash_pairs, and the two
    # graph queries all execute over the same documents table, and the
    # banded signature table is the expensive shared part
    memo = DEDUP.corpus(banded)
    return memo, DEDUP.artifact(memo, "simhash_banded", lambda: banded)


def _simhash_pairs_parts(
    spark: "SparkSession", sf_dir: str
) -> "tuple[dict, DataFrame]":
    """(corpus memo, un-checkpointed pairs frame) behind
    :func:`dedup_simhash_pairs` — factored out so the plan-shape tests
    can pin the banded join's keys, which the memoized checkpoint the
    public query returns no longer exposes."""
    from pyspark.sql import functions as F

    memo, banded = _simhash_banded_artifact(spark, sf_dir)
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).cast("long")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        # a pair within the radius can share up to SIMHASH_N_BANDS bands;
        # hamming is a pure function of the pair, so dropDuplicates on the
        # ids alone keeps one identical row
        .dropDuplicates(["d1", "d2"])
    )
    return memo, pairs


def dedup_simhash_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Same-language pairs within Hamming distance 3 of the 60-bit SimHash
    (xor + bit_count — both JVM intrinsics).

    Candidate generation is *banded*, not all-pairs: the signature is split
    into 4 bands of 15 bits, and by pigeonhole Hamming <= 3 over 60 bits
    means at most 3 bands differ — so every qualifying pair shares at least
    one bit-identical band. Joining on (lang, band_idx, band_bits) therefore
    finds every such pair with 2^15 distinct values per band — unrelated
    documents essentially never collide, so verification stays linear in
    the true near-dup count (the earlier 16-bit signature's 16-value bands
    put N/16 of the corpus in every bucket: quadratic at scale). Candidates
    are deduped (a pair can collide in several bands) and then
    Hamming-verified, so the output is bit-identical to the all-pairs
    formulation — which remains the DuckDB oracle. Join construction lives
    in :func:`_simhash_pairs_parts` (where the plan tests pin the banded
    keys).

    The PAIRS output is memoized (eager localCheckpoint — it is the
    near-dup-sized edge list, not the corpus): graph_triangles consumes
    it through THREE self-join branches and graph_pagerank re-reads it
    every call, and with only the banded signature table cached each
    consumer re-derived the band self-join + Hamming verify per branch —
    the r8-flagged anomaly where triangles' memo-warm steady wall
    EXCEEDED its first in-sweep wall. With this entry every rerun reads a
    materialized edge list."""
    memo, _pairs = _simhash_pairs_artifact(spark, sf_dir)
    return _pairs


def _simhash_pairs_artifact(
    spark: "SparkSession", sf_dir: str
) -> "tuple[dict, DataFrame]":
    """(corpus memo, materialized simhash pair list) — the ONE place the
    ``simhash_pairs`` memo key is wired, shared by the pairs query and
    both graph consumers (triangles, pagerank) so a key or
    materialization-policy change can never de-share the artifact."""
    memo, pairs = _simhash_pairs_parts(spark, sf_dir)
    return memo, DEDUP.artifact(memo, "simhash_pairs", lambda: pairs)


DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH sig AS ({DEDUP_SIMHASH_SQL})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _triangles_id_oriented(edges: "DataFrame") -> "DataFrame":
    """Triangle set via two self-joins over the id-oriented edge list
    (``d1 < d2``, so each triangle a<b<c is materialized exactly once as
    ab ⋈ bc closed by ac). Simple, but a hub node h with degree d puts
    d(d-1)/2 wedge rows through the FIRST join when h is the middle
    vertex — quadratic in hub degree, the known failure mode on
    boilerplate near-dup graphs. Kept as the parity reference for the
    degree-oriented form (``tests/test_operators_dedup.py``)."""
    from pyspark.sql import functions as F

    ab = edges.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    bc = edges.select(F.col("d1").alias("b2"), F.col("d2").alias("c"))
    ac = edges.select(F.col("d1").alias("a3"), F.col("d2").alias("c3"))
    return (
        ab.join(bc, F.col("b") == F.col("b2"))
        .join(ac, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )


def _triangles_degree_oriented(edges: "DataFrame") -> "DataFrame":
    """Triangle set via DEGREE-ordered edge orientation (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11): orient every undirected edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only at
    each edge's SOURCE, and close each wedge with the oriented edge
    between its two targets.

    Why this bounds hubs: under the (deg, id) total order a node's
    OUT-degree is at most O(sqrt(m)) — a hub's edges almost all point
    INTO it (its neighbors are smaller in the order), so the hub
    generates ~no wedges itself, and the wedge join's per-key fan-out is
    sqrt(m)-bounded instead of hub-degree-squared. Every triangle x<y<z
    (order positions) has all three oriented edges pointing up the order
    (x→y, x→z, y→z); only x sources two of them, so the triangle is
    emitted exactly once as the wedge (y, z) at x closed by y→z. The
    CANONICAL triangle set (and per-doc counts) is therefore exactly the
    id-oriented form's — but a row's (a, b, c) columns are ordered by the
    (deg, id) orientation, i.e. a per-triangle PERMUTATION of the
    id-ordered columns; canonical-set equality, not column-wise equality,
    is what tests pin (ADVICE r9).

    Split as :func:`_orient_by_degree` (the degree aggregate + two
    edge⋈degree joins) feeding :func:`_close_wedges` (the wedge self-join
    + closing join): the oriented list is consumed by THREE branches of
    the wedge plan, and without materializing it each branch re-ran the
    orientation joins (the registry's most exchange-heavy plan, 17
    exchanges at r12) — :func:`graph_triangles` memoizes it per corpus."""
    return _close_wedges(_orient_by_degree(edges))


def _orient_by_degree(edges: "DataFrame") -> "DataFrame":
    """(src, dst, dst_deg): every undirected edge oriented from its
    (degree, id)-smaller endpoint (see :func:`_triangles_degree_oriented`
    for why this bounds hub fan-out at O(sqrt(m)))."""
    from pyspark.sql import functions as F

    deg = (
        edges.select(F.col("d1").alias("node"))
        .unionAll(edges.select(F.col("d2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = edges.join(
        deg.select(F.col("node").alias("d1"), F.col("deg").alias("deg1")),
        "d1",
    ).join(
        deg.select(F.col("node").alias("d2"), F.col("deg").alias("deg2")),
        "d2",
    )
    lo_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("d1") < F.col("d2"))
    )
    return with_deg.select(
        F.when(lo_first, F.col("d1")).otherwise(F.col("d2")).alias("src"),
        F.when(lo_first, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
        F.when(lo_first, F.col("deg2")).otherwise(F.col("deg1")).alias(
            "dst_deg"
        ),
    )


def _close_wedges(oriented: "DataFrame") -> "DataFrame":
    """Triangles from a (deg, id)-oriented edge list: enumerate wedges at
    each edge's source, close with the oriented edge between the two
    targets (see :func:`_triangles_degree_oriented`)."""
    from pyspark.sql import functions as F

    e1 = oriented.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("dst_deg").alias("b_deg"),
    )
    e2 = oriented.select(
        F.col("src").alias("a2"),
        F.col("dst").alias("c"),
        F.col("dst_deg").alias("c_deg"),
    )
    # wedge targets ordered by the same (deg, id) total order, so the
    # closing edge — if present — is oriented b→c, never c→b
    wedge = e1.join(
        e2,
        (F.col("a") == F.col("a2"))
        & (
            (F.col("b_deg") < F.col("c_deg"))
            | (
                (F.col("b_deg") == F.col("c_deg"))
                & (F.col("b") < F.col("c"))
            )
        ),
    )
    closer = oriented.select(
        F.col("src").alias("b2"), F.col("dst").alias("c2")
    )
    return wedge.join(
        closer, (F.col("b2") == F.col("b")) & (F.col("c2") == F.col("c"))
    ).select("a", "b", "c")


def graph_triangles(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-document triangle participation on the SimHash near-dup graph —
    the local-clustering signal that separates dense boilerplate families
    (every member near-dups every other: many triangles) from chains of
    incidental pairwise similarity (few), which is how a pipeline decides
    between keep-one-per-cluster and manual review.

    Enumeration is the degree-oriented (Suri-Vassilvitskii) two-join form
    (:func:`_triangles_degree_oriented`): boilerplate near-dup graphs DO
    develop hubs at corpus scale — one license block near-dupping 10^5
    documents makes the naive id-oriented wedge join quadratic in hub
    degree, while degree orientation caps per-key wedge fan-out at
    O(sqrt(m)). The ORIENTED edge list (degree aggregate + two
    edge⋈degree joins over the memoized ``dedup_simhash_pairs``
    checkpoint) is itself a per-corpus memo artifact: the wedge plan
    consumes it through three branches, and left lazy each branch re-ran
    the orientation joins — 17 exchanges, the registry's most
    exchange-heavy plan (r12 audit); materialized it's edge-sized, the
    same persistence class as the pair list it derives from. Per-document
    counts (the ``explode`` + groupBy) are orientation-independent;
    output is pinned equal to the id-oriented form and shares its DuckDB
    oracle."""
    from pyspark.sql import functions as F

    memo, pairs = _simhash_pairs_artifact(spark, sf_dir)
    oriented = DEDUP.artifact(
        memo,
        "triangles_oriented",
        lambda: _orient_by_degree(pairs.select("d1", "d2")),
    )
    tri = _close_wedges(oriented)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


#: fixed size of the deterministic document sample behind ``lsh_recall``'s
#: exact ground truth: the N docs with the smallest md5(doc_id) (a global
#: top-N — TakeOrdered, linear scan + bounded heap — not a sort). A fixed N
#: caps the pairwise kernel at O(N^2) REGARDLESS of corpus size, which is
#: what makes measured-recall a production-runnable QC query; a percentage
#: gate would still grow quadratically with the corpus. At test scale
#: (<= N docs) the sample IS the corpus, so small-SF results equal the
#: corpus-wide form — kept as the pytest cross-check.
RECALL_SAMPLE_DOCS = 4096

#: broadcast cap for the anchored kernel's sample side. Sized against the
#: DRIVER, not just executors: a broadcast relation is first collected and
#: built on the driver with a ~2-3x transient footprint (collected rows +
#: the built hash relation coexist), so a near-8-GB-limit cap OOMs drivers
#: at common default heap sizes. 128 MiB of raw gram hashes (~384 MiB
#: transient) is safely inside any practical driver while still covering
#: the 4096-doc sample for real corpora; past it the kernel falls back to
#: a shuffled hash join on the (lang, band) key — still linear in the
#: corpus.
ANCHOR_BROADCAST_CAP_BYTES = 128 << 20


def _recall_sample_grams(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gram signatures restricted to the ``RECALL_SAMPLE_DOCS`` sample:
    broadcast semi-join on the (tiny) sampled id set, so the gram pipeline
    only runs for surviving docs."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = md5_top_n_ids(docs, "doc_id", RECALL_SAMPLE_DOCS)
    return _grams_df(spark, sf_dir).join(F.broadcast(ids), "doc_id", "semi")


def _anchored_pairwise(
    sampled: "DataFrame", grams: "DataFrame"
) -> "DataFrame":
    """Exact-Jaccard pairs ANCHORED at the sample: every (d1, d2, jaccard)
    at/above threshold with AT LEAST ONE endpoint in ``sampled`` — the
    statistically sound recall denominator. Requiring BOTH endpoints
    sampled (the naive O(sample^2) kernel) dilutes the expected pair count
    by (sample/corpus)^2, which hits ZERO ground pairs two decades up;
    anchoring dilutes linearly, so the estimator keeps a usable
    denominator at any corpus size.

    Shape: the probe side is the bounded sample exploded to its three
    adjacent size bands (band distance <= 1 == the full kernel's size
    gate, symmetric because either endpoint may be the anchor) and is the
    BROADCAST build side — bounded at RECALL_SAMPLE_DOCS x 3 rows at any
    corpus size; the full corpus in its own band is the streamed probe
    side, scanned once and never shuffled or collected. (Without the
    explicit hint the optimizer broadcast the CORPUS side at small SF —
    correct there, fatal at 100 TB.) Rows are bounded but BYTES are
    data-defined (each row carries the doc's full gram-hash array), so
    one cheap aggregate over the bounded sample sizes the build side
    first: past ``ANCHOR_BROADCAST_CAP_BYTES`` the kernel falls back to a
    shuffled hash join on the (lang, band) key — still linear in the
    corpus — instead of driving a multi-GB broadcast into Spark's 8 GB
    hard limit. Cost is O(|sample| x block), LINEAR
    in the corpus with a bounded probe — the same contract as an LSH
    bucket probe. A both-sampled pair matches from each anchor;
    ``distinct()`` on the canonical (least, greatest) id pair collapses
    the double count (jaccard is orientation-symmetric).

    CONTRACT: construction is EAGER — building the returned plan runs two
    Spark actions (the sample checkpoint below and the 1-row sizing
    aggregate over it). That is deliberate: the checkpoint bounds both
    the sizing action and the later BroadcastExchange to materialized
    sample rows instead of the sample-gram lineage (a corpus scan inside
    the broadcast's timeout window otherwise). Callers that only want a
    plan shape should not call this; the registered queries reach it via
    the per-corpus memo, which pays the actions exactly once."""
    from pyspark.sql import functions as F

    # Materialize the bounded sample ONCE (eager): the sizing aggregate
    # and the broadcast exchange both read checkpointed rows, so neither
    # re-derives the corpus-sized gram lineage.
    sampled = sampled.localCheckpoint()
    s = sampled.withColumn("sz", F.size("hv")).withColumn(
        "band", F.floor(F.col("sz") / SIZE_BAND).cast("int")
    )
    g = grams.withColumn("sz", F.size("hv")).withColumn(
        "band", F.floor(F.col("sz") / SIZE_BAND).cast("int")
    )
    probe = s.select(
        "doc_id",
        "lang",
        "hv",
        "sz",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("blk"),
    )
    # byte-bound the broadcast decision on the sample's actual gram mass
    # (8 bytes per hash x 3 band copies; doc_id/lang/sz and row overhead
    # ride inside the cap's ~3x driver-transient headroom). Scans only
    # the checkpointed sample — cheap for any caller.
    n_hashes = sampled.agg(F.sum(F.size("hv")).alias("n")).first()["n"] or 0
    if 3 * 8 * n_hashes <= ANCHOR_BROADCAST_CAP_BYTES:
        a = F.broadcast(probe).alias("a")
    else:
        a = probe.hint("shuffle_hash").alias("a")
    b = g.alias("b")
    ratio_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= (
        F.greatest(F.col("a.sz"), F.col("b.sz")) * (JACCARD_THRESHOLD - 1e-6)
    )
    inter = F.size(F.array_intersect(F.col("a.hv"), F.col("b.hv")))
    union = F.col("a.sz") + F.col("b.sz") - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.band"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & ratio_ok,
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .distinct()
    )


def lsh_recall(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Measured recall of the MinHash-LSH near-dup pipeline against an
    exact-Jaccard ground truth on a bounded deterministic document sample
    — the dedup twin of ``similarity_recall``: the banding parameters'
    S-curve is theory, this is the observed miss rate on the corpus you
    actually run. Output: one row (n_ground, n_lsh, n_common, recall).

    Ground truth is the exact kernel ANCHORED at the
    ``RECALL_SAMPLE_DOCS`` md5-smallest documents: every true near-dup
    pair with at least one sampled endpoint (``_anchored_pairwise`` — an
    unbiased pair-recall estimator whose expected denominator dilutes
    LINEARLY with the sample fraction, where the both-endpoints form goes
    quadratically to zero), memoized per corpus; a ground pair counts as
    found when the LSH pipeline emitted it. ``n_lsh`` reports the FULL
    pipeline's pair count; ``recall`` is NULL when the sample anchors no
    ground pairs (a guarded division — ANSI mode would otherwise fail the
    whole query on an empty denominator). Shape: both pair sets are
    near-dup-sized, the intersection is a keyed join on the pair id, and
    everything reduces to one scalar row."""
    from pyspark.sql import functions as F

    sampled = _recall_sample_grams(spark, sf_dir)
    memo = DEDUP.corpus(sampled)

    def build_anchored() -> "DataFrame":
        # both kernel sides read the MATERIALIZED corpus gram artifact
        # (r20): the r19 decomposition measured ~5.2 s of the 6.4 s
        # anchored fill as the raw gram lineage re-deriving on the
        # streamed probe side (the skeleton needs size(hv), so the whole
        # tokenize+md5 pipeline ran regardless); over the checkpointed
        # table the kernel reads 1.4-1.7 s steady, pair set bit-identical
        # (0-row exceptAll both directions at sf0.1). The memo identity
        # stays the RAW sample plan — only the build reads the artifact.
        mat = _materialized_grams(_grams_df(spark, sf_dir))
        ids = md5_top_n_ids(
            _docs(spark, sf_dir), "doc_id", RECALL_SAMPLE_DOCS
        )
        return _anchored_pairwise(
            mat.join(F.broadcast(ids), "doc_id", "semi"), mat
        )

    # The two fill chains below are independent once past the shared
    # materialized gram artifact (anchored kernel vs LSH candidates +
    # verification), so their EAGER memo builds run on concurrent driver
    # threads (guide §2.6 via _memo.overlap_fills): each chain's stage
    # tails and driver-side plan/checkpoint phases back-fill the other's
    # idle executors; the shared "materialized" key serializes on
    # memo_build's per-key lock exactly once. Memo-warm calls pass
    # straight through (both thunks return instantly from the memo).
    from ._memo import overlap_fills

    ground_full, lsh_full = overlap_fills(
        lambda: DEDUP.artifact(memo, "anchored", build_anchored),
        lambda: dedup_lsh_jaccard(spark, sf_dir),
    )
    ground = ground_full.select("d1", "d2")
    lsh = lsh_full.select("d1", "d2")
    common = ground.join(lsh, ["d1", "d2"], "semi")
    g = ground.agg(F.count("*").alias("n_ground"))
    f = lsh.agg(F.count("*").alias("n_lsh"))
    c = common.agg(F.count("*").alias("n_common"))
    return (
        g.crossJoin(F.broadcast(f))
        .crossJoin(F.broadcast(c))
        .select(
            "n_ground",
            "n_lsh",
            "n_common",
            F.when(
                F.col("n_ground") > 0,
                F.round(
                    F.col("n_common") / F.col("n_ground").cast("double"), 6
                ),
            ).alias("recall"),
        )
    )


DEDUP_LSH_RECALL_SQL = f"""
WITH {_GRAMS_CTE},
sample_ids AS (
  {md5_top_n_ids_sql("documents", "doc_id", RECALL_SAMPLE_DOCS)}
),
{_pairwise_cte_sql("grams_t")},
ground AS (
  -- anchored denominator: every exact-kernel pair with AT LEAST ONE
  -- endpoint in the bounded sample (the SQL states the semantics as a
  -- filter over the full pair set; the Spark side reaches the same set
  -- with a bounded O(sample x block) probe, never the full kernel)
  SELECT d1, d2 FROM pairs
  WHERE d1 IN (SELECT doc_id FROM sample_ids)
     OR d2 IN (SELECT doc_id FROM sample_ids)
),
lsh AS ({DEDUP_LSH_JACCARD_SQL}),
common AS (
  SELECT g.d1, g.d2 FROM ground g
  WHERE EXISTS (SELECT 1 FROM lsh l WHERE l.d1 = g.d1 AND l.d2 = g.d2)
)
SELECT (SELECT COUNT(*) FROM ground) AS n_ground,
       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       (SELECT COUNT(*) FROM common) AS n_common,
       CASE WHEN (SELECT COUNT(*) FROM ground) > 0
            THEN ROUND((SELECT COUNT(*) FROM common)
                       / CAST((SELECT COUNT(*) FROM ground) AS DOUBLE), 6)
       END AS recall
"""


# --- substring / paragraph-level dedup --------------------------------------

#: tokens per positional window in the repeated-span detector; a span must
#: cover at least SPAN_MIN_WINDOWS consecutive windows to be reported, so
#: the minimum strippable span is SPAN_K + SPAN_MIN_WINDOWS - 1 tokens.
SPAN_K = 8
SPAN_MIN_WINDOWS = 2

#: hot-hash threshold for the repeated-span skew guard: a window hash with
#: more than this many occurrences is routed around the membership window
#: (whose per-group processing is serial) through a salted two-phase
#: min/max aggregate. Recalibrated r10 for MATERIALIZED input: with the
#: window table an eager localCheckpoint, one serial WindowExec group
#: processes ~2M rows/s (tools measurement: 2^18 -> 0.13 s, 2^22 ->
#: 2.2 s, 2^24 -> 9 s), so the r9 value of 2^18 engaged the guard for
#: groups 16x too small to straggle anything. 2^22 (~4M windows, ~2 s
#: serial) is where one group's serial time starts to dominate a stage —
#: a span repeated across millions of documents, the corpus-wide license
#: block, not merely a popular paragraph.
SPAN_HOT_WINDOWS = 1 << 22

#: max hot-hash count routed via a literal ``isin`` predicate (ADVICE r10):
#: the detection bound |windows| / hot_count allows 10^5+ entries at
#: production scale, and an In/InSet literal list that long bloats plan
#: analysis and task serialization in a way a broadcast join does not.
#: Below the cap (the overwhelmingly common case: a handful of
#: corpus-dominant boilerplate hashes) the isin literal stays — it plans
#: as a hash-set probe with zero join machinery; above it the routing
#: switches to broadcast anti/semi joins against the hot-hash frame.
SPAN_HOT_ISIN_MAX = 2048

#: sampling fraction for the driver-side hot-hash detection pass. A hash
#: at the 2^22 threshold expects 2^22/64 = 65,536 sampled rows; detection
#: triggers at a quarter of that expectation, so the miss probability for
#: a genuinely hot hash is Chernoff-negligible (exp(-(3/4)^2 * 65536/2)),
#: while a false positive merely routes a warm-but-large hash through the
#: salted path — output-invariant by construction. Sampling matters at
#: scale because most window hashes are singletons: the sample drops them
#: before the aggregate, cutting the detection shuffle ~64x vs the exact
#: count pass.
SPAN_DETECT_FRACTION = 1.0 / 64


def _span_windows_plan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The positional SPAN_K-token window-hash PLAN behind
    :func:`dedup_repeated_spans`: one row per (doc_id, position) with the
    md5-derived 32-bit hash of the window starting there. Pure plan — the
    memo key and the single-documents-scan plan pin both need the
    un-materialized form; execution goes through :func:`_span_windows`.

    Cached per (session, corpus dir) in ``_memo.SPAN_PLAN``: the plan is
    lazy (no storage), but *building* it calls ``spark.read.parquet``,
    whose footer/schema read is a Spark job — and three call sites build
    it per :func:`dedup_repeated_spans` call. The cached plan object makes
    the memoized construction path launch ZERO jobs (the eager-contract
    pin) and freezes the file listing at first read (the memo families'
    static-input assumption). SparkSession defines no ``__eq__``, so the
    key compares the session by identity, and two threads share ONE
    build instead of both paying the footer job."""
    from pyspark.sql import functions as F

    def build() -> "DataFrame":
        toks = (
            _docs(spark, sf_dir)
            .select(
                "doc_id", whitespace_tokens(F.col("text")).alias("toks")
            )
            .where(F.size("toks") >= SPAN_K)
        )
        return toks.select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("toks"), SPAN_K)).alias(
                "pos", "gram"
            ),
        ).select(
            "doc_id",
            (F.col("pos") + 1).cast("int").alias("i"),
            md5_long(F.col("gram"), 8).alias("h"),
        )

    return SPAN_PLAN.get(spark, (spark, sf_dir), build)


def _span_windows(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Memoized, MATERIALIZED window-hash table (eager ``localCheckpoint``
    under the dedup memo — the ``_decontam_grams`` pattern — or a durable
    parquet artifact when ``ARTIFACTS_DIR_CONF`` is set).

    Three consumers scan this table per :func:`dedup_repeated_spans` call
    (the hot-count pre-pass, the cold membership window, the hot salted
    route), and un-materialized each re-derived the tokenize/ngram/md5
    lineage from the documents scan — ADVICE r9 measured the guard's
    steady cost at ~1.75 s -> ~3.36 s at sf0.1 purely from paying that
    lineage twice more. Checkpointing it once turns all three passes into
    in-memory scans. At production scale this is the persisted window-hash
    signature table a substring-dedup pipeline writes next to the corpus
    (same argument as the 5-gram decontamination table)."""
    plan = _span_windows_plan(spark, sf_dir)
    memo = DEDUP.corpus(plan)
    return DEDUP.artifact(memo, "span_windows", lambda: plan)


def _repeated_spans_artifact(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Memoized, materialized OUTPUT of :func:`dedup_repeated_spans` at the
    default guard threshold — the (doc_id, start_tok, end_tok, n_windows)
    span set, materialized once per corpus (localCheckpoint, or a durable
    parquet artifact under ``ARTIFACTS_DIR_CONF``; ADVICE r9: the strip
    operator previously re-derived the whole guarded two-pass computation
    inside its broadcast build on every call). The span set is linear in
    cross-document boilerplate, never corpus-sized, so the checkpoint is
    small; consumers (``docs_strip_repeated_spans``) broadcast it."""
    plan = _span_windows_plan(spark, sf_dir)
    memo = DEDUP.corpus(plan)
    return DEDUP.artifact(
        memo, "span_set", lambda: dedup_repeated_spans(spark, sf_dir)
    )


def _hot_span_hashes(wins: "DataFrame", hot_count: float) -> "DataFrame":
    """Window hashes with more than ``hot_count`` occurrences (the sampled
    detection path passes a fractional threshold over a sampled ``wins``) —
    the count pre-filter of the repeated-span skew guard. A
    plain hash aggregate: counts decompose, so map-side combining splits
    even a corpus-dominant hash across input partitions and the count
    pass itself can never straggle. The result is bounded by
    |corpus| / hot_count distinct hashes — broadcast-sized by
    construction."""
    from pyspark.sql import functions as F

    return (
        wins.groupBy("h")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > hot_count)
        .select("h")
    )


def _hot_span_hash_list(
    spark: "SparkSession", sf_dir: str, hot_count: int
) -> list:
    """DRIVER-SIDE hot-hash detection for the repeated-span skew guard —
    returns the (sorted, possibly empty) list of window hashes whose
    occurrence count exceeds ``hot_count``, memoized per (corpus,
    threshold) under the dedup memo.

    r10 redesign: r9 detected hotness INSIDE the query plan (count
    aggregate + broadcast anti/semi joins), betting that AQE would erase
    the hot branch when the set came back empty. Measured with the
    window table materialized, it doesn't: the probe showed the inert
    guard plumbing costing ~4x the pure single-pass window at sf-r100
    (SCALE.md round 10). Detecting on the driver instead lets
    :func:`dedup_repeated_spans` return the PURE single-pass plan when
    nothing is hot — the overwhelmingly common case — and build the
    routed two-path plan only when a genuinely corpus-dominant span
    exists. The collected list is bounded by |windows| / hot_count
    distinct hashes (same broadcast-size bound the r9 join relied on).

    Detection is SAMPLED (``SPAN_DETECT_FRACTION``) when the threshold
    is large enough for the sample expectation to be statistically safe
    (>= 256 expected sampled rows at threshold), and exact otherwise —
    tests with tiny planted corpora and tiny thresholds stay
    deterministic, while the production path never aggregates singleton
    hashes.
    """
    from pyspark.sql import functions as F

    plan = _span_windows_plan(spark, sf_dir)
    memo = DEDUP.corpus(plan)

    def detect() -> list:
        wins = _span_windows(spark, sf_dir)
        f = SPAN_DETECT_FRACTION
        if hot_count * f >= 256:
            # same aggregate as the exact branch, over the sample with the
            # safety-margin threshold (one predicate definition, two inputs)
            rows = _hot_span_hashes(
                wins.sample(fraction=f, seed=42), hot_count * f / 4.0
            ).collect()
        else:
            rows = _hot_span_hashes(wins, hot_count).collect()
        return sorted(r["h"] for r in rows)

    return DEDUP.build(memo, ("span_hot", hot_count), detect)


def dedup_repeated_spans(
    spark: "SparkSession", sf_dir: str, hot_count: int = SPAN_HOT_WINDOWS
) -> "DataFrame":
    """Substring-level dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022): find maximal token spans that appear
    in MORE THAN ONE document and emit them as (doc_id, start_tok,
    end_tok, n_windows) intervals to strip — the contamination vector
    doc-level dedup misses: a boilerplate header / license block / quoted
    paragraph repeated inside otherwise-unique documents.

    The suffix-array formulation is order-serial; the columnar equivalent
    hashes every positional SPAN_K-token window (md5-derived 32-bit, the
    module's scheme), flags hashes seen in >= 2 distinct documents via
    ``min(doc_id) != max(doc_id)`` over a window partitioned by the hash
    (equivalent to ``count(distinct doc) >= 2`` and computable in ONE pass),
    and merges each document's flagged positions into maximal intervals
    with the gaps-and-islands trick (i - row_number is constant on a run
    of consecutive positions). Shape at scale — BANDED, never all-pairs:
    one linear window explode, one shuffle on the window hash, one shuffle
    on doc_id for the interval merge. No pair of documents is ever
    compared directly; the window hash is the only key, exactly like the
    LSH band buckets. The single-pass window replaces the previous
    distinct -> count -> semi-join membership test, which re-derived the
    tokenize/ngram/md5 lineage twice (measured 2-3x at sf0.1).

    HOT-SPAN SKEW GUARD (the ``skew.py`` pattern; r10 redesign): a
    corpus-wide boilerplate hash concentrates all its rows in ONE window
    group = one task — WindowExec's row array is spillable (memory-safe)
    but the group is processed SERIALLY (~2M rows/s on materialized
    longs, tools measurement), so a span present across millions of docs
    would make that task the straggler. Hot hashes are detected ON THE
    DRIVER (:func:`_hot_span_hash_list` — sampled count, memoized per
    corpus): when the set is EMPTY — the overwhelmingly common case —
    this function returns the PURE single-pass window plan, zero guard
    residue. (r9 detected in-plan and bet on AQE erasing the empty hot
    branch; measured, the inert plumbing cost ~4x the pure pass —
    SCALE.md round 10.) When a hot hash exists, its rows bypass the
    window via a literal ``isin`` partition: the salted two-phase
    min/max (``groupBy(h, salt)`` partials re-aggregated on ``h`` —
    every salt slice of the hot hash is a separate task) computes the
    same ``min != max`` cross-document membership, so routing is
    output-invariant and the DuckDB oracle is unchanged; every other
    group stays in the single-pass window, now bounded by
    ``hot_count``. A hot set larger than ``SPAN_HOT_ISIN_MAX`` routes
    through broadcast anti/semi joins instead of the ``isin`` literal
    (ADVICE r10: the detection bound admits 10^5+ entries at production
    scale, too many for an In-literal plan) — same partition of the
    rows, same output.

    CONSTRUCTION IS EAGER — a documented deviation from every sibling
    operator's lazy-plan contract: building this DataFrame materializes
    the window-hash table (eager ``localCheckpoint``) and runs the
    driver-side detection count, because the hot/cold routing decision
    must be known to SHAPE the plan (the empty-hot case returns the pure
    single-pass window with zero guard residue — the whole point of the
    r10 redesign). Both steps are memoized per (corpus, threshold):
    the FIRST construction per corpus launches Spark jobs; every later
    construction launches none (pinned by
    ``test_repeated_spans_second_construction_launches_no_jobs``). The
    routing decision is frozen per session with the memo — static input
    files are already the memo family's documented assumption. Callers
    needing pure plan inspection without execution can build
    :func:`_span_windows_plan` instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .skew import N_SALTS, salt_column

    wins = _span_windows(spark, sf_dir)
    hot = _hot_span_hash_list(spark, sf_dir, hot_count)
    by_hash = Window.partitionBy("h")
    if not hot:
        # fast path: nothing hot — the membership test is the plain
        # single-pass window, exactly the unguarded plan
        flagged = (
            wins.withColumn("d_min", F.min("doc_id").over(by_hash))
            .withColumn("d_max", F.max("doc_id").over(by_hash))
            .where(F.col("d_min") != F.col("d_max"))
            .select("doc_id", "i")
        )
    else:
        if len(hot) <= SPAN_HOT_ISIN_MAX:
            # tiny hot set: a literal isin plans as a hash-set probe with
            # zero join machinery
            is_hot = F.col("h").isin(hot)
            wins_cold = wins.where(~is_hot)
            wins_hot = wins.where(is_hot)
        else:
            # large hot set (ADVICE r10): a 10^5-literal In list bloats
            # plan analysis/serialization — route via broadcast anti/semi
            # joins against the hot-hash frame instead (the r9 shape)
            hot_df = F.broadcast(
                spark.createDataFrame([(int(h),) for h in hot], "h long")
            )
            wins_cold = wins.join(hot_df, "h", "left_anti")
            wins_hot = wins.join(hot_df, "h", "left_semi")
        # cold route: the single-pass membership window, per-group rows
        # now bounded by hot_count
        flagged_cold = (
            wins_cold.withColumn("d_min", F.min("doc_id").over(by_hash))
            .withColumn("d_max", F.max("doc_id").over(by_hash))
            .where(F.col("d_min") != F.col("d_max"))
            .select("doc_id", "i")
        )
        # hot route: salted two-phase min/max (min/max decompose, so the
        # (h, salt) partials re-aggregated on h equal the direct
        # aggregate exactly), then a broadcast semi-join of the hot rows
        # against the hashes that crossed documents — keyed on the TINY
        # hot-hash set, no new shuffle of the corpus-sized window table.
        rep_hot = (
            wins_hot.withColumn("_salt", salt_column("doc_id", N_SALTS))
            .groupBy("h", "_salt")
            .agg(
                F.min("doc_id").alias("_dmin"),
                F.max("doc_id").alias("_dmax"),
            )
            .groupBy("h")
            .agg(F.min("_dmin").alias("d_min"), F.max("_dmax").alias("d_max"))
            .where(F.col("d_min") != F.col("d_max"))
            .select("h")
        )
        flagged_hot = wins_hot.join(F.broadcast(rep_hot), "h", "semi").select(
            "doc_id", "i"
        )
        flagged = flagged_cold.unionAll(flagged_hot)
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("i"))
    isl = flagged.withColumn("grp", F.col("i") - rn)
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("start_tok"),
            (F.max("i") + F.lit(SPAN_K - 1)).cast("int").alias("end_tok"),
            F.count("*").alias("n_windows"),
        )
        .where(F.col("n_windows") >= SPAN_MIN_WINDOWS)
        .select("doc_id", "start_tok", "end_tok", "n_windows")
    )


DEDUP_REPEATED_SPANS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
),
wins AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - {SPAN_K} + 2),
             i -> struct_pack(i := i,
                 h := CAST(CONCAT('0x',
                           SUBSTR(md5(array_to_string(w[i:i + {SPAN_K - 1}],
                                                      ' ')), 1, 8))
                      AS BIGINT)))) AS s
  FROM toks WHERE len(w) >= {SPAN_K}
),
wflat AS (SELECT doc_id, CAST(s.i AS INTEGER) AS i, s.h AS h FROM wins),
rep AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM wflat)
  GROUP BY h HAVING COUNT(*) >= 2
),
flagged AS (SELECT doc_id, i FROM wflat WHERE h IN (SELECT h FROM rep)),
isl AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM flagged
)
SELECT doc_id, CAST(MIN(i) AS INTEGER) AS start_tok,
       CAST(MAX(i) + {SPAN_K - 1} AS INTEGER) AS end_tok,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, grp
HAVING COUNT(*) >= {SPAN_MIN_WINDOWS}
"""


#: damping as an integer percentage: 0.85 as a SQL literal is a DECIMAL in
#: DuckDB but a double in Python/Spark — integer-ratio arithmetic
#: (85 * r / (100 * deg)) sidesteps the literal-type divergence entirely.
PAGERANK_DAMPING_PCT = 85
PAGERANK_ITERS = 10
PAGERANK_UNIT = 10**9


def graph_pagerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Integer-quantized PageRank over the (undirected, symmetrized)
    SimHash near-dup graph — centrality on the duplicate graph surfaces
    the template documents that everything else is a variation OF, the
    natural cluster representatives when "lowest doc_id" is too arbitrary.

    Every iteration's rank mass lives in exact integer 1e-9 units: each
    edge contribution is ``ROUND(d * r_u / deg_u)`` (deterministic scalar
    arithmetic), summed exactly, plus the quantized teleport term — so the
    whole K-step trajectory is bit-identical across engines (the module's
    unrolled-iteration convention; a float PageRank would diverge in the
    last ulp by partition order). Shape at scale: the source degree is
    LOOP-INVARIANT, so it is joined into the edge list ONCE up front
    (r10 — the previous form re-joined deg inside every iteration: K
    extra joins of the full edge list for a value that never changes);
    per iteration that leaves one co-partitioned edge ⋈ rank join and
    one uniform destination groupBy. The degree table and the degree-
    folded edge list are per-corpus memo artifacts (r12 — previously
    per-CALL lazy checkpoints, so every repeat call re-ran the degree
    aggregate and join; both are edge-list-sized, the persistence class
    of the pair list they derive from, and durable-mode eligible).

    The K iterations are ONE unrolled lazy plan — no per-iteration rank
    checkpoint (r19, guide §2.4): a ``localCheckpoint`` per iteration
    rewrote each rank table to a ``LogicalRDD`` with
    ``UnknownPartitioning``, so every iteration's join re-Exchanged BOTH
    sides — 3 exchanges per iteration. Unrolled, the rank side of
    iteration k+1 is iteration k's ``groupBy("src")`` output — already
    hash-partitioned on the join key, so the join plans NO rank-side
    exchange, and the K identical edge-side exchanges of the one
    memoized ``edges_deg`` scan are deduplicated by exchange reuse at
    runtime (per-iteration ``LogicalRDD``s canonicalized differently —
    nothing could be reused before). K is a compile-time constant, so
    lineage depth is bounded without checkpoints, and dropping the
    intermediate localCheckpoint blocks also removes their
    executor-loss fragility at cluster scale. Exact integer rank mass
    means the rewrite cannot perturb results by aggregation order.
    Measured at sf0.1/local[32] (paired alternating reps, min-of-5):
    steady 3.25 s -> 1.91 s; rank-side Exchange count per iteration
    1 -> 0 (plans/r19/dedup_graph_pagerank_{before,after}.txt).
    Dangling nodes cannot exist (undirected edges: every node has degree
    >= 1), so no mass-redistribution pass is needed.

    SINGLE-ACTION CONTRACT (ADVICE r19): the returned frame is fully
    lazy — a consumer that runs several actions on it re-executes all K
    iterations each time. Every registered consumer (the bench's noop
    sink, the oracle's one collect) runs exactly one action; a caller
    needing repeat actions should ``localCheckpoint()`` the result
    itself rather than this function re-adding a checkpoint that would
    hide the plan (and its exchange-reuse eligibility) behind a
    ``LogicalRDD`` for everyone."""
    from pyspark.sql import functions as F

    memo, pairs_art = _simhash_pairs_artifact(spark, sf_dir)
    pairs = pairs_art.select("d1", "d2")
    edges = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).unionByName(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    deg = DEDUP.artifact(
        memo,
        "pagerank_deg",
        lambda: edges.groupBy("src").agg(F.count("*").alias("deg")),
    )
    n_nodes = deg.count()  # teleport sizing — a count on the
    # materialized degree artifact, not a recomputation
    if n_nodes == 0:
        # empty near-dup graph (no same-language pair within the Hamming
        # radius — small or highly diverse corpora): the SQL oracle's
        # iteration CTEs are all empty, so return the same empty
        # (doc_id, r_micro) frame instead of dividing by zero in the
        # teleport sizing below
        return deg.select(
            F.col("src").alias("doc_id"),
            F.lit(0).cast("long").alias("r_micro"),
        )
    # (src, dst, deg) — degree folded into the edge once, memoized;
    # every iteration (and every repeat call) reads the artifact
    edges_deg = DEDUP.artifact(
        memo, "pagerank_edges_deg", lambda: edges.join(deg, "src")
    )
    # int(x + 0.5) == SQL ROUND's round-half-away for positive x (Python's
    # round() is half-EVEN and would diverge on exact .5 boundaries)
    base = int(
        (100 - PAGERANK_DAMPING_PCT) * PAGERANK_UNIT / (100 * n_nodes) + 0.5
    )
    r = deg.select(
        "src", F.lit(int(PAGERANK_UNIT / n_nodes + 0.5)).alias("r_micro")
    )
    for _ in range(PAGERANK_ITERS):
        r = (
            edges_deg.join(r, "src")
            .select(
                F.col("dst").alias("src"),
                F.round(
                    PAGERANK_DAMPING_PCT * F.col("r_micro")
                    / (100 * F.col("deg"))
                ).cast("long").alias("c"),
            )
            .groupBy("src")
            .agg((F.lit(base) + F.sum("c")).alias("r_micro"))
        )
    return r.select(F.col("src").alias("doc_id"), "r_micro")


def _pagerank_sql() -> str:
    lines = [
        f"""WITH p AS ({DEDUP_SIMHASH_PAIRS_SQL}),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM p
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM p
),
deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS (
  SELECT src, CAST(ROUND({PAGERANK_UNIT} / n_nodes) AS BIGINT) AS r_micro
  FROM deg CROSS JOIN n
)"""
    ]
    for k in range(1, PAGERANK_ITERS + 1):
        lines.append(
            f""",
r{k} AS (
  SELECT e.dst AS src,
         CAST(ROUND(CAST({100 - PAGERANK_DAMPING_PCT} AS BIGINT)
                    * {PAGERANK_UNIT} / (100 * n.n_nodes)) AS BIGINT)
         + SUM(CAST(ROUND({PAGERANK_DAMPING_PCT} * r.r_micro
                          / (100 * d.deg)) AS BIGINT))
           AS r_micro
  FROM edges e
  JOIN r{k - 1} r ON r.src = e.src
  JOIN deg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst, n.n_nodes
)"""
        )
    lines.append(
        f"\nSELECT src AS doc_id, CAST(r_micro AS BIGINT) AS r_micro"
        f" FROM r{PAGERANK_ITERS}"
    )
    return "".join(lines)


DEDUP_GRAPH_PAGERANK_SQL = _pagerank_sql()


DEDUP_GRAPH_TRIANGLES_SQL = f"""
WITH p AS ({DEDUP_SIMHASH_PAIRS_SQL}),
tri AS (
  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
  FROM p ab
  JOIN p bc ON ab.d2 = bc.d1
  JOIN p ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2
),
nodes AS (
  SELECT unnest([a, b, c]) AS doc_id FROM tri
)
SELECT doc_id, COUNT(*) AS n_triangles FROM nodes GROUP BY 1
"""


# --- embedding cosine near-dup ---------------------------------------------


def dedup_embedding_neardup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Embedding-cosine near-duplicates >= threshold, blocked on the
    *data-driven* IVF cell from ``operators.similarity._cell_assignment``
    (nearest centroid): quadratic only within a cell, never across the
    corpus. Because cell count is a knob (centroids per data volume in
    production k-means), per-cell membership stays bounded as the corpus
    grows — unlike blocking on a fixed-cardinality data attribute, where
    blocks grow linearly with the data and the per-block quadratic work
    explodes. Cosine is rounded to 4 decimals — double accumulation over 64
    dims is engine-identical well past that precision."""
    from pyspark.sql import functions as F

    from .similarity import _cell_assignment, _dot

    # precompute each vector's norm once — recomputing it per pair would
    # triple the inner-loop flops of the quadratic stage; repartition on the
    # block key + cache for the self-join (both branches reuse it).
    parallelism = spark.sparkContext.defaultParallelism
    emb = (
        _cell_assignment(spark, sf_dir)
        .select(
            "vec_id",
            "cell_id",
            "embedding",
            F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        )
        .repartition(parallelism, "cell_id")
        .cache()
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.col("a.cell_id").alias("cell_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


def _dedup_embedding_sql() -> str:
    from .similarity import IVF_ASSIGN_CTES, _cosine_sql

    return f"""
WITH {IVF_ASSIGN_CTES},
p AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2, a.cell_id AS cell_id,
         {_cosine_sql("a.v", "b.v")} AS cosine
  FROM assigned a JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT v1, v2, cell_id, cosine FROM p WHERE cosine >= {COSINE_THRESHOLD}
"""


DEDUP_EMBEDDING_SQL = _dedup_embedding_sql()


# --- duplicate clusters (connected components) ------------------------------


CC_MAX_ITERATIONS = 25


def connected_components(
    edges: "DataFrame",
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = CC_MAX_ITERATIONS,
    algorithm: str = "propagation",
) -> "DataFrame":
    """Connected components of an undirected pair graph: (id, component)
    where component is the smallest node id reachable from ``id``.

    Two algorithms behind one API (equivalence-pinned by
    ``tests/test_operators_dedup.py``):

    * ``"propagation"`` — min-label propagation: every round each node takes
      the minimum of its own label and its neighbors' labels; converges in
      graph-diameter rounds. Duplicate graphs are short-diameter (near-dup
      clusters are dense blobs, not paths), so this is the default: a
      handful of rounds of one join + one aggregation each.
    * ``"two-phase"`` — alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14): converges in
      O(log n) rounds *independent of diameter*, and every round's work is
      edge-linear joins/aggregations — the extreme-scale choice for long
      chains or giant components where propagation's round count blows up.

    Both run entirely executor-side; the driver only evaluates a scalar
    convergence check per round. Lineage is truncated every round with a
    LAZY ``localCheckpoint`` so plans don't nest across iterations — the
    round's convergence action doubles as the materializing job, one
    scheduled job per round instead of two (on a real cluster use
    reliable checkpointing)."""
    if algorithm == "two-phase":
        return _cc_two_phase(edges, src, dst, max_iterations)
    if algorithm != "propagation":
        raise ValueError(
            f"unknown algorithm {algorithm!r}; expected 'propagation' or 'two-phase'"
        )
    from pyspark.sql import functions as F

    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    # try/finally: the non-convergence RuntimeError (and any mid-loop
    # failure) must not leave the symmetrized edge table pinned in
    # storage memory for the rest of the session — on success each
    # round's count has already materialized the final labels'
    # checkpoint, so unpersisting in the finally is order-equivalent
    try:
        labels = (
            sym.select(F.col("a").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("comp"))
            .localCheckpoint(eager=False)
        )
        for _ in range(max_iterations):
            nbr_min = (
                sym.join(labels, sym["a"] == labels["id"])
                .select(F.col("b").alias("id"), "comp")
                .groupBy("id")
                .agg(F.min("comp").alias("nbr_min"))
            )
            new_labels = (
                labels.withColumnRenamed("comp", "comp_old")
                .join(nbr_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp_old"),
                        F.coalesce(F.col("nbr_min"), F.col("comp_old")),
                    ).alias("comp"),
                    "comp_old",
                )
                .localCheckpoint(eager=False)
            )
            # the convergence count is the round's materializing action
            changed = new_labels.where(
                F.col("comp") != F.col("comp_old")
            ).count()
            labels = new_labels.drop("comp_old")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    finally:
        sym.unpersist()
    return labels


def _cc_checksum(edges: "DataFrame") -> tuple:
    """Order-independent fingerprint of an edge set: (count, sum(a), sum(b),
    sum(xxhash64(a, b))). Equal fingerprints across rounds mean the distinct
    edge set is unchanged (a 64-bit-sum collision between consecutive rounds
    of the same shrinking graph is negligible, and the equivalence test vs
    min-label propagation would catch it); one aggregate, no extra join."""
    from pyspark.sql import functions as F

    # sums run in decimal(38,0): summing 64-bit hashes overflows a long
    # almost immediately, which ANSI mode correctly refuses to wrap
    row = edges.agg(
        F.count("*"),
        F.sum(F.col("a").cast("decimal(38,0)")),
        F.sum(F.col("b").cast("decimal(38,0)")),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
    ).collect()[0]
    return tuple(row)


def _cc_large_star(sym: "DataFrame") -> "DataFrame":
    """Large-star round: every node connects its strictly-larger neighbors
    to the minimum of its closed neighborhood. One agg + one join, both on
    the node key; high-degree nodes are exactly what this phase shrinks."""
    from pyspark.sql import functions as F

    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select("a", F.least(F.col("a"), F.col("mn")).alias("m"))
    )
    return (
        sym.where(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_small_star(edges: "DataFrame") -> "DataFrame":
    """Small-star round: orient each edge large->small, then connect every
    node and all its smaller neighbors to the smallest of them."""
    from pyspark.sql import functions as F

    directed = (
        edges.select(
            F.greatest(F.col("a"), F.col("b")).alias("a"),
            F.least(F.col("a"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    relinked = directed.join(mins, "a").select(
        F.col("b").alias("a"), F.col("m").alias("b")
    )
    self_links = mins.select("a", F.col("m").alias("b"))
    return (
        relinked.unionByName(self_links)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_two_phase(
    edges: "DataFrame", src: str, dst: str, max_iterations: int
) -> "DataFrame":
    """Alternating large-star/small-star until the edge set reaches its
    fixed point — a forest of stars where every node points at its
    component's minimum id. O(log n) rounds regardless of graph diameter;
    each round is two aggregations and two joins, all edge-linear."""
    from pyspark.sql import functions as F

    # Lazily checkpointed (not .persist(): that would need to outlive this
    # function for the final join, with no caller to unpersist it; not
    # eager: each round's convergence CHECKSUM is already an action, so it
    # doubles as the materializing job — one scheduled job per round
    # instead of two, measured 2.9 -> 1.7 s at sf0.1 on the keep-best
    # chain with identical labels).
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for _ in range(max_iterations):
        sym = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
        cur = _cc_small_star(_cc_large_star(sym)).localCheckpoint(eager=False)
        sig = _cc_checksum(cur)  # the round's materializing action
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"two-phase connected components did not converge in {max_iterations} rounds"
        )
    # fixed point: every remaining edge is (node, component-min); roots and
    # singleton nodes label themselves. The min-agg is belt-and-braces: the
    # fixed point has exactly one out-edge per node, so the agg is a no-op
    # that guarantees the join can't fan out.
    comp_map = (
        cur.select(F.col("a").alias("id"), F.col("b").alias("comp_edge"))
        .groupBy("id")
        .agg(F.min("comp_edge").alias("comp_edge"))
    )
    return nodes.join(comp_map, "id", "left").select(
        "id", F.coalesce(F.col("comp_edge"), F.col("id")).alias("comp")
    )


def dedup_duplicate_clusters(
    spark: "SparkSession", sf_dir: str, algorithm: str = "propagation"
) -> "DataFrame":
    """The step pair-wise near-dedup is FOR: group the LSH-verified
    duplicate pairs into whole clusters (connected components) so one keeper
    per *cluster* can be chosen — pairwise keeps A-B and B-C but would keep
    both A and C without the transitive closure. Emits every clustered doc
    with its component id (min doc_id in the cluster) and the cluster
    size."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    comp = _duplicate_components(_grams_df(spark, sf_dir), algorithm)
    size = Window.partitionBy("comp")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        F.count("*").over(size).cast("int").alias("cluster_size"),
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT d1, d2 FROM ({DEDUP_LSH_JACCARD_SQL}) AS thresholded
),
adj AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM adj) nodes
  UNION
  SELECT adj.b, reach.r FROM reach JOIN adj ON adj.a = reach.node
),
comp AS (
  SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
)
SELECT doc_id, component_id,
       CAST(COUNT(*) OVER (PARTITION BY component_id) AS INTEGER) AS cluster_size
FROM comp
"""


DEDUP_CLUSTERS_SQL = _dedup_clusters_sql()


def dedup_clusters_twophase(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """``dedup_duplicate_clusters`` computed with the large-star/small-star
    algorithm instead of min-label propagation — same output by
    construction, verified against the same recursive-CTE oracle. This is
    the path to use when components can be huge or chain-shaped (crawl
    near-dup graphs at 100 TB): rounds are O(log n) in nodes, not
    O(diameter)."""
    return dedup_duplicate_clusters(spark, sf_dir, algorithm="two-phase")


def dedup_cluster_keep_best(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The full near-dedup decision, end to end: LSH candidates -> exact
    Jaccard threshold -> connected components -> ONE keeper per duplicate
    cluster (highest quality score, doc_id as the deterministic tiebreak).
    This is what actually shrinks a training corpus: `dedup_keep_best`
    collapses byte-identical copies, this collapses *near*-duplicate
    clusters. Scale shape is the sum of its parts — every stage is
    linear-or-bucketed, the quadratic kernel only sees LSH candidates, and
    the component rounds are O(log n) (two-phase star — the at-scale
    algorithm; output equivalence to propagation is pinned, and the
    per-(corpus, algorithm) memo means this build is shared with
    ``dedup_clusters_twophase`` and the training-corpus pipeline).

    Plan note: the keeper pick is a lexicographic struct-max, which plans
    as an in-partition Sort + SortAggregate (immutable struct buffer) —
    deliberate, see :func:`dedup_keep_best`'s plan note; the spine here is
    the component membership table, already collapsed far below corpus
    size by the LSH threshold."""
    from pyspark.sql import functions as F

    from .text import quality_score

    comp = dedup_duplicate_clusters(
        spark, sf_dir, algorithm="two-phase"
    ).select("doc_id", "component_id")
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    ranked = comp.join(quality, "doc_id").select(
        "component_id",
        F.struct(F.col("quality"), F.col("doc_id")).alias("qd"),
    )
    best = ranked.groupBy("component_id").agg(
        F.max("qd").alias("best"),
        F.count("*").alias("cluster_size"),
    )
    return best.select(
        "component_id",
        F.col("best.doc_id").alias("keeper_doc_id"),
        F.col("best.quality").alias("keeper_quality"),
        F.col("cluster_size").cast("int").alias("cluster_size"),
    )


def _dedup_cluster_keep_best_sql() -> str:
    return f"""
WITH comp AS (
  SELECT doc_id, component_id FROM ({DEDUP_CLUSTERS_SQL}) AS clusters
),
m AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE
           / length(text) AS alpha_ratio
  FROM documents
),
q AS (
  SELECT doc_id,
         ROUND(CASE WHEN n_tokens >= 40 THEN 50 ELSE n_tokens * 50 / 40 END
               + alpha_ratio * 50, 6) AS quality
  FROM m
),
ranked AS (
  SELECT c.component_id, c.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality DESC, c.doc_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY c.component_id) AS cluster_size
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component_id, doc_id AS keeper_doc_id, quality AS keeper_quality,
       CAST(cluster_size AS INTEGER) AS cluster_size
FROM ranked WHERE rn = 1
"""


DEDUP_CLUSTER_KEEP_BEST_SQL = _dedup_cluster_keep_best_sql()


def dedup_keep_best(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The composition a real training-data pipeline runs: group exact
    duplicates by normalized content hash and keep the highest-quality copy
    (quality score from ``operators.text.quality_score``; doc_id breaks
    ties deterministically via the (quality, doc_id) max).

    One scan computes hash + quality together (the join on doc_id below is
    plan-level only — Catalyst collapses the two projections over the same
    scan), one shuffle on the uniform hash groups them, a lexicographic
    struct-max picks the keeper map-side.

    Plan note (tools/plan_audit.py KEYED_SORTAGG advisory): ``max`` over a
    struct carries an immutable aggregation buffer, so this combine plans
    as in-partition Sort + SortAggregate rather than HashAggregate.
    Deliberate: content-hash groups are mostly singletons, so every
    hash-only alternative (collapse on (hash, quality) first, or
    max-quality + join-back) still sees a ~corpus-sized spine AND adds a
    second corpus shuffle; the in-partition sort is spill-aware,
    memory-bounded, and keeps the single uniform shuffle."""
    from pyspark.sql import functions as F

    from .text import quality_score

    normalized = F.lower(normalize_ws(F.col("text")))
    hashed = _docs(spark, sf_dir).select(
        "doc_id", F.md5(normalized).alias("content_hash")
    )
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    # pack (quality, doc_id) into a struct: max over it is lexicographic,
    # giving max-quality with max-doc_id tiebreak in one aggregate
    ranked = hashed.join(quality, "doc_id").select(
        "content_hash",
        F.struct(F.col("quality"), F.col("doc_id")).alias("qd"),
    )
    best = ranked.groupBy("content_hash").agg(
        F.max("qd").alias("best"),
        F.count("*").alias("n_copies"),
    )
    return best.select(
        "content_hash",
        F.col("best.doc_id").alias("keeper_doc_id"),
        F.col("best.quality").alias("keeper_quality"),
        "n_copies",
    )


DEDUP_KEEP_BEST_SQL = r"""
WITH m AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE
           / length(text) AS alpha_ratio
  FROM documents
),
q AS (
  SELECT doc_id, content_hash,
         ROUND(CASE WHEN n_tokens >= 40 THEN 50 ELSE n_tokens * 50 / 40 END
               + alpha_ratio * 50, 6) AS quality
  FROM m
),
ranked AS (
  SELECT content_hash, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY content_hash
                            ORDER BY quality DESC, doc_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
  FROM q
)
SELECT content_hash, doc_id AS keeper_doc_id, quality AS keeper_quality,
       n_copies
FROM ranked WHERE rn = 1
"""


# --- benchmark decontamination ----------------------------------------------

DECONTAM_EVAL_MOD = 50  # doc_id % 50 == 0 stands in for the eval benchmark
DECONTAM_THRESHOLD = 0.5  # flag docs sharing >= half their grams with eval
#: decontamination matches on word 5-grams, not the near-dup bigrams:
#: published decontamination practice uses long n-grams (8-13 words)
#: precisely because short grams saturate — on this templated synthetic
#: corpus, bigram overlap with a 2% eval sample reaches a median of 1.0 at
#: sf0.1 (every doc flagged), while 5-gram baseline overlap is ~0 and only
#: the ~0.2% planted eval near-copies cross the 0.5 threshold, at every SF.
DECONTAM_NGRAM = 5


def docs_decontaminate(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Benchmark decontamination: flag every training document whose word-
    bigram overlap with the eval set reaches ``DECONTAM_THRESHOLD``. The
    eval set here is the deterministic stand-in ``doc_id % 50 == 0``; in
    production it is the benchmark suite's documents.

    Returns (doc_id, n_grams, overlap_frac, contaminated) for every
    training doc with at least one bigram — callers drop the flagged rows.

    Shape at scale: the eval gram set is benchmark-sized (~10^6-10^7 hashed
    grams for a full eval suite), NOT corpus-sized, so it collapses to a
    single-row array that rides a broadcast; the corpus side is then a
    shuffle-free scan-and-project (`array_intersect` per doc against the
    broadcast array). No corpus shuffle at any width. When the eval side
    outgrows a single collected array, use
    :func:`docs_decontaminate_semijoin` — the same semantics as explode +
    semi-join + a doc_id-keyed count, equivalence-pinned against this fast
    path."""
    from pyspark.sql import functions as F

    grams = _decontam_grams(spark, sf_dir)
    # memoized 1-row eval-set artifact (r19): the broadcast build reads a
    # materialized row instead of re-running the eval-side aggregate per call
    eval_hv = _decontam_eval_hv(spark, sf_dir)
    train = grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    overlap = F.round(
        F.size(F.array_intersect(F.col("hv"), F.col("eval_hv")))
        / F.size(F.col("hv")),
        6,
    )
    return (
        train.crossJoin(F.broadcast(eval_hv))
        .select(
            "doc_id",
            F.size("hv").alias("n_grams"),
            overlap.alias("overlap_frac"),
        )
        .withColumn(
            "contaminated", F.col("overlap_frac") >= DECONTAM_THRESHOLD
        )
    )


DOCS_DECONTAMINATE_SQL = rf"""
WITH {_ngrams_cte(DECONTAM_NGRAM)},
eval_hv AS (
  SELECT list_distinct(flatten(list(hv))) AS ehv
  FROM grams_t WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
),
scored AS (
  SELECT g.doc_id, len(g.hv) AS n_grams,
         ROUND(len(list_intersect(g.hv, e.ehv)) * 1.0 / len(g.hv), 6)
           AS overlap_frac
  FROM grams_t g CROSS JOIN eval_hv e
  WHERE g.doc_id % {DECONTAM_EVAL_MOD} <> 0
)
SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams, overlap_frac,
       overlap_frac >= {DECONTAM_THRESHOLD} AS contaminated
FROM scored
"""


def docs_decontaminate_semijoin(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The documented big-eval-set fallback of :func:`docs_decontaminate`,
    implemented: explode the training grams, LEFT SEMI join against the
    (still-broadcastable-per-partition) eval gram table, count matches per
    doc. Output is identical to the array-intersect fast path (equivalence
    pinned in tests and by sharing its oracle).

    Use this when the eval suite outgrows a single collected array (the
    fast path drains the whole eval gram set through one driver-side row):
    here the eval grams stay a distributed table — deduplicated with one
    uniform shuffle — and Spark broadcasts it if it fits, or falls back to
    a shuffled semi-join if it doesn't. The per-doc count is one more
    uniform doc_id shuffle with map-side partials. Nothing is ever
    collected."""
    from pyspark.sql import functions as F

    grams = _decontam_grams(spark, sf_dir)
    eval_grams = (
        grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select(F.explode("hv").alias("h"))
        .distinct()
    )
    train = grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0).select(
        "doc_id", F.size("hv").alias("n_grams"), F.explode("hv").alias("h")
    )
    # no broadcast hint: letting AQE choose is the point — broadcast while
    # the eval side fits, shuffled semi-join when it doesn't
    hits = (
        train.join(eval_grams, "h", "semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_doc = grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0).select(
        "doc_id", F.size("hv").alias("n_grams")
    )
    overlap = F.round(
        F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_grams"), 6
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            overlap.alias("overlap_frac"),
        )
        .withColumn("contaminated", F.col("overlap_frac") >= DECONTAM_THRESHOLD)
    )


# --- per-eval-doc contamination report ----------------------------------------


def docs_contamination_report(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The reverse view of decontamination: for each EVAL document, how many
    training documents share at least one 5-gram with it and the widest
    single-document overlap — the report a benchmark owner reads to see
    which of their items leak into the corpus (and must be re-drawn rather
    than just filtered on the training side).

    Shape at scale: both sides explode to (doc, gram) off the shared
    materialized gram table, the join keys on the uniform gram hash (eval
    side is benchmark-sized, so it broadcasts; AQE falls back to a shuffled
    join when it does not), and the two aggregations key on
    (eval_doc, train_doc) then eval_doc — both bounded by the actual
    overlap, not the corpus."""
    from pyspark.sql import functions as F

    grams = _decontam_grams(spark, sf_dir)
    eval_g = (
        grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), F.explode("hv").alias("h"))
    )
    train_g = (
        grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
        .select(F.col("doc_id").alias("train_doc_id"), F.explode("hv").alias("h"))
    )
    pair_overlap = (
        eval_g.join(train_g, "h")
        .groupBy("eval_doc_id", "train_doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    return (
        pair_overlap.groupBy("eval_doc_id")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.max("shared_grams").alias("max_shared_grams"),
        )
    )


DOCS_CONTAMINATION_REPORT_SQL = rf"""
WITH {_ngrams_cte(DECONTAM_NGRAM)},
eval_g AS (
  SELECT doc_id AS eval_doc_id, unnest(hv) AS h
  FROM grams_t WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
),
train_g AS (
  SELECT doc_id AS train_doc_id, unnest(hv) AS h
  FROM grams_t WHERE doc_id % {DECONTAM_EVAL_MOD} != 0
),
pair_overlap AS (
  SELECT eval_doc_id, train_doc_id, COUNT(*) AS shared_grams
  FROM eval_g JOIN train_g USING (h)
  GROUP BY 1, 2
)
SELECT eval_doc_id, COUNT(*) AS n_train_docs,
       MAX(shared_grams) AS max_shared_grams
FROM pair_overlap GROUP BY 1
"""


# --- Bloom-filter decontamination --------------------------------------------

#: Bloom geometry: m bits in 31-bit words (mask fits a positive int64 in
#: every engine), k portable hash positions per gram drawn from the same
#: (a*h+b) mod p family as the minhash permutations (fresh parameters —
#: offset past NUM_PERM so the two hash families never overlap).
BLOOM_BITS = 1 << 14
BLOOM_WORD_BITS = 31
BLOOM_K = 3


def _bloom_positions(h: "Column") -> list["Column"]:
    from pyspark.sql import functions as F

    params = minhash_perm_params(NUM_PERM + BLOOM_K)[NUM_PERM:]
    hmod = h % MERSENNE_P
    return [
        ((F.lit(a) * hmod + F.lit(b)) % MERSENNE_P) % BLOOM_BITS
        for a, b in params
    ]


def docs_decontaminate_bloom(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Bloom-filter decontamination: the eval suite's gram set collapses to
    a CONSTANT-size bit array (2^14 bits here — in production 10^9-10^10
    bits is still megabytes) instead of the gram list itself, so the
    broadcast stays the same size no matter how many benchmarks join the
    suite. A training gram hits when all K hashed bit positions are set.

    One-sided error, deterministically reproduced by the oracle: the same
    portable hash family computes the same bit positions in both engines,
    so false positives land on the same grams — the flag column is exact
    cross-engine even though it over-approximates exact decontamination
    (bloom overlap >= exact overlap per doc; pinned in
    tests/test_operators_dedup.py).

    Shape at scale: build = explode eval grams to K positions, one uniform
    distinct + 31-bit-word bit_or groupBy (output <= m/31 rows regardless
    of eval size); probe = per-gram position expansion joined against the
    broadcast word table, then two uniform aggregations (per-gram AND,
    per-doc hit count). The corpus is never shuffled on data-derived keys
    wider than doc_id."""
    from pyspark.sql import functions as F

    grams = _decontam_grams(spark, sf_dir)
    # shiftleft's Python wrapper wants a literal bit count; the SQL builtin
    # takes any expression, so the mask is spelled as an expr over `pos`
    mask_expr = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
    )

    eval_words = (
        grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select(F.explode("hv").alias("h"))
        .select(F.explode(F.array(*_bloom_positions(F.col("h")))).alias("pos"))
        .distinct()
        .select(
            F.floor(F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("word"),
            mask_expr.alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )

    probe = (
        grams.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
        .select("doc_id", F.size("hv").alias("n_grams"), F.explode("hv").alias("h"))
        .select(
            "doc_id",
            "n_grams",
            "h",
            F.explode(F.array(*_bloom_positions(F.col("h")))).alias("pos"),
        )
        .select(
            "doc_id",
            "n_grams",
            "h",
            F.floor(F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("word"),
            mask_expr.alias("mask"),
        )
    )
    bit_set = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0
    ).cast("int")
    gram_hits = (
        probe.join(F.broadcast(eval_words), "word", "left")
        .select("doc_id", "n_grams", "h", bit_set.alias("bit_set"))
        .groupBy("doc_id", "n_grams", "h")
        .agg(F.min("bit_set").alias("gram_hit"))
    )
    overlap = F.round(F.col("n_hits") / F.col("n_grams"), 6)
    return (
        gram_hits.groupBy("doc_id", "n_grams")
        .agg(F.sum("gram_hit").alias("n_hits"))
        .select("doc_id", "n_grams", overlap.alias("overlap_frac"))
        .withColumn("contaminated", F.col("overlap_frac") >= DECONTAM_THRESHOLD)
    )


def _bloom_sql() -> str:
    from ..functions.hashing import minhash_perm_params as perms

    params = perms(NUM_PERM + BLOOM_K)[NUM_PERM:]
    pos_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, n_grams, h,"
        f" (({a} * (h % {MERSENNE_P}) + {b}) % {MERSENNE_P}) % {BLOOM_BITS} AS pos"
        " FROM side"
        for a, b in params
    )
    return rf"""
WITH {_ngrams_cte(DECONTAM_NGRAM)},
eval_h AS (
  SELECT doc_id, 0 AS n_grams, unnest(hv) AS h
  FROM grams_t WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
),
eval_pos AS (
  SELECT DISTINCT pos FROM (
    {pos_rows.replace("side", "eval_h")}
  )
),
words AS (
  SELECT CAST(FLOOR(pos / {BLOOM_WORD_BITS}) AS BIGINT) AS word,
         BIT_OR(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER))
           AS bits
  FROM eval_pos GROUP BY 1
),
train_h AS (
  SELECT doc_id, len(hv) AS n_grams, unnest(hv) AS h
  FROM grams_t WHERE doc_id % {DECONTAM_EVAL_MOD} != 0
),
probe AS (
  SELECT doc_id, n_grams, h,
         CAST(FLOOR(pos / {BLOOM_WORD_BITS}) AS BIGINT) AS word,
         CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER) AS mask
  FROM (
    {pos_rows.replace("side", "train_h")}
  )
),
gram_hits AS (
  SELECT p.doc_id, p.n_grams, p.h,
         MIN(CASE WHEN (COALESCE(w.bits, 0) & p.mask) != 0 THEN 1 ELSE 0 END)
           AS gram_hit
  FROM probe p LEFT JOIN words w USING (word)
  GROUP BY 1, 2, 3
)
SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
       ROUND(SUM(gram_hit) * 1.0 / n_grams, 6) AS overlap_frac,
       ROUND(SUM(gram_hit) * 1.0 / n_grams, 6) >= {DECONTAM_THRESHOLD}
         AS contaminated
FROM gram_hits GROUP BY doc_id, n_grams
"""


DOCS_DECONTAMINATE_BLOOM_SQL = _bloom_sql()


# --- end-to-end training-corpus preparation ---------------------------------


def docs_training_corpus(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The whole pipeline, composed: what a document must survive to enter
    a training corpus.

    1. quality gate (score >= threshold, minimum length),
    2. exact dedup — only the content-hash keeper survives,
    3. near-dup clusters — only the per-cluster best-quality keeper
       survives (LSH candidates -> Jaccard threshold -> connected
       components -> keeper),
    4. decontamination — overlap with the eval set below threshold (eval
       docs themselves are excluded),
    5. deterministic stratified sampling by language.

    Emits the surviving (doc_id, lang, quality) manifest. Every stage is
    the already-oracle-verified operator; this query pins that they
    *compose* — the join spine is doc_id (uniform key), every gate is a
    semi-join or a null-checked left join, and stage order puts the cheap
    scan-shaped gates (quality, sample) before the pipeline-shaped ones so
    Catalyst can reorder/push freely.

    Plan note (tools/plan_audit.py KEYED_SORTAGG advisory): stage 3 is
    :func:`dedup_cluster_keep_best`, so this plan inherits its deliberate
    lexicographic struct-max keeper pick (in-partition Sort +
    SortAggregate over the already-collapsed component table — see
    :func:`dedup_keep_best`'s plan note for the adjudication)."""
    from pyspark.sql import functions as F

    from .text import docs_quality_filter, docs_stratified_sample

    quality = docs_quality_filter(spark, sf_dir).select("doc_id", "quality")
    sample = docs_stratified_sample(spark, sf_dir).select("doc_id", "lang")
    exact_keepers = dedup_exact(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    # the semijoin decontamination variant, not the broadcast-array fast
    # path: the composed pipeline is the production entry point, and the
    # fast path's per-row array_intersect against the whole collected eval
    # gram set degenerates once the eval vocabulary is large (measured: at
    # 100x sf0.1 the eval set is ~700k distinct grams and the fast path
    # stalls, while the semijoin form — equivalence-pinned to it — stays
    # shuffle-bounded). At small SF both cost about the same from the
    # shared materialized gram table.
    # Decontamination (5-gram signature + eval_hv artifacts) and the
    # near-dup cluster chain (bigram gram table -> verified pairs -> CC
    # labels) are independent fill chains over different memos; overlap
    # their eager builds on driver threads (guide §2.6) so the composed
    # pipeline's first call pays max(chain) instead of sum(chain).
    from ._memo import overlap_fills

    decontam_full, clustered_full = overlap_fills(
        lambda: docs_decontaminate_semijoin(spark, sf_dir),
        lambda: dedup_duplicate_clusters(
            spark, sf_dir, algorithm="two-phase"
        ),
    )
    clean = decontam_full.where(~F.col("contaminated")).select("doc_id")
    clustered = clustered_full.select("doc_id", "component_id")
    cluster_keepers = dedup_cluster_keep_best(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    return (
        quality.join(sample, "doc_id")
        .join(exact_keepers, "doc_id", "semi")
        .join(clean, "doc_id", "semi")
        .join(clustered, "doc_id", "left")
        .join(cluster_keepers, "doc_id", "left")
        .where(
            F.col("component_id").isNull()
            | F.coalesce(F.col("is_keeper"), F.lit(False))
        )
        .select("doc_id", "lang", "quality")
    )


def _docs_training_corpus_sql() -> str:
    from .text import DOCS_QUALITY_FILTER_SQL, DOCS_STRATIFIED_SAMPLE_SQL

    return f"""
WITH q AS (SELECT doc_id, quality FROM ({DOCS_QUALITY_FILTER_SQL}) AS qf),
s AS (SELECT doc_id, lang FROM ({DOCS_STRATIFIED_SAMPLE_SQL}) AS ss),
ek AS (SELECT keeper_doc_id AS doc_id FROM ({DEDUP_EXACT_SQL}) AS de),
dc AS (SELECT doc_id FROM ({DOCS_DECONTAMINATE_SQL}) AS dd WHERE NOT contaminated),
cl AS (SELECT doc_id, component_id FROM ({DEDUP_CLUSTERS_SQL}) AS cc),
ck AS (SELECT keeper_doc_id AS doc_id, TRUE AS is_keeper
       FROM ({DEDUP_CLUSTER_KEEP_BEST_SQL}) AS kb)
SELECT q.doc_id, s.lang, q.quality
FROM q
JOIN s USING (doc_id)
JOIN ek USING (doc_id)
JOIN dc USING (doc_id)
LEFT JOIN cl USING (doc_id)
LEFT JOIN ck USING (doc_id)
WHERE cl.component_id IS NULL OR COALESCE(ck.is_keeper, FALSE)
"""


DOCS_TRAINING_CORPUS_SQL = _docs_training_corpus_sql()


# --- incremental batch dedup ------------------------------------------------

#: doc_id at-or-above which a document belongs to the "new batch" in the
#: incremental-dedup demonstration (a fixed id cut: the last ~20% of the
#: corpus at the sf0.01 driver-gate scale, proportionally more at sf0.1).
INCREMENTAL_BATCH_START = 400


def dedup_incremental_batch(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Incremental dedup of a new document batch against an existing corpus:
    keep a new document iff its normalized content hash appears neither in
    the corpus nor earlier (lower doc_id) within the batch itself.

    This is the shape every *running* ingestion pipeline needs — dedup of
    the day's crawl against everything already accepted — and it is cheaper
    than re-running global dedup: one anti-join on the content hash (the
    corpus side is a pre-hashed, bucketed table at production scale, so the
    join is a hash-colocated lookup, never a corpus rescan) plus one
    min-doc_id groupBy *within the batch only*. Both shuffles key on the
    uniform md5 hash."""
    from pyspark.sql import functions as F

    normalized = F.lower(normalize_ws(F.col("text")))
    hashed = _docs(spark, sf_dir).select(
        "doc_id", F.md5(normalized).alias("content_hash")
    )
    corpus = hashed.where(F.col("doc_id") < INCREMENTAL_BATCH_START)
    batch = hashed.where(F.col("doc_id") >= INCREMENTAL_BATCH_START)
    fresh = batch.join(
        corpus.select("content_hash"), "content_hash", "left_anti"
    )
    return (
        fresh.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch"))
        .select("doc_id", "content_hash", "n_in_batch")
    )


DEDUP_INCREMENTAL_SQL = rf"""
WITH hashed AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash
  FROM documents
),
batch AS (
  SELECT * FROM hashed WHERE doc_id >= {INCREMENTAL_BATCH_START}
),
fresh AS (
  SELECT * FROM batch
  WHERE content_hash NOT IN (
    SELECT content_hash FROM hashed WHERE doc_id < {INCREMENTAL_BATCH_START}
  )
)
SELECT MIN(doc_id) AS doc_id, content_hash, COUNT(*) AS n_in_batch
FROM fresh GROUP BY content_hash
"""


QUERIES: dict[str, tuple[Callable, str]] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_incremental_batch": (dedup_incremental_batch, DEDUP_INCREMENTAL_SQL),
    "dedup_keep_best": (dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    "dedup_lsh_jaccard": (dedup_lsh_jaccard, DEDUP_LSH_JACCARD_SQL),
    "dedup_duplicate_clusters": (dedup_duplicate_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_clusters_twophase": (dedup_clusters_twophase, DEDUP_CLUSTERS_SQL),
    "dedup_cluster_keep_best": (dedup_cluster_keep_best, DEDUP_CLUSTER_KEEP_BEST_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_graph_triangles": (graph_triangles, DEDUP_GRAPH_TRIANGLES_SQL),
    "dedup_graph_pagerank": (graph_pagerank, DEDUP_GRAPH_PAGERANK_SQL),
    "dedup_lsh_recall": (lsh_recall, DEDUP_LSH_RECALL_SQL),
    "dedup_repeated_spans": (dedup_repeated_spans, DEDUP_REPEATED_SPANS_SQL),
    "dedup_source_rates": (source_dup_rates, DEDUP_SOURCE_RATES_SQL),
    "dedup_embedding_neardup": (dedup_embedding_neardup, DEDUP_EMBEDDING_SQL),
    "docs_decontaminate": (docs_decontaminate, DOCS_DECONTAMINATE_SQL),
    "docs_decontaminate_semijoin": (
        docs_decontaminate_semijoin,
        DOCS_DECONTAMINATE_SQL,
    ),
    "docs_decontaminate_bloom": (
        docs_decontaminate_bloom,
        DOCS_DECONTAMINATE_BLOOM_SQL,
    ),
    "docs_contamination_report": (
        docs_contamination_report,
        DOCS_CONTAMINATION_REPORT_SQL,
    ),
    "docs_training_corpus": (docs_training_corpus, DOCS_TRAINING_CORPUS_SQL),
}
