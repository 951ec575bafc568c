"""Distributed BPE tokenizer training over the ``documents`` table — the
algorithm behind GPT-2/RoBERTa-class vocabularies (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"), expressed
relationally so the training loop runs in-engine.

Standard BPE pre-tokenizes into words and never merges across word
boundaries, so training operates on the *word-count table*, not the corpus:
the corpus contributes one (word, count) aggregation — the only
corpus-sized stage — and every merge iteration then works on the distinct
words weighted by their counts. At 100 TB that separation is the entire
scale story: the word-count shuffle is one uniform map-side-combined
groupBy, while the iterative state (one row per character of each DISTINCT
word) is vocabulary-sized and constant across corpus growth.

The state is ONE ROW PER DISTINCT WORD — ``(word, syms array, n)`` — and
each iteration is pure array algebra over it (r20; guide §1.2 step 1 /
§2.4: the algorithm before the configuration):

1. adjacent pairs via ``arrays_zip(slice(syms, 1, L-1), slice(syms, 2,
   L-1))`` exploded, weighted pair counts via one vocabulary-sized
   map-side-combined groupBy — the round's ONLY shuffle;
2. the argmax pair (count desc, then lexicographic — deterministic) rides
   a 1-row broadcast back;
3. greedy left-to-right merging with overlap resolution ("aaa" under merge
   "aa" -> "aa","a") as an ``aggregate`` LEFT FOLD over ``syms`` with a
   ``struct(arr, lm)`` accumulator — ``lm`` ("last element was just
   produced by a merge") forbids the overlapping re-merge, which is
   exactly the even-offsets-from-run-head rule. No shuffle, no sort, no
   window: the fold is a codegen'd per-row expression;
4. the state ``localCheckpoint``s (LAZY — eager=False) so iteration k+1
   reads materialized rows instead of replaying 1..k, while the actual
   materialization folds into whichever job first consumes the round.

Until r20 step 3-4 were the exploded form — one row per CHARACTER with
window algebra (lead/gaps-and-islands/renumber: 12 Window + 10 Sort ops
and a state re-exchange by word every round, ``plans/r20/
bpe_round_state_before.txt``). The fold form keeps one exchange per
round (the pair count) and zero over the state; measured fill at sf0.1
27.8 -> 9.6 s (order-swapped A/B, new arm also won running cold-first at
sf0.01: 34.0 vs 45.4 s), merge table and final segmentation
bit-identical (0-row ``exceptAll`` both directions).

Output: the learned merge table (merge_idx, left_sym, right_sym,
pair_count) — exactly what a tokenizer ships. Oracle: the same algebra as
an unrolled-iteration CTE (the ``similarity.kmeans_centroids`` /
``ml.logreg_quality`` oracle pattern); every aggregate is integer-exact so
the merge trajectory is bit-identical across engines.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from ..functions import whitespace_tokens

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

BPE_MERGES = 8


def _trained(spark: "SparkSession", sf_dir: str):
    """(merges_df, final_state_df) for the corpus, trained once per
    session in ``_memo.BPE``: training serves both the merge-table query
    and the encode/compression query; racing threads share one ``_train``
    and a hit bound to a replaced SparkSession is retrained, never served
    (checkpoint-RDD-backed frames die with their session's context)."""
    from ._memo import BPE

    return BPE.get(spark, sf_dir, lambda: _train(spark, sf_dir))


def bpe_train(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Learn ``BPE_MERGES`` merges; see the module docstring."""
    return _trained(spark, sf_dir)[0]


def _train(spark: "SparkSession", sf_dir: str, docs: "DataFrame | None" = None):
    """``docs`` overrides the corpus source (same schema: a ``text``
    column) — used by the property tests to train on arbitrary word sets;
    default is the parquet table."""
    from pyspark.sql import functions as F

    from_parquet = docs is None
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if from_parquet:
        # durable refill: a previous session already published BOTH
        # trained tables — read them and skip the whole training loop
        # (its per-round eager `best` checkpoints execute corpus-wide
        # aggregates, so materialize()'s own skip-to-read alone would
        # still pay ~the full training on a refill; measured r12 at
        # R=10: refill 7.7 s of a 14.2 s fill before this probe)
        from ._memo import read_artifact

        merges_art = read_artifact(docs, "bpe_merges")
        # the state artifact name carries the array-form marker (the
        # ADVICE r19 naming rule): the r20 schema change from exploded
        # (word, pos, sym, n) rows to (word, syms array, n) must force a
        # rebuild under a pre-existing ARTIFACTS_DIR, never a wrong read
        # of the old exploded table.
        state_art = read_artifact(docs, "bpe_state_syms")
        if merges_art is not None and state_art is not None:
            return merges_art, state_art
    wc = (
        docs.select(F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    state = wc.select(
        "word",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, 1),
        ).alias("syms"),
        "n",
    ).localCheckpoint(eager=False)

    merges = None
    for k in range(1, BPE_MERGES + 1):
        pairs = state.select(
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                    F.slice("syms", 2, F.size("syms") - 1).alias("r"),
                )
            ).alias("p"),
            "n",
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            # EAGER: best feeds F.broadcast below, so a lazy checkpoint
            # would run the corpus-wide pair-count aggregate (plus, on
            # first touch, the whole prior round chain) inside the
            # BroadcastExchange under spark.sql.broadcastTimeout — the
            # same at-scale failure mode as the logreg loop. One row;
            # materializing it in its own job is nearly free and keeps
            # corpus scans out of broadcast futures. The state
            # checkpoints below stay lazy (that's where the measured
            # win lives).
            .localCheckpoint()
        )
        # greedy left-to-right merge with overlap resolution, as a left
        # fold: acc.lm records "the element I just appended was produced
        # by a merge", so "aaa" under merge "aa" folds to ["aa", "a"] —
        # the same result as the window form's even-offsets-from-run-head
        # rule (pinned by the pure-Python-reference property test).
        merged = F.aggregate(
            "syms",
            F.struct(
                F.array().cast("array<string>").alias("arr"),
                F.lit(False).alias("lm"),
            ),
            lambda acc, x: F.when(
                (~acc["lm"])
                & (F.size(acc["arr"]) > 0)
                & (F.element_at(acc["arr"], -1) == F.col("l"))
                & (x == F.col("r")),
                F.struct(
                    F.concat(
                        F.slice(acc["arr"], 1, F.size(acc["arr"]) - 1),
                        F.array(F.concat(F.col("l"), F.col("r"))),
                    ).alias("arr"),
                    F.lit(True).alias("lm"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(acc["arr"], F.array(x)).alias("arr"),
                    F.lit(False).alias("lm"),
                )
            ),
            lambda acc: acc["arr"],
        )
        state = (
            state.crossJoin(F.broadcast(best))
            .select("word", merged.alias("syms"), "n")
            .localCheckpoint(eager=False)
        )
        row = best.select(
            F.lit(k).alias("merge_idx"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").cast("long").alias("pair_count"),
        )
        merges = row if merges is None else merges.unionByName(row)
    # The learned merge table goes through the shared artifact layer
    # (VERDICT r11 ask #5): it costs BPE_MERGES driver-controlled
    # corpus-aggregate rounds — under `spark.polarify.artifacts.dir` it
    # becomes a durable parquet table keyed by the corpus read plan, the
    # tokenizer's merges.txt written next to the corpus. Only when the
    # corpus came from files: an injected in-memory `docs` (the property
    # tests) has no input-file listing, and a LocalRelation's canonical
    # plan omits its data, so two different literal corpora would key the
    # SAME artifact — those stay plain localCheckpoints.
    if from_parquet:
        from ._memo import ARTIFACTS_DIR_CONF, materialize

        merges_out = materialize(merges, "bpe_merges", docs)
        # the final state (each word's subword segmentation — the
        # encoder) is durable too, else a refill session would retrain
        # just to rebuild it. Local mode keeps it LAZY exactly as
        # before: eager-checkpointing it here would charge the encode
        # consumers' cost to bpe_train.
        if spark.conf.get(ARTIFACTS_DIR_CONF, ""):
            return merges_out, materialize(state, "bpe_state_syms", docs)
        return merges_out, state
    return merges.localCheckpoint(), state


def bpe_encode_stats(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Apply the learned merges: per-document BPE token counts and
    characters-per-token compression — the number a tokenizer team actually
    tracks, and the per-doc cost model a token-budget packer consumes.

    The final training state already IS the encoder for every in-vocabulary
    word (each word's subword segmentation under all K merges), so encoding
    is a broadcast join of the vocabulary-sized (word -> n_subtokens) map
    against the per-doc word explode — one corpus-sized explode + one
    doc_id groupBy, no per-row Python. Since r20's array-form state the
    map is a shuffle-free projection (``size(syms)``) instead of a
    groupBy over the exploded per-character rows."""
    from pyspark.sql import functions as F

    _, state = _trained(spark, sf_dir)
    wtok = state.select("word", F.size("syms").alias("n_sub"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docwords = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    joined = docwords.join(F.broadcast(wtok), "word")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        F.round(
            F.sum(F.length("word")) / F.sum("n_sub"), 6
        ).alias("chars_per_token"),
    )


def _bpe_ctes() -> str:
    lines = [
        r"""WITH wc AS MATERIALIZED (
  SELECT word, COUNT(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents
  ) GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT word, i - 1 AS pos, substr(word, i, 1) AS sym, n
  FROM wc, LATERAL unnest(range(1, length(word) + 1)) AS t(i)
)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        lines.append(
            f""",
p{k} AS (
  SELECT word, pos, sym, n,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM s{k - 1}
),
b{k} AS (
  SELECT sym AS l, nxt AS r, SUM(n) AS cnt
  FROM p{k} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
f{k} AS (
  SELECT p.word, p.pos, p.sym, p.n, p.nxt,
         (p.sym = b.l AND p.nxt = b.r) AS flg
  FROM p{k} p CROSS JOIN b{k} b
),
g{k} AS (
  SELECT *, CASE WHEN flg THEN pos - ROW_NUMBER() OVER
           (PARTITION BY word, flg ORDER BY pos) END AS grp
  FROM f{k}
),
m{k} AS (
  SELECT *, flg AND ((pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0)
            AS mh
  FROM g{k}
),
r{k} AS (
  SELECT word, pos,
         CASE WHEN mh THEN sym || nxt ELSE sym END AS new_sym, n,
         COALESCE(LAG(mh) OVER (PARTITION BY word ORDER BY pos), false)
           AS dropme
  FROM m{k}
),
s{k} AS MATERIALIZED (
  SELECT word,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         new_sym AS sym, n
  FROM r{k} WHERE NOT dropme
)"""
        )
    return "".join(lines)


def _bpe_train_sql() -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_idx, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return _bpe_ctes() + "\n" + selects


def _bpe_encode_sql() -> str:
    return (
        _bpe_ctes()
        + f""",
wtok AS (
  SELECT word, COUNT(*) AS n_sub FROM s{BPE_MERGES} GROUP BY 1
),
docwords AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,
       ROUND(SUM(length(word))::DOUBLE / SUM(n_sub), 6) AS chars_per_token
FROM docwords JOIN wtok USING (word)
GROUP BY 1"""
    )


BPE_TRAIN_SQL = _bpe_train_sql()
BPE_ENCODE_SQL = _bpe_encode_sql()


QUERIES: dict[str, tuple[Callable, str]] = {
    "text_bpe_train": (bpe_train, BPE_TRAIN_SQL),
    "text_bpe_encode": (bpe_encode_stats, BPE_ENCODE_SQL),
}
