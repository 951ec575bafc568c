"""Full-text search operators over the ``documents`` table: a BM25-scored
keyword search (the retrieval primitive behind corpus exploration, eval-set
mining, and RAG indexing) and a corpus-trained character-bigram language
model scorer (the classic cheap perplexity proxy used as a quality filter
when a real LM is too expensive to run over 100 TB).

The reference (Quantco/polarify) has no search surface (SURVEY.md section
2.5); these implement the north-star extension set required by the build
brief, oracle-checked against DuckDB.

Cross-engine float convention: every per-term score is quantized to integer
micro-units (``ROUND(x * 1e6)`` as BIGINT) *before* any cross-row sum, so
the per-document totals are exact integer arithmetic on both engines and
no accumulation-order difference can flip a rounding boundary. Only the
per-term ``ln`` itself is trusted to agree (the module convention already
used by ``text.tfidf_top_terms``).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from ..functions import whitespace_tokens
from ._memo import SEARCH

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: the registered demo searches: tiny, fixed, and drawn from the synthetic
#: corpus vocabulary so every query matches real documents.
SEARCH_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("hash", "join"),
    1: ("window", "agg", "stream"),
    2: ("slow", "scan", "filter"),
}
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10

#: add-one smoothing over the observed character alphabet; documents are
#: lowercase ASCII words + spaces, so the alphabet is tiny and the bigram
#: table (alphabet^2 upper bound) is broadcastable at any corpus size.
CHARLM_NGRAM = 2


def _docs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# The search family's expensive, reused artifacts — the inverted index
# (``tf``: bm25 AND hybrid-RRF probe it) and the charlm per-document
# bigram counts — live in the ``_memo.SEARCH`` family: one dict per
# corpus matched by plan semantics, built once per corpus per session (or
# read from the durable artifact dir when ``ARTIFACTS_DIR_CONF`` is set),
# static input files assumed, bounded to the last few corpora, cleared by
# ``operators.release_shared_caches``. At production scale these ARE the
# persisted index tables a search service keeps next to the corpus.


def _tf_table(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The (doc_id, term, tf) inverted index, built once per corpus: the
    artifact a search service persists next to the corpus. Document
    lengths, document frequencies, and the postings probe all derive from
    it, and left lazy each branch re-runs the corpus explode (one explode
    per derived table, measured 3.1 s -> 1 scan at sf0.1). Memoized +
    materialized through the shared artifact layer so bm25 and hybrid-RRF
    share one build per session and the table survives executor loss /
    later sessions in durable mode."""
    from pyspark.sql import functions as F

    from ._memo import materialize

    docs = _docs(spark, sf_dir)
    memo = SEARCH.corpus(docs)

    def build() -> "DataFrame":
        toks = docs.select(
            "doc_id",
            F.explode(whitespace_tokens(F.col("text"))).alias("term"),
        )
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        return materialize(tf, "search_tf")

    return SEARCH.build(memo, "tf", build)


def _query_terms_df(spark: "SparkSession") -> "DataFrame":
    rows = [
        (qid, term) for qid, terms in SEARCH_QUERIES.items() for term in terms
    ]
    return spark.createDataFrame(rows, "query_id INT, term STRING")


def _query_terms_sql() -> str:
    rows = ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in SEARCH_QUERIES.items()
        for term in terms
    )
    return f"(VALUES {rows}) AS qt(query_id, term)"


def bm25_search(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Top-k documents per search query under BM25 (k1=1.2, b=0.75,
    Robertson/Sparck-Jones idf with the +1 floor so scores stay positive).

    Shape at scale: this is an inverted-index probe expressed relationally.
    Per-document term frequencies are one (doc_id, term) groupBy with
    map-side combine [the "index build"]; document frequencies aggregate
    that to the vocabulary [vocab-sized shuffle, not corpus-sized]; N and
    avgdl ride a 1-row broadcast. The query term list is a constant
    few-row broadcast, so the probe join `tf ⋈ query_terms` prunes the
    corpus to matching postings on the map side — at 100 TB nothing but
    the matched postings ever shuffles. The final top-k per query is a
    window over query_id (3 partitions here; queries are always few).

    Per-(query, doc, term) contributions are quantized to micro-units
    before the per-document sum — see the module docstring.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # (doc_id, term) frequencies ARE the inverted index — built once per
    # corpus through the shared memo/artifact layer (see _tf_table).
    tf = _tf_table(spark, sf_dir)
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )

    qt = F.broadcast(_query_terms_df(spark))
    postings = (
        tf.join(qt, "term")
        .join(df_t, "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    # avgdl = total_len / n_docs (exact integers; division deterministic)
    norm_len = (
        F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    tf_term = (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * norm_len))
    )
    contrib_micro = F.round(idf * tf_term * 1e6).cast("long")
    scored = postings.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_matched"),
        F.round(F.sum(contrib_micro) / 1e6, 6).alias("bm25"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOP_K)
    )


BM25_SEARCH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
doclen AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
),
df_t AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM doclen
),
postings AS (
  SELECT qt.query_id, tf.doc_id, tf.tf, df_t.df, doclen.dl,
         stats.n_docs, stats.total_len
  FROM tf
  JOIN {_query_terms_sql()} USING (term)
  JOIN df_t USING (term)
  JOIN doclen USING (doc_id)
  CROSS JOIN stats
),
contrib AS (
  SELECT query_id, doc_id,
         CAST(ROUND(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({BM25_K1} + 1)
              / (tf + {BM25_K1} * (1 - {BM25_B}
                 + {BM25_B} * dl * n_docs / total_len)))
           * 1e6) AS BIGINT) AS c_micro
  FROM postings
),
scored AS (
  SELECT query_id, doc_id, COUNT(*) AS n_matched,
         ROUND(SUM(c_micro) / 1e6, 6) AS bm25
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, n_matched, bm25,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, n_matched, bm25, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


def charlm_quality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-document average negative log-likelihood under a character-bigram
    language model trained on the corpus itself (add-one smoothing over the
    observed alphabet) — the standard cheap perplexity proxy: documents
    whose character statistics deviate from the corpus (boilerplate, random
    noise, wrong language) score high and get filtered.

    Shape at scale: per-document bigram counts collapse each document to
    its distinct bigrams (one uniform (doc_id, bigram) groupBy with map-side
    combine — the explode never shuffles raw characters); the trained model
    (bigram counts + prefix counts + alphabet size) is alphabet^2-bounded
    and always broadcast, so scoring is a map-side join over the per-doc
    counts followed by one doc_id groupBy. Two linear passes, no
    corpus-sized shuffle beyond the bigram-count combine.

    Per-bigram log-probs are quantized to micro-units before the weighted
    per-document sum — see the module docstring.
    """
    from pyspark.sql import functions as F

    from ._memo import materialize

    corpus = _docs(spark, sf_dir)
    memo = SEARCH.corpus(corpus)

    def build() -> "DataFrame":
        # guard: Spark's sequence(1, 0) would run *descending*; DuckDB's
        # range(1, 1) is empty. Excluding sub-bigram docs on both sides
        # keeps the semantics identical (such docs have no bigrams).
        docs = corpus.where(F.length("text") >= CHARLM_NGRAM)
        # (doc_id, bigram) for every adjacent character pair
        grams = docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 1),
                    lambda i: F.substring(F.col("text"), i, CHARLM_NGRAM),
                )
            ).alias("bigram"),
        )
        # Per-document bigram counts are the single expensive artifact
        # (the corpus-sized explode + one uniform shuffle with map-side
        # combine collapsing ~chars to ~distinct-bigrams per doc). The
        # trained model, its prefix marginals, the alphabet size, and the
        # scoring join ALL derive from it — left lazy, every derived
        # broadcast re-runs the explode (measured 12.2 s -> 5 s at
        # sf0.1); built per CALL, every repeat scoring pass re-ran the
        # explode too (~4.4 s steady), so it now lives in the per-corpus
        # memo + shared artifact layer — linear in the corpus, the same
        # persistence class as the inverted index.
        per_doc = grams.groupBy("doc_id", "bigram").agg(
            F.count("*").alias("n")
        )
        return materialize(per_doc, "charlm_bigrams")

    per_doc = SEARCH.build(memo, "charlm_per_doc", build)
    model = per_doc.groupBy("bigram").agg(F.sum("n").alias("c_bigram"))
    prefix = model.select(
        F.substring("bigram", 1, 1).alias("prefix"), "c_bigram"
    ).groupBy("prefix").agg(F.sum("c_bigram").alias("c_prefix"))
    alphabet = prefix.agg(F.count("*").alias("v"))

    logp = F.log(
        (F.col("c_bigram") + 1)
        / (F.col("c_prefix") + F.col("v")).cast("double")
    )
    scored = (
        per_doc.withColumn("prefix", F.substring("bigram", 1, 1))
        .join(F.broadcast(model), "bigram")
        .join(F.broadcast(prefix), "prefix")
        .crossJoin(F.broadcast(alphabet))
        .select(
            "doc_id",
            "n",
            F.round(-logp * 1e6).cast("long").alias("nll_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.round(
            F.sum(F.col("n") * F.col("nll_micro")) / (F.sum("n") * 1e6), 6
        ).alias("avg_nll"),
    )


CHARLM_QUALITY_SQL = f"""
WITH grams AS (
  SELECT doc_id, substr(text, i, {CHARLM_NGRAM}) AS bigram
  FROM documents,
       LATERAL unnest(range(1, length(text))) AS t(i)
  WHERE length(text) >= {CHARLM_NGRAM}
),
per_doc AS (
  SELECT doc_id, bigram, COUNT(*) AS n FROM grams GROUP BY 1, 2
),
model AS (
  SELECT bigram, SUM(n) AS c_bigram FROM per_doc GROUP BY 1
),
prefix AS (
  SELECT substr(bigram, 1, 1) AS prefix, SUM(c_bigram) AS c_prefix
  FROM model GROUP BY 1
),
alphabet AS (SELECT COUNT(*) AS v FROM prefix),
scored AS (
  SELECT per_doc.doc_id, per_doc.n,
         CAST(ROUND(-ln((model.c_bigram + 1)
                        / CAST(prefix.c_prefix + alphabet.v AS DOUBLE))
                    * 1e6) AS BIGINT) AS nll_micro
  FROM per_doc
  JOIN model USING (bigram)
  JOIN prefix ON substr(per_doc.bigram, 1, 1) = prefix.prefix
  CROSS JOIN alphabet
)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       ROUND(SUM(n * nll_micro) / (SUM(n) * 1e6), 6) AS avg_nll
FROM scored GROUP BY 1
"""


# --- embedding-cluster topic labeling ----------------------------------------

TOPIC_TOP_TERMS = 5


def cluster_topics(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Label each embedding cluster with its dominant vocabulary: documents
    are assigned to their max-cosine IVF cell (``vec_id`` aligns with
    ``doc_id`` — the embedding OF the document), then each cell is
    summarized by its top terms — the corpus-exploration operator behind
    "what is in this cluster?" dashboards and topic-stratified sampling.

    Shape at scale: the cell assignment is the memoized broadcast-centroid
    ranking every IVF operator shares (linear scan, no shuffle beyond the
    per-vector top-1); tokens explode linearly and aggregate on
    (cell, term) — vocabulary x cells, not corpus-sized; the final top-k
    is a window over the handful of cells."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .similarity import _cell_assignment

    assigned = _cell_assignment(spark, sf_dir).select("vec_id", "cell_id")
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    )
    joined = toks.join(
        assigned, toks["doc_id"] == assigned["vec_id"]
    ).select("cell_id", "term")
    counts = joined.groupBy("cell_id", "term").agg(F.count("*").alias("n"))
    sizes = (
        docs.select("doc_id")
        .join(assigned, F.col("doc_id") == F.col("vec_id"))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPIC_TOP_TERMS)
        .join(F.broadcast(sizes), "cell_id")
        .select("cell_id", "n_docs", "term", "n", "rank")
    )


def _cluster_topics_sql() -> str:
    from .similarity import IVF_ASSIGN_CTES

    return rf"""
WITH {IVF_ASSIGN_CTES},
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
joined AS (
  SELECT a.cell_id, t.term FROM toks t JOIN assigned a ON a.vec_id = t.doc_id
),
counts AS (
  SELECT cell_id, term, COUNT(*) AS n FROM joined GROUP BY 1, 2
),
sizes AS (
  SELECT a.cell_id, COUNT(*) AS n_docs
  FROM documents d JOIN assigned a ON a.vec_id = d.doc_id
  GROUP BY 1
),
ranked AS (
  SELECT cell_id, term, n,
         ROW_NUMBER() OVER (PARTITION BY cell_id
                            ORDER BY n DESC, term ASC) AS rank
  FROM counts
)
SELECT r.cell_id, s.n_docs, r.term, r.n, CAST(r.rank AS INTEGER) AS rank
FROM ranked r JOIN sizes s USING (cell_id)
WHERE r.rank <= {TOPIC_TOP_TERMS}
"""


# --- hybrid retrieval: BM25 + pseudo-relevance-feedback semantic list --------

PRF_N = 3  # BM25 top docs whose embedding mean becomes the semantic query
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
HYBRID_TOP_K = 10


def hybrid_rrf_search(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hybrid retrieval with pseudo-relevance feedback: the BM25 lexical
    list is fused (reciprocal-rank fusion, k=60) with a semantic list
    scored against the mean embedding of the query's top BM25 documents —
    the standard two-tower serving pattern when queries have no embedding
    of their own.

    Shape at scale: the PRF centroid is queries x PRF_N rows joined to the
    corpus by id and averaged component-wise (posexplode over the fixed
    vector width, exact integer micro-unit sums — see the module
    docstring); the centroid table (one row per query) broadcasts into a
    single corpus scan for the semantic scores; fusion is a full outer
    join of two ≤ top-k lists per query — driver-trivial row counts, all
    ranks from per-query windows. The corpus is scanned once for BM25
    postings and once for semantic scoring; neither scan shuffles more
    than vocabulary/top-k-sized intermediates."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    lex = bm25_search(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    prf = lex.where(F.col("rank") <= PRF_N).select("query_id", "doc_id")
    comp = (
        prf.join(emb, prf["doc_id"] == emb["vec_id"])
        .select("query_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("query_id", "pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * 1e6).cast("long")).alias("s")
        )
    )
    cent = (
        comp.select(
            "query_id",
            "pos",
            (F.col("s") / F.lit(PRF_N * 1e6)).alias("c"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("q_vec")
        )
    )
    from .similarity import _cosine

    sem_scored = emb.crossJoin(F.broadcast(cent)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(_cosine(F.col("q_vec"), F.col("embedding")), 4).alias("cosine"),
    )
    sem_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    sem = (
        sem_scored.withColumn("sem_rank", F.row_number().over(sem_w))
        .where(F.col("sem_rank") <= HYBRID_TOP_K)
        .select("query_id", "doc_id", "sem_rank")
    )
    lexr = lex.select("query_id", "doc_id", F.col("rank").alias("lex_rank"))

    rr = lambda rank: F.coalesce(  # noqa: E731
        F.round(F.lit(1e6) / (RRF_K + rank)).cast("long"), F.lit(0)
    )
    fused = lexr.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        (rr(F.col("lex_rank")) + rr(F.col("sem_rank"))).alias("rrf_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HYBRID_TOP_K)
    )


HYBRID_RRF_SQL = f"""
WITH lex AS ({BM25_SEARCH_SQL}),
prf AS (SELECT query_id, doc_id FROM lex WHERE rank <= {PRF_N}),
comp_src AS (
  SELECT p.query_id,
         unnest(e.embedding)::DOUBLE AS x,
         generate_subscripts(e.embedding, 1) AS pos
  FROM prf p JOIN embeddings e ON e.vec_id = p.doc_id
),
comp AS (
  SELECT query_id, pos, SUM(CAST(ROUND(x * 1e6) AS BIGINT)) AS s
  FROM comp_src GROUP BY 1, 2
),
cent AS (
  SELECT query_id, list(s / {PRF_N * 1e6} ORDER BY pos) AS q_vec
  FROM comp GROUP BY 1
),
sem_scored AS (
  SELECT c.query_id, e.vec_id AS doc_id,
         ROUND(list_dot_product(c.q_vec,
                                list_transform(e.embedding, v -> v::DOUBLE))
               / (sqrt(list_dot_product(c.q_vec, c.q_vec))
                  * sqrt(list_dot_product(
                      list_transform(e.embedding, v -> v::DOUBLE),
                      list_transform(e.embedding, v -> v::DOUBLE)))), 4)
           AS cosine
  FROM cent c CROSS JOIN embeddings e
),
sem AS (
  SELECT query_id, doc_id, sem_rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id ASC) AS sem_rank
    FROM sem_scored
  ) WHERE sem_rank <= {HYBRID_TOP_K}
),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rank AS lex_rank, s.sem_rank,
         COALESCE(CAST(ROUND(1e6 / ({RRF_K} + l.rank)) AS BIGINT), 0)
         + COALESCE(CAST(ROUND(1e6 / ({RRF_K} + s.sem_rank)) AS BIGINT), 0)
           AS rrf_micro
  FROM lex l
  FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT query_id, doc_id, lex_rank, sem_rank, rrf_micro,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= {HYBRID_TOP_K}
"""


def _queries() -> dict[str, tuple[Callable, str]]:
    return {
        "search_bm25": (bm25_search, BM25_SEARCH_SQL),
        "text_charlm_quality": (charlm_quality, CHARLM_QUALITY_SQL),
        "search_cluster_topics": (cluster_topics, _cluster_topics_sql()),
        "search_hybrid_rrf": (hybrid_rrf_search, HYBRID_RRF_SQL),
    }


QUERIES: dict[str, tuple[Callable, str]] = _queries()
