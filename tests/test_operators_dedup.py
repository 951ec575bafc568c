"""Dedup operators vs DuckDB oracle (sf0.001; driver gate uses sf0.01)."""

from __future__ import annotations

import pytest

from polarify_spark.operators.dedup import QUERIES

from .oracle_harness import compare_query

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES), ids=list(QUERIES))
def test_dedup_operator_matches_oracle(spark, name):
    fn, sql = QUERIES[name]
    compare_query(spark, SF_DIR, fn, sql)


def test_minhash_lsh_finds_planted_neardups(spark):
    """The LSH candidates must include the high-Jaccard planted pairs that
    exact pairwise comparison finds (recall check at threshold 0.5)."""
    fn_lsh, _ = QUERIES["dedup_minhash_lsh"]
    fn_exact, _ = QUERIES["dedup_ngram_jaccard"]
    lsh_pairs = {
        (r["d1"], r["d2"])
        for r in fn_lsh(spark, SF_DIR).collect()
        if r["jaccard"] >= 0.5
    }
    exact_pairs = {
        (r["d1"], r["d2"])
        for r in fn_exact(spark, SF_DIR).collect()
        if r["jaccard"] >= 0.5
    }
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_connected_components_on_synthetic_graph(spark):
    """Chain + triangle + isolated pair: labels must reach the component
    minimum across multiple hops (transitive closure, not just neighbors)."""
    from polarify_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 long, d2 long",
    )
    got = {
        (r["id"], r["comp"]) for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_two_phase_matches_propagation_on_synthetic_graphs(spark):
    """Large-star/small-star must produce identical labels to min-label
    propagation, including on a long chain — the diameter-heavy shape the
    two-phase algorithm exists for (13 hops here vs its O(log n) rounds)."""
    from polarify_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(100, 114)]
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
        + chain
        # star with a high-degree center whose id is NOT the component min
        + [(55, n) for n in range(50, 55)],
        "d1 long, d2 long",
    )
    prop = {
        (r["id"], r["comp"])
        for r in connected_components(edges, algorithm="propagation").collect()
    }
    two = {
        (r["id"], r["comp"])
        for r in connected_components(edges, algorithm="two-phase").collect()
    }
    assert two == prop
    assert {(i, 100) for i in range(100, 115)} <= two
    assert {(n, 50) for n in [55, 50, 51, 52, 53, 54]} <= two


def test_two_phase_matches_propagation_on_lsh_pair_graph(spark):
    """Equivalence on the real workload: both algorithms over the LSH-verified
    duplicate-pair graph of the testdata corpus yield the same clustering."""
    from polarify_spark.operators.dedup import dedup_duplicate_clusters

    sf = "/root/testdata/sf0.001"
    prop = {
        tuple(r)
        for r in dedup_duplicate_clusters(spark, sf, algorithm="propagation").collect()
    }
    two = {
        tuple(r)
        for r in dedup_duplicate_clusters(spark, sf, algorithm="two-phase").collect()
    }
    assert two == prop and len(two) > 0


def test_connected_components_rejects_unknown_algorithm(spark):
    from polarify_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(edges, algorithm="magic")


def test_cluster_keep_best_keeps_one_doc_per_cluster(spark):
    from polarify_spark.operators.dedup import (
        dedup_cluster_keep_best,
        dedup_duplicate_clusters,
    )

    clusters = dedup_duplicate_clusters(spark, SF_DIR)
    keepers = dedup_cluster_keep_best(spark, SF_DIR)
    n_components = clusters.select("component_id").distinct().count()
    assert keepers.count() == n_components
    # every keeper belongs to its own cluster
    joined = keepers.join(
        clusters,
        (keepers.keeper_doc_id == clusters.doc_id)
        & (keepers.component_id == clusters.component_id),
    )
    assert joined.count() == n_components


def test_training_corpus_respects_every_gate(spark):
    """Semantic spot-checks of the composed pipeline: survivors contain no
    eval docs (decontamination excludes them), no two survivors share a
    normalized content hash (exact-dedup gate), and at most one survivor
    per near-dup cluster (cluster-keeper gate)."""
    from pyspark.sql import functions as F

    from polarify_spark.operators.dedup import (
        DECONTAM_EVAL_MOD,
        dedup_duplicate_clusters,
        docs_training_corpus,
    )
    from polarify_spark.functions import normalize_ws

    sf = "/root/testdata/sf0.001"
    corpus = docs_training_corpus(spark, sf).cache()
    assert corpus.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0).count() == 0

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    hashed = docs.select(
        "doc_id", F.md5(F.lower(normalize_ws(F.col("text")))).alias("h")
    )
    dup_hashes = (
        corpus.join(hashed, "doc_id")
        .groupBy("h")
        .count()
        .where(F.col("count") > 1)
    )
    assert dup_hashes.count() == 0

    comp = dedup_duplicate_clusters(spark, sf).select("doc_id", "component_id")
    multi = (
        corpus.join(comp, "doc_id")
        .groupBy("component_id")
        .count()
        .where(F.col("count") > 1)
    )
    assert multi.count() == 0
    assert corpus.count() > 0


def test_decontaminate_semijoin_equals_array_path(spark):
    """The big-eval-set fallback (explode + semi-join + count) must produce
    byte-identical output to the broadcast-array fast path."""
    from polarify_spark.operators.dedup import (
        docs_decontaminate,
        docs_decontaminate_semijoin,
    )

    sf = "/root/testdata/sf0.001"
    fast = {tuple(r) for r in docs_decontaminate(spark, sf).collect()}
    fallback = {tuple(r) for r in docs_decontaminate_semijoin(spark, sf).collect()}
    assert fast == fallback and len(fast) > 0


def test_bloom_decontamination_never_underestimates_exact(spark):
    """One-sided error: per doc, the bloom overlap must be >= the exact
    overlap (a false negative would mean contamination slipping through)."""
    from polarify_spark.operators.dedup import (
        docs_decontaminate,
        docs_decontaminate_bloom,
    )

    exact = {
        r["doc_id"]: r["overlap_frac"]
        for r in docs_decontaminate(spark, "/root/testdata/sf0.001").collect()
    }
    bloom = docs_decontaminate_bloom(spark, "/root/testdata/sf0.001").collect()
    assert len(bloom) == len(exact)
    for r in bloom:
        assert r["overlap_frac"] >= exact[r["doc_id"]] - 1e-9, r


def test_simhash_banding_is_pigeonhole_complete():
    """Pure-math pin of the banded candidate generation's no-false-negative
    guarantee: ANY pair of 60-bit signatures within the Hamming radius
    shares at least one bit-identical band, because the radius-many flipped
    bits can touch at most SIMHASH_MAX_HAMMING of the SIMHASH_N_BANDS
    bands. Exercised with adversarial flip placements (all flips in one
    band, spread across bands, at band boundaries) driven by hypothesis —
    if anyone changes the band constants without preserving
    N_BANDS > MAX_HAMMING, this fails without needing a SparkSession."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from polarify_spark.operators.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
        SIMHASH_N_BANDS,
    )

    assert SIMHASH_N_BANDS * SIMHASH_BAND_BITS == SIMHASH_BITS
    assert SIMHASH_N_BANDS > SIMHASH_MAX_HAMMING  # the pigeonhole premise

    def bands(sig: int) -> list[int]:
        mask = (1 << SIMHASH_BAND_BITS) - 1
        return [
            (sig >> (b * SIMHASH_BAND_BITS)) & mask
            for b in range(SIMHASH_N_BANDS)
        ]

    @settings(max_examples=300)
    @given(
        sig=st.integers(min_value=0, max_value=(1 << SIMHASH_BITS) - 1),
        flips=st.lists(
            st.integers(min_value=0, max_value=SIMHASH_BITS - 1),
            min_size=0,
            max_size=SIMHASH_MAX_HAMMING,
            unique=True,
        ),
    )
    def check(sig: int, flips: list[int]) -> None:
        other = sig
        for bit in flips:
            other ^= 1 << bit
        shared = any(a == b for a, b in zip(bands(sig), bands(other)))
        assert shared, (hex(sig), flips)

    check()


def test_recall_sample_degenerates_to_full_corpus_at_small_sf(spark):
    """With <= RECALL_SAMPLE_DOCS documents the md5-top-N sample IS the
    corpus, so the sampled ground truth must equal the corpus-wide
    pairwise kernel — the test-only cross-check that keeps the bounded
    production form honest against the exhaustive form."""
    from polarify_spark.operators.dedup import (
        RECALL_SAMPLE_DOCS,
        _recall_sample_grams,
        _pairwise_jaccard,
        dedup_ngram_jaccard,
    )

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert n_docs <= RECALL_SAMPLE_DOCS, "fixture outgrew the sample bound"
    sampled = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in _pairwise_jaccard(_recall_sample_grams(spark, SF_DIR)).collect()
    }
    full = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    assert sampled == full


def test_anchored_pairwise_equals_filtered_full_kernel(spark):
    """The anchored ground truth (>= 1 endpoint sampled, bounded
    O(sample x block) probe) must equal the full pairwise kernel filtered
    to pairs touching the sample — proven on a STRICT subset sample, where
    the anchored and both-endpoints forms genuinely differ."""
    import pyspark.sql.functions as F

    from polarify_spark.functions import md5_top_n_ids
    from polarify_spark.operators.dedup import (
        _anchored_pairwise,
        _grams_df,
        _pairwise_jaccard,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_sample = 60
    assert docs.count() > n_sample, "need sample to be a strict subset"
    ids = md5_top_n_ids(docs, "doc_id", n_sample)
    grams = _grams_df(spark, SF_DIR)
    sampled = grams.join(F.broadcast(ids), "doc_id", "semi")
    anchored = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in _anchored_pairwise(sampled, grams).collect()
    }
    id_set = {r["doc_id"] for r in ids.collect()}
    filtered = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in _pairwise_jaccard(grams).collect()
        if r["d1"] in id_set or r["d2"] in id_set
    }
    assert anchored == filtered
    # and the anchored set is a strict superset of the both-endpoints form
    both = {p for p in filtered if p[0] in id_set and p[1] in id_set}
    assert both <= anchored


def test_repeated_spans_finds_planted_shared_paragraph(spark, tmp_path):
    """Two otherwise-unique documents sharing one 12-token paragraph must
    each report exactly that span (token positions), and a fully unique
    document must report nothing."""
    import pyspark.sql.functions as F

    from polarify_spark.operators.dedup import dedup_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
            (3, "completely unique text with no repeated content at all here"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in dedup_repeated_spans(spark, str(tmp_path)).collect()
    }
    # doc 1: shared para occupies tokens 4..15; doc 2: tokens 1..12.
    # With SPAN_K=8 the flagged windows are exactly the ones fully inside
    # the shared span, so the reported interval is the span itself.
    assert got == {(1, 4, 15), (2, 1, 12)}


def test_repeated_spans_hot_guard_bounds_window_groups(spark, tmp_path):
    """Hot-span skew guard: one boilerplate span planted in >50% of docs.
    With a hot_count below its frequency the guard must (a) detect the
    hot hashes, (b) leave every group that still reaches the membership
    window bounded by hot_count, (c) produce EXACTLY the unguarded output
    (routing is output-invariant), and (d) carry the two-route shape
    (cold window ∪ hot salted aggregate) in the plan — while the DEFAULT
    threshold (r10: driver-side detection, empty hot set) must plan as
    the pure single-pass window with ZERO guard residue (no join, no
    union)."""
    import pyspark.sql.functions as F

    from polarify_spark.operators.dedup import (
        _hot_span_hash_list,
        _hot_span_hashes,
        _span_windows,
        dedup_repeated_spans,
    )
    from polarify_spark.plans import plan_string

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    )
    rows = []
    for d in range(40):
        if d < 24:  # 60% of the corpus carries the boilerplate span
            rows.append((d, f"id{d} head{d} {shared} tail{d} end{d}"))
        else:
            rows.append(
                (
                    d,
                    f"u{d}a u{d}b u{d}c u{d}d u{d}e u{d}f u{d}g u{d}h "
                    f"u{d}i u{d}j",
                )
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    hot_count = 10  # shared-span window hashes occur 24x > 10

    wins = _span_windows(spark, sf)
    hot = _hot_span_hashes(wins, hot_count)
    assert hot.count() > 0, "guard must engage on the planted hot span"
    # the driver-side detection (exact branch at this tiny threshold)
    # must agree with the in-plan exact count form
    hot_list = _hot_span_hash_list(spark, sf, hot_count)
    assert sorted(r["h"] for r in hot.collect()) == hot_list
    cold = wins.where(~F.col("h").isin(hot_list))
    max_group = (
        cold.groupBy("h")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert max_group is None or max_group <= hot_count, max_group

    guarded = dedup_repeated_spans(spark, sf, hot_count=hot_count)
    unguarded = dedup_repeated_spans(spark, sf)  # default threshold: no hot
    g = {tuple(r) for r in guarded.collect()}
    u = {tuple(r) for r in unguarded.collect()}
    assert g == u
    assert g, "planted span must be reported"

    plan = plan_string(guarded)
    assert "Union" in plan, plan
    # hot route's broadcast semi-join against the crossed-documents set
    assert "BroadcastHashJoin" in plan, plan
    # empty-hot fast path: the default-threshold plan is the PURE window —
    # no union, no join of any kind (r9's inert guard plumbing measured
    # ~4x the pure pass; the fast path removes it structurally)
    pure = plan_string(unguarded)
    assert "Union" not in pure, pure
    assert "Join" not in pure, pure


def test_triangles_degree_oriented_matches_id_oriented(spark):
    """Suri-Vassilvitskii degree orientation vs the id-oriented two-join
    form on a hub-bearing synthetic graph: a K5 clique (10 triangles), a
    30-leaf star hub (0 triangles — pure fan-out stress), two clique
    members closing onto the hub (1 more), and a chain. Canonicalized
    triangle sets must be identical and each triangle emitted exactly
    once."""
    import itertools

    from polarify_spark.operators.dedup import (
        _triangles_degree_oriented,
        _triangles_id_oriented,
    )

    clique = list(itertools.combinations(range(1, 6), 2))  # K5 on 1..5
    star = [(100, v) for v in range(101, 131)]  # hub with 30 leaves
    closing = [(3, 100), (4, 100)]  # (3,4,100) is a triangle via hub
    chain = [(200, 201), (201, 202), (202, 203)]
    edges_py = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in clique + star + closing + chain
        }
    )
    edges = spark.createDataFrame(edges_py, "d1 long, d2 long")

    def canon(df):
        return {
            tuple(sorted((r["a"], r["b"], r["c"]))) for r in df.collect()
        }

    t_id = canon(_triangles_id_oriented(edges))
    t_deg = canon(_triangles_degree_oriented(edges))
    assert t_id == t_deg
    assert len(t_id) == 10 + 1
    # exactly-once emission (the set comparison alone would mask dups)
    assert _triangles_degree_oriented(edges).count() == len(t_deg)
    assert _triangles_id_oriented(edges).count() == len(t_id)


def test_graph_triangles_query_matches_id_oriented_form(spark):
    """The registered query (degree-oriented) must produce per-document
    counts identical to the id-oriented reference form on the real
    sf0.001 near-dup graph (the driver gate re-proves the same parity at
    sf0.01 through the unchanged DuckDB oracle)."""
    import pyspark.sql.functions as F

    from polarify_spark.operators.dedup import (
        QUERIES,
        _triangles_id_oriented,
        dedup_simhash_pairs,
    )

    fn, _sql = QUERIES["dedup_graph_triangles"]
    got = {
        (r["doc_id"], r["n_triangles"])
        for r in fn(spark, SF_DIR).collect()
    }
    edges = dedup_simhash_pairs(spark, SF_DIR).select("d1", "d2")
    want = {
        (r["doc_id"], r["n_triangles"])
        for r in (
            _triangles_id_oriented(edges)
            .select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_triangles"))
        ).collect()
    }
    assert got == want


def test_triangles_parity_on_random_graphs(spark):
    """Property: on arbitrary undirected simple graphs the degree-oriented
    and id-oriented enumerations emit the SAME canonical triangle set and
    the SAME number of rows (exactly-once emission), including graphs with
    degree ties, hubs, isolated edges, and multiple components. Hypothesis
    drives the edge sets; node ids deliberately collide into a small space
    so dense/tied structures are common."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from polarify_spark.operators.dedup import (
        _triangles_degree_oriented,
        _triangles_id_oriented,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        raw=st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)),
            min_size=1,
            max_size=40,
        )
    )
    def check(raw):
        edges_py = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
        if not edges_py:
            return
        edges = spark.createDataFrame(edges_py, "d1 long, d2 long")
        rows_id = _triangles_id_oriented(edges).collect()
        rows_deg = _triangles_degree_oriented(edges).collect()
        canon_id = {tuple(sorted((r["a"], r["b"], r["c"]))) for r in rows_id}
        canon_deg = {tuple(sorted((r["a"], r["b"], r["c"]))) for r in rows_deg}
        assert canon_id == canon_deg
        assert len(rows_id) == len(canon_id)
        assert len(rows_deg) == len(canon_deg)

    check()


def test_hot_span_sampled_detection_engages_and_memoizes(spark, tmp_path):
    """The PRODUCTION detection branch: a threshold large enough for the
    1/64 sample expectation to be statistically safe (hot_count * f >=
    256) must route through the SAMPLED count — and still find a hash
    planted above threshold, route it, and produce the unguarded output
    exactly. Also pins the per-(corpus, threshold) memo: the second call
    returns the SAME list object (no second detection job)."""
    import pyspark.sql.functions as F

    from polarify_spark.operators.dedup import (
        SPAN_DETECT_FRACTION,
        _hot_span_hash_list,
        dedup_repeated_spans,
    )

    # 20k docs sharing a 9-token prefix -> TWO fully-shared windows (i=1,2),
    # each a hash with 20k occurrences (two windows because
    # SPAN_MIN_WINDOWS=2 drops single-window islands from the output);
    # unique 2-token tails keep every other window distinct per doc.
    shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8"
    docs = (
        spark.range(20_000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(shared + " u"),
                F.col("id").cast("string"),
                F.lit("a u"),
                F.col("id").cast("string"),
                F.lit("b"),
            ).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    hot_count = 16_384  # 16384/64 = 256 expected sampled rows: sampled path
    assert hot_count * SPAN_DETECT_FRACTION >= 256

    hot = _hot_span_hash_list(spark, sf, hot_count)
    assert len(hot) == 2, hot  # exactly the two planted prefix hashes
    assert _hot_span_hash_list(spark, sf, hot_count) is hot  # memo hit

    guarded = dedup_repeated_spans(spark, sf, hot_count=hot_count)
    unguarded = dedup_repeated_spans(spark, sf)  # 2^22 default: no hot
    g = {tuple(r) for r in guarded.collect()}
    assert g == {tuple(r) for r in unguarded.collect()}
    # every doc reports exactly the shared 9-token prefix span
    assert g == {(d, 1, 9, 2) for d in range(20_000)}


def test_hot_span_detection_boundary_exact_path(spark, tmp_path):
    """VERDICT r10 ask #2: the detection predicate is strictly
    ``count > hot_count`` — a hash with EXACTLY hot_count occurrences must
    not be detected, one occurrence more must be. Planted on the exact
    detection branch (hot_count * SPAN_DETECT_FRACTION < 256) so the
    boundary is deterministic; output parity must hold regardless of
    which side a hash lands on (routing is output-invariant)."""
    import pyspark.sql.functions as F

    from polarify_spark.operators.dedup import (
        SPAN_DETECT_FRACTION,
        _hot_span_hash_list,
        _span_windows,
        dedup_repeated_spans,
    )
    from polarify_spark.plans import plan_string

    # a doc of n identical tokens yields n-7 windows, all ONE hash:
    # "aaa" docs -> 10 + 11 = 21 = hot_count+1 occurrences (above),
    # "bbb" docs -> 10 + 10 = 20 = hot_count exactly (at the boundary)
    rows = [
        (1, " ".join(["aaa"] * 17)),
        (2, " ".join(["aaa"] * 18)),
        (3, " ".join(["bbb"] * 17)),
        (4, " ".join(["bbb"] * 17)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    hot_count = 20
    assert hot_count * SPAN_DETECT_FRACTION < 256  # exact branch

    counts = {
        r["h"]: r["n"]
        for r in _span_windows(spark, sf)
        .groupBy("h")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sorted(counts.values()) == [20, 21]
    [h_above] = [h for h, n in counts.items() if n == hot_count + 1]

    # just-above fires, exactly-at does not
    assert _hot_span_hash_list(spark, sf, hot_count) == [h_above]
    # one more than the boundary: nothing exceeds 21
    assert _hot_span_hash_list(spark, sf, hot_count + 1) == []

    guarded = dedup_repeated_spans(spark, sf, hot_count=hot_count)
    unguarded = dedup_repeated_spans(spark, sf)  # default: empty hot set
    g = {tuple(r) for r in guarded.collect()}
    assert g == {tuple(r) for r in unguarded.collect()}
    # both token runs cross documents: all four docs report a full span
    assert {r[0] for r in g} == {1, 2, 3, 4}
    # guard engaged (two-route shape) only for the just-above hash
    assert "Union" in plan_string(guarded)
    at_boundary = dedup_repeated_spans(spark, sf, hot_count=hot_count + 1)
    assert "Union" not in plan_string(at_boundary)
    assert {tuple(r) for r in at_boundary.collect()} == g


def test_hot_span_isin_cap_falls_back_to_broadcast_join(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a hot set larger than SPAN_HOT_ISIN_MAX must route via
    broadcast anti/semi joins instead of an In-literal (a 10^5-entry
    literal bloats plan analysis/serialization). Pin: with the cap forced
    to 0 the plan carries LeftAnti + LeftSemi broadcast joins and NO In
    predicate on the window hash, and the output is byte-identical to
    both the isin route and the unguarded plan."""
    import pyspark.sql.functions as F  # noqa: F401

    from polarify_spark.operators import dedup
    from polarify_spark.plans import plan_string

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    )
    rows = []
    for d in range(40):
        if d < 24:
            rows.append((d, f"id{d} head{d} {shared} tail{d} end{d}"))
        else:
            rows.append(
                (
                    d,
                    f"u{d}a u{d}b u{d}c u{d}d u{d}e u{d}f u{d}g u{d}h "
                    f"u{d}i u{d}j",
                )
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    hot_count = 10

    isin_route = dedup.dedup_repeated_spans(spark, sf, hot_count=hot_count)
    isin_plan = plan_string(isin_route)
    assert "LeftAnti" not in isin_plan  # tiny hot set: literal route

    monkeypatch.setattr(dedup, "SPAN_HOT_ISIN_MAX", 0)
    joined_route = dedup.dedup_repeated_spans(spark, sf, hot_count=hot_count)
    joined_plan = plan_string(joined_route)
    assert "LeftAnti" in joined_plan, joined_plan
    assert "LeftSemi" in joined_plan, joined_plan

    expect = {tuple(r) for r in dedup.dedup_repeated_spans(spark, sf).collect()}
    assert expect, "planted span must be reported"
    assert {tuple(r) for r in isin_route.collect()} == expect
    assert {tuple(r) for r in joined_route.collect()} == expect


def test_repeated_spans_second_construction_launches_no_jobs(spark, tmp_path):
    """VERDICT r10 ask #3: dedup_repeated_spans is EAGER at construction
    (window-table checkpoint + driver-side detection) — a documented
    deviation from the sibling operators' lazy contract. The memo makes
    it once-per-corpus: the FIRST construction launches Spark jobs, the
    second must launch ZERO (verified via job-group attribution: jobs
    submitted from this thread inherit the active group)."""
    from polarify_spark.operators.dedup import dedup_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("spans-eager-first", "first construction")
        dedup_repeated_spans(spark, sf)
        first = tracker.getJobIdsForGroup("spans-eager-first")
        assert first, "first construction must run the detection jobs"

        sc.setJobGroup("spans-eager-second", "second construction")
        dedup_repeated_spans(spark, sf)
        second = tracker.getJobIdsForGroup("spans-eager-second")
        assert second == [], (
            f"memoized second construction must launch no jobs: {second}"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_durable_artifact_mode_matches_localcheckpoint(spark, tmp_path):
    """VERDICT r10 ask #1: with ``spark.polarify.artifacts.dir`` set, the
    memo artifacts (window-hash table, span set) become write-once
    parquet tables instead of executor-loss-fragile localCheckpoints.
    Pins (a) output equality between the two modes for
    ``dedup_repeated_spans`` + ``docs_strip_repeated_spans``, (b) the
    artifact layout on disk (name-keyed dirs with parquet's _SUCCESS
    marker), and (c) write-once reuse: a fresh memo state (a new session
    in spirit) re-reads the artifacts without rewriting them."""
    import os

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
    from polarify_spark.operators.dedup import dedup_repeated_spans
    from polarify_spark.operators.refine import docs_strip_repeated_spans

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    )
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "completely unique text with no repeated content at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    art_dir = tmp_path / "artifacts"

    spans_local = {tuple(r) for r in dedup_repeated_spans(spark, sf).collect()}
    strip_local = {
        tuple(r) for r in docs_strip_repeated_spans(spark, sf).collect()
    }
    assert spans_local, "fixture must produce spans"

    release_shared_caches(spark, scope="dedup")
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        spans_durable = {
            tuple(r) for r in dedup_repeated_spans(spark, sf).collect()
        }
        strip_durable = {
            tuple(r) for r in docs_strip_repeated_spans(spark, sf).collect()
        }
        assert spans_durable == spans_local
        assert strip_durable == strip_local

        names = sorted(p.name for p in art_dir.iterdir())
        assert any(n.startswith("span_windows-") for n in names), names
        assert any(n.startswith("span_set-") for n in names), names
        assert not any(".tmp-" in n for n in names), names
        from polarify_spark.operators._memo import COMMIT_MARKER

        for n in names:
            assert (art_dir / n / "_SUCCESS").exists(), n
            assert (art_dir / n / COMMIT_MARKER).exists(), n
        mtimes = {n: os.path.getmtime(art_dir / n) for n in names}

        # fresh memo state: artifacts are read back, never rewritten
        release_shared_caches(spark, scope="dedup")
        spans_reuse = {
            tuple(r) for r in dedup_repeated_spans(spark, sf).collect()
        }
        assert spans_reuse == spans_local
        assert {
            tuple(r) for r in docs_strip_repeated_spans(spark, sf).collect()
        } == strip_local
        assert sorted(p.name for p in art_dir.iterdir()) == names
        assert {n: os.path.getmtime(art_dir / n) for n in names} == mtimes
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="dedup")


def test_durable_artifact_mode_lsh_family_parity(spark, tmp_path):
    """Durable-mode parity for the OTHER memo artifact families the ask
    names (verified LSH pairs, simhash banded/pairs, decontam grams):
    the end-to-end queries built on them return identical results in
    both modes, and each family publishes its artifact dir."""
    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
    from polarify_spark.operators.dedup import (
        dedup_lsh_jaccard,
        dedup_simhash_pairs,
    )

    art_dir = tmp_path / "artifacts"
    sf = SF_DIR  # the shared sf0.001 fixture: realistic near-dup structure

    lsh_local = {tuple(r) for r in dedup_lsh_jaccard(spark, sf).collect()}
    sim_local = {tuple(r) for r in dedup_simhash_pairs(spark, sf).collect()}

    release_shared_caches(spark, scope="dedup")
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        assert {
            tuple(r) for r in dedup_lsh_jaccard(spark, sf).collect()
        } == lsh_local
        assert {
            tuple(r) for r in dedup_simhash_pairs(spark, sf).collect()
        } == sim_local
        names = sorted(p.name for p in art_dir.iterdir())
        assert any(n.startswith("verified-") for n in names), names
        assert any(n.startswith("simhash_banded-") for n in names), names
        assert any(n.startswith("simhash_pairs-") for n in names), names

        # the CC label table — the iterative artifact — is durable too
        from polarify_spark.operators.dedup import dedup_duplicate_clusters

        clusters_durable = {
            tuple(r) for r in dedup_duplicate_clusters(spark, sf).collect()
        }
        names = sorted(p.name for p in art_dir.iterdir())
        assert any(n.startswith("components_") for n in names), names
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="dedup")
    assert clusters_durable == {
        tuple(r) for r in dedup_duplicate_clusters(spark, sf).collect()
    }


def test_artifact_key_stable_across_plan_instances(spark, tmp_path):
    """Durable artifacts are only reusable if independently-built plans
    over the same inputs produce the SAME key: expression ids must
    canonicalize away. Also pins that a different corpus (different
    input path) can never collide into the same artifact."""
    from polarify_spark.operators._memo import artifact_key as _artifact_key
    from polarify_spark.operators.dedup import _span_windows_plan

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    other = tmp_path / "other"
    other.mkdir()
    docs.write.mode("overwrite").parquet(str(other / "documents.parquet"))

    # two INDEPENDENT plan builds over the same files (bypass the plan
    # cache by reconstructing the lineage the way _span_windows_plan does,
    # twice, from fresh reads)
    import pyspark.sql.functions as F

    from polarify_spark.functions import md5_long, whitespace_tokens, word_ngrams
    from polarify_spark.operators.dedup import SPAN_K

    def fresh_plan(d):
        toks = (
            spark.read.parquet(f"{d}/documents.parquet")
            .select("doc_id", whitespace_tokens(F.col("text")).alias("toks"))
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

    k1 = _artifact_key(fresh_plan(str(tmp_path)))
    k2 = _artifact_key(fresh_plan(str(tmp_path)))
    assert k1 == k2, "same inputs, independently built plans, same key"
    assert k1 == _artifact_key(_span_windows_plan(spark, str(tmp_path)))
    assert k1 != _artifact_key(fresh_plan(str(other))), (
        "different corpus path must key a different artifact"
    )


def test_durable_artifact_stale_partial_is_rebuilt(spark, tmp_path):
    """A crashed writer (or manual tampering) can leave an artifact dir
    WITHOUT the commit marker. The durable reader must treat it as
    garbage: replace it with a fresh complete write, never read the
    partial. Pinned by planting a poisoned dir at the exact artifact
    path and asserting the query still returns the correct spans and the
    dir ends up complete. This also covers pre-marker-protocol dirs
    (parquet _SUCCESS but no marker): rebuilt once, never wrongly read."""
    import os

    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
    from polarify_spark.operators._memo import artifact_key as _artifact_key
    from polarify_spark.operators.dedup import (
        _span_windows_plan,
        dedup_repeated_spans,
    )

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    )
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    expect = {tuple(r) for r in dedup_repeated_spans(spark, sf).collect()}
    assert expect

    # plant the poisoned partial at the exact span_windows artifact path
    key = _artifact_key(_span_windows_plan(spark, sf))
    art_dir = tmp_path / "artifacts"
    poisoned = art_dir / f"span_windows-{key}"
    poisoned.mkdir(parents=True)
    (poisoned / "part-00000-garbage.parquet").write_bytes(b"not parquet")

    release_shared_caches(spark, scope="dedup")
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        got = {tuple(r) for r in dedup_repeated_spans(spark, sf).collect()}
        assert got == expect
        from polarify_spark.operators._memo import COMMIT_MARKER

        assert (poisoned / COMMIT_MARKER).exists(), "must be rebuilt + committed"
        assert (poisoned / "_SUCCESS").exists(), "must be rebuilt complete"
        assert not (poisoned / "part-00000-garbage.parquet").exists()
        assert not any(".tmp-" in p.name for p in art_dir.iterdir())
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="dedup")


def test_local_checkpoint_degrades_without_storagelevel_param(spark):
    """The pyspark>=3.5 floor predates localCheckpoint's storageLevel
    parameter (4.0+); the checkpoint helper must feature-detect and fall
    back to the bare eager call instead of raising TypeError on 3.5
    (code-review r11 finding). Simulated by shadowing the method with a
    3.5-signature callable."""
    from polarify_spark.operators import _memo

    df = spark.range(10)
    calls = {}

    def legacy_local_checkpoint(eager=True):  # the 3.5.x signature
        calls["eager"] = eager
        return df

    df.localCheckpoint = legacy_local_checkpoint
    try:
        out = _memo.local_checkpoint(df)
    finally:
        del df.localCheckpoint
    assert out is df
    assert calls == {"eager": True}

    # and on a 4.x-style signature the serialized level IS passed (a
    # silently-dropped kwarg would quietly reintroduce the r10 variance)
    def modern_local_checkpoint(eager=True, storageLevel=None):
        calls["level"] = storageLevel
        return df

    df.localCheckpoint = modern_local_checkpoint
    try:
        assert _memo.local_checkpoint(df) is df
    finally:
        del df.localCheckpoint

    assert calls["level"] == _memo._CHECKPOINT_STORAGE

    # the real pinned-pair method carries the parameter and checkpoints
    import inspect

    real = spark.range(10)
    assert "storageLevel" in inspect.signature(real.localCheckpoint).parameters
    assert _memo.local_checkpoint(real).count() == 10


def test_durable_artifact_marker_gating_and_tmp_reap(spark, tmp_path):
    """Protocol pins for the r12 commit-marker publish (ADVICE r11 #1/#2):

    (a) a dir carrying parquet's _SUCCESS but NO commit marker — a
        pre-marker-protocol artifact, or an uncommitted racer — is
        rebuilt, never read: we plant one holding WRONG rows at the
        exact artifact path and assert the query ignores it;
    (b) an orphaned `.tmp-` sibling from a crashed writer is reaped by
        the next successful publish.
    """
    from polarify_spark.operators import release_shared_caches
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF, COMMIT_MARKER
    from polarify_spark.operators._memo import artifact_key as _artifact_key
    from polarify_spark.operators.dedup import (
        _span_windows_plan,
        dedup_repeated_spans,
    )

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    )
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    expect = {tuple(r) for r in dedup_repeated_spans(spark, sf).collect()}
    assert expect

    key = _artifact_key(_span_windows_plan(spark, sf))
    art_dir = tmp_path / "artifacts"
    target = art_dir / f"span_windows-{key}"
    # (a) complete-looking parquet dir with WRONG content and no marker:
    # write a schema-compatible but empty window table there
    wrong = spark.createDataFrame(
        [], "doc_id long, i int, h long"
    )
    wrong.write.mode("overwrite").parquet(str(target))
    assert (target / "_SUCCESS").exists() and not (target / COMMIT_MARKER).exists()
    # (b) a crashed writer's orphan
    orphan = art_dir / f"span_windows-{key}.tmp-deadbeef"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"junk")

    release_shared_caches(spark, scope="dedup")
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        got = {tuple(r) for r in dedup_repeated_spans(spark, sf).collect()}
        assert got == expect, "must rebuild, never read the marker-less dir"
        assert (target / COMMIT_MARKER).exists()
        assert not orphan.exists(), "orphaned tmp sibling must be reaped"
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark, scope="dedup")


def test_durable_publish_concurrent_writers_single_artifact(spark, tmp_path):
    """Two writers racing on the SAME artifact key (what two processes do
    — the in-process memo lock can't help there, simulated by calling
    materialize directly from two threads): exactly one committed
    artifact must result, both callers must read identical correct rows,
    and no nested loser dirs or orphaned tmps may remain."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from polarify_spark.operators._memo import (
        ARTIFACTS_DIR_CONF,
        COMMIT_MARKER,
        materialize,
    )

    src = spark.range(500).select(
        "id", (F.col("id") % 7).alias("k")
    )
    src.write.mode("overwrite").parquet(str(tmp_path / "src.parquet"))
    art_dir = tmp_path / "artifacts"
    spark.conf.set(ARTIFACTS_DIR_CONF, str(art_dir))
    try:
        def one_writer(_):
            plan = (
                spark.read.parquet(str(tmp_path / "src.parquet"))
                .groupBy("k")
                .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            )
            return {tuple(r) for r in materialize(plan, "race").collect()}

        with ThreadPoolExecutor(2) as ex:
            a, b = list(ex.map(one_writer, range(2)))
        expect = {
            tuple(r)
            for r in src.groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .collect()
        }
        assert a == expect and b == expect
        names = sorted(p.name for p in art_dir.iterdir())
        assert names == [n for n in names if n.startswith("race-")], names
        assert len(names) == 1, f"exactly one artifact dir expected: {names}"
        d = art_dir / names[0]
        assert (d / COMMIT_MARKER).exists()
        assert (d / "_SUCCESS").exists(), "validated commit = marker + _SUCCESS"
        # no nested loser data (the Hadoop rename-into-existing-dst case)
        # and no orphaned tmp siblings. Hidden (`.`/`_`-prefixed)
        # committer residue is tolerated — Spark's file index never
        # surfaces it to readers — but VISIBLE children must be the
        # winner's part files only, and nothing tmp-named may survive.
        assert not any(".tmp-" in p.name for p in d.iterdir()), list(d.iterdir())
        assert not any(
            p.is_dir() and not p.name.startswith((".", "_"))
            for p in d.iterdir()
        ), list(d.iterdir())
        assert not any(".tmp-" in p.name for p in art_dir.iterdir())
        # and the committed artifact re-reads correctly from disk
        reread = {
            tuple(r) for r in spark.read.parquet(str(d)).collect()
        }
        assert reread == expect
    finally:
        spark.conf.unset(ARTIFACTS_DIR_CONF)


def test_dedup_fills_build_over_materialized_gram_artifact(spark):
    """r20 (guide §1.2 step 1 / §5): the expensive dedup fills must run
    their kernels over the MATERIALIZED per-corpus gram artifact, not
    re-derive the tokenize+md5+array_distinct gram lineage inline — and
    the pairwise kernel must no longer hold its corpus-scale ``cache()``
    (redundant storage over the checkpointed table, and its CacheManager
    plan-matching polluted unrelated queries' plans)."""
    from polarify_spark.operators._memo import DEDUP
    from polarify_spark.operators.dedup import (
        _grams_df,
        _materialized_grams,
        _pairwise_jaccard,
        _verified_pairs,
    )
    from polarify_spark.plans import plan_string

    grams = _grams_df(spark, SF_DIR)
    kernel_plan = plan_string(_pairwise_jaccard(_materialized_grams(grams)))
    # both self-join sides scan the checkpointed artifact: no parquet
    # rescan of documents, no InMemoryRelation from a kernel-owned cache
    assert "ExistingRDD" in kernel_plan, kernel_plan
    assert "Scan parquet" not in kernel_plan, kernel_plan
    assert "InMemoryTableScan" not in kernel_plan, kernel_plan
    # the verified-pairs fill registers the shared artifact in the memo:
    # later fills (anchored, pairwise) reuse the one materialized table
    _verified_pairs(grams)
    memo = DEDUP.corpus(grams)
    assert "materialized" in memo and "verified" in memo, sorted(
        k for k in memo if isinstance(k, str)
    )
