"""Unit tests for the extension operator families: text analysis,
dedup (exact / MinHash-LSH / SimHash / Jaccard / embedding), and
similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eggv_spark.operators import dedupe as D
from eggv_spark.operators import similarity as S
from eggv_spark.operators import text_analysis as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "le chat et le chien et les oiseaux"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_counts(docs):
    rows = {r.doc_id: r for r in T.with_token_counts(docs).collect()}
    assert rows[1].n_tokens == 9
    assert rows[1].n_distinct_tokens == 8  # 'the' twice
    assert rows[3].n_tokens == 6


@pytest.mark.parametrize(
    "fn, temp",
    [
        (D.with_shingle_hashes, "_toks"),
        (T.with_token_counts, "_toks"),
        (T.with_quality_score, "_toks"),
        (T.with_fingerprint, "_toks"),
        (T.with_repetition_stats, "_BH"),
    ],
    ids=lambda v: getattr(v, "__name__", v),
)
def test_temp_column_clash_raises(docs, fn, temp):
    # a caller column named like an internal temp column would be
    # overwritten and then dropped: refuse instead
    clashing = docs.withColumn(temp, F.lit("keep me"))
    with pytest.raises(ValueError, match=temp):
        fn(clashing)


def test_quality_score(docs):
    rows = {r.doc_id: r for r in T.with_quality_score(docs).collect()}
    assert rows[1].text_len == 43
    assert rows[1].stopword_ratio == pytest.approx(2 / 9, abs=1e-4)
    assert rows[1].alnum_ratio == 1.0


def test_lang_id(docs):
    rows = {r.doc_id: r for r in T.with_lang_id(docs).collect()}
    assert rows[1].lang_pred == "en"
    assert rows[5].lang_pred == "fr"
    assert rows[5].score_fr >= 2


def test_fingerprint_exact_dups_share_hash(docs):
    rows = {r.doc_id: r for r in T.with_fingerprint(docs).collect()}
    assert rows[1].content_hash == rows[4].content_hash
    assert rows[1].content_hash != rows[2].content_hash
    assert rows[1].min_shingle_hash == rows[4].min_shingle_hash


def test_exact_dedupe(docs):
    out = D.exact_dedupe(docs)
    assert out.count() == 4  # 5 docs, one exact dup collapses
    dup = out.filter("n_copies > 1").collect()
    assert len(dup) == 1 and dup[0].keeper_id == 1 and dup[0].n_copies == 2


def test_minhash_finds_exact_and_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_neardup_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup pair found via LSH
    # docs 1/2 differ by last word: 7 shared of 9 union 3-shingles
    if (1, 2) in pairs:
        assert 0.5 <= pairs[(1, 2)] < 1.0
    assert all(a < b for a, b in pairs)


def test_minhash_band_index_shape(docs):
    idx = D.minhash_band_index(docs)
    rows = idx.collect()
    # one row per (doc, band), each carrying the full signature
    assert len(rows) == 5 * D.MINHASH_BANDS
    assert all(len(r.minhash_sig) == len(D.MINHASH_A) for r in rows)
    assert set(idx.columns) == {"doc_id", "minhash_sig", "band", "band_key"}


def test_dedupe_against_index_finds_exact_copy(spark, docs):
    # corpus index over docs 1-5; shard re-crawls doc 1 (exact copy,
    # new id 100) plus one genuinely new doc (id 101)
    index = D.minhash_band_index(docs)
    shard = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "unrelated shard text with entirely novel words here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.dedupe_against_index(shard, index).collect()}
    assert out[100].is_dup
    assert out[100].dup_of == 1  # smallest matching corpus id (1 and 4 match)
    assert out[100].n_matches == 2  # docs 1 AND 4 are exact copies
    assert out[100].best_est == 1.0
    assert not out[101].is_dup
    assert out[101].dup_of is None and out[101].n_matches == 0


def test_simhash_identical_docs_equal_fingerprints(docs):
    rows = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert rows[1] == rows[4]
    assert 0 <= rows[1] < 2**32
    pair_rows = D.simhash_neardup_pairs(docs, max_hamming=3).collect()
    assert any(r.id_a == 1 and r.id_b == 4 and r.hamming == 0 for r in pair_rows)


def test_jaccard_verify(docs):
    shingled = D.with_shingle_hashes(docs.select("doc_id", "text"))
    pairs = docs.sparkSession.createDataFrame(
        [(1, 4), (1, 3)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r.jaccard for r in
           D.jaccard_verify_pairs(pairs, shingled, 0.0).collect()}
    assert out[(1, 4)] == 1.0
    assert out[(1, 3)] == 0.0


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [1.0, 0.0, 0.0, 0.0]),   # identical to 1
        (5, [0.0, 0.0, 1.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(vectors):
    out = S.brute_force_topk(vectors, vectors.filter("vec_id = 1"), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [4, 2]
    assert rows[0].cosine == 1.0


def test_embedding_neardup(vectors):
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in D.embedding_neardup_pairs(vectors, threshold=0.95,
                                                dim=4).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 3) not in pairs


def test_signlsh_bucket_cardinality_grows_with_planes(spark):
    # 64 spread-out unit vectors in 8 dims: with 2 planes a table has
    # at most 4 buckets; with 8 planes it must split finer.
    import math

    rows = [
        (i, [math.cos(i * 0.7 + d) for d in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def n_buckets(n_planes):
        return (
            D.signlsh_buckets(df, dim=8, n_planes=n_planes, n_tables=1)
            .select("bucket").distinct().count()
        )

    few, many = n_buckets(2), n_buckets(8)
    assert few <= 4
    assert many > few


def test_signlsh_or_construction_unions_tables(vectors):
    # Candidate set with 4 tables is a superset of any single table's.
    base = D.signlsh_buckets(vectors, dim=4, n_planes=4, n_tables=4)
    single = {(r.vec_id, r.bucket) for r in base.filter("tbl = 0").collect()}
    all_tables = {(r.vec_id, r.tbl, r.bucket) for r in base.collect()}
    assert len(all_tables) == 4 * len(single)


def test_ivf_topk_finds_identical_vector(vectors):
    out = S.ivf_topk(vectors, vectors.filter("vec_id = 1"), k=2,
                     n_centroids=4, n_probe=4, dim=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 4 and rows[0].cosine == 1.0


def test_connected_components_warns_without_convergence(spark):
    import warnings

    # a 6-node chain is not a star: 1 round cannot reach the fixpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        partial = D.connected_components_star(pairs, max_iterations=1)
        labels = [(r.node, r.component) for r in partial.collect()]
    assert any(issubclass(w.category, RuntimeWarning) for w in caught)
    # partial labels are still valid member ids, not yet the global min
    assert {n for n, _ in labels} == set(range(1, 7))
    assert all(comp in range(1, 7) and comp <= node for node, comp in labels)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        full = D.connected_components_star(pairs, max_iterations=10)
        labels = {r.node: r.component for r in full.collect()}
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert set(labels.values()) == {1}


def test_pq_topk_identical_vector_attains_min_distance(vectors):
    out = S.pq_topk(vectors, vectors.filter("vec_id = 1"), k_neighbors=4,
                    m=2, k=4, dim=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    # the identical vector (4) shares the query's codes, so its
    # approx distance is the minimum attainable (others may TIE by
    # quantizing to the same codes — then id order decides)
    dist = {r.neighbor_id: r.approx_dist for r in rows}
    assert dist[4] == min(dist.values())
    assert rows[0].approx_dist <= rows[-1].approx_dist


def test_pq_encode_is_deterministic_and_compact(vectors):
    a = {r.neighbor_id: r.codes for r in
         S.pq_encode(vectors, m=2, k=4, dim=4).collect()}
    b = {r.neighbor_id: r.codes for r in
         S.pq_encode(vectors, m=2, k=4, dim=4).collect()}
    assert a == b
    assert all(len(c) == 2 and all(0 <= x < 4 for x in c) for c in a.values())
    assert a[1] == a[4]  # identical vectors share codes


def test_star_cc_handles_long_chains(spark):
    import warnings

    from eggv_spark.operators.dedupe import connected_components_star

    # 40-link chain: diameter 40, far beyond the default 20-round
    # budget of a label propagation; star converges without warning
    # in O(log^2 n) rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any RuntimeWarning -> failure
        labels = {r.node: r.component
                  for r in connected_components_star(chain).collect()}
    assert set(labels.values()) == {0} and len(labels) == 41


def test_ivf_range_search_finds_identical_vector(vectors):
    from eggv_spark.operators.similarity import ivf_range_search

    out = ivf_range_search(
        vectors, vectors.filter("vec_id = 1"), threshold=0.99, dim=4
    ).collect()
    # vector 4 is vector 1's identical twin: same cell, cosine 1.0;
    # self-match is excluded
    ids = {r.neighbor_id for r in out}
    assert 1 not in ids and 4 in ids
    assert all(r.cosine >= 0.99 for r in out)


def test_dedupe_against_index_boilerplate_hot_bucket(spark):
    """Hot-bucket hardening: a corpus where ONE identical boilerplate
    text repeats across many docs puts every copy in the same band
    buckets (the realistic skew at web scale: cookie banners, license
    headers).  A probe of that text must match ALL copies — the
    bucket join fans out O(|bucket|) per probe doc, which is the
    documented cost model — and dup_of stays the smallest corpus id,
    so the answer is deterministic regardless of bucket parallelism."""
    n = 500
    boiler = "this site uses cookies to improve your browsing experience"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(n)]
        + [(n, "a genuinely unique document about distributed joins")],
        "doc_id long, text string",
    )
    index = D.minhash_band_index(corpus)
    shard = spark.createDataFrame(
        [(9000, boiler)], "doc_id long, text string"
    )
    out = D.dedupe_against_index(shard, index).collect()
    assert len(out) == 1
    r = out[0]
    assert r.is_dup and r.dup_of == 0 and r.n_matches == n
    assert r.best_est == 1.0


def test_passage_dedup_strips_cross_doc_duplicates(spark):
    from eggv_spark.operators.dedupe import passage_dedup

    df = spark.createDataFrame(
        [(2, "a b c d a b c d e f g h"), (3, "a b c d q r s t")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in passage_dedup(df, chunk_tokens=4).collect()}
    # "a b c d" occurs 3 times corpus-wide (twice in doc 2, once in
    # doc 3) -> stripped everywhere; unique passages survive in order
    assert out[2].n_chunks == 3 and out[2].n_dup_chunks == 2
    assert out[2].cleaned_text == "e f g h"
    assert out[3].n_chunks == 2 and out[3].n_dup_chunks == 1
    assert out[3].cleaned_text == "q r s t"


def test_sliding_window_dedup_catches_unaligned_runs(spark):
    """The run 'v w x y z' appears at DIFFERENT offsets in docs 1
    and 2 — chunk-aligned passage dedup misses it unless the chunk
    grid happens to line up; the sliding window must strip all 5
    covered positions in both docs and leave the unique doc alone."""
    from eggv_spark.operators.dedupe import sliding_window_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c v w x y z d e"),
            (2, "p q r s v w x y z t"),
            (3, "m n o u few tokens"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in sliding_window_dedup(df, window_tokens=3).collect()
    }
    assert out[1].n_dup_windows == 3 and out[1].n_removed == 5
    assert out[1].cleaned_text == "a b c d e"
    assert out[2].cleaned_text == "p q r s t"
    assert out[3].n_removed == 0
    assert out[3].cleaned_text == "m n o u few tokens"


def test_sliding_window_dedup_within_doc_and_short_docs(spark):
    from eggv_spark.operators.dedupe import sliding_window_dedup

    df = spark.createDataFrame(
        # within-doc repetition counts toward duplication; doc 2 is
        # shorter than the window so nothing can be flagged; doc 3 is
        # empty and must STILL get an output row (one row per doc)
        [(1, "x y z q r x y z s t"), (2, "too short"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in sliding_window_dedup(df, window_tokens=3).collect()
    }
    assert out[1].n_dup_windows == 2  # 'x y z' at offsets 0 and 5
    assert out[1].n_removed == 6
    assert out[1].cleaned_text == "q r s t"
    assert out[2].n_removed == 0 and out[2].cleaned_text == "too short"
    assert out[3].n_tokens == 0 and out[3].cleaned_text == ""


def test_passage_dedup_zipf_head_key_10e4_skew(spark):
    """Zipf-head hardening: one passage duplicated 10^4x across the
    corpus (the boilerplate head key) must neither serialize a
    reducer nor change semantics — every copy is stripped, each doc's
    unique tail survives.  The dup-only frequency table this plan
    joins back has ONE row here; the 10^4 probe rows meet it via
    broadcast or an AQE skew split, never a single-reducer hash join
    on the head key."""
    from eggv_spark.operators.dedupe import passage_dedup

    n = 10_000
    rows = [(i, f"spam spam spam spam uniq{i} a b c") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    out = passage_dedup(df, chunk_tokens=4)
    got = out.filter(F.col("doc_id").isin(0, 1, n - 1)).collect()
    assert len(got) == 3
    for r in got:
        assert r.n_chunks == 2 and r.n_dup_chunks == 1
        assert r.cleaned_text == f"uniq{r.doc_id} a b c"
    assert out.count() == n
    # The dup table really is dup-only: exactly one duplicated hash.
    agg = out.agg(F.sum("n_dup_chunks").alias("s")).collect()[0]
    assert agg.s == n


def test_dup_ngram_fraction_zipf_head_key(spark):
    from eggv_spark.operators.text_analysis import with_dup_ngram_fraction

    n = 1_000
    rows = [(i, f"the same old line uniq{i} x y z") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    out = {r.doc_id: r for r in with_dup_ngram_fraction(df, n=4).collect()}
    assert len(out) == n
    # 5 stride-1 4-gram windows per doc; only "the same old line"
    # repeats corpus-wide (10^3x) — windows containing uniq{i} don't.
    assert out[0].n_windows == 5 and out[0].n_dup_windows == 1
    assert out[0].dup_ngram_frac == 0.2


def test_passage_dedup_all_duplicated_doc_yields_empty_text(spark):
    from eggv_spark.operators.dedupe import passage_dedup

    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in passage_dedup(df, chunk_tokens=4).collect()}
    assert out[1].cleaned_text == "" and out[2].cleaned_text == ""
    assert out[1].n_dup_chunks == 1


def test_minhash_estimate_tracks_exact_jaccard(spark):
    from eggv_spark.operators.dedupe import minhash_jaccard_estimate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words in this document body here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {(r.id_a, r.id_b): r for r in
           minhash_jaccard_estimate(docs, pairs).collect()}
    # identical docs: both estimate and exact are 1.0, error 0
    assert got[(1, 2)].est_jaccard == 1.0
    assert got[(1, 2)].exact_jaccard == 1.0 and got[(1, 2)].abs_err == 0.0
    # disjoint docs: exact 0; the 16-perm estimate stays near 0
    assert got[(1, 3)].exact_jaccard == 0.0
    assert got[(1, 3)].est_jaccard <= 0.25


def test_temperature_weights_flattens_mixture(spark):
    from eggv_spark.operators.text_analysis import temperature_weights

    df = spark.createDataFrame(
        [("big", 900), ("small", 100)], "source string, n_tokens long"
    )
    got = {r.source: r for r in
           temperature_weights(df, "source", "n_tokens", alpha=0.5).collect()}
    assert got["big"].p_natural == 0.9 and got["small"].p_natural == 0.1
    # sqrt(0.9)/(sqrt(0.9)+sqrt(0.1)) = 0.75
    assert got["big"].q_temperature == 0.75
    assert got["small"].q_temperature == 0.25
    # upsample small (weight > 1), downsample big (< 1)
    assert got["small"].sample_weight == 2.5
    assert got["big"].sample_weight < 1


def test_apply_sample_weights_replicates_and_filters(spark):
    from eggv_spark.operators.relational import apply_sample_weights

    docs = spark.createDataFrame(
        [(i, "up" if i < 4 else "down") for i in range(8)],
        "doc_id long, source string",
    )
    weights = spark.createDataFrame(
        [("up", 2.0), ("down", 0.0)], "source string, sample_weight double"
    )
    out = apply_sample_weights(docs, weights).collect()
    # integer weights are exact: every "up" doc exactly twice
    # (copy_idx 1 and 2), every "down" doc dropped
    got = sorted((r.doc_id, r.copy_idx) for r in out)
    assert got == [(i, c) for i in range(4) for c in (1, 2)]
    # fractional weight: copies per doc is floor(w) or floor(w)+1,
    # deterministic across reruns
    frac = spark.createDataFrame(
        [("up", 1.5), ("down", 1.5)], "source string, sample_weight double"
    )
    c1 = sorted((r.doc_id, r.copy_idx) for r in
                apply_sample_weights(docs, frac).collect())
    c2 = sorted((r.doc_id, r.copy_idx) for r in
                apply_sample_weights(docs, frac).collect())
    assert c1 == c2
    per_doc = {d: sum(1 for x, _ in c1 if x == d) for d in range(8)}
    assert all(n in (1, 2) for n in per_doc.values())


def test_with_decayed_sum_hand_computed(spark):
    from eggv_spark.operators.aggregates import with_decayed_sum

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 4.0), (2, 1, 10.0)],
        "k long, seq long, v double",
    )
    out = {(r.k, r.seq): r.decayed_sum for r in with_decayed_sum(
        df, "v", ["k"], ["seq"], decay=0.5, window_size=3).collect()}
    assert out[(1, 1)] == 1.0
    assert out[(1, 2)] == 2.0 + 0.5        # 2 + 0.5*1
    assert out[(1, 3)] == 4.0 + 1.0 + 0.25  # 4 + 0.5*2 + 0.25*1
    assert out[(2, 1)] == 10.0


def test_canonical_keepers_picks_highest_quality_not_min_id(spark):
    from eggv_spark.operators.dedupe import canonical_keepers

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        # cluster {1,2,3}: doc 3 is the longest -> keeper despite max id
        # cluster {10,11}: equal quality -> min id 10 wins
        # doc 99: unpaired -> keeps itself
        [(1, 5), (2, 8), (3, 20), (10, 7), (11, 7), (99, 1)],
        "doc_id long, quality long",
    )
    got = {r.doc_id: r.keeper_id for r in canonical_keepers(
        pairs, docs).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 10: 10, 11: 10, 99: 99}


def test_ann_recall_hand_computed(spark):
    from eggv_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # query 1: found both; query 2: found none of the exact set
        [(1, 10), (1, 11), (2, 99), (2, 98)],
        "query_id long, neighbor_id long",
    )
    got = {r.query_id: (r.n_hits, r.recall_at_2) for r in ann_recall(
        exact, approx, k=2).collect()}
    assert got == {1: (2, 1.0), 2: (0, 0.0)}


def test_operators_handle_empty_input(spark):
    """Zero-row inputs must yield zero-row (not erroring) outputs —
    the guard for empty partitions, filtered-out date ranges, and
    first-run pipelines."""
    from eggv_spark.operators.dedupe import exact_dedupe, passage_dedup
    from eggv_spark.operators.relational import apply_sample_weights
    from eggv_spark.operators.text_analysis import (
        split_sentences,
        with_dup_ngram_fraction,
        with_repetition_stats,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedupe(docs).count() == 0
    assert passage_dedup(docs).count() == 0
    assert split_sentences(docs).count() == 0
    assert with_dup_ngram_fraction(docs).count() == 0
    assert with_repetition_stats(docs).count() == 0
    weights = spark.createDataFrame(
        [], "source string, sample_weight double"
    )
    tagged = spark.createDataFrame([], "doc_id long, source string")
    assert apply_sample_weights(tagged, weights).count() == 0


def test_asof_and_cdc_handle_empty_sides(spark):
    from eggv_spark.operators.rangejoin import asof_join
    from eggv_spark.operators.tableops import cdc_apply

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    empty_right = spark.createDataFrame([], "k long, t long, v string")
    out = asof_join(left, empty_right, ["k"], "t", ["v"]).collect()
    assert len(out) == 1 and out[0].asof_v is None
    current = spark.createDataFrame([(1, "a")], "k long, v string")
    no_changes = spark.createDataFrame(
        [], "k long, v string, op string, seq long"
    )
    got = cdc_apply(current, no_changes, ["k"], "seq").collect()
    assert [(r.k, r.v) for r in got] == [(1, "a")]


def test_ranking_ndcg_hand_computed(spark):
    from eggv_spark.operators.similarity import ranking_ndcg

    # truth grades: item 1 -> 3, item 2 -> 2, item 3 -> 1
    truth = spark.createDataFrame(
        [("q", 1, 3.0), ("q", 2, 2.0), ("q", 3, 1.0)],
        "query_id string, neighbor_id long, rel double",
    )
    # perfect ranking -> ndcg 1; an unknown item contributes zero gain
    perfect = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, neighbor_id long, rank int",
    )
    out = ranking_ndcg(perfect, truth, k=3).collect()[0]
    assert out.ndcg_at_3 == 1.0
    # worst permutation of the same items: hand-computed DCG
    worst = spark.createDataFrame(
        [("q", 3, 1), ("q", 2, 2), ("q", 1, 3)],
        "query_id string, neighbor_id long, rank int",
    )
    import math

    dcg = (2**1 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) + (
        2**3 - 1
    ) / math.log2(4)
    idcg = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) + (
        2**1 - 1
    ) / math.log2(4)
    r = ranking_ndcg(worst, truth, k=3).collect()[0]
    assert r.ndcg_at_3 == pytest.approx(dcg / idcg, abs=1e-6)
    # a ranking of entirely unknown items scores 0
    unknown = spark.createDataFrame(
        [("q", 99, 1), ("q", 98, 2)],
        "query_id string, neighbor_id long, rank int",
    )
    assert ranking_ndcg(unknown, truth, k=3).collect()[0].ndcg_at_3 == 0.0
