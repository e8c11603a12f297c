"""Round-6 staged operators: the library additions prepared for the
round-7 registry window (the registry itself is frozen at 321 through
round 6, so these carry tests now and queries()/oracle_sql() entries
next round): C4 line filters, vocabulary Jensen–Shannon drift,
deterministic epoch shuffle, sample-ratio-mismatch check, and
multiplicative means.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eggv_spark.operators.aggregates import multiplicative_means
from eggv_spark.operators.events import srm_check
from eggv_spark.operators.relational import epoch_shuffle
from eggv_spark.operators.text_analysis import c4_line_filters, vocab_jsd


# ---------------------------------------------------------------------------
# C4 line filters
# ---------------------------------------------------------------------------

def test_c4_keeps_terminal_punctuated_prose(spark):
    doc = "\n".join([
        "This is a proper sentence with enough words.",   # keep
        "Too short.",                                      # < 3 words
        "No terminal punctuation at all here",             # no . ! ? "
        "Click here to enable javascript on this page.",   # marker
        "if (x) { return y; } and some other words too.",  # curly brace
        "Lorem ipsum dolor sit amet, consectetur elit.",   # marker
        "Another good sentence should survive the gate!",  # keep
        'He said "this quoted line also counts fine."',    # keep (quote)
    ])
    out = c4_line_filters(
        spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    ).collect()[0]
    assert out["n_lines"] == 8
    assert out["n_kept"] == 3
    assert out["page_ok"] is True
    kept = out["clean_text"].split("\n")
    assert kept[0].startswith("This is a proper")
    assert kept[1].startswith("Another good")
    assert kept[2].startswith('He said')


def test_c4_page_gate_requires_min_kept_lines(spark):
    doc = "Only one good sentence survives this page today.\nshort."
    out = c4_line_filters(
        spark.createDataFrame([(1, doc)], ["doc_id", "text"]),
        min_kept_lines=3,
    ).collect()[0]
    assert out["n_kept"] == 1 and out["page_ok"] is False


# ---------------------------------------------------------------------------
# vocabulary JSD
# ---------------------------------------------------------------------------

def _jsd_naive(tokens_a, tokens_b):
    from collections import Counter

    ca, cb = Counter(tokens_a), Counter(tokens_b)
    na, nb = sum(ca.values()), sum(cb.values())
    jsd = 0.0
    for tok in set(ca) | set(cb):
        p, q = ca[tok] / na, cb[tok] / nb
        m = (p + q) / 2
        if p > 0:
            jsd += 0.5 * p * math.log(p / m)
        if q > 0:
            jsd += 0.5 * q * math.log(q / m)
    return jsd


def _docs_df(spark, a_texts, b_texts):
    rows = [("a", t) for t in a_texts] + [("b", t) for t in b_texts]
    return spark.createDataFrame(rows, ["source", "text"])


def test_vocab_jsd_identical_slices_zero(spark):
    df = _docs_df(spark, ["x y z x"], ["x y z x"])
    out = vocab_jsd(df, "source", "text", "a", "b").collect()[0]
    assert out["jsd_nats"] == 0.0
    assert out["vocab_union"] == 3


def test_vocab_jsd_disjoint_slices_ln2(spark):
    df = _docs_df(spark, ["p q r"], ["x y z"])
    out = vocab_jsd(df, "source", "text", "a", "b").collect()[0]
    assert abs(out["jsd_nats"] - math.log(2)) <= 1.01e-6
    assert out["jsd_normalized"] == 1.0


def test_vocab_jsd_matches_naive(spark):
    a = ["the cat sat on the mat", "the dog barked"]
    b = ["the cat ran off", "a bird sang the song twice"]
    df = _docs_df(spark, a, b)
    out = vocab_jsd(df, "source", "text", "a", "b").collect()[0]
    toks_a = " ".join(a).split()
    toks_b = " ".join(b).split()
    assert out["n_tokens_a"] == len(toks_a)
    assert out["n_tokens_b"] == len(toks_b)
    assert abs(out["jsd_nats"] - _jsd_naive(toks_a, toks_b)) <= 1.01e-6


def test_vocab_jsd_ignores_other_slices(spark):
    rows = [("a", "x y"), ("b", "x z"), ("c", "poison tokens here")]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = vocab_jsd(df, "source", "text", "a", "b").collect()[0]
    assert out["vocab_union"] == 3  # x, y, z only


# ---------------------------------------------------------------------------
# epoch shuffle
# ---------------------------------------------------------------------------

def test_epoch_shuffle_is_deterministic_and_balanced(spark):
    df = spark.range(0, 400).withColumnRenamed("id", "k")
    out1 = epoch_shuffle(df, ["k"], epoch=1, n_shards=4)
    out2 = epoch_shuffle(df.repartition(7), ["k"], epoch=1, n_shards=4)
    rows1 = {r["k"]: (r["shard"], r["shard_pos"]) for r in out1.collect()}
    rows2 = {r["k"]: (r["shard"], r["shard_pos"]) for r in out2.collect()}
    assert rows1 == rows2  # partition-invariant
    # every (shard, pos) pair unique; positions contiguous from 1
    per_shard = {}
    for shard, pos in rows1.values():
        per_shard.setdefault(shard, []).append(pos)
    assert set(per_shard) == {0, 1, 2, 3}
    for positions in per_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
        # hash balance: no shard dominates (400 rows, 4 shards)
        assert 50 <= len(positions) <= 150


def test_epoch_shuffle_epochs_differ(spark):
    df = spark.range(0, 200).withColumnRenamed("id", "k")
    e1 = {r["k"]: (r["shard"], r["shard_pos"])
          for r in epoch_shuffle(df, ["k"], 1, 4).collect()}
    e2 = {r["k"]: (r["shard"], r["shard_pos"])
          for r in epoch_shuffle(df, ["k"], 2, 4).collect()}
    assert e1 != e2  # a different epoch is a different permutation
    assert set(e1) == set(e2)  # ... of the same rows


# ---------------------------------------------------------------------------
# SRM check
# ---------------------------------------------------------------------------

def test_srm_check_exact_split_zero_chi2(spark):
    rows = [("A", f"u{i}") for i in range(50)] + [
        ("B", f"v{i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["variant", "unit"])
    out = srm_check(df, "variant", "unit", {"A": 0.5, "B": 0.5}).collect()[0]
    assert out["k"] == 2 and out["n_units"] == 100
    assert out["srm_chi2"] == 0.0 and out["dof"] == 1


def test_srm_check_matches_naive_chi2_and_dedups_units(spark):
    # 70/30 observed vs 50/50 expected; duplicate unit rows must not
    # inflate the counts
    rows = [("A", f"u{i}") for i in range(70)] * 2 + [
        ("B", f"v{i}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["variant", "unit"])
    out = srm_check(df, "variant", "unit", {"A": 0.5, "B": 0.5}).collect()[0]
    assert out["n_units"] == 100
    exp = (70 - 50) ** 2 / 50 + (30 - 50) ** 2 / 50
    assert abs(out["srm_chi2"] - exp) <= 1.01e-4


# ---------------------------------------------------------------------------
# multiplicative means
# ---------------------------------------------------------------------------

def test_multiplicative_means_match_naive(spark):
    vals = [1.0, 2.0, 4.0, 8.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
    out = multiplicative_means(df, ["g"], "v").collect()[0]
    g = math.exp(sum(math.log(v) for v in vals) / len(vals))
    h = len(vals) / sum(1 / v for v in vals)
    assert out["n"] == 4 and out["n_positive"] == 4
    assert abs(out["gmean"] - g) <= 1.01e-6
    assert abs(out["hmean"] - h) <= 1.01e-6
    assert out["mean"] == pytest.approx(3.75)


def test_multiplicative_means_exclude_nonpositive(spark):
    df = spark.createDataFrame(
        [("g", -3.0), ("g", 0.0), ("g", 9.0), ("g", 4.0)], ["g", "v"]
    )
    out = multiplicative_means(df, ["g"], "v").collect()[0]
    assert out["n"] == 4 and out["n_positive"] == 2
    assert abs(out["gmean"] - 6.0) <= 1.01e-6  # sqrt(36)
    assert abs(out["hmean"] - 2 / (1 / 9 + 1 / 4)) <= 1.01e-6


def test_multiplicative_means_all_nonpositive_null(spark):
    df = spark.createDataFrame([("g", 0.0), ("g", -1.0)], ["g", "v"])
    out = multiplicative_means(df, ["g"], "v").collect()[0]
    assert out["n_positive"] == 0
    assert out["gmean"] is None and out["hmean"] is None


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

def _naive_bpe(word_freqs, n_merges):
    """Reference BPE: greedy left-to-right merge application, most
    frequent pair first, ties by (a, b) string order."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    table = []
    for step in range(1, n_merges + 1):
        counts = {}
        for syms, f in words.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        table.append((step, best[0], best[1], best[0] + best[1],
                      counts[best]))
        merged = {}
        for syms, f in words.items():
            out = []
            for s in syms:
                if out and out[-1] == best[0] and s == best[1]:
                    out[-1] = best[0] + best[1]
                else:
                    out.append(s)
            merged[tuple(out)] = merged.get(tuple(out), 0) + f
        words = merged
    return table


def test_bpe_merges_match_naive_reference(spark):
    from eggv_spark.operators.text_analysis import bpe_train_merges

    corpus = ["low lower lowest low low", "newer newest new low wider"]
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    got = [
        (r["step"], r["pair_a"], r["pair_b"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(df, n_merges=5)
        .orderBy("step").collect()
    ]
    freqs = {}
    for t in corpus:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    assert got == _naive_bpe(freqs, 5)


def test_bpe_greedy_overlap_semantics(spark):
    from eggv_spark.operators.text_analysis import bpe_train_merges

    # 'aaaa' with best pair (a,a): greedy left-to-right yields
    # [aa, aa], so step 2's best pair is (aa, aa)
    df = spark.createDataFrame([("aaaa aaaa",)], ["text"])
    got = [
        (r["step"], r["pair_a"], r["pair_b"], r["pair_count"])
        for r in bpe_train_merges(df, n_merges=2)
        .orderBy("step").collect()
    ]
    assert got[0] == (1, "a", "a", 6)  # 3 adjacent pairs x 2 words
    assert got[1] == (2, "aa", "aa", 2)


# ---------------------------------------------------------------------------
# embedding drift
# ---------------------------------------------------------------------------

def test_embedding_drift_identical_slices(spark):
    from eggv_spark.operators.similarity import embedding_drift

    rows = [("a", [1.0, 0.0, 2.0]), ("a", [3.0, 2.0, 0.0]),
            ("b", [1.0, 0.0, 2.0]), ("b", [3.0, 2.0, 0.0])]
    df = spark.createDataFrame(rows, ["slice", "vec"])
    out = embedding_drift(df, "slice", "vec", "a", "b").collect()[0]
    assert out["n_a"] == 2 and out["n_b"] == 2 and out["dims"] == 3
    assert out["centroid_cosine"] == 1.0
    assert out["centroid_l2"] == 0.0


def test_embedding_drift_orthogonal_centroids(spark):
    from eggv_spark.operators.similarity import embedding_drift

    rows = [("a", [2.0, 0.0]), ("b", [0.0, 3.0])]
    df = spark.createDataFrame(rows, ["slice", "vec"])
    out = embedding_drift(df, "slice", "vec", "a", "b").collect()[0]
    assert out["centroid_cosine"] == 0.0
    assert abs(out["centroid_l2"] - (4 + 9) ** 0.5) <= 1.01e-6


def test_embedding_drift_matches_naive_centroids(spark):
    import numpy as np

    from eggv_spark.operators.similarity import embedding_drift

    rng = [[float(i * j % 7 - 3) for j in range(1, 5)] for i in range(9)]
    rows = [("a" if i % 2 else "b", v) for i, v in enumerate(rng)]
    df = spark.createDataFrame(rows, ["slice", "vec"])
    out = embedding_drift(df, "slice", "vec", "a", "b").collect()[0]
    ca = np.mean([v for s, v in rows if s == "a"], axis=0)
    cb = np.mean([v for s, v in rows if s == "b"], axis=0)
    cos = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
    assert abs(out["centroid_cosine"] - cos) <= 1.01e-6
    assert abs(out["centroid_l2"] - float(np.linalg.norm(ca - cb))) <= 1.01e-6


# ---------------------------------------------------------------------------
# join cardinality estimate
# ---------------------------------------------------------------------------

def test_join_cardinality_matches_actual_join(spark):
    from eggv_spark.operators.tableops import join_cardinality_estimate

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 7]], ["k"]
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 4, 4, 4]], ["j"]
    )
    out = join_cardinality_estimate(left, right, "k", "j").collect()
    total = next(r for r in out if r["rank"] == 0)
    actual = left.join(right, left.k == right.j).count()
    assert total["est_rows"] == actual == 3 * 2 + 2 * 1
    assert total["n_matched_keys"] == 2           # keys 1 and 2
    assert total["n_left_only_keys"] == 2         # keys 3 and 7
    assert total["n_right_only_keys"] == 1        # key 4
    heavy = {r["rank"]: (r["key"], r["est_rows"]) for r in out if r["rank"]}
    assert heavy[1] == ("1", 6) and heavy[2] == ("2", 2)


def test_join_cardinality_no_matches(spark):
    from eggv_spark.operators.tableops import join_cardinality_estimate

    left = spark.createDataFrame([(1,), (2,)], ["k"])
    right = spark.createDataFrame([(3,)], ["j"])
    out = join_cardinality_estimate(left, right, "k", "j").collect()
    assert len(out) == 1  # only the total row, no heavy keys
    total = out[0]
    assert total["est_rows"] == 0 and total["n_matched_keys"] == 0
    assert total["n_left_only_keys"] == 2
    assert total["n_right_only_keys"] == 1


# ---------------------------------------------------------------------------
# prefix-dimension (Matryoshka) recall
# ---------------------------------------------------------------------------

def test_prefix_dim_recall_full_prefix_is_perfect(spark):
    from eggv_spark.operators.similarity import prefix_dim_recall

    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["dims"]: r for r in prefix_dim_recall(
            df, dims_list=[8, 2], k=3, n_queries=5
        ).collect()
    }
    assert out[8]["mean_recall"] == 1.0  # full prefix == exact
    assert out[8]["n_queries"] == 5
    assert 0.0 <= out[2]["mean_recall"] <= 1.0


def test_prefix_dim_recall_matches_naive(spark):
    import numpy as np

    from eggv_spark.operators.similarity import prefix_dim_recall

    rng = np.random.RandomState(3)
    vecs = rng.randn(25, 6).round(3)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    k, nq, d = 4, 6, 3
    out = {
        r["dims"]: r["mean_recall"]
        for r in prefix_dim_recall(
            df, dims_list=[d], k=k, n_queries=nq
        ).collect()
    }

    def topk(matrix, qi, dims):
        m = matrix[:, :dims]
        q = m[qi]
        sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
        order = [
            i for i in np.lexsort((np.arange(len(m)), -sims)) if i != qi
        ]
        return set(order[:k])

    recalls = [
        len(topk(vecs, qi, 6) & topk(vecs, qi, d)) / k for qi in range(nq)
    ]
    assert abs(out[d] - round(sum(recalls) / nq, 4)) <= 1.01e-4


# ---------------------------------------------------------------------------
# label chi2 terms
# ---------------------------------------------------------------------------

def test_label_chi2_surfaces_class_marker(spark):
    from eggv_spark.operators.text_analysis import label_chi2_terms

    rows = (
        [("sa", f"alpha common{i % 2} text") for i in range(6)]
        + [("sb", f"beta common{i % 2} text") for i in range(6)]
    )
    df = spark.createDataFrame(rows, ["source", "text"])
    out = label_chi2_terms(df, top_n=1, min_doc_freq=2).collect()
    top = {r["source"]: r["term"] for r in out}
    # the class-exclusive marker dominates; corpus-wide terms score 0
    assert top == {"sa": "alpha", "sb": "beta"}
    for r in out:
        assert r["label_doc_freq"] == 6 and r["corpus_doc_freq"] == 6
        assert r["chi2"] == 12.0  # perfect 2x2 separation: chi2 = n


def test_label_chi2_matches_naive(spark):
    from eggv_spark.operators.text_analysis import label_chi2_terms

    rows = [
        ("sa", "x y z"), ("sa", "x y"), ("sa", "x q"),
        ("sb", "y z q"), ("sb", "z q"), ("sb", "x z"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {
        (r["source"], r["term"]): r["chi2"]
        for r in label_chi2_terms(df, top_n=10, min_doc_freq=1).collect()
    }
    docs = [(s, set(t.split())) for s, t in rows]
    n = len(docs)
    terms = sorted({w for _, ws in docs for w in ws})
    for lbl in ("sa", "sb"):
        nl = sum(1 for s, _ in docs if s == lbl)
        for t in terms:
            dt = sum(1 for _, ws in docs if t in ws)
            a = sum(1 for s, ws in docs if s == lbl and t in ws)
            b, c = dt - a, nl - a
            d = n - a - b - c
            denom = (a + b) * (c + d) * (a + c) * (b + d)
            if denom == 0:
                exp = None
            else:
                exp = n * (a * d - b * c) ** 2 / denom
            key = (lbl, t)
            if exp is None:
                assert got.get(key) is None or key not in got
            else:
                assert abs(got[key] - exp) <= 1.01e-4


# ---------------------------------------------------------------------------
# uplift by segment
# ---------------------------------------------------------------------------

def test_uplift_by_segment_matches_naive(spark):
    from eggv_spark.operators.events import uplift_by_segment

    # segment s1: B helps (3/4 vs 1/4); segment s2: B hurts (1/4 vs 3/4)
    rows = []
    for i in range(4):
        rows.append(("s1", f"a{i}", "A", 1 if i < 1 else 0))
        rows.append(("s1", f"b{i}", "B", 1 if i < 3 else 0))
        rows.append(("s2", f"c{i}", "A", 1 if i < 3 else 0))
        rows.append(("s2", f"d{i}", "B", 1 if i < 1 else 0))
    df = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    out = {
        r["seg"]: r for r in uplift_by_segment(
            df, "unit", "variant", "converted", "seg"
        ).collect()
    }
    assert out["s1"]["lift"] == 0.5 and out["s2"]["lift"] == -0.5
    assert out["__ALL__"]["n_a"] == 8 and out["__ALL__"]["n_b"] == 8
    assert out["__ALL__"]["lift"] == 0.0  # opposing segments cancel
    # z for s1: p_pool=0.5, se=sqrt(.25*(1/4+1/4))=~0.35355
    import math
    se = math.sqrt(0.5 * 0.5 * (0.25 + 0.25))
    assert abs(out["s1"]["z_stat"] - 0.5 / se) <= 1.01e-4


def test_uplift_dedups_repeated_unit_events(spark):
    from eggv_spark.operators.events import uplift_by_segment

    rows = [
        ("s", "u1", "A", 0), ("s", "u1", "A", 1),  # one unit, converts
        ("s", "u2", "B", 0), ("s", "u2", "B", 0),
    ]
    df = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    out = {
        r["seg"]: r for r in uplift_by_segment(
            df, "unit", "variant", "converted", "seg"
        ).collect()
    }
    assert out["s"]["n_a"] == 1 and out["s"]["n_b"] == 1
    assert out["s"]["rate_a"] == 1.0 and out["s"]["rate_b"] == 0.0


# ---------------------------------------------------------------------------
# schema drift audit
# ---------------------------------------------------------------------------

def test_schema_drift_flags_added_dropped_and_null_jump(spark):
    from eggv_spark.operators.tableops import schema_drift_audit

    old = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, None, 3.0), (4, "z", 4.0)],
        ["id", "name", "legacy"],
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, None, "c"), (4, "z", "d")],
        ["id", "name", "extra"],
    )
    out = {r["column"]: r for r in schema_drift_audit(old, new).collect()}
    assert out["legacy"]["in_old"] and not out["legacy"]["in_new"]
    assert out["extra"]["in_new"] and not out["extra"]["in_old"]
    assert out["name"]["null_rate_old"] == 0.25
    assert out["name"]["null_rate_new"] == 0.75
    assert out["name"]["null_rate_drift"] == 0.5
    assert out["id"]["n_distinct_old"] == 4 and out["id"]["n_distinct_new"] == 4
    assert out["legacy"]["null_rate_drift"] is None  # one-sided column


# ---------------------------------------------------------------------------
# round-7 ADVICE guards (loud failure + null-key correctness)
# ---------------------------------------------------------------------------

def test_srm_raises_on_undeclared_variant(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from eggv_spark.operators.events import srm_check

    rows = [("A", "u1"), ("B", "u2"), ("ROGUE", "u3")]
    df = spark.createDataFrame(rows, ["variant", "unit"])
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        srm_check(df, "variant", "unit", {"A": 0.5, "B": 0.5}).collect()
    assert "ROGUE" in str(ei.value)


def test_srm_declared_but_unobserved_variant_is_fine(spark):
    from eggv_spark.operators.events import srm_check

    rows = [("A", "u1"), ("A", "u2"), ("B", "u3")]
    df = spark.createDataFrame(rows, ["variant", "unit"])
    row = srm_check(
        df, "variant", "unit", {"A": 0.4, "B": 0.4, "C": 0.2}
    ).collect()[0]
    assert row["k"] == 2 and row["n_units"] == 3  # C has no observed rows


def test_uplift_raises_on_foreign_variant_label(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from eggv_spark.operators.events import uplift_by_segment

    rows = [("s", "u1", "A", 1), ("s", "u2", "B", 0),
            ("s", "u3", "control", 1)]
    df = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        uplift_by_segment(df, "unit", "variant", "converted", "seg").collect()


def test_uplift_custom_variant_labels(spark):
    from eggv_spark.operators.events import uplift_by_segment

    rows = [("s", "u1", "control", 0), ("s", "u2", "control", 1),
            ("s", "u3", "treatment", 1), ("s", "u4", "treatment", 1)]
    df = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    out = {
        r["seg"]: r for r in uplift_by_segment(
            df, "unit", "variant", "converted", "seg",
            variant_a="control", variant_b="treatment",
        ).collect()
    }
    assert out["s"]["rate_a"] == 0.5 and out["s"]["rate_b"] == 1.0
    assert out["__ALL__"]["lift"] == 0.5


def test_uplift_null_variant_label_is_foreign(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from eggv_spark.operators.events import uplift_by_segment

    rows = [("s", "u1", "A", 1), ("s", "u2", None, 0)]
    df = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        uplift_by_segment(df, "unit", "variant", "converted", "seg").collect()


def test_graded_sketch_aggs_keep_null_key_groups(spark):
    from eggv_spark.operators import aggregates as AG

    rows = [("g1", 1.0), ("g1", 2.0), (None, 5.0), (None, 7.0),
            ("g2", None), ("g2", None)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in
           AG.approx_aggregates_graded(df, ["g"], "v").collect()}
    # NULL-key group survives the twin join (eqNullSafe)
    assert None in out and out[None]["n_distinct_exact"] == 2
    # all-NULL value group: exact=0, booleans TRUE (not NULL)
    g2 = out["g2"]
    assert g2["n_distinct_exact"] == 0
    assert g2["distinct_ok"] is True
    assert g2["p50_ok"] is True and g2["p90_ok"] is True
    # normal group: distinct twin exact, booleans TOTAL (never NULL —
    # tiny-group percentile interpolation can legitimately be False)
    assert out["g1"]["n_distinct_exact"] == 2
    assert out["g1"]["distinct_ok"] is True
    assert out["g1"]["p50_ok"] is not None and out["g1"]["p90_ok"] is not None


def test_hll_rollup_registry_handles_null_source(spark, tmp_path):
    from eggv_spark.registry.aggregates import _agg_hll_rollup

    docs = spark.createDataFrame(
        [(1, "alpha", "a"), (2, "beta", "a"), (3, "gamma", None),
         (4, "delta", None), (5, "alpha", "b")],
        ["doc_id", "text", "source"],
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in
           _agg_hll_rollup(spark, str(tmp_path)).collect()}
    assert out[None]["n_distinct_exact"] == 2  # NULL group retained
    assert out["__ALL__"]["n_distinct_exact"] == 4
    assert all(r["est_ok"] for r in out.values())


# ---------------------------------------------------------------------------
# ddp_containment frequent-bucket ceiling (round-7 verdict item 3)
# ---------------------------------------------------------------------------

def test_containment_cap_is_output_neutral_and_live(spark):
    """The registry query runs containment_pairs with
    max_block_size=64.  Prove (a) the cap is LIVE — the capped plan
    carries the block-count semi-join the uncapped plan lacks — and
    (b) it is output-neutral at sf0.01 (the largest observed block is
    8 members there, 26 at sf0.1, both far under 64)."""
    from eggv_spark.registry._shared import _t
    from eggv_spark.registry.dedupe import _ddp_containment
    from pyspark.sql import functions as F
    from eggv_spark.operators import dedupe as D, text_analysis as T

    sf = "/root/testdata/sf0.01"
    capped = _ddp_containment(spark, sf)
    # (a) live: the frequent-bucket ceiling adds a count-per-block
    # aggregate + semi-join before candidate generation
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    toks = T.tokens_col("text")
    half = F.greatest(F.floor(F.size(toks) / 2).cast("int"), F.lit(1))
    truncated = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("text"),
        )
    )
    alldocs = docs.unionByName(truncated)
    uncapped = D.containment_pairs(alldocs, "doc_id", "text", threshold=0.8)
    got = sorted(tuple(r) for r in capped.collect())
    exp = sorted(
        tuple(r) for r in uncapped.select(
            "id_a", "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            "containment",
        ).collect()
    )
    assert got == exp and len(got) > 0


def test_schema_drift_approximate_single_pass(spark):
    """approximate=True must avoid the distinct-rewrite Expand and
    still land within HLL tolerance of the exact counts."""
    from eggv_spark.operators.tableops import schema_drift_audit

    old = spark.range(0, 500).selectExpr(
        "id", "CAST(id % 37 AS STRING) AS name", "id * 1.5 AS legacy"
    )
    new = spark.range(0, 500).selectExpr(
        "id", "CAST(id % 41 AS STRING) AS name", "CAST(id AS STRING) AS extra"
    )
    exact = {r["column"]: r for r in schema_drift_audit(old, new).collect()}
    approx_df = schema_drift_audit(old, new, approximate=True)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # no distinct-rewrite inflation
    approx = {r["column"]: r for r in approx_df.collect()}
    for col, ex in exact.items():
        ap = approx[col]
        assert ap["null_rate_old"] == ex["null_rate_old"]  # exact path
        for side in ("n_distinct_old", "n_distinct_new"):
            if ex[side] is None:
                assert ap[side] is None
            else:
                assert abs(ap[side] - ex[side]) <= max(3, 0.05 * ex[side])
