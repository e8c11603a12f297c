"""Staging tests for the eleventh round-8 wave: greedy k-center
coreset, TextRank keywords, Bloom-filter sizing audit, Wald SPRT,
and IPS/SNIPS off-policy evaluation.

Numpy/hand replicas on planted data; the sf0.001 oracle checks are
in tests/test_registry_oracles.py.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# kcenter_coreset
# ---------------------------------------------------------------------------


def test_kcenter_greedy_replica(spark):
    from eggv_spark.operators.similarity import kcenter_coreset

    rng = np.random.RandomState(3)
    # three well-separated clusters -> the first three centers must
    # land in three DIFFERENT clusters (the k-center guarantee)
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    pts = np.vstack([
        c + rng.normal(0, 0.2, (8, 2)) for c in centers
    ])
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kcenter_coreset(df, k=3, dim=2).collect()
    by_step = {r["step"]: r for r in sorted(out, key=lambda r: r["step"])}
    assert by_step[1]["center_id"] == 0  # smallest id seeds
    chosen_clusters = {by_step[s]["center_id"] // 8 for s in (1, 2, 3)}
    assert chosen_clusters == {0, 1, 2}
    # coverage radius is non-increasing (the self-audit invariant)
    radii = [by_step[s]["coverage_radius"] for s in (1, 2, 3)]
    assert radii[0] >= radii[1] >= radii[2]
    # after one center per cluster, radius ~ intra-cluster spread
    assert radii[2] < 5.0


# ---------------------------------------------------------------------------
# textrank_keywords
# ---------------------------------------------------------------------------


def test_textrank_hub_word_wins(spark):
    from eggv_spark.operators.text_analysis import textrank_keywords

    # 'core' co-occurs with every other word; sinks only with 'core'
    docs = spark.createDataFrame(
        [
            ("core alpha core beta core gamma",),
            ("delta core epsilon core",),
        ],
        ["text"],
    )
    out = textrank_keywords(docs, top_n=10, iterations=5).collect()
    ranked = sorted(out, key=lambda r: r["position"])
    assert ranked[0]["token"] == "core"
    # ranks are a probability distribution over the word graph
    assert abs(sum(r["rank_score"] for r in out) - 1.0) < 0.01


def test_textrank_drops_stopwords(spark):
    from eggv_spark.operators.text_analysis import textrank_keywords

    docs = spark.createDataFrame(
        [("the cat and the hat on the mat",)], ["text"]
    )
    toks = {r["token"] for r in textrank_keywords(docs, top_n=10).collect()}
    assert "the" not in toks and "and" not in toks and "on" not in toks
    assert {"cat", "hat", "mat"} <= toks


# ---------------------------------------------------------------------------
# bloom_filter_audit
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    from eggv_spark.operators.tableops import bloom_filter_audit

    build = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    probe = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    got = bloom_filter_audit(build, probe, "k", "k",
                             m_bits=4096, n_hashes=3).collect()[0]
    # Bloom filters never miss a member
    assert got["n_true_positive"] == 50
    assert got["n_build_keys"] == 50
    assert got["n_probe_keys"] == 200
    assert got["n_bloom_positive"] == 50 + got["n_false_positive"]
    # k hashes x n keys, minus collisions
    assert got["bits_set"] <= 150
    assert 0.0 <= got["fp_rate"] <= 0.05  # 150/4096 fill -> tiny fp
    assert got["expected_fp_rate"] == pytest.approx(
        round((got["bits_set"] / 4096.0) ** 3, 6)
    )


# ---------------------------------------------------------------------------
# sprt_test
# ---------------------------------------------------------------------------


def test_sprt_crosses_h1_on_strong_signal(spark):
    from eggv_spark.operators.events import sprt_test

    # 60% conversions vs H0 p=0.2 / H1 p=0.4 -> must accept H1 early
    rows = [("a", i % 10 < 6, i, i) for i in range(200)]
    df = spark.createDataFrame(rows, "arm string, x boolean, t long, id long")
    got = sprt_test(df, "arm", "x", ["t", "id"],
                    p0=0.2, p1=0.4).collect()[0]
    assert got["decision"] == "accept_h1"
    assert got["n_at_decision"] < 100
    # replica of the crossing index
    la, lb = math.log(0.4 / 0.2), math.log(0.6 / 0.8)
    bound_a = math.log((1 - 0.2) / 0.05)
    llr, t_dec = 0.0, None
    for i in range(200):
        llr += la if (i % 10 < 6) else lb
        if llr >= bound_a:
            t_dec = i + 1
            break
    assert got["n_at_decision"] == t_dec
    assert got["boundary_h1"] == pytest.approx(round(bound_a, 6))


def test_sprt_continues_on_null_drift(spark):
    from eggv_spark.operators.events import sprt_test

    # exactly the H0 rate with a tight indifference zone and few
    # observations -> no boundary crossing
    rows = [("a", i % 5 == 0, i, i) for i in range(20)]
    df = spark.createDataFrame(rows, "arm string, x boolean, t long, id long")
    got = sprt_test(df, "arm", "x", ["t", "id"],
                    p0=0.2, p1=0.25).collect()[0]
    assert got["decision"] == "continue"
    assert got["n_at_decision"] is None
    assert got["n_total"] == 20 and got["conversions"] == 4


# ---------------------------------------------------------------------------
# ips_policy_value
# ---------------------------------------------------------------------------


def test_ips_formulas(spark):
    from eggv_spark.operators.events import ips_policy_value

    rows = [
        ("buy", 10.0, 0.5, "buy"),    # w = 2
        ("buy", 20.0, 0.25, "buy"),   # w = 4
        ("skip", 5.0, 0.5, "buy"),    # w = 0
        ("skip", 7.0, 0.5, "skip"),   # w = 2
    ]
    df = spark.createDataFrame(
        rows, "a string, r double, p double, tgt string"
    )
    got = ips_policy_value(df, "a", "r", "p", "tgt", clip=3.0).collect()[0]
    w = [2.0, 4.0, 0.0, 2.0]
    r = [10.0, 20.0, 5.0, 7.0]
    wr = sum(wi * ri for wi, ri in zip(w, r))
    assert got["n"] == 4 and got["n_matched"] == 3
    assert got["ips_value"] == pytest.approx(round(wr / 4, 6))
    assert got["snips_value"] == pytest.approx(round(wr / sum(w), 6))
    cwr = sum(min(wi, 3.0) * ri for wi, ri in zip(w, r))
    assert got["clipped_ips"] == pytest.approx(round(cwr / 4, 6))
    ess = sum(w) ** 2 / sum(wi * wi for wi in w)
    assert got["ess"] == pytest.approx(round(ess, 2))


def test_ips_raises_on_bad_propensity(spark):
    from eggv_spark.operators.events import ips_policy_value

    df = spark.createDataFrame(
        [("a", 1.0, 0.0, "a")], "a string, r double, p double, tgt string"
    )
    with pytest.raises(Exception, match="ips_policy_value"):
        ips_policy_value(df, "a", "r", "p", "tgt").collect()
