"""Staging tests for the tenth round-8 wave: Mann–Whitney rank-sum,
leave-one-out target encoding, propensity-score matching ATT, Monroe
weighted log-odds, and the two-stage MaxSim re-rank.

Each operator gets a numpy/hand replica on planted data; its
sf0.001 oracle check is in tests/test_registry_oracles.py.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# mann_whitney_u
# ---------------------------------------------------------------------------


def _mw_replica(a, b):
    """Tie-corrected normal-approximation replica (no continuity
    correction, matching the operator contract)."""
    allv = np.concatenate([a, b])
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv))
    sorted_v = allv[order]
    i = 0
    pos = 1
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (pos + (pos + j - i - 1)) / 2.0
        pos += j - i
        i = j
    na, nb = len(a), len(b)
    ra = ranks[:na].sum()
    u_a = ra - na * (na + 1) / 2.0
    n = na + nb
    _, counts = np.unique(allv, return_counts=True)
    tie3 = float((counts**3 - counts).sum())
    sigma2 = na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u_a - na * nb / 2.0) / math.sqrt(sigma2)
    return u_a, na * nb - u_a, z


def test_mann_whitney_matches_replica(spark):
    from eggv_spark.operators.aggregates import mann_whitney_u

    rng = np.random.RandomState(7)
    a = np.round(rng.normal(10, 3, 40), 1)  # rounding plants ties
    b = np.round(rng.normal(11, 3, 55), 1)
    rows = [(0, float(v)) for v in a] + [(1, float(v)) for v in b]
    df = spark.createDataFrame(rows, ["arm", "v"])
    got = mann_whitney_u(df, "arm", "v").collect()[0]
    u_a, u_b, z = _mw_replica(a, b)
    assert got["n_a"] == 40 and got["n_b"] == 55
    assert got["u_a"] == pytest.approx(round(u_a, 1))
    assert got["u_b"] == pytest.approx(round(u_b, 1))
    assert got["z_stat"] == pytest.approx(round(z, 4), abs=1e-4)


def test_mann_whitney_excludes_nulls_and_degenerate(spark):
    from eggv_spark.operators.aggregates import mann_whitney_u

    df = spark.createDataFrame(
        [(0, 1.0), (0, None), (None, 5.0), (0, 2.0)],
        "arm int, v double",
    )
    got = mann_whitney_u(df, "arm", "v").collect()[0]
    # arm B empty -> z NULL via try_divide, counts still real
    assert got["n_a"] == 2 and got["n_b"] == 0
    assert got["z_stat"] is None


# ---------------------------------------------------------------------------
# target_encode_loo
# ---------------------------------------------------------------------------


def test_target_encode_loo_formula(spark):
    from eggv_spark.operators.ml import target_encode_loo

    df = spark.createDataFrame(
        [
            (1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
            (4, "b", 100.0),            # singleton -> exactly prior
            (5, None, 50.0),            # NULL category kept
            (6, "a", None),             # NULL target -> inference enc
        ],
        "id long, cat string, y double",
    )
    out = {
        r["id"]: r["encoded"]
        for r in target_encode_loo(
            df, "cat", "y", ("id",), smoothing=2.0
        ).collect()
    }
    prior = (10 + 20 + 30 + 100 + 50) / 5.0
    # id=1: (60 - 10 + 2*prior) / (3 - 1 + 2)
    assert out[1] == pytest.approx(round((60 - 10 + 2 * prior) / 4, 6))
    assert out[4] == pytest.approx(round(prior, 6))  # singleton algebra
    assert out[5] == pytest.approx(round(prior, 6))  # NULL cat singleton
    # NULL target: inference-time posterior over cat 'a'
    assert out[6] == pytest.approx(round((60 + 2 * prior) / (3 + 2), 6))
    assert len(out) == 6  # nothing silently dropped


# ---------------------------------------------------------------------------
# psm_att
# ---------------------------------------------------------------------------


def test_psm_att_known_matching(spark):
    from eggv_spark.operators.ml import psm_att

    # one covariate, constructed so standardized scores order the
    # units predictably; controls bracket each treated unit
    rows = [
        # unit, treat, y, x
        (1, True, 10.0, 1.0),
        (2, False, 4.0, 1.1),   # nearest control to unit 1
        (3, True, 20.0, 5.0),
        (4, False, 12.0, 4.8),  # nearest control to unit 3
        (5, False, 0.0, 9.0),
        (6, True, 30.0, 100.0),  # outside any caliper
    ]
    df = spark.createDataFrame(rows, "u long, t boolean, y double, x double")
    got = psm_att(df, "u", "t", "y", ["x"], caliper=0.05).collect()[0]
    assert got["n_treat"] == 3
    assert got["n_control"] == 3
    # unit 6's propensity is far from every control -> unmatched
    assert got["n_matched"] == 2
    assert got["att"] == pytest.approx(
        round(((10.0 - 4.0) + (20.0 - 12.0)) / 2, 6)
    )


def test_psm_att_raises_on_null_flag(spark):
    from eggv_spark.operators.ml import psm_att

    df = spark.createDataFrame(
        [(1, None, 1.0, 1.0), (2, False, 2.0, 2.0)],
        "u long, t boolean, y double, x double",
    )
    with pytest.raises(Exception, match="psm_att"):
        psm_att(df, "u", "t", "y", ["x"]).collect()


# ---------------------------------------------------------------------------
# log_odds_ratio
# ---------------------------------------------------------------------------


def test_log_odds_z_formula(spark):
    from eggv_spark.operators.text_analysis import log_odds_ratio

    docs = spark.createDataFrame(
        [
            ("en", "alpha alpha beta common common"),
            ("en", "alpha common"),
            ("de", "gamma gamma common common"),
            ("de", "gamma common beta"),
        ],
        "lang string, text string",
    )
    out = log_odds_ratio(
        docs, "lang", "en", alpha0=10.0, top_n=3
    ).collect()
    by_side = {}
    for r in out:
        by_side.setdefault(r["side"], []).append(r)
    # 'alpha' only in A -> most A-distinctive; 'gamma' only in B
    assert by_side["a"][0]["token"] in ("alpha",) or any(
        r["token"] == "alpha" and r["rank"] == 1 for r in by_side["a"]
    )
    assert any(
        r["token"] == "gamma" and r["rank"] == 1 for r in by_side["b"]
    )
    # replica of the z for 'alpha': ya=3, yb=0, na=7, nb=7
    ya, yb, na, nb, a0 = 3.0, 0.0, 7.0, 7.0, 10.0
    al = a0 * (ya + yb) / (na + nb)
    delta = math.log((ya + al) / (na + a0 - ya - al)) - math.log(
        (yb + al) / (nb + a0 - yb - al)
    )
    z = delta / math.sqrt(1 / (ya + al) + 1 / (yb + al))
    alpha_row = [r for r in by_side["a"] if r["token"] == "alpha"][0]
    assert alpha_row["z_score"] == pytest.approx(round(z, 4), abs=1e-4)
    assert alpha_row["count_a"] == 3 and alpha_row["count_b"] == 0


# ---------------------------------------------------------------------------
# maxsim_rerank
# ---------------------------------------------------------------------------


def test_maxsim_identical_doc_ranks_first(spark):
    from eggv_spark.operators.similarity import maxsim_rerank

    # doc 0 is the query (0 % 4 == 0); doc 2 is a verbatim copy, so
    # every query token finds an exact-match cosine of 1.0 there
    docs = spark.createDataFrame(
        [
            (0, "spark shuffle join window"),
            (1, "spark shuffle something else entirely"),
            (2, "spark shuffle join window"),
            (3, "completely different tokens here now"),
        ],
        "doc_id long, text string",
    )
    out = maxsim_rerank(
        docs, every_n=4, n_candidates=3, k=3, rep_tokens=8, dim=16
    ).collect()
    mine = sorted(
        [r for r in out if r["query_id"] == 0], key=lambda r: r["rank"]
    )
    assert mine[0]["neighbor_id"] == 2
    assert mine[0]["maxsim"] == pytest.approx(4.0)  # 4 tokens x cos 1
    assert all(r["maxsim"] <= 4.0 for r in mine)


def test_maxsim_drops_empty_docs(spark):
    from eggv_spark.operators.similarity import maxsim_rerank

    docs = spark.createDataFrame(
        [(0, "real tokens here"), (4, "   "), (1, "real stuff")],
        "doc_id long, text string",
    )
    out = maxsim_rerank(docs, every_n=4, n_candidates=2, k=2).collect()
    # doc 4 is a query id but has no tokens -> absent entirely
    assert all(r["query_id"] != 4 for r in out)
    assert all(r["neighbor_id"] != 4 for r in out)
