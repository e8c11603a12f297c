"""Staging tests for the twentieth round-8 wave: hop-bounded SCC,
Mantel-Haenszel common odds ratio, WOE encoding, streaming CUSUM.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# graph_scc
# ---------------------------------------------------------------------------


def test_scc_cycle_plus_tail(spark):
    from eggv_spark.operators.graph import scc

    # cycle 1->2->3->1 is one SCC; 3->4 tail is a singleton
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src int, dst int"
    )
    out = {r["node"]: (r["bounded_scc_id"], r["bounded_scc_size"])
           for r in scc(edges, max_hops=3).collect()}
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[4] == (4, 1)


def test_scc_two_cycles_one_bridge(spark):
    from eggv_spark.operators.graph import scc

    # two 2-cycles joined by a one-way bridge stay separate SCCs
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], "src int, dst int"
    )
    out = {r["node"]: r["bounded_scc_id"]
           for r in scc(edges, max_hops=4).collect()}
    assert out[1] == out[2] == 1
    assert out[3] == out[4] == 3


# ---------------------------------------------------------------------------
# agg_mh_odds_ratio
# ---------------------------------------------------------------------------


def test_mh_or_is_one_under_independence(spark):
    from eggv_spark.operators.aggregates import mh_odds_ratio

    rows = [
        (s, e, y)
        for s in ("a", "b")
        for e in (True, False)
        for y in (True, False)
    ] * 5
    df = spark.createDataFrame(rows, "k string, e boolean, y boolean")
    r = mh_odds_ratio(df, "k", "e", "y").collect()[0]
    assert r["or_mh"] == 1.0 and r["log_or_mh"] == 0.0


def test_mh_or_single_stratum_equals_plain_or(spark):
    from eggv_spark.operators.aggregates import mh_odds_ratio

    # 2x2: a=8, b=2, c=4, d=6 -> OR = (8*6)/(2*4) = 6
    rows = (
        [("s", True, True)] * 8 + [("s", True, False)] * 2
        + [("s", False, True)] * 4 + [("s", False, False)] * 6
    )
    df = spark.createDataFrame(rows, "k string, e boolean, y boolean")
    r = mh_odds_ratio(df, "k", "e", "y").collect()[0]
    assert r["or_mh"] == 6.0


# ---------------------------------------------------------------------------
# fe_woe_encoding
# ---------------------------------------------------------------------------


def test_woe_signs_follow_event_rates(spark):
    from eggv_spark.operators.aggregates import woe_encoding

    # 'hot' category 90% events, 'cold' 10%
    rows = (
        [("hot", True)] * 9 + [("hot", False)]
        + [("cold", True)] + [("cold", False)] * 9
    )
    df = spark.createDataFrame(rows, "c string, y boolean")
    out = {r["category"]: r for r in woe_encoding(df, "c", "y").collect()}
    assert out["hot"]["woe"] > 0 > out["cold"]["woe"]
    assert out["hot"]["iv"] > 0 and out["cold"]["iv"] > 0
    assert out["hot"]["n_events"] == 9


def test_woe_pure_category_is_finite(spark):
    import math

    from eggv_spark.operators.aggregates import woe_encoding

    rows = [("pure", True)] * 5 + [("mixed", True), ("mixed", False)]
    df = spark.createDataFrame(rows, "c string, y boolean")
    out = {r["category"]: r for r in woe_encoding(df, "c", "y").collect()}
    assert math.isfinite(out["pure"]["woe"])

