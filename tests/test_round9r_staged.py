"""Staging tests for the nineteenth round-8 wave: LSH band stats,
G-test, SMD balance, Wilson CI, seasonal-naive backtest.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# ddp_lsh_band_stats
# ---------------------------------------------------------------------------


def test_band_stats_pair_load_matches_candidates(spark):
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from eggv_spark.operators import dedupe as D

    stats = E._ddp_lsh_band_stats(spark, SF_DIR).collect()
    assert len(stats) == len(D.MINHASH_A) // D.MINHASH_ROWS
    # the arithmetic pair load must upper-bound the DISTINCT
    # candidate pairs the join actually produces
    docs = E._docs_with_dups(spark, SF_DIR)
    signed = D.with_minhash_signature(D.with_shingle_hashes(docs))
    n_pairs = D.lsh_candidate_pairs(signed).count()
    load = sum(r["candidate_pairs"] for r in stats)
    assert load >= n_pairs > 0
    # every planted verbatim copy shares every bucket with its
    # original: max bucket >= 2 on every band
    assert all(r["max_bucket_size"] >= 2 for r in stats)


# ---------------------------------------------------------------------------
# agg_g_test
# ---------------------------------------------------------------------------


def test_g_test_independence_is_zero(spark):
    from eggv_spark.operators.aggregates import g_test

    rows = [(r, c) for r in "ab" for c in "xy"] * 10
    df = spark.createDataFrame(rows, "r string, c string")
    out = g_test(df, "r", "c").collect()[0]
    assert out["g_stat"] == 0.0
    assert out["dof"] == 1 and out["n"] == 40


def test_g_test_perfect_dependence(spark):
    import math

    from eggv_spark.operators.aggregates import g_test

    rows = [("a", "x")] * 10 + [("b", "y")] * 10
    df = spark.createDataFrame(rows, "r string, c string")
    out = g_test(df, "r", "c").collect()[0]
    # G = 2 * N * MI(nats); perfect 50/50 dependence -> MI = ln 2
    assert out["g_stat"] == pytest.approx(2 * 20 * math.log(2), abs=1e-4)


# ---------------------------------------------------------------------------
# agg_smd_balance
# ---------------------------------------------------------------------------


def test_smd_detects_imbalance(spark):
    from eggv_spark.operators.aggregates import smd_balance

    # cov 'u' shifted by +100 in treated; cov 'v' identical
    rows = [(True, 100 + i, i) for i in range(50)] + [
        (False, i, i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "t boolean, u bigint, v bigint")
    out = {
        r["covariate"]: r for r in smd_balance(df, "t", ["u", "v"]).collect()
    }
    assert out["u"]["smd"] > 5  # huge imbalance
    assert out["v"]["smd"] == 0.0
    assert out["u"]["n_treated"] == 50 and out["u"]["n_control"] == 50


# ---------------------------------------------------------------------------
# agg_wilson_ci
# ---------------------------------------------------------------------------


def test_wilson_boundary_behavior(spark):
    from eggv_spark.operators.aggregates import wilson_ci

    df = spark.createDataFrame(
        [("all", 1)] * 10 + [("none", 0)] * 10, "g string, y int"
    )
    out = {r["group"]: r for r in wilson_ci(df, "g", "y").collect()}
    # Wald collapses to zero width at p=0/1; Wilson must not
    assert out["all"]["p_hat"] == 1.0
    assert out["all"]["ci_low"] < 1.0
    assert out["none"]["ci_high"] > 0.0
    assert 0.0 <= out["none"]["ci_low"] <= out["none"]["ci_high"] <= 1.0


# ---------------------------------------------------------------------------
# evt_seasonal_naive_error
# ---------------------------------------------------------------------------


def test_seasonal_naive_hand_series(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import seasonal_naive_error

    # 10 days, value = day index (cents = 100*i); pred(t) = x(t-7)
    rows = [
        (f"2024-01-{i + 1:02d} 00:00:00", float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    out = seasonal_naive_error(df).collect()[0]
    assert out["n_days"] == 10 and out["n_scored"] == 3
    # errors: |700-0|, |800-100|, |900-200| = 700 cents each
    assert out["total_abs_err_cents"] == 2100
    assert out["mae"] == 7.0
