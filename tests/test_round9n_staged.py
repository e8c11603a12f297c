"""Staging tests for the fifteenth round-8 wave: integer-exact batch
perceptron, Kendall tau-b, CUSUM drift chart, hop-limited harmonic
centrality, and the vacuum-planning audit (their sf0.001 oracle
checks are in tests/test_registry_oracles.py).
"""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# perceptron_fit
# ---------------------------------------------------------------------------


def test_perceptron_learns_separable_data(spark):
    from eggv_spark.operators.ml import perceptron_fit

    # y = sign(x1): trivially separable; 3 epochs must beat chance
    rows = [([i, -i % 7], 1 if i >= 0 else -1)
            for i in range(-50, 50)]
    df = spark.createDataFrame(rows, "x array<bigint>, y bigint")
    out = perceptron_fit(df, "x", "y", n_epochs=3, dim=2).collect()[0]
    assert out["n"] == 100
    assert out["accuracy"] > 0.9
    assert out["errors"] == int(round((1 - out["accuracy"]) * 100))


def test_perceptron_zero_misclassified_epoch_is_fixed_point(spark):
    from eggv_spark.operators.ml import perceptron_fit

    # already-separated data with a margin: epoch 2+ must be a no-op,
    # not a crash on an empty delta frame
    rows = [([10], 1), ([-10], -1), ([20], 1), ([-20], -1)]
    df = spark.createDataFrame(rows, "x array<bigint>, y bigint")
    out = perceptron_fit(df, "x", "y", n_epochs=4, dim=1).collect()[0]
    assert out["errors"] == 0
    assert out["accuracy"] == 1.0


def test_perceptron_rejects_bad_labels(spark):
    from eggv_spark.operators.ml import perceptron_fit

    df = spark.createDataFrame(
        [([1], 2)], "x array<bigint>, y bigint"
    )
    with pytest.raises(Exception, match="labels must be -1/\\+1"):
        perceptron_fit(df, "x", "y", n_epochs=1, dim=1).collect()


# ---------------------------------------------------------------------------
# agg_kendall_tau
# ---------------------------------------------------------------------------


def test_kendall_tau_perfect_orders(spark):
    from eggv_spark.operators.aggregates import kendall_tau

    up = spark.createDataFrame(
        [(i, i * 2) for i in range(10)], "x int, y int"
    )
    r = kendall_tau(up, "x", "y").collect()[0]
    assert r["tau_b"] == 1.0 and r["discordant"] == 0
    down = spark.createDataFrame(
        [(i, -i) for i in range(10)], "x int, y int"
    )
    r = kendall_tau(down, "x", "y").collect()[0]
    assert r["tau_b"] == -1.0 and r["concordant"] == 0


def test_kendall_tau_ties_and_nulls(spark):
    from eggv_spark.operators.aggregates import kendall_tau

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 2), (None, 5), (3, None)],
        "x int, y int",
    )
    r = kendall_tau(df, "x", "y").collect()[0]
    # 4 non-null rows; x ties: two groups of 2 -> n1=2;
    # y ties: one group of 3 (y=2,2,2)? no: ys are 1,2,2,2 -> t=3 -> n2=3
    assert r["n"] == 4
    assert r["tie_pairs_x"] == 2
    assert r["tie_pairs_y"] == 3
    # concordant pairs: (1,1)-(2,2)x2, (1,1)-(... ) count by hand:
    # pairs: (1,1)(1,2):x tie; (1,1)(2,2):C; (1,1)(2,2):C;
    # (1,2)(2,2):x diff,y tie -> 0; (1,2)(2,2): 0; (2,2)(2,2): both tie
    assert r["concordant"] == 2 and r["discordant"] == 0


# ---------------------------------------------------------------------------
# evt_cusum
# ---------------------------------------------------------------------------


def test_cusum_prefix_identity_matches_recursion(spark):
    from eggv_spark.operators.events import cusum_chart

    # hand series: x = +2, +2, -5, +1, +4 (target 0, k=1)
    rows = [
        (f"2024-01-0{i + 1} 00:00:00", x)
        for i, x in enumerate([2.0, 2.0, -5.0, 1.0, 4.0])
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp(
            "ts"
        ).alias("ts"),
        "value",
    )
    out = cusum_chart(
        df, "ts", "value", target_cents=0, slack_cents=100,
        threshold_cents=150,
    ).orderBy("day").collect()
    # recursion (cents, k=100): s+ = max(0, s+ + x - 100)
    # x: 200,200,-500,100,400
    # s+: 100,200,0,0,300 ; s-: max(0, s- -100 - x):
    # s-: 0,0,400,300,0? step: s-_t = max(0, s-_{t-1} + (-100) - x)
    # -> 0, 0, 400-0? t3: 0 + (-100) - (-500) = 400; t4: 400-100-100=200
    # t5: 200-100-400=0
    assert [r["s_pos"] for r in out] == [100, 200, 0, 0, 300]
    assert [r["s_neg"] for r in out] == [0, 0, 400, 200, 0]
    assert [r["alarm"] for r in out] == [False, True, True, True, True]


# ---------------------------------------------------------------------------
# graph_harmonic
# ---------------------------------------------------------------------------


def test_harmonic_path_graph(spark):
    from eggv_spark.operators.graph import harmonic_centrality

    # directed path 1 -> 2 -> 3 -> 4 -> 5, 3 hops
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src int, dst int"
    )
    out = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(edges, max_hops=3).collect()
    }
    assert out[1] == (3, round(1 + 0.5 + 1 / 3, 6))
    assert out[4] == (1, 1.0)
    assert out[5] == (0, 0.0)


def test_harmonic_dedups_multi_path(spark):
    from eggv_spark.operators.graph import harmonic_centrality

    # diamond: 1->2, 1->3, 2->4, 3->4 — node 4 reached once at d=2
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    out = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(edges, max_hops=3).collect()
    }
    assert out[1] == (3, 2.5)


# ---------------------------------------------------------------------------
# tbl_vacuum_plan
# ---------------------------------------------------------------------------


def test_vacuum_audit_classes(spark):
    import datetime as dt

    from eggv_spark.operators.tableops import vacuum_audit

    day = dt.date
    listing = spark.createDataFrame(
        [
            ("a", 10, day(2024, 1, 1), day(2024, 12, 31)),
            ("b", 20, day(2024, 12, 1), day(2024, 12, 31)),
            ("c", 30, day(2023, 1, 1), day(2024, 12, 31)),
        ],
        "path string, size_bytes bigint, modified_day date,"
        " now_day date",
    )
    manifest = spark.createDataFrame([("a",)], "path string")
    out = {
        r["status"]: (r["n_files"], r["total_bytes"])
        for r in vacuum_audit(listing, manifest, 365).collect()
    }
    assert out["live"] == (1, 10)
    assert out["orphan_retained"] == (1, 20)
    assert out["orphan_delete"] == (1, 30)
