"""Staging tests for the twelfth round-8 wave: gradient-boosted
regression stumps, personalized PageRank, Deming regression,
group-aware k-fold, and the image near-dup band join.

Numpy/hand replicas on planted data; the sf0.001 oracle checks are
in tests/test_registry_oracles.py.
"""

from __future__ import annotations

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# gbrt_stumps
# ---------------------------------------------------------------------------


def test_gbrt_reduces_sse_and_finds_planted_split(spark):
    from eggv_spark.operators.ml import gbrt_stumps

    # y is a clean step function of dimension 2 at threshold 0.0:
    # round 1 must find (dim=3 1-based? no: dim index 2 -> output 3)
    rows = []
    for i in range(80):
        x = [0.0, 0.0, -0.25 if i % 2 == 0 else 0.25, 0.0]
        y = 1.0 if i % 2 == 0 else 5.0
        rows.append((i, x, y))
    df = spark.createDataFrame(rows, ["id", "embedding", "label"])
    out = {
        r["round"]: r
        for r in gbrt_stumps(
            df, target_col="label", n_rounds=2, dim=4
        ).collect()
    }
    assert out[0]["left_value"] == pytest.approx(3.0)  # base = mean
    assert out[1]["dim"] == 3
    # x3 takes only {-0.25, 0.25}, so every threshold in [-0.2, 0.2]
    # yields the SAME split and ties break to the smallest grid index
    assert out[1]["threshold"] == pytest.approx(-0.2)
    # after fitting the true split, residuals are exactly zero
    assert out[1]["left_value"] == pytest.approx(-2.0)
    assert out[1]["right_value"] == pytest.approx(2.0)
    assert out[1]["train_sse"] == pytest.approx(0.0)
    # SSE is non-increasing across rounds (boosting invariant)
    sses = [out[i]["train_sse"] for i in sorted(out)]
    assert all(a >= b for a, b in zip(sses, sses[1:]))


# ---------------------------------------------------------------------------
# personalized_pagerank
# ---------------------------------------------------------------------------


def test_ppr_concentrates_on_seed_neighborhood(spark):
    from eggv_spark.operators.graph import personalized_pagerank

    # two disconnected 2-cycles; seeding in one leaves the other at 0
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (5, 6, 1.0), (6, 5, 1.0)],
        ["src", "dst", "weight"],
    )
    ranks = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            edges, seeds=[0], iterations=4
        ).collect()
    }
    assert ranks[5] == 0.0 and ranks[6] == 0.0
    # hand replica of the finite 4-iteration walk on the 2-cycle:
    # r0' = 0.15 + 0.85*r1, r1' = 0.85*r0 (no dangling nodes)
    r0, r1 = 1.0, 0.0
    for _ in range(4):
        r0, r1 = 0.15 + 0.85 * r1, 0.85 * r0
    assert ranks[0] == pytest.approx(r0)
    assert ranks[1] == pytest.approx(r1)
    # mass stays on the seed component
    assert abs(ranks[0] + ranks[1] - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# deming_regression
# ---------------------------------------------------------------------------


def test_deming_replica_and_symmetry(spark):
    from eggv_spark.operators.aggregates import deming_regression

    rng = np.random.RandomState(11)
    true_x = np.linspace(0, 10, 60)
    x = true_x + rng.normal(0, 0.5, 60)
    y = 2.0 * true_x + 1.0 + rng.normal(0, 0.5, 60)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    got = deming_regression(df, "x", "y").collect()[0]
    sxx, syy = np.var(x, ddof=1), np.var(y, ddof=1)
    sxy = np.cov(x, y, ddof=1)[0, 1]
    beta = (syy - sxx + np.sqrt((syy - sxx) ** 2 + 4 * sxy**2)) / (2 * sxy)
    assert got["slope"] == pytest.approx(beta, abs=1e-5)
    assert got["intercept"] == pytest.approx(
        y.mean() - beta * x.mean(), abs=1e-4
    )
    # orthogonal regression is symmetric: swapping axes inverts the
    # slope (the property OLS lacks — that is the point of the op)
    swapped = deming_regression(df, "y", "x").collect()[0]
    assert swapped["slope"] == pytest.approx(1.0 / beta, abs=1e-5)


# ---------------------------------------------------------------------------
# group_kfold_assign
# ---------------------------------------------------------------------------


def test_group_kfold_no_group_split(spark):
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.relational import group_kfold_assign
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i % 17, i) for i in range(200)], ["g", "row"]
    )
    out = group_kfold_assign(df, "g", k=4).collect()
    assert sum(r["n_rows"] for r in out) == 200
    assert sum(r["n_groups"] for r in out) == 17
    # leakage check: each group appears in exactly one fold
    per_group = (
        df.select(
            "g", (base_hash(F.col("g").cast("string")) % 4).alias("f")
        )
        .groupBy("g")
        .agg(F.countDistinct("f").alias("nf"))
        .collect()
    )
    assert all(r["nf"] == 1 for r in per_group)


def test_group_kfold_raises_on_null(spark):
    from eggv_spark.operators.relational import group_kfold_assign

    df = spark.createDataFrame([(None, 1), (2, 2)], "g int, row int")
    with pytest.raises(Exception, match="group_kfold"):
        group_kfold_assign(df, "g", k=3).collect()


# ---------------------------------------------------------------------------
# image_neardup_pairs
# ---------------------------------------------------------------------------


def test_image_neardup_collapses_exact_dups_then_pairs(spark):
    from eggv_spark.operators.multimodal import image_neardup_pairs

    hashed = spark.createDataFrame(
        [
            (1, 0b1010101010101010),
            (2, 0b1010101010101010),   # exact dup of 1 -> one cluster
            (3, 0b1010101010101011),   # hamming 1 from the cluster
            (4, 0b0101010101010101),   # hamming 16 — never a pair
        ],
        ["asset_id", "ahash"],
    )
    rows = image_neardup_pairs(
        hashed, hash_bits=16, n_bands=4, max_hamming=3
    ).collect()
    # exact dups collapse: ONE pair row between cluster reps, with
    # the cluster size carried — not a quadratic id-pair listing
    assert len(rows) == 1
    r = rows[0]
    assert (r["rep_a"], r["rep_b"]) == (1, 3)
    assert r["n_images_a"] == 2 and r["n_images_b"] == 1
    assert r["hamming"] == 1


def test_image_neardup_pigeonhole_guard(spark):
    from eggv_spark.operators.multimodal import image_neardup_pairs

    hashed = spark.createDataFrame([(1, 3)], ["asset_id", "ahash"])
    with pytest.raises(AssertionError, match="pigeonhole"):
        image_neardup_pairs(hashed, n_bands=2, max_hamming=3)
