"""Property tests for the round-8-staged (round-9 queue) operators:
the in-plan iterative ML fits.  Ground truth is a numpy replica of
the identical algorithm (same init, same step count, same rate) —
the comparison tolerance absorbs only summation-order noise.
"""

from __future__ import annotations

import numpy as np
import pytest


def _toy_data(n=120, dim=8, seed_mult=7):
    """Deterministic, linearly-separable-ish toy set (no RNG)."""
    xs, ys = [], []
    for i in range(n):
        base = [((i * seed_mult + d * 13) % 19 - 9) / 9.0 for d in range(dim)]
        y = 1 if (base[0] + 0.5 * base[1]) > 0 else 0
        xs.append(base)
        ys.append(y)
    return np.array(xs), np.array(ys, dtype=float)


def _numpy_logistic_gd(x, y, n_steps, lr):
    w = np.zeros(x.shape[1])
    b = 0.0
    for _ in range(n_steps):
        p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
        gw = ((p - y)[:, None] * x).mean(axis=0)
        gb = (p - y).mean()
        w -= lr * gw
        b -= lr * gb
    p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
    ps = np.clip(p, 1e-12, 1 - 1e-12)
    return {
        "accuracy": float(((p >= 0.5) == (y == 1)).mean()),
        "logloss": float(-(y * np.log(ps) + (1 - y) * np.log(1 - ps)).mean()),
        "w_norm": float(np.sqrt((w * w).sum())),
        "bias": float(b),
    }


def test_logistic_gd_matches_numpy_replica(spark):
    from eggv_spark.operators.ml import logistic_regression_gd

    x, y = _toy_data()
    df = spark.createDataFrame(
        [(list(map(float, xi)), float(yi)) for xi, yi in zip(x, y)],
        "embedding array<double>, label double",
    )
    row = logistic_regression_gd(
        df, "embedding", "label", n_steps=4, lr=0.5, dim=8
    ).collect()[0]
    ref = _numpy_logistic_gd(x, y, n_steps=4, lr=0.5)
    assert row["n"] == len(x)
    assert row["accuracy"] == pytest.approx(ref["accuracy"], abs=1e-9)
    assert row["logloss"] == pytest.approx(ref["logloss"], abs=1e-6)
    assert row["w_norm"] == pytest.approx(ref["w_norm"], abs=1e-6)
    assert row["bias"] == pytest.approx(ref["bias"], abs=1e-6)
    # the fit actually learned something on separable-ish data
    assert row["accuracy"] >= 0.8


def test_logistic_gd_loss_decreases_with_steps(spark):
    from eggv_spark.operators.ml import logistic_regression_gd

    x, y = _toy_data()
    df = spark.createDataFrame(
        [(list(map(float, xi)), float(yi)) for xi, yi in zip(x, y)],
        "embedding array<double>, label double",
    )
    l1 = logistic_regression_gd(df, n_steps=1, lr=0.5, dim=8).collect()[0]
    l4 = logistic_regression_gd(df, n_steps=4, lr=0.5, dim=8).collect()[0]
    assert l4["logloss"] < l1["logloss"]


def test_pca_power_iteration_finds_dominant_axis(spark):
    from eggv_spark.operators.ml import pca_power_iteration

    # variance concentrated on dim 2 (amplitude 10x the others)
    rows = []
    dim = 6
    for i in range(150):
        v = [((i * 11 + d * 3) % 17 - 8) / 8.0 for d in range(dim)]
        v[2] *= 10.0
        rows.append((list(map(float, v)),))
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = pca_power_iteration(df, "embedding", n_steps=6, dim=dim).collect()[0]
    assert out["n"] == 150
    assert out["top_loading_dim"] == 2
    assert out["explained_share"] > 0.85
    # Rayleigh quotient vs numpy's exact top eigenvalue
    x = np.array([r[0] for r in rows])
    c = np.cov(x, rowvar=False, bias=True)
    top = float(np.linalg.eigvalsh(c)[-1])
    assert out["top_eigenvalue"] == pytest.approx(top, rel=2e-3)
    assert out["total_variance"] == pytest.approx(float(np.trace(c)), rel=1e-6)


def test_importance_mixture_composite(spark):
    """The DSIR -> stratified-PPS composite: per-source selection
    bounded by n_per_stratum, positive integer weights, cumulative
    weights consistent with the crossing test, and the 4096-row
    ratio table joined as a broadcast (never a corpus shuffle)."""
    from collections import Counter

    from eggv_spark.registry.composite import _composite_importance_mixture

    out = _composite_importance_mixture(
        spark, "/root/testdata/sf0.001"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan

    rows = out.collect()
    assert rows, "every source stratum must admit selections"
    per_src = Counter(r["source"] for r in rows)
    assert all(1 <= c <= 8 for c in per_src.values())
    assert all(r["weight_cents"] >= 1 for r in rows)
    assert all(r["cum_weight_cents"] >= r["weight_cents"] for r in rows)
