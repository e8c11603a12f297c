"""Staging tests for pca_top2_deflation (round-9 queue): numpy
eigen-replica on planted-structure data, deflation-orthogonality
property, and the DuckDB oracle draft validated at sf0.001.

Oracle encoding notes: phase 2 mirrors phase 1's CTE chain with one
extra deflation CTE per step — C'w = C·w − λ₁·(v₁ᵀw)·v₁ computed as
a list_zip over (C·w, v₁); both phases reuse the established
avg-based per-dimension kernel (pca_power_iteration parity proved
the cross-engine tolerance of that kernel under 4-6dp rounding)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from tests.conftest import SF_DIR, assert_matches_oracle


def test_pca2_recovers_planted_spectrum(spark):
    from eggv_spark.operators.ml import pca_top2_deflation

    # planted: strong direction e0 (sd 4), weaker e1 (sd 2), faint
    # noise on e2 — eigenvalues ~16 and ~4, ratio ~0.25
    rows = []
    for i in range(60):
        a = 4.0 * math.sin(i * 1.7)
        b = 2.0 * math.cos(i * 2.3)
        c = 0.05 * math.sin(i * 5.1)
        rows.append((i, [a, b, c, 0.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = pca_top2_deflation(df, n_steps=6, dim=4).collect()[0]

    x = np.array([r[1] for r in rows])
    cov = np.cov(x, rowvar=False, bias=True)
    eig = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert got["eigenvalue_1"] == pytest.approx(eig[0], rel=1e-3)
    assert got["eigenvalue_2"] == pytest.approx(eig[1], rel=1e-3)
    assert got["top_dim_1"] == 0
    assert got["top_dim_2"] == 1
    assert abs(got["orthogonality"]) <= 0.001
    assert got["spectral_ratio"] == pytest.approx(
        eig[1] / eig[0], abs=5e-3
    )


def test_pca2_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.ml import pca_top2_deflation
    from eggv_spark.sources.readers import read_table

    import __spark_entry__ as entrymod

    emb = read_table(spark, SF_DIR, "embeddings")
    assert_matches_oracle(
        pca_top2_deflation(emb, n_steps=4, dim=64),
        con,
        entrymod._pca2_oracle_sql(4, 64),
    )
