"""Property + oracle tests for the round-9e staged wave: the JL
sign-projection distortion audit and the RAG context-assembly
composite (its sf0.001 oracle check is in
tests/test_registry_oracles.py).

Staging lessons this wave encodes:

- the projection matrix and the 1/√k scale enter BOTH engines as
  repr() literals (the signlsh/PQ-codebook rule), so every projected
  coordinate is a bit-identical double and min/max ratios are exact;
- probe pairs are consecutive ids — an equi-join, no sampling RNG;
- the RAG composite reuses the already-validated MMR oracle as a
  derived table (a full WITH...SELECT parenthesizes into FROM) and
  DuckDB's QUALIFY filters on the window cumsum.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_DIR, assert_matches_oracle


def test_jl_projection_matches_python(spark):
    from eggv_spark.operators.similarity import (
        jl_sign,
        random_projection_distortion,
    )

    vecs = {
        i: [((i * 11 + d * 7) % 9 - 4) / 4.0 for d in range(6)]
        for i in range(15)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    row = random_projection_distortion(
        df, in_dim=6, out_dim=3
    ).collect()[0]

    scale = 1.0 / math.sqrt(3)

    def proj(x):
        out = []
        for j in range(3):
            acc = 0.0
            for d in range(6):
                acc += jl_sign(j, d) * x[d]
            out.append(acc * scale)
        return out

    ratios = []
    for i in range(14):
        xa, xb = vecs[i], vecs[i + 1]
        do = math.sqrt(sum((a - b) ** 2 for a, b in zip(xa, xb)))
        if do == 0:
            continue
        ya, yb = proj(xa), proj(xb)
        dp = math.sqrt(sum((a - b) ** 2 for a, b in zip(ya, yb)))
        ratios.append(dp / do)
    assert row["n_pairs"] == len(ratios)
    assert row["avg_ratio"] == pytest.approx(
        sum(ratios) / len(ratios), abs=2e-4
    )
    assert row["min_ratio"] == pytest.approx(min(ratios), abs=2e-4)
    assert row["max_ratio"] == pytest.approx(max(ratios), abs=2e-4)
    # JL sanity: ratios concentrate around 1
    assert 0.2 < row["avg_ratio"] < 2.5


def test_jl_identical_vectors_pair_excluded(spark):
    from eggv_spark.operators.similarity import (
        random_projection_distortion,
    )

    rows = [(0, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [3.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    row = random_projection_distortion(
        df, in_dim=2, out_dim=2
    ).collect()[0]
    # pair (0,1) has zero original distance -> excluded; only (1,2)
    assert row["n_pairs"] == 1


def test_jl_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.registry.similarity import _random_projection_oracle_sql
    from eggv_spark.operators.similarity import (
        random_projection_distortion,
    )
    from eggv_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    assert_matches_oracle(
        random_projection_distortion(emb, in_dim=16, out_dim=8),
        con,
        _random_projection_oracle_sql(16, 8),
    )


def test_rag_pipeline_budget_fill_semantics(spark):
    from eggv_spark.registry.composite import (
        _composite_rag_pipeline,
        _RAG_BUDGET_TOKENS,
    )

    rows = _composite_rag_pipeline(spark, SF_DIR).orderBy(
        "rank"
    ).collect()
    assert rows, "budget must admit at least the first pick"
    cum = 0
    for r in rows:
        cum += r["n_tokens"]
        assert r["cum_tokens"] == cum
        assert cum <= _RAG_BUDGET_TOKENS
    # ranks are a prefix of the MMR selection order
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
