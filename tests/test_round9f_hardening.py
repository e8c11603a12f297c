"""NULL/degenerate-input hardening for the round-8 fifth/sixth/seventh
waves: every guard raises IN-PLAN (or loudly at the documented
materialization point) instead of silently dropping rows from
distance sums, split counts, or degree sums."""

from __future__ import annotations

import pytest


def test_kmeans_rejects_null_vector(spark):
    from eggv_spark.operators.ml import kmeans_lloyd

    rows = [(0, [1.0, 2.0]), (1, None), (2, [0.5, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-null vector"):
        kmeans_lloyd(df, k=2, n_steps=1, dim=2).collect()


def test_kmeans_rejects_short_vector(spark):
    from eggv_spark.operators.ml import kmeans_lloyd

    rows = [(0, [1.0, 2.0]), (1, [0.3]), (2, [0.5, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match=">= 2 dims"):
        kmeans_lloyd(df, k=2, n_steps=1, dim=2).collect()


def test_stump_rejects_null_vector(spark):
    from eggv_spark.operators.ml import decision_stump_fit

    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, None), (0, [0.3, 0.1])],
        "label long, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-null vector"):
        decision_stump_fit(df, dim=2).collect()


def test_isotonic_rejects_null_bin_and_label(spark):
    from eggv_spark.operators.ml import isotonic_calibration

    df = spark.createDataFrame(
        [(0, 1), (None, 0), (1, 1)], "bin int, label int"
    )
    with pytest.raises(Exception, match="bin must be non-null"):
        isotonic_calibration(df).collect()
    df2 = spark.createDataFrame(
        [(0, 1), (1, None), (1, 1)], "bin int, label int"
    )
    with pytest.raises(Exception, match="label must be non-null"):
        isotonic_calibration(df2).collect()


def test_hits_rejects_null_edge_fields(spark):
    from eggv_spark.operators.graph import hits_scores

    df = spark.createDataFrame(
        [(0, 1, 2), (1, None, 3)], "src int, dst int, weight int"
    )
    with pytest.raises(Exception, match="must be non-null"):
        hits_scores(df, n_rounds=1).collect()


def test_mmr_missing_query_raises(spark):
    from eggv_spark.operators.similarity import mmr_diversify

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="empty candidate pool"):
        mmr_diversify(df, query_id=99, dim=2, n_candidates=4, k=2)


def test_coherence_rejects_null_vector(spark):
    from eggv_spark.operators.similarity import embedding_coherence

    df = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, None)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-null vector"):
        embedding_coherence(df, dim=2).collect()


def test_acf_null_timestamps_excluded(spark):
    import datetime as dt

    from eggv_spark.operators.events import acf_lags

    base = dt.datetime(2024, 3, 1, 12)
    rows = [(base + dt.timedelta(days=d),) for d in range(5)] + [(None,)]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = acf_lags(df, "ts", n_lags=2).collect()
    # 5 non-null days -> 4 lag-1 pairs, 3 lag-2 pairs; one event per
    # day makes the series CONSTANT, so acf is NULL (zero variance),
    # not an ANSI divide-by-zero error
    got = {r["lag"]: (r["n_pairs"], r["acf"]) for r in out}
    assert got == {1: (4, None), 2: (3, None)}
