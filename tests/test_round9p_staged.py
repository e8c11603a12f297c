"""Staging tests for the seventeenth round-8 wave: two-group
log-rank test, dedup funnel composite, IVF cell-occupancy stats,
and Fleiss' kappa.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# evt_logrank
# ---------------------------------------------------------------------------


def test_logrank_identical_groups_is_zeroish(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import logrank_test

    # two mirrored cohorts: same event pattern in A and B ->
    # observed == expected -> z == 0
    rows = []
    for g, base in (("A", 0), ("B", 100)):
        for u in range(5):
            uid = base + u
            rows.append((uid, g, "signup", "2024-01-01 00:00:00"))
            rows.append(
                (uid, g, "purchase", f"2024-01-0{u + 2} 00:00:00")
            )
    df = spark.createDataFrame(
        rows, "user_id int, variant string, event_type string, ts string"
    ).select(
        "user_id", "variant", "event_type",
        F.to_timestamp("ts").alias("ts"),
    )
    out = logrank_test(df).collect()[0]
    assert out["n_users_a"] == 5 and out["n_users_b"] == 5
    assert out["observed_a"] == 5
    assert out["z"] == 0.0 and out["chi2"] == 0.0


def test_logrank_foreign_variant_raises(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import logrank_test

    df = spark.createDataFrame(
        [(1, "C", "signup", "2024-01-01 00:00:00")],
        "user_id int, variant string, event_type string, ts string",
    ).select(
        "user_id", "variant", "event_type",
        F.to_timestamp("ts").alias("ts"),
    )
    with pytest.raises(Exception, match="unknown variant"):
        logrank_test(df).collect()


# ---------------------------------------------------------------------------
# composite_dedup_funnel
# ---------------------------------------------------------------------------


def test_dedup_funnel_accounting(spark):
    from eggv_spark.registry.composite import _composite_dedup_funnel

    out = _composite_dedup_funnel(spark, SF_DIR).collect()[0]
    # plants are verbatim copies: every planted doc is removed by the
    # exact stage, so n_exact_removed >= the plant count
    n_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    )
    n_plants = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("doc_id % 10 = 0")
        .count()
    )
    assert out["n_input"] == n_docs + n_plants
    assert out["n_exact_removed"] >= n_plants
    assert out["n_exact_unique"] + out["n_exact_removed"] == out["n_input"]
    assert out["n_docs_in_pairs"] <= 2 * out["n_neardup_pairs"]


# ---------------------------------------------------------------------------
# sim_ivf_cell_stats
# ---------------------------------------------------------------------------


def test_ivf_cell_stats_accounting(spark):
    from eggv_spark.registry.similarity import _sim_ivf_cell_stats

    rows = _sim_ivf_cell_stats(spark, SF_DIR).collect()
    assert len(rows) == 16  # full spine, empty cells included
    total = sum(r["n_vectors"] for r in rows)
    n_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert total == n_emb
    imb = {r["imbalance_factor"] for r in rows}
    assert len(imb) == 1 and imb.pop() >= 1.0


# ---------------------------------------------------------------------------
# agg_fleiss_kappa
# ---------------------------------------------------------------------------


def test_fleiss_perfect_agreement(spark):
    from eggv_spark.operators.aggregates import fleiss_kappa

    df = spark.createDataFrame(
        [(3, 0)] * 6 + [(0, 3)] * 4, "c_yes int, c_no int"
    )
    r = fleiss_kappa(df, ["c_yes", "c_no"]).collect()[0]
    assert r["p_bar"] == 1.0 and r["kappa"] == 1.0
    assert r["n_raters"] == 3


def test_fleiss_ragged_panel_raises(spark):
    from eggv_spark.operators.aggregates import fleiss_kappa

    df = spark.createDataFrame(
        [(3, 0), (2, 0)], "c_yes int, c_no int"
    )
    with pytest.raises(Exception, match="same total vote count"):
        fleiss_kappa(df, ["c_yes", "c_no"]).collect()
