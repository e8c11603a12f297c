"""Staging tests for the twenty-fifth round-8 wave: quantile
treatment effects and the quality-vs-duplication cross-audit.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# evt_qte
# ---------------------------------------------------------------------------


def test_qte_hand_distributions(spark):
    from eggv_spark.operators.events import quantile_treatment_effects

    # treated = control + 10 shift, n=10 each
    rows = [(True, 10 * i + 10) for i in range(1, 11)] + [
        (False, 10 * i) for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "treated boolean, outcome_cents bigint")
    out = {
        r["p"]: r
        for r in quantile_treatment_effects(df).collect()
    }
    # type-1 quantile at p: value at ceil(p*10): p=0.5 -> 5th = 50/60
    assert out[0.5]["q_control"] == 50
    assert out[0.5]["q_treated"] == 60
    for r in out.values():
        assert r["qte"] == 10  # uniform shift shows at every quantile
        assert r["n_treated"] == 10 and r["n_control"] == 10


def test_qte_top_only_lift(spark):
    from eggv_spark.operators.events import quantile_treatment_effects

    # lift concentrated in the top decile only
    rows = [(False, i) for i in range(1, 101)] + [
        (True, i if i <= 90 else i + 1000) for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "treated boolean, outcome_cents bigint")
    out = {r["p"]: r for r in quantile_treatment_effects(df).collect()}
    assert out[0.5]["qte"] == 0
    assert out[0.9]["qte"] == 0  # 90th order stat is value 90 vs 90
    # add a 0.95 check through the quantiles param
    out95 = {
        r["p"]: r
        for r in quantile_treatment_effects(
            df, quantiles=(0.95,)
        ).collect()
    }
    assert out95[0.95]["qte"] == 1000


# ---------------------------------------------------------------------------
# composite_quality_vs_dup
# ---------------------------------------------------------------------------


def test_quality_vs_dup_accounting(spark):
    from eggv_spark.registry.composite import _composite_quality_vs_dup

    r = _composite_quality_vs_dup(spark, SF_DIR).collect()[0]
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    n_plants = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("doc_id % 10 = 0")
        .count()
    )
    total = (
        r["n_keep_dup"] + r["n_keep_uniq"]
        + r["n_drop_dup"] + r["n_drop_uniq"]
    )
    assert total == n_docs + n_plants
    # every plant + its original is a dup member: 2 * n_plants rows
    assert r["n_keep_dup"] + r["n_drop_dup"] == 2 * n_plants
    assert r["uniq_quality_odds_ratio"] > 0
