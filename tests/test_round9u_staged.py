"""Staging tests for the twenty-second round-8 wave: path-length
census, dedup savings report, growth accounting.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# graph_path_stats
# ---------------------------------------------------------------------------


def test_path_stats_directed_path(spark):
    from eggv_spark.operators.graph import path_length_stats

    # path 1->2->3->4: pairs (1,2)(2,3)(3,4) d=1; (1,3)(2,4) d=2;
    # (1,4) d=3 -> 6 pairs, mean = (3+4+3)/6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src int, dst int"
    )
    r = path_length_stats(edges, max_hops=4).collect()[0]
    assert r["n_nodes"] == 4
    assert r["n_pairs_reachable"] == 6
    assert r["mean_dist"] == round(10 / 6, 6)
    assert r["diameter"] == 3
    assert r["reach_frac"] == 0.5  # 6 of 12 ordered pairs


def test_path_stats_hop_bound_truncates(spark):
    from eggv_spark.operators.graph import path_length_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src int, dst int"
    )
    r = path_length_stats(edges, max_hops=1).collect()[0]
    assert r["n_pairs_reachable"] == 3 and r["diameter"] == 1


# ---------------------------------------------------------------------------
# ddp_dedup_savings
# ---------------------------------------------------------------------------


def test_dedup_savings_accounting(spark):
    import __spark_entry__ as E

    r = E._ddp_dedup_savings(spark, SF_DIR).collect()[0]
    assert r["n_docs"] > r["n_docs_kept"] > 0
    assert r["tokens_total"] == r["tokens_kept"] + r["tokens_saved"]
    assert 0 < r["saved_frac"] < 1
    # plants are ~10% verbatim copies: savings should be near that
    assert 0.05 < r["saved_frac"] < 0.15


# ---------------------------------------------------------------------------
# evt_growth_accounting
# ---------------------------------------------------------------------------


def test_growth_accounting_hand_series(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import growth_accounting

    rows = [
        (1, "2024-01-01 09:00:00"),   # u1 new
        (1, "2024-01-02 09:00:00"),   # u1 retained (gap 1)
        (1, "2024-01-20 09:00:00"),   # u1 resurrected (gap 18)
        (2, "2024-01-02 10:00:00"),   # u2 new
        (2, "2024-01-02 11:00:00"),   # same day, deduped
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    out = {str(r["day"]): r for r in growth_accounting(df).collect()}
    assert out["2024-01-01"]["n_new"] == 1
    assert out["2024-01-02"]["n_new"] == 1
    assert out["2024-01-02"]["n_retained"] == 1
    assert out["2024-01-02"]["n_active"] == 2
    assert out["2024-01-20"]["n_resurrected"] == 1


def test_growth_states_sum_to_active(spark):
    import __spark_entry__ as E

    rows = E._evt_growth_accounting(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert (
            r["n_new"] + r["n_retained"] + r["n_resurrected"]
            == r["n_active"]
        )
