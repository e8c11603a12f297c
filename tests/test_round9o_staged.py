"""Staging tests for the sixteenth round-8 wave: Nelson-Aalen
cumulative hazard, degree assortativity, Cochran-Armitage trend
test, file clustering-depth sweep, and metadata-filtered IVF ANN.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# evt_nelson_aalen
# ---------------------------------------------------------------------------


def test_nelson_aalen_hand_series(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import nelson_aalen

    # 3 users sign up on day 0; conversions on day 1 and day 2; one
    # censored at corpus max (day 3).
    rows = [
        (1, "signup", "2024-01-01 00:00:00"),
        (2, "signup", "2024-01-01 00:00:00"),
        (3, "signup", "2024-01-01 00:00:00"),
        (1, "purchase", "2024-01-02 00:00:00"),
        (2, "purchase", "2024-01-03 00:00:00"),
        (3, "view", "2024-01-04 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, ts string"
    ).select("user_id", "event_type", F.to_timestamp("ts").alias("ts"))
    out = {r["day"]: r for r in nelson_aalen(df).collect()}
    # day 1: d=1, n=3 -> H=1/3; day 2: d=1, n=2 -> H=1/3+1/2
    assert out[1]["cum_hazard"] == round(1 / 3, 6)
    assert out[2]["cum_hazard"] == round(1 / 3 + 1 / 2, 6)
    assert out[3]["d_events"] == 0 and out[3]["n_at_risk"] == 1
    assert out[2]["hazard_var"] == round(1 / 9 + 1 / 4, 6)


def test_km_and_na_share_risk_table(spark):
    import __spark_entry__ as E

    km = E.queries()["evt_survival_km"](spark, SF_DIR)
    na = E._evt_nelson_aalen(spark, SF_DIR)
    k = {(r["day"], r["d_events"], r["n_at_risk"]) for r in km.collect()}
    n = {(r["day"], r["d_events"], r["n_at_risk"]) for r in na.collect()}
    assert k == n and len(k) > 0


# ---------------------------------------------------------------------------
# graph_assortativity
# ---------------------------------------------------------------------------


def test_assortativity_star_is_negative(spark):
    from eggv_spark.operators.graph import assortativity

    # star: hub 0 -> leaves 1..5 plus a chain 1->2 to break
    # degeneracy: hub (od 5) feeds leaves (id 1), node 1 (od 1)
    # feeds node 2 (id 2)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2)], "src int, dst int"
    )
    r = assortativity(edges).collect()[0]
    assert r["n_edges"] == 6
    assert r["r"] is not None and r["r"] < 0


def test_assortativity_degenerate_is_null(spark):
    from eggv_spark.operators.graph import assortativity

    # perfect cycle: every out-degree 1, every in-degree 1 -> den 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src int, dst int"
    )
    r = assortativity(edges).collect()[0]
    assert r["r"] is None


# ---------------------------------------------------------------------------
# agg_cochran_armitage
# ---------------------------------------------------------------------------


def test_cochran_armitage_perfect_trend(spark):
    from eggv_spark.operators.aggregates import cochran_armitage

    # rate rises with score: 0/10 at t=1, 5/10 at t=2, 10/10 at t=3
    rows = (
        [(1, 0)] * 10 + [(2, 1)] * 5 + [(2, 0)] * 5 + [(3, 1)] * 10
    )
    df = spark.createDataFrame(rows, "t int, y int")
    r = cochran_armitage(df, "t", "y").collect()[0]
    assert r["n"] == 30 and r["n_success"] == 15 and r["n_levels"] == 3
    assert r["z"] > 4  # strongly positive trend


def test_cochran_armitage_no_trend_is_zero(spark):
    from eggv_spark.operators.aggregates import cochran_armitage

    rows = [(t, y) for t in (1, 2, 3) for y in (0, 1)] * 5
    df = spark.createDataFrame(rows, "t int, y int")
    r = cochran_armitage(df, "t", "y").collect()[0]
    assert r["t_stat"] == 0.0 and r["z"] == 0.0


# ---------------------------------------------------------------------------
# tbl_file_overlap_depth
# ---------------------------------------------------------------------------


def test_overlap_depth_hand_layout(spark):
    from eggv_spark.operators.tableops import file_overlap_depth

    # [0,10], [5,15], [20,25]: depth 1 at 0, 2 at 5, 1 at 11, 0 at
    # 16, 1 at 20, 0 at 26
    files = spark.createDataFrame(
        [("a", 0, 10), ("b", 5, 15), ("c", 20, 25)],
        "path string, min_key bigint, max_key bigint",
    )
    out = {
        r["boundary"]: r["depth"]
        for r in file_overlap_depth(files).collect()
    }
    assert out == {0: 1, 5: 2, 11: 1, 16: 0, 20: 1, 26: 0}


# ---------------------------------------------------------------------------
# sim_filtered_ivf_topk
# ---------------------------------------------------------------------------


def test_filtered_ivf_respects_predicate(spark):
    import __spark_entry__ as E

    neigh = E._sim_filtered_ivf_topk(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bad = neigh.join(
        emb.filter("label > 4").select("vec_id"),
        neigh["neighbor_id"] == emb["vec_id"],
        "left_semi",
    )
    assert bad.count() == 0
    assert neigh.count() > 0
