"""Staging tests for the eighteenth round-8 wave: CMH stratified
test, directed reciprocity, per-node local clustering, PQ
distortion audit, and the Qini uplift curve.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# agg_cmh_test
# ---------------------------------------------------------------------------


def test_cmh_no_association_is_zeroish(spark):
    from eggv_spark.operators.aggregates import cmh_test

    # within each stratum exposure and outcome are independent:
    # every (e, y) combination equally likely
    rows = [
        (s, e, y)
        for s in ("a", "b")
        for e in (True, False)
        for y in (True, False)
    ] * 5
    df = spark.createDataFrame(rows, "k string, e boolean, y boolean")
    r = cmh_test(df, "k", "e", "y").collect()[0]
    assert r["n_strata"] == 2
    assert r["chi2"] == 0.0


def test_cmh_confounded_marginal_clean_stratified(spark):
    from eggv_spark.operators.aggregates import cmh_test

    # Simpson setup: stratum 'hi' is mostly exposed AND mostly
    # positive, stratum 'lo' the reverse — pooled 2x2 shows strong
    # association, CMH (within-stratum independence) shows none.
    rows = []
    for s, n_e, n_u in (("hi", 40, 10), ("lo", 10, 40)):
        p = 0.8 if s == "hi" else 0.2
        for i in range(n_e):
            rows.append((s, True, i < n_e * p))
        for i in range(n_u):
            rows.append((s, False, i < n_u * p))
    df = spark.createDataFrame(rows, "k string, e boolean, y boolean")
    r = cmh_test(df, "k", "e", "y").collect()[0]
    assert abs(r["observed"] - r["expected"]) < 1e-6
    assert r["chi2"] == 0.0


# ---------------------------------------------------------------------------
# graph_reciprocity
# ---------------------------------------------------------------------------


def test_reciprocity_hand_graph(spark):
    from eggv_spark.operators.graph import reciprocity

    # 1<->2 reciprocated (2 edges), 3->4 one-way
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4)], "src int, dst int"
    )
    r = reciprocity(edges).collect()[0]
    assert r["n_edges"] == 3
    assert r["n_reciprocated"] == 2
    assert r["reciprocity"] == round(2 / 3, 6)


# ---------------------------------------------------------------------------
# graph_local_clustering
# ---------------------------------------------------------------------------


def test_local_clustering_triangle_plus_tail(spark):
    from eggv_spark.operators.graph import local_clustering

    # triangle 1-2-3 plus tail 3-4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    )
    out = {
        r["node"]: (r["degree"], r["triangles"], r["lcc"])
        for r in local_clustering(edges).collect()
    }
    assert out[1] == (2, 1, 1.0)
    assert out[2] == (2, 1, 1.0)
    assert out[3] == (3, 1, round(1 / 3, 6))
    assert out[4] == (1, 0, 0.0)


def test_local_clustering_consistent_with_census(spark):
    import __spark_entry__ as E
    from eggv_spark.operators.graph import triangle_count

    lcc = E._graph_local_clustering(spark, SF_DIR)
    total_credits = sum(r["triangles"] for r in lcc.collect())
    edges = lcc.sparkSession.createDataFrame([], "src int, dst int")
    # per-corner credits sum to 3x the census triangle count
    # (recompute census on the same thresholded graph)
    from pyspark.sql import Window, functions as F

    ed = (
        E._trade_edges(lcc.sparkSession, SF_DIR)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    census = triangle_count(ed).collect()[0]
    assert total_credits == 3 * census["n_triangles"]


# ---------------------------------------------------------------------------
# sim_pq_distortion
# ---------------------------------------------------------------------------


def test_pq_distortion_shape_and_bounds(spark):
    import __spark_entry__ as E

    rows = E._sim_pq_distortion(spark, SF_DIR).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["mean_sqdist"] >= 0
        assert r["max_sqdist"] >= r["mean_sqdist"] - 1e-3


# ---------------------------------------------------------------------------
# evt_qini_curve
# ---------------------------------------------------------------------------


def test_qini_hand_curve(spark):
    from eggv_spark.operators.events import qini_curve

    # bucket 0: treated convert 2/2, control 0/2
    # bucket 1: treated convert 0/2, control 0/2
    rows = [
        (0, True, True), (0, True, True),
        (0, False, False), (0, False, False),
        (1, True, False), (1, True, False),
        (1, False, False), (1, False, False),
    ]
    df = spark.createDataFrame(
        rows, "bucket int, treated boolean, converted boolean"
    )
    out = {r["bucket"]: r for r in qini_curve(df, n_buckets=2).collect()}
    assert out[0]["qini"] == 2.0
    assert out[1]["n_treated_cum"] == 4
    assert out[1]["qini"] == 2.0  # no further lift in bucket 1


def test_qini_bad_bucket_raises(spark):
    from eggv_spark.operators.events import qini_curve

    df = spark.createDataFrame(
        [(12, True, True)], "bucket int, treated boolean, converted boolean"
    )
    with pytest.raises(Exception, match="bucket must be in"):
        qini_curve(df, n_buckets=10).collect()
