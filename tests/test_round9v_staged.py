"""Staging tests for the twenty-third round-8 wave: hybrid RRF
retrieval, day-of-week-conditioned anomalies, feature-hash
collision audit.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# sim_rrf_fusion
# ---------------------------------------------------------------------------


def test_rrf_hand_fusion(spark):
    from eggv_spark.operators.similarity import rrf_fusion

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id int, neighbor_id int, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id int, neighbor_id int, rank int"
    )
    out = {r["neighbor_id"]: r for r in rrf_fusion(a, b, k=3).collect()}
    # 11 appears in both lists -> highest fused score
    assert out[11]["rank"] == 1
    assert out[11]["rrf_score"] == round(1 / 61 + 1 / 62, 6)
    assert out[10]["rrf_score"] == round(1 / 61, 6)
    assert out[12]["rrf_score"] == round(1 / 62, 6)


def test_rrf_fixture_covers_both_systems(spark):
    import __spark_entry__ as E

    fused = E._sim_rrf_fusion(spark, SF_DIR)
    rows = fused.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------------------------
# evt_dow_anomaly
# ---------------------------------------------------------------------------


def test_dow_anomaly_conditions_on_weekday(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import dow_anomaly

    # 4 weeks: Mondays always 100, except one 1000 Monday; other
    # days constant 50 — only the hot Monday should flag
    rows = []
    import datetime as dt

    for week in range(4):
        for d in range(7):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(
                days=week * 7 + d
            )
            v = 1.0 if day.weekday() == 0 else 0.5
            if day.weekday() == 0 and week == 2:
                v = 10.0
            rows.append((day.strftime("%Y-%m-%d %H:%M:%S"), v))
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    out = dow_anomaly(df).collect()
    flagged = [str(r["day"]) for r in out if r["is_anomaly"]]
    assert flagged == ["2024-01-15"]


# ---------------------------------------------------------------------------
# txt_hash_collision_audit
# ---------------------------------------------------------------------------


def test_collision_audit_accounting(spark):
    import __spark_entry__ as E

    r = E._txt_hash_collision_audit(spark, SF_DIR).collect()[0]
    assert r["n_buckets_used"] <= 1024
    assert r["n_colliding_terms"] <= r["n_terms"]
    assert 0.0 <= r["collision_frac"] <= 1.0
    assert r["max_bucket_terms"] >= 1


def test_collision_audit_tiny_dim_collides_everything(spark):
    from eggv_spark.operators.text_analysis import hash_collision_audit

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    r = hash_collision_audit(docs, n_buckets=1).collect()[0]
    assert r["n_buckets_used"] == 1
    assert r["collision_frac"] == 1.0
    assert r["max_bucket_terms"] == r["n_terms"] == 6
