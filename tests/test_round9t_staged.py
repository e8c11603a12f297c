"""Staging tests for the twenty-first round-8 wave: repeated-sentence
audit, partial correlation, peak detection, ANN health gate.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# txt_dup_sentence_filter
# ---------------------------------------------------------------------------


def test_dup_sentence_hand_corpus(spark):
    from eggv_spark.operators.text_analysis import dup_sentence_filter

    docs = spark.createDataFrame(
        [
            (1, "Cookie banner here. Unique thought one."),
            (2, "Cookie banner here. Unique thought two."),
            (3, "All original. Nothing shared."),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dup_sentence_filter(docs).collect()}
    assert out[1]["n_dup_sentences"] == 1
    assert out[1]["dup_frac"] == 0.5
    assert out[3]["n_dup_sentences"] == 0 and out[3]["dup_frac"] == 0.0


def test_dup_sentence_own_repeat_not_corpus_dup(spark):
    from eggv_spark.operators.text_analysis import dup_sentence_filter

    # a doc repeating ITS OWN sentence is not corpus duplication
    docs = spark.createDataFrame(
        [(1, "Same line here. Same line here."), (2, "Other text.")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dup_sentence_filter(docs).collect()}
    assert out[1]["n_dup_sentences"] == 0


def test_dup_sentence_plants_detected(spark):
    from eggv_spark.registry.text import _txt_dup_sentence_filter

    out = _txt_dup_sentence_filter(spark, SF_DIR)
    # every planted doc (id >= 1,000,000) is a verbatim copy: its
    # sentences all occur in >= 2 docs
    plants = out.filter("doc_id >= 1000000")
    bad = plants.filter("dup_frac < 1.0").count()
    assert bad == 0 and plants.count() > 0


# ---------------------------------------------------------------------------
# agg_partial_corr
# ---------------------------------------------------------------------------


def test_partial_corr_removes_confounder(spark):
    from eggv_spark.operators.aggregates import partial_corr

    # x and y both equal z plus independent wiggle: r_xy is large,
    # partial r_xy.z should shrink toward 0
    rows = [
        (z * 10 + (i % 3), z * 10 + ((i * 7) % 5), z)
        for i, z in enumerate([j % 20 for j in range(200)])
    ]
    df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    assert r["r_xy"] > 0.9
    assert abs(r["partial_r"]) < 0.3


def test_partial_corr_nulls_dropped(spark):
    from eggv_spark.operators.aggregates import partial_corr

    rows = [(1, 2, 3), (2, 4, 5), (3, 6, 7), (None, 1, 1), (5, None, 2)]
    df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    assert r["n"] == 3 and r["r_xy"] == 1.0


# ---------------------------------------------------------------------------
# evt_peaks
# ---------------------------------------------------------------------------


def test_peaks_hand_series(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.events import peaks

    # cents: 100, 300, 200, 200, 500, 100 -> peaks at day2 (300) and
    # day5 (500); day4 not a peak (tie with day3 on the left is fine,
    # 200 !> 200)
    rows = [
        (f"2024-01-0{i + 1} 00:00:00", v)
        for i, v in enumerate([1.0, 3.0, 2.0, 2.0, 5.0, 1.0])
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    out = {str(r["day"]): r for r in peaks(df).collect()}
    assert out["2024-01-02"]["is_peak"] is True
    assert out["2024-01-02"]["prominence"] == 100
    assert out["2024-01-04"]["is_peak"] is False
    assert out["2024-01-05"]["is_peak"] is True
    assert out["2024-01-01"]["is_peak"] is False  # edge
    assert out["2024-01-06"]["is_peak"] is False  # edge


# ---------------------------------------------------------------------------
# composite_ann_health
# ---------------------------------------------------------------------------


def test_ann_health_gate_shape(spark):
    from eggv_spark.registry.composite import _composite_ann_health

    r = _composite_ann_health(spark, SF_DIR).collect()
    assert len(r) == 1
    row = r[0]
    assert 0.0 <= row["mean_recall_at_5"] <= 1.0
    assert row["imbalance_factor"] >= 1.0
    assert row["mean_pq_sqdist"] > 0
    assert row["healthy"] == (
        row["mean_recall_at_5"] >= 0.5 and row["imbalance_factor"] <= 4.0
    )
