"""Staging tests for the fourteenth round-8 wave: MinHash recall
eval, raking (IPF) weight calibration, and the instruction-data
scorer.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# ddp_minhash_eval
# ---------------------------------------------------------------------------


def test_minhash_eval_full_recall_on_exact_plants(spark):
    from eggv_spark.registry.dedupe import _ddp_minhash_eval

    got = _ddp_minhash_eval(spark, SF_DIR).collect()[0]
    # plants are verbatim copies -> jaccard 1.0 -> LSH cannot miss
    assert got["recall"] == pytest.approx(1.0)
    assert got["n_recovered"] == got["n_truth"] > 0
    assert got["n_extra"] >= 0
    assert got["n_pred"] == got["n_recovered"] + got["n_extra"]


# ---------------------------------------------------------------------------
# raking_weights
# ---------------------------------------------------------------------------


def test_raking_converges_to_target_margins(spark):
    from pyspark.sql import functions as F

    from eggv_spark.operators.relational import raking_weights

    # deliberately skewed 2x2 table; targets 50/50 on both margins
    rows = (
        [("a", 0)] * 70 + [("a", 1)] * 10
        + [("b", 0)] * 10 + [("b", 1)] * 10
    )
    df = spark.createDataFrame(rows, "d1 string, d2 int")
    out = raking_weights(
        df, "d1", "d2", {"a": 0.5, "b": 0.5}, {0: 0.5, 1: 0.5},
        iterations=8,
    )
    m1 = {
        r["d1"]: r["w"]
        for r in out.groupBy("d1").agg(F.sum("weight_sum").alias("w"))
        .collect()
    }
    m2 = {
        r["d2"]: r["w"]
        for r in out.groupBy("d2").agg(F.sum("weight_sum").alias("w"))
        .collect()
    }
    # total mass = 100 rows; both margins within 1% of 50/50
    assert m1["a"] == pytest.approx(50.0, rel=0.01)
    assert m1["b"] == pytest.approx(50.0, rel=0.01)
    assert m2[0] == pytest.approx(50.0, rel=0.01)
    assert m2[1] == pytest.approx(50.0, rel=0.01)


def test_raking_raises_on_missing_target(spark):
    from eggv_spark.operators.relational import raking_weights

    df = spark.createDataFrame([("a", 0), ("c", 1)], "d1 string, d2 int")
    with pytest.raises(Exception, match="raking_weights"):
        raking_weights(
            df, "d1", "d2", {"a": 1.0}, {0: 0.5, 1: 0.5}
        ).collect()


# ---------------------------------------------------------------------------
# instruction_score
# ---------------------------------------------------------------------------


def test_instruction_score_flags(spark):
    from eggv_spark.operators.text_analysis import instruction_score

    docs = spark.createDataFrame(
        [
            (1, "Explain the theory in detail"),
            (2, "what is a monad?"),
            (3, "1. first step\n2. second step"),
            (4, "please review the attached"),
            (5, "nothing special here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in instruction_score(docs).collect()}
    assert out[1]["imperative_start"] and out[1]["instruction_score"] == 0.35
    assert out[2]["is_question"] and out[2]["instruction_score"] == 0.35
    assert out[3]["has_enumeration"] and out[3]["instruction_score"] == 0.2
    assert out[4]["has_request"] and out[4]["instruction_score"] == 0.1
    assert out[5]["instruction_score"] == 0.0
