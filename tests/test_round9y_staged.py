"""Staging tests for the twenty-sixth round-8 wave: embedding
quality gate and rare-category collapse.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# sim_vector_quality_audit
# ---------------------------------------------------------------------------


def test_vector_audit_catches_bad_rows(spark):
    from eggv_spark.operators.similarity import vector_quality_audit

    rows = [
        (1, [3.0, 4.0]),       # norm 5
        (2, [0.0, 0.0]),       # zero norm
        (3, None),             # null
        (4, [1.0]),            # wrong width
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    r = vector_quality_audit(df, dim=2).collect()[0]
    assert r["n"] == 4
    assert r["n_null"] == 1
    assert r["n_wrong_width"] == 1
    assert r["n_zero_norm"] == 1
    assert r["min_norm"] == 0.0 and r["max_norm"] == 5.0
    assert r["mean_norm"] == 2.5


def test_vector_audit_clean_corpus(spark):
    import __spark_entry__ as E

    r = E._sim_vector_quality_audit(spark, SF_DIR).collect()[0]
    assert r["n_null"] == 0 and r["n_wrong_width"] == 0
    assert r["n_zero_norm"] == 0
    assert 0 < r["min_norm"] <= r["max_norm"]


# ---------------------------------------------------------------------------
# fe_rare_category_collapse
# ---------------------------------------------------------------------------


def test_rare_collapse_hand_table(spark):
    from eggv_spark.operators.relational import rare_category_collapse

    rows = [("big",)] * 30 + [("tiny1",)] * 2 + [("tiny2",)] * 3
    df = spark.createDataFrame(rows, "c string")
    out = {
        r["category"]: r
        for r in rare_category_collapse(df, "c", min_count=10).collect()
    }
    assert out["big"]["n_rows"] == 30
    assert out["big"]["is_collapsed"] is False
    assert out["__OTHER__"]["n_rows"] == 5
    assert out["__OTHER__"]["n_source_categories"] == 2
    assert out["__OTHER__"]["is_collapsed"] is True


def test_rare_collapse_sentinel_conflict_raises(spark):
    from eggv_spark.operators.relational import rare_category_collapse

    df = spark.createDataFrame([("__OTHER__",)], "c string")
    with pytest.raises(Exception, match="sentinel"):
        rare_category_collapse(df, "c", min_count=1).collect()
