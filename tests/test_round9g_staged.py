"""Property tests for the round-9g staged wave: the
difference-in-differences estimator and the IVF-kNN classification
eval composite (their sf0.001 oracle checks are in
tests/test_registry_oracles.py).

Staging lessons this wave encodes:

- DiD collapses to the (unit, period) grain FIRST so repeated events
  per unit don't fake sample size, then computes all four cells in
  ONE conditional aggregate (no pivot shuffle);
- the kNN composite reuses the already-validated IVF oracle as a
  derived table; the majority vote ties to the SMALLEST label
  (row_number over count DESC, label ASC), and the overall row uses
  label -1 (labels are non-negative ints) so the output stays a
  single scalar-typed column.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# --- did_estimator ----------------------------------------------------------


def test_did_matches_python_replica(spark):
    from eggv_spark.operators.events import did_estimator

    # unit-grain values with a planted treatment effect of +3 in the
    # treated post cell; several units contribute MULTIPLE event rows
    # that must collapse before cell counting
    cells = {
        (True, True): [7.0, 9.0, 11.0, 8.0],
        (True, False): [4.0, 6.0, 5.0],
        (False, True): [5.0, 6.0, 7.0],
        (False, False): [4.0, 5.0, 6.0, 5.0],
    }
    rows = []
    uid = 0
    for (t, p), ys in cells.items():
        for y in ys:
            uid += 1
            # split each unit's value over two event rows
            rows.append((uid, t, p, y / 2))
            rows.append((uid, t, p, y / 2))
    df = spark.createDataFrame(
        rows, "unit long, is_treat boolean, is_post boolean, y double"
    )
    row = did_estimator(df).collect()[0]

    def mean(c):
        return sum(c) / len(c)

    def var_over_n(c):
        m = mean(c)
        return sum((x - m) ** 2 for x in c) / (len(c) - 1) / len(c)

    did = (mean(cells[(True, True)]) - mean(cells[(True, False)])) - (
        mean(cells[(False, True)]) - mean(cells[(False, False)])
    )
    se = math.sqrt(sum(var_over_n(c) for c in cells.values()))
    assert row["n_treat_post"] == 4
    assert row["n_ctrl_pre"] == 4
    assert row["did"] == pytest.approx(did, abs=2e-6)
    assert row["se"] == pytest.approx(se, abs=2e-6)
    assert row["t_stat"] == pytest.approx(did / se, abs=2e-4)
    # the planted effect shows: treated gained ~ +3 over control trend
    assert 2.0 < row["did"] < 4.0


def test_did_rejects_null_flags(spark):
    from eggv_spark.operators.events import did_estimator

    df = spark.createDataFrame(
        [(1, True, True, 1.0), (2, None, False, 2.0)],
        "unit long, is_treat boolean, is_post boolean, y double",
    )
    with pytest.raises(Exception, match="non-null"):
        did_estimator(df).collect()


# --- composite_knn_eval -----------------------------------------------------


def test_knn_eval_output_shape_and_bounds(spark):
    from eggv_spark.registry.composite import _composite_knn_eval

    rows = _composite_knn_eval(spark, SF_DIR).collect()
    by_label = {r["label"]: r for r in rows}
    assert -1 in by_label  # the overall row
    overall = by_label[-1]
    assert overall["n_queries"] == sum(
        r["n_queries"] for r in rows if r["label"] != -1
    )
    for r in rows:
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["n_correct"] <= r["n_queries"]


def test_knn_vote_tie_goes_to_smallest_label(spark):
    from pyspark.sql import functions as F

    # replicate the vote kernel on a forced 2-2-1 tie
    votes = spark.createDataFrame(
        [(0, 3, 2), (0, 1, 2), (0, 7, 1)], ["query_id", "_nl", "_c"]
    )
    pred = votes.groupBy("query_id").agg(
        (
            -F.max(F.struct(F.col("_c"), (-F.col("_nl")).alias("_neg")))[
                "_neg"
            ]
        ).alias("_pred")
    )
    assert pred.collect()[0]["_pred"] == 1
