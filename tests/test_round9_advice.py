"""Regression tests for the round-8 ADVICE items, fixed in round 9:

1. ``graph.scc`` output renamed to ``bounded_scc_id`` /
   ``bounded_scc_size`` — the hop bound is part of the contract
   (mutual reachability within max_hops is not transitive, so the
   labels are only guaranteed to be a real SCC partition when every
   component's diameter fits the bound);
2. ``events.logrank_test`` raises on a MIXED variant assignment
   (one user under both variants) instead of silently resolving to
   max(variant);
3. ``events.quantile_treatment_effects`` selects the order statistic
   with integer-rational arithmetic — a p·n whose IEEE product rounds
   just above an exact integer (0.28·25 = 7.000000000000001) must
   still pick rank 7 = ceil(7·25/25), not rank 8 = ceil(float);
4. ``aggregates.smd_balance`` yields NULL (not a raw /0, which throws
   under ANSI mode) for single-row or empty arms;
5. ``aggregates.fleiss_kappa`` on an EMPTY input returns the 1-row
   all-NULL readout instead of the misleading ragged-panel raise.
"""

from __future__ import annotations

import math
from fractions import Fraction

import pytest
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# 1. graph.scc — bounded contract carried in the column names
# ---------------------------------------------------------------------------


def test_scc_output_names_carry_the_bound(spark):
    from eggv_spark.operators.graph import scc

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src int, dst int"
    )
    out = scc(edges, max_hops=3)
    assert set(out.columns) == {"node", "bounded_scc_id", "bounded_scc_size"}
    rows = {r["node"]: r for r in out.collect()}
    assert all(rows[n]["bounded_scc_id"] == 1 for n in (1, 2, 3))
    assert all(rows[n]["bounded_scc_size"] == 3 for n in (1, 2, 3))


def test_scc_underbounded_labels_are_visibly_bounded(spark):
    """A 4-cycle under max_hops=2: nodes cannot mutually reach across
    the full diameter, so labels fragment — which is exactly why the
    columns say 'bounded'.  The test pins the contract: the call
    succeeds and reports label GROUPS, not a guaranteed partition."""
    from eggv_spark.operators.graph import scc

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src int, dst int"
    )
    out = scc(edges, max_hops=2).collect()
    assert len(out) == 4
    # with hops=4 the same graph is one exact SCC
    full = scc(edges, max_hops=4).collect()
    assert {r["bounded_scc_id"] for r in full} == {1}
    assert {r["bounded_scc_size"] for r in full} == {4}


# ---------------------------------------------------------------------------
# 2. logrank_test — mixed variant assignment raises
# ---------------------------------------------------------------------------


def _logrank_rows():
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u, v in [("u1", "A"), ("u2", "A"), ("u3", "B"), ("u4", "B")]:
        rows.append((u, v, "signup", t0))
        rows.append((u, v, "purchase", t0 + dt.timedelta(days=2)))
    return rows


def test_logrank_clean_assignment_passes(spark):
    from eggv_spark.operators.events import logrank_test

    df = spark.createDataFrame(
        _logrank_rows(),
        "user_id string, variant string, event_type string, ts timestamp",
    )
    out = logrank_test(df).collect()
    assert len(out) == 1
    assert out[0]["n_users_a"] == 2 and out[0]["n_users_b"] == 2


def test_logrank_mixed_assignment_raises(spark):
    import datetime as dt

    from eggv_spark.operators.events import logrank_test

    rows = _logrank_rows()
    # u1 shows up under BOTH variants: previously silently max()->'B'
    rows.append(("u1", "B", "purchase", dt.datetime(2024, 1, 5)))
    df = spark.createDataFrame(
        rows,
        "user_id string, variant string, event_type string, ts timestamp",
    )
    with pytest.raises(Exception, match="mixed variant assignment"):
        logrank_test(df).collect()


def test_logrank_unknown_variant_still_raises(spark):
    import datetime as dt

    from eggv_spark.operators.events import logrank_test

    rows = _logrank_rows()
    rows.append(("u9", "C", "signup", dt.datetime(2024, 1, 1)))
    df = spark.createDataFrame(
        rows,
        "user_id string, variant string, event_type string, ts timestamp",
    )
    with pytest.raises(Exception, match="unknown variant"):
        logrank_test(df).collect()


# ---------------------------------------------------------------------------
# 3. quantile_treatment_effects — integer-safe rank selection
# ---------------------------------------------------------------------------


def test_qte_float_boundary_rank_is_type1_exact(spark):
    """p = 0.28 over n = 25 rows per arm: 0.28*25 rounds to
    7.000000000000001 in IEEE doubles, so a float ceil picks rank 8;
    the type-1 definition (ceil(7*25/25) = 7) requires rank 7.  With
    outcomes = 1..25 per arm the reported quantile must be 7."""
    assert math.ceil(0.28 * 25) == 8  # the hazard this test pins
    assert -((-Fraction("0.28").numerator * 25)
             // Fraction("0.28").denominator) == 7

    from eggv_spark.operators.events import quantile_treatment_effects

    rows = [(True, v) for v in range(1, 26)] + [
        (False, v * 10) for v in range(1, 26)
    ]
    df = spark.createDataFrame(rows, "treated boolean, outcome_cents long")
    out = {
        r["p"]: r
        for r in quantile_treatment_effects(
            df, quantiles=(0.28, 0.5)
        ).collect()
    }
    assert out[0.28]["q_treated"] == 7
    assert out[0.28]["q_control"] == 70
    assert out[0.28]["qte"] == -63
    assert out[0.5]["q_treated"] == 13  # ceil(25/2) = 13, sanity
    assert out[0.5]["n_treated"] == 25 and out[0.5]["n_control"] == 25


# ---------------------------------------------------------------------------
# 4. smd_balance — degenerate arms yield NULL, never a /0
# ---------------------------------------------------------------------------


def test_smd_balance_single_row_arm_is_null_not_error(spark):
    from eggv_spark.operators.aggregates import smd_balance

    df = spark.createDataFrame(
        [(True, 5), (False, 1), (False, 2), (False, 3)],
        "treated boolean, x long",
    )
    out = smd_balance(df, "treated", ["x"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_treated"] == 1 and r["n_control"] == 3
    assert r["mean_treated"] == 5.0
    assert r["smd"] is None  # variance undefined for a 1-row arm


def test_smd_balance_empty_arm_is_null_not_error(spark):
    from eggv_spark.operators.aggregates import smd_balance

    df = spark.createDataFrame(
        [(False, 1), (False, 2), (False, 3)], "treated boolean, x long"
    )
    out = smd_balance(df, "treated", ["x"]).collect()
    assert len(out) == 1
    assert out[0]["n_treated"] == 0
    assert out[0]["mean_treated"] is None
    assert out[0]["smd"] is None


def test_smd_balance_healthy_arms_unchanged(spark):
    from eggv_spark.operators.aggregates import smd_balance

    df = spark.createDataFrame(
        [(True, 1), (True, 3), (False, 2), (False, 6)],
        "treated boolean, x long",
    )
    r = smd_balance(df, "treated", ["x"]).collect()[0]
    # means 2 and 4, variances 2 and 8, smd = -2/sqrt(5)
    assert r["mean_treated"] == 2.0 and r["mean_control"] == 4.0
    assert r["smd"] == round(-2.0 / math.sqrt(5.0), 6)


# ---------------------------------------------------------------------------
# 5. fleiss_kappa — explicit empty case
# ---------------------------------------------------------------------------


def test_fleiss_kappa_empty_input_returns_null_row(spark):
    from eggv_spark.operators.aggregates import fleiss_kappa

    schema = StructType([
        StructField("c0", LongType()),
        StructField("c1", LongType()),
    ])
    df = spark.createDataFrame([], schema)
    out = fleiss_kappa(df, ["c0", "c1"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_items"] == 0
    assert r["n_raters"] is None and r["kappa"] is None


def test_fleiss_kappa_ragged_panel_still_raises(spark):
    from eggv_spark.operators.aggregates import fleiss_kappa

    df = spark.createDataFrame(
        [(2, 2), (1, 2)], "c0 long, c1 long"
    )
    with pytest.raises(Exception, match="same total"):
        fleiss_kappa(df, ["c0", "c1"]).collect()


def test_fleiss_kappa_values_unchanged(spark):
    from eggv_spark.operators.aggregates import fleiss_kappa

    # 3 items, 4 raters each: perfect agreement on 2, split on 1
    df = spark.createDataFrame(
        [(4, 0), (0, 4), (2, 2)], "c0 long, c1 long"
    )
    r = fleiss_kappa(df, ["c0", "c1"]).collect()[0]
    assert r["n_items"] == 3 and r["n_raters"] == 4
    # P_i: (16-4)/12=1, 1, (8-4)/12=1/3 -> p_bar = 7/9
    assert r["p_bar"] == round(7.0 / 9.0, 6)
    assert r["p_e"] == 0.5
    assert r["kappa"] == round((7.0 / 9.0 - 0.5) / 0.5, 6)
