"""Regression tests for the round-7 ADVICE items, fixed in round 8:

1. ``pps_stratified_sample`` retains NULL-valued strata (null-safe
   totals join instead of the NULL-dropping plain equi-join);
2. ``hhi_concentration`` emits a row for NULL-keyed groups;
3. ``bpe_apply_merges`` fails loudly on a merges/n_merges mismatch
   instead of silently emptying the vocabulary, and holds at most one
   cached vocabulary copy;
4. ``active_user_counts`` reports trailing-only days with dau/wau = 0
   instead of dropping them (the long-window count drives the spine);
5. ``graph.modularity`` surfaces dropped unmapped-endpoint edges via
   a '__UNMAPPED__' diagnostic row (absent on fully-assigned graphs).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def test_pps_stratified_retains_null_stratum(spark):
    from eggv_spark.operators.relational import pps_stratified_sample

    schema = StructType([
        StructField("stratum", StringType()),
        StructField("k", StringType()),
        StructField("w", LongType()),
    ])
    rows = [("s0", f"k{i}", 100) for i in range(20)] + [
        (None, f"n{i}", 100) for i in range(20)
    ]
    df = spark.createDataFrame(rows, schema)
    out = pps_stratified_sample(df, ["stratum"], ["k"], "w",
                                n_per_stratum=4).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r)
    # equal integer weights => exactly n_per_stratum selections in
    # BOTH strata, including the NULL-keyed one
    assert len(by_stratum.get("s0", [])) == 4
    assert len(by_stratum.get(None, [])) == 4


def test_hhi_retains_null_keyed_group(spark):
    from eggv_spark.operators.aggregates import hhi_concentration

    schema = StructType([
        StructField("g", StringType()),
        StructField("v", DoubleType()),
    ])
    rows = [("a", 50.0), ("a", 50.0), (None, 90.0), (None, 10.0)]
    df = spark.createDataFrame(rows, schema)
    got = {r["g"]: r for r in hhi_concentration(df, ["g"], "v").collect()}
    assert set(got) == {"a", None}
    assert got["a"]["hhi"] == 0.5
    assert got[None]["hhi"] == pytest.approx(0.81 + 0.01)
    assert got[None]["n_contributors"] == 2


def test_bpe_apply_merges_guards_step_mismatch(spark):
    from eggv_spark.operators.text_analysis import (
        bpe_apply_merges,
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest")],
        ["doc_id", "text"],
    )
    merges = bpe_train_merges(df, n_merges=2)
    # n_merges beyond the trained table: step 3 has no row -> loud
    # in-plan failure, not a silent empty result
    with pytest.raises(Exception, match="bpe_apply_merges"):
        bpe_apply_merges(df, merges, 3).collect()
    # matched n_merges still works
    ok = bpe_apply_merges(df, merges, 2).collect()
    assert len(ok) == 2
    assert all(r["n_bpe_tokens"] > 0 for r in ok)


def test_active_user_counts_trailing_only_day_reports_zero(spark):
    from eggv_spark.operators.events import active_user_counts

    base = dt.datetime(2024, 3, 1)
    rows = [
        ("u1", base),
        ("u2", base),
        # 5 days later: day 2024-03-03 has NO same-day activity but
        # both users are in its trailing 7/28-day windows
        ("u1", base + dt.timedelta(days=5)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r["day"]: r for r in
           active_user_counts(df, "user_id", "ts").collect()}
    gap_day = (base + dt.timedelta(days=2)).date()
    assert gap_day in out, "trailing-only day must appear"
    assert out[gap_day]["dau"] == 0
    assert out[gap_day]["wau"] == 2
    assert out[gap_day]["mau"] == 2
    assert out[gap_day]["dau_mau_ratio"] == 0.0
    # spine still trims at the max activity day
    assert max(out) == (base + dt.timedelta(days=5)).date()


def test_modularity_unmapped_edges_diagnostic_row(spark):
    from eggv_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9)], ["src", "dst"]
    )
    # node 9 is unassigned -> edge (3, 9) is excluded AND surfaced
    comm = spark.createDataFrame(
        [(1, "c"), (2, "c"), (3, "c")], ["node", "community"]
    )
    rows = {r["community"]: r for r in modularity(edges, comm).collect()}
    assert "__UNMAPPED__" in rows
    assert rows["__UNMAPPED__"]["intra_edges"] == 1
    assert rows["__UNMAPPED__"]["degree_sum"] == 0
    # Q is computed over the assigned subgraph only (m = 2)
    assert rows["__ALL__"]["intra_edges"] == 2

    # fully-assigned graph: no diagnostic row, output unchanged
    comm_full = spark.createDataFrame(
        [(1, "c"), (2, "c"), (3, "c"), (9, "d")], ["node", "community"]
    )
    full = [r["community"] for r in modularity(edges, comm_full).collect()]
    assert "__UNMAPPED__" not in full
