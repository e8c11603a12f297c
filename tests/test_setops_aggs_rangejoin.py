"""Unit tests for set ops, multi-level/window aggregation, range join,
and as-of join (engine extensions beyond the reference, SURVEY §2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators import aggregates as AG
from eggv_spark.operators import relational as R
from eggv_spark.operators.rangejoin import asof_join, range_join


def test_set_ops(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(2, "y"), (3, "z")], ["k", "v"])
    assert R.union_all([a, b]).count() == 5
    assert sorted(r.k for r in R.distinct_union([a, b]).collect()) == [1, 2, 3]
    assert R.intersect_rows(a, b).collect() == [(2, "y")]
    assert sorted(r.k for r in R.except_rows(a, b).collect()) == [1]
    # exceptAll keeps multiplicity: two (2,y) minus one (2,y) leaves one.
    assert sorted(r.k for r in R.except_rows(a, b, keep_all=True).collect()) == [1, 2]
    assert sorted(r.k for r in R.semi_join(a, b, "k").collect()) == [2, 2]
    assert sorted(r.k for r in R.anti_join(a, b, "k").collect()) == [1]


def test_sort_limit_is_take_ordered(spark):
    df = spark.range(1000).withColumn("v", (F.col("id") * 37) % 1000)
    top = R.sort_limit(df, [F.col("v").desc(), F.col("id").asc()], 5)
    assert [r.v for r in top.collect()] == [999, 998, 997, 996, 995]
    # Scale check: the physical plan is TakeOrderedAndProject, not a
    # global Sort + Limit (no full-sort shuffle).
    assert "TakeOrderedAndProject" in top._jdf.queryExecution().executedPlan().toString()


def test_rollup_cube_grouping_sets(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], ["g1", "g2", "v"]
    )
    aggs = {"total": F.sum("v")}
    roll = AG.rollup_agg(df, ["g1", "g2"], aggs)
    # rows: 3 leaf + 2 (g1) subtotals + 1 grand total
    assert roll.count() == 6
    grand = roll.filter("grouping_level = 3").collect()[0]
    assert grand.total == 7
    cube = AG.cube_agg(df, ["g1", "g2"], aggs)
    # + 2 (g2) subtotal rows vs rollup
    assert cube.count() == 8
    gs = AG.grouping_sets_agg(df, [["g1"], ["g2"]], ["g1", "g2"], aggs)
    assert gs.count() == 4  # 2 g1 groups + 2 g2 groups
    g1_rows = {r.g1: r.total for r in gs.filter("g1 IS NOT NULL").collect()}
    assert g1_rows == {"a": 3, "b": 4}


def test_window_analytics(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
        ["k", "seq", "v"],
    )
    out = AG.with_lag_lead(df, "v", ["k"], ["seq"])
    rows = {(r.k, r.seq): (r.prev_value, r.next_value) for r in out.collect()}
    assert rows[(1, 2)] == (10.0, 30.0)
    assert rows[(1, 1)] == (None, 20.0)
    assert rows[(2, 1)] == (None, None)

    run = AG.with_running_sum(df, "v", ["k"], ["seq"])
    sums = {(r.k, r.seq): r.running_sum for r in run.collect()}
    assert sums[(1, 3)] == 60.0
    mov = AG.with_moving_avg(df, "v", ["k"], ["seq"], preceding=1)
    avgs = {(r.k, r.seq): r.moving_avg for r in mov.collect()}
    assert avgs[(1, 3)] == 25.0  # (20+30)/2


def test_pivot_counts(spark):
    df = spark.createDataFrame(
        [(1, "click"), (1, "click"), (1, "view"), (2, "view")],
        ["user_id", "event_type"],
    )
    out = AG.pivot_counts(df, ["user_id"], "event_type", ["click", "view", "error"])
    rows = {r.user_id: (r.click, r.view, r.error) for r in out.collect()}
    assert rows == {1: (2, 1, 0), 2: (0, 1, 0)}


def test_json_field_null_semantics(spark):
    from eggv_spark.functions.extract import json_field, json_struct

    df = spark.createDataFrame(
        [('{"k": 5, "tag": "x"}',), ('{"tag": "y"}',), ("not json",), (None,)],
        ["props"],
    )
    out = df.select(
        json_field("props", "$.k").cast("long").alias("k"),
        json_struct("props", "k LONG, tag STRING").alias("s"),
    ).collect()
    assert [r.k for r in out] == [5, None, None, None]
    assert out[0].s.tag == "x"
    assert out[1].s.k is None
    assert out[2].s is None or out[2].s.k is None  # malformed -> null


def test_distinct_counts(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 3)], ["k", "v"]
    )
    out = {r.k: r.n_distinct for r in AG.distinct_counts(df, ["k"], "v").collect()}
    assert out == {"a": 2, "b": 1}


def test_range_join_bucketing_exact(spark):
    # Intervals deliberately spanning bin boundaries (width 10).
    intervals = spark.createDataFrame(
        [("c1", 5, 14, "iv1"), ("c1", 20, 20, "iv2"), ("c2", 5, 14, "iv3")],
        ["chrom", "lo", "hi", "iv_id"],
    )
    points = spark.createDataFrame(
        [("c1", 5, "p1"), ("c1", 14, "p2"), ("c1", 15, "p3"),
         ("c1", 20, "p4"), ("c2", 9, "p5")],
        ["chrom", "x", "pt_id"],
    )
    out = range_join(points, intervals, "x", "lo", "hi",
                     bin_width=10, partition_keys=["chrom"])
    pairs = {(r.pt_id, r.iv_id) for r in out.collect()}
    # closed bounds; chrom co-key respected; p3=15 matches nothing.
    assert pairs == {("p1", "iv1"), ("p2", "iv1"), ("p4", "iv2"), ("p5", "iv3")}
    # No duplicate pairs from the bin explosion.
    assert out.count() == len(pairs)


def test_gini_udaf(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 1.0),      # perfect equality
         ("b", 0.0), ("b", 0.0), ("b", 30.0)],    # extreme inequality
        ["k", "v"],
    )
    out = {r.k: r.gini for r in AG.gini_by_group(df, ["k"], "v").collect()}
    assert out["a"] == 0.0
    assert abs(out["b"] - 2 / 3) < 1e-3  # (2*3*30)/(3*30) - 4/3
    # the JVM window+agg form must agree with the UDAF exactly
    sql = {r.k: r.gini
           for r in AG.gini_by_group_sql(df, ["k"], "v").collect()}
    assert sql == out
    # all-zero group: both forms report 0.0, not NULL
    z = spark.createDataFrame([("z", 0.0), ("z", 0.0)], ["k", "v"])
    assert AG.gini_by_group_sql(z, ["k"], "v").collect()[0]["gini"] == 0.0


def test_connected_components_and_keepers(spark):
    from eggv_spark.operators.dedupe import (
        connected_components_star,
        dedup_keepers,
    )

    # Components: {1,2,3,4} (chain), {10,11}, singleton 99 unpaired.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comps = {
        r.node: r.component
        for r in connected_components_star(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    all_ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["doc_id"]
    )
    keep = {r.doc_id: r.keeper_id for r in dedup_keepers(pairs, all_ids).collect()}
    assert keep == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_asof_join_semantics(spark):
    quotes = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 101.0), (2, 15, 50.0)],
        ["sym", "t", "price"],
    )
    trades = spark.createDataFrame(
        [(1, 5, "t0"), (1, 10, "t1"), (1, 25, "t2"), (2, 14, "t3")],
        ["sym", "t", "trade_id"],
    )
    out = asof_join(trades, quotes, ["sym"], "t", ["price"], tiebreak_col="trade_id")
    prices = {r.trade_id: r.asof_price for r in out.collect()}
    # t0 predates all quotes -> null; t1 sees the equal-time quote;
    # t2 sees the latest; t3 predates sym 2's only quote.
    assert prices == {"t0": None, "t1": 100.0, "t2": 101.0, "t3": None}

    strict = asof_join(trades, quotes, ["sym"], "t", ["price"],
                       tiebreak_col="trade_id", strict=True)
    sprices = {r.trade_id: r.asof_price for r in strict.collect()}
    assert sprices["t1"] is None  # equal-time quote invisible under strict
    assert sprices["t2"] == 101.0


def test_asof_join_null_valued_match_row(spark):
    """pandas/DuckDB ASOF parity: the match is the nearest right ROW.
    When that row's value is null, the result is null — it must not
    fall back to an older row's value, and a tolerance bound must be
    checked against the matched row's time (not the older row's)."""
    from eggv_spark.operators.rangejoin import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, "old"), (1, 99, None)], "k long, t long, v string"
    )
    out = asof_join(left, right, ["k"], "t", ["v"]).collect()
    assert out[0].asof_v is None  # nearest row (t=99) wins, value null
    # With tolerance 5: the nearest row t=99 IS within bound; its null
    # value stands.  Under the old per-column carry, the value came
    # from t=10 while the bound was checked against t=99 — a stale
    # "old" would have leaked through.
    tol = asof_join(left, right, ["k"], "t", ["v"], tolerance=5).collect()
    assert tol[0].asof_v is None


def test_asof_join_forward_and_tolerance(spark):
    from eggv_spark.operators.rangejoin import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 50), (2, 10)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 12, "a"), (1, 100, "b"), (2, 5, "c")], "k long, t long, v string"
    )
    fwd = {
        (r.k, r.t): r.asof_v
        for r in asof_join(
            left, right, ["k"], "t", ["v"], direction="forward"
        ).collect()
    }
    # forward: nearest right at-or-after
    assert fwd == {(1, 10): "a", (1, 50): "b", (2, 10): None}

    tol = {
        (r.k, r.t): r.asof_v
        for r in asof_join(
            left, right, ["k"], "t", ["v"],
            direction="forward", tolerance=10,
        ).collect()
    }
    # t=50 -> next right at 100 is 50 away: outside tolerance
    assert tol == {(1, 10): "a", (1, 50): None, (2, 10): None}

    back_tol = {
        (r.k, r.t): r.asof_v
        for r in asof_join(
            left, right, ["k"], "t", ["v"], tolerance=4,
        ).collect()
    }
    # backward: t=50 -> prior right at 12 is 38 away (out); t=10 has
    # no prior for k=1; k=2 t=10 -> right at 5 is 5 away (out at 4)
    assert back_tol == {(1, 10): None, (1, 50): None, (2, 10): None}


def test_asof_join_forward_equal_time_inclusive_vs_strict(spark):
    from eggv_spark.operators.rangejoin import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 10, "eq"), (1, 20, "later")],
                                  "k long, t long, v string")
    inc = asof_join(left, right, ["k"], "t", ["v"],
                    direction="forward").first().asof_v
    st = asof_join(left, right, ["k"], "t", ["v"],
                   direction="forward", strict=True).first().asof_v
    assert inc == "eq" and st == "later"


def test_interval_overlap_join_dedups_multi_bin_pairs(spark):
    from eggv_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 9), (2, 5, 10), (3, 12, 12), (4, 30, 31)],
        "lid long, l_lo long, l_hi long",
    )
    right = spark.createDataFrame(
        [(100, 0, 9), (200, 10, 19)], "rid long, r_lo long, r_hi long"
    )
    out = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=5
    )
    pairs = sorted((r.lid, r.rid) for r in out.collect())
    # lid=1 x rid=100 share bins 0 AND 1 -> must appear exactly once;
    # lid=2 touches both months; lid=3 only the second; lid=4 neither
    assert pairs == [(1, 100), (2, 100), (2, 200), (3, 200)]


def test_equi_depth_histogram_balances_buckets(spark):
    from eggv_spark.operators.aggregates import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "v double"
    )
    rows = {r.bucket: r for r in equi_depth_histogram(
        df, "v", n_buckets=4).collect()}
    assert set(rows) == {1, 2, 3, 4}
    # 100 uniform values over 4 buckets: ~25 each, ranges contiguous
    assert all(20 <= rows[b].n_rows <= 30 for b in rows)
    assert rows[1].lo_cents == 100 and rows[4].hi_cents == 10000
    for b in (1, 2, 3):
        assert rows[b].hi_cents < rows[b + 1].lo_cents
