"""Round-5 operator tests: statistics, survival/LTV, graph, text
curation, containment dedup, PNG headers, table ops, sampling."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eggv_spark.operators import aggregates as AG
from eggv_spark.operators import graph as G
from eggv_spark.operators import text_analysis as T
from eggv_spark.operators.dedupe import containment_pairs
from eggv_spark.operators.events import cohort_ltv, km_survival
from eggv_spark.operators.geo import grid_density
from eggv_spark.operators.multimodal import (
    parse_png_header,
    synthesize_png_headers,
)
from eggv_spark.operators.relational import (
    horvitz_thompson_totals,
    min_per_group_sample,
)
from eggv_spark.operators.tableops import delete_where, write_audit_publish


def test_spearman_monotone_is_one(spark):
    rows = [(i, float(i), float(i * i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = AG.spearman_corr(df.withColumn("g", F.lit("a")), ["g"], "x", "y")
    r = out.collect()[0]
    assert r["spearman"] == 1.0 and r["n"] == 20


def test_spearman_ties_average_rank(spark):
    # x has ties; hand-computed average-rank value for this fixture
    rows = [(1, 1.0, 1.0), (2, 1.0, 2.0), (3, 2.0, 3.0),
            (4, 3.0, 4.0), (5, 3.0, 6.0), (6, 4.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = AG.spearman_corr(df.withColumn("g", F.lit("a")), ["g"], "x", "y")
    assert abs(out.collect()[0]["spearman"] - 0.8827) < 1e-4


def test_cramers_v_perfect_association(spark):
    rows = [("a", "x")] * 10 + [("b", "y")] * 10
    df = spark.createDataFrame(rows, "p string, q string")
    out = AG.cramers_v(df, "p", "q").collect()[0]
    assert out["cramers_v"] == 1.0 and out["chi2"] == 20.0


def test_cramers_v_independence_near_zero(spark):
    rows = [(a, b) for a in "ab" for b in "xy" for _ in range(5)]
    df = spark.createDataFrame(rows, "p string, q string")
    out = AG.cramers_v(df, "p", "q").collect()[0]
    assert out["chi2"] == 0.0 and out["cramers_v"] == 0.0


def test_cohens_d_known_value(spark):
    rows = [Row(g=0, v=float(x)) for x in (1, 2, 3, 4, 5)]
    rows += [Row(g=1, v=float(x)) for x in (3, 4, 5, 6, 7)]
    out = AG.cohens_d(
        spark.createDataFrame(rows).withColumn("k", F.lit("a")),
        ["k"], "g", "v",
    ).collect()[0]
    # diff = 2, pooled sd = sqrt(2.5) -> d = 1.2649
    assert out["mean_diff"] == 2.0
    assert abs(out["cohens_d"] - 1.2649) < 1e-4


def test_mutual_info_perfect_dependence(spark):
    rows = [("a", "x")] * 8 + [("b", "y")] * 8
    out = AG.mutual_information(
        spark.createDataFrame(rows, "p string, q string"), "p", "q"
    ).collect()[0]
    # MI = H(a) = ln 2; NMI = 1
    assert abs(out["mi_nats"] - math.log(2)) < 1e-6
    assert out["nmi"] == 1.0


def test_trimmed_mean_drops_outliers(spark):
    vals = [1000.0] + [10.0] * 8 + [-1000.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = AG.trimmed_mean(
        df.withColumn("g", F.lit("a")), ["g"], "v", "id", trim=0.1
    ).collect()[0]
    assert out["trimmed_mean"] == 10.0 and out["n_kept"] == 8


def test_lorenz_equal_distribution_is_linear(spark):
    rows = [(i, 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = AG.lorenz_deciles(
        df.withColumn("g", F.lit("a")), ["g"], "v", "id"
    ).collect()
    shares = {r["decile"]: r["cum_share"] for r in out}
    assert shares[1] == 0.1 and shares[5] == 0.5 and shares[10] == 1.0


def test_ecdf_at_points_exact(spark):
    rows = [(i, float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = AG.ecdf_at_points(
        df.withColumn("g", F.lit("a")), ["g"], "v", [5.0, 10.0]
    ).collect()
    cdf = {r["probe"]: r["cdf"] for r in out}
    assert cdf[5.0] == 0.5 and cdf[10.0] == 1.0


def test_runs_test_alternating_series(spark):
    # perfectly alternating -> maximum runs -> large positive z
    rows = [(i, 1.0 if i % 2 else -1.0) for i in range(20)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.runs_test(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v"
    ).collect()[0]
    assert out["runs"] == 20 and out["runs_z"] > 3.0


def test_permutation_test_null_is_insignificant(spark):
    # identical arms -> diff 0 -> p must be large
    rows = [(i, 1.0 + (i % 5), i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v double, arm int")
    out = AG.permutation_test_diff(
        df.withColumn("g", F.lit("a")), ["g"], "arm", "v", "id",
        n_permutations=32,
    ).collect()[0]
    assert out["p_value"] > 0.2


def test_bh_adjust_flags_prefix(spark):
    rows = [("a", 0.001), ("b", 0.002), ("c", 0.9), ("d", 0.95)]
    df = spark.createDataFrame(rows, "h string, p double")
    out = {r["h"]: r for r in AG.bh_adjust(df, "p", "h").collect()}
    assert out["a"]["significant"] == 1 and out["b"]["significant"] == 1
    assert out["c"]["significant"] == 0 and out["d"]["significant"] == 0


def test_fisher_combine_uniform_ps(spark):
    df = spark.createDataFrame(
        [(0.5,), (0.5,)], "p double"
    )
    out = AG.fisher_combine(df, "p").collect()[0]
    # X2 = -2*2*ln(.5) = 2.772589; dof 4; survival = e^-x/2 (1 + x/2)
    assert abs(out["fisher_x2"] - 2.772589) < 1e-4
    expect = math.exp(-1.3862945) * (1 + 1.3862945)
    assert abs(out["p_combined"] - round(expect, 6)) < 1e-5


def test_ljung_box_white_noise_large_p(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.random()) for i in range(60)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.ljung_box(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v", n_lags=4
    ).collect()[0]
    assert out["p_value"] > 0.05  # no serial correlation


def test_ratio_delta_ci_contains_truth(spark):
    rows = [(i, 10.0 + (i % 3), 5.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, y double, x double")
    out = AG.ratio_delta_ci(df, [], "y", "x").collect()[0]
    assert out["ci_lo"] <= out["ratio"] <= out["ci_hi"]
    assert abs(out["ratio"] - 2.2) < 0.01


def test_digit_histogram_buckets(spark):
    rows = [(1, 0.05), (2, 5.0), (3, 50.0), (4, 55.5)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r["bucket"]: r for r in
           AG.digit_histogram(df, [], "v").collect()}
    # cents: 5 -> 1 digit; 500 -> 3; 5000 and 5550 -> 4
    assert out[1]["n_rows"] == 1 and out[3]["n_rows"] == 1
    assert out[4]["n_rows"] == 2 and out[4]["cum_frac"] == 1.0


def test_ewma_constant_series_is_constant(spark):
    rows = [(i, 7.0) for i in range(15)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.with_ewma(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v"
    ).collect()
    assert all(r["ewma"] == 7.0 for r in out)


def test_rolling_skew_symmetric_window_zero(spark):
    # repeating symmetric pattern -> skew 0 when frame is full
    vals = [1.0, 2.0, 3.0, 2.0, 1.0, 2.0, 3.0, 2.0, 1.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.with_rolling_skew(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v", window_rows=7
    ).collect()
    full = [r for r in out if r["rolling_skew"] is not None]
    assert len(full) > 0
    assert all(abs(r["rolling_skew"]) < 0.45 for r in full)


def test_km_survival_all_convert_day_zero(spark):
    rows = []
    for u in range(4):
        rows.append((u * 10, "2024-01-01 00:00:00", u, "signup"))
        rows.append((u * 10 + 1, "2024-01-02 00:00:00", u, "purchase"))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = km_survival(df).collect()
    assert len(out) == 1
    assert out[0]["day"] == 1 and out[0]["survival"] == 0.0


def test_km_survival_censoring(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1, "signup"),
        (2, "2024-01-03 00:00:00", 1, "purchase"),
        (3, "2024-01-01 00:00:00", 2, "signup"),
        (4, "2024-01-05 00:00:00", 2, "view"),  # censored at tmax
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["day"]: r for r in km_survival(df).collect()}
    # day 2: 1 of 2 at risk converts -> S = 0.5; day 4 censor keeps S
    assert out[2]["survival"] == 0.5
    assert out[4]["survival"] == 0.5 and out[4]["d_events"] == 0


def test_cohort_ltv_cumulative(spark):
    rows = [
        (1, 100, "1995-01-15 00:00:00", 10.0),
        (2, 100, "1995-02-10 00:00:00", 30.0),
        (3, 200, "1995-01-20 00:00:00", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate string,"
        " o_totalprice double"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = {(r["cohort_month"], r["age_months"]): r
           for r in cohort_ltv(df).collect()}
    jan = out[("1995-01-01", 0)]
    assert jan["n_customers"] == 2 and jan["cum_revenue"] == 60.0
    assert out[("1995-01-01", 1)]["cum_revenue"] == 90.0
    assert out[("1995-01-01", 1)]["ltv_per_customer"] == 45.0


def test_kcore_removes_pendant_chain(spark):
    # triangle 1-2-3 plus pendant chain 3-4-5: 2-core = the triangle
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["degree"]
           for r in G.kcore_prune(df, k=2, iterations=3).collect()}
    assert set(out) == {1, 2, 3} and all(v == 2 for v in out.values())


def test_kcore_fixpoint_converges_where_fixed_rounds_do_not(spark):
    # Path of 12 nodes, k=2: each prune round peels one node off each
    # end (plus the output's final degree filter), so 3 fixed rounds
    # provably under-prune — interior nodes still look like a 2-core
    # prefix — while the true 2-core of any path is EMPTY.
    edges = [(i, i + 1) for i in range(1, 12)]
    df = spark.createDataFrame(edges, "src int, dst int")
    fixed = G.kcore_prune(df, k=2, iterations=3).collect()
    assert len(fixed) == 4  # non-converged bounded prefix
    fix = G.kcore_prune(df, k=2, to_fixpoint=True).collect()
    assert fix == []  # true fixpoint: a path has no 2-core


def test_hub_degree_cap_bounds_wedges_and_default_off_is_exact(spark):
    # Star: hub 0 joined to 1..20.  Uncapped, the hub contributes
    # C(20,2)=190 candidate pairs; max_degree=5 bounds it at C(5,2)=10.
    edges = [(0, i) for i in range(1, 21)]
    df = spark.createDataFrame(edges, "src int, dst int")
    exact = G.adamic_adar(df)
    assert exact.count() == 190
    capped = G.adamic_adar(df, max_degree=5)
    assert capped.count() == 10
    # default-off path must match the pre-cap implementation exactly
    # (the registry oracle depends on it)
    assert G.adamic_adar(df, max_degree=None).count() == 190

    nj_exact = G.neighbor_jaccard(df, min_common=1, k=500)
    assert nj_exact.count() == 190
    nj_capped = G.neighbor_jaccard(df, min_common=1, k=500, max_degree=5)
    assert nj_capped.count() == 10
    # capped rows still score with TRUE degrees: every leaf pair has
    # n_common=1, deg=1 each -> jaccard = 1/(1+1-1) = 1.0
    assert all(r["jaccard"] == 1.0 for r in nj_capped.collect())


def test_adamic_adar_scores_open_wedge(spark):
    # path 1-2-3: (1,3) is the only candidate; deg(2)=2 -> 1/ln 2
    edges = [(1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = G.adamic_adar(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"]) == (1, 3)
    assert abs(r["aa_score"] - round(1 / math.log(2), 6)) < 1e-6


def test_bfs_reach_depths(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["depth"]
           for r in G.bfs_reach(df, 1, max_depth=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_fixpoint_reaches_past_fixed_depth(spark):
    # path 1..7: max_depth=3 truncates at node 4; fixpoint mode
    # iterates until the frontier empties and reaches all 7 nodes
    edges = [(i, i + 1) for i in range(1, 7)]
    df = spark.createDataFrame(edges, "src int, dst int")
    fixed = {r["node"]: r["depth"]
             for r in G.bfs_reach(df, 1, max_depth=3).collect()}
    assert set(fixed) == {1, 2, 3, 4}  # truncated
    full = {r["node"]: r["depth"]
            for r in G.bfs_reach(df, 1, to_fixpoint=True).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5, 7: 6}


def test_code_signals_flags_code(spark):
    rows = [(1, "plain prose sentence here"),
            (2, "function f() { return 1; }")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.with_code_signals(df).collect()}
    assert out[1]["is_code"] == 0 and out[2]["is_code"] == 1
    assert out[2]["n_braces"] == 2 and out[2]["n_code_keywords"] == 2


def test_strip_markdown_removes_markup(spark):
    rows = [(1, "# Title\nbody [link](http://x.com) **bold**")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = T.strip_markdown(df).collect()[0]
    assert r["n_links"] == 1 and r["n_headings"] == 1
    assert r["stripped_text"] == "Title\nbody link bold"


def test_unicode_profile_ratios(spark):
    rows = [(1, "Ab1 .")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = T.with_unicode_profile(df).collect()[0]
    assert r["n_chars_text"] == 5
    assert r["digit_ratio"] == 0.2 and r["upper_ratio"] == 0.2
    assert r["punct_ratio"] == 0.2 and r["space_ratio"] == 0.2


def test_containment_detects_prefix_doc(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    half = " ".join(f"tok{i}" for i in range(20))
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, half), (3, other)], "doc_id long, text string"
    )
    out = containment_pairs(df, threshold=0.8).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"]) == (1, 2)
    assert out[0]["containment"] == 1.0


def test_containment_block_frequency_cap(spark):
    # Template corpus: 8 docs sharing one boilerplate text (every
    # bottom-k block has 8 members -> C(8,2)=28 candidate pairs) plus
    # a genuine prefix pair on distinct text.  A block-size ceiling
    # of 4 drops the boilerplate blocks entirely but keeps the
    # 2-member blocks of the genuine pair.
    boiler = " ".join(f"tpl{i}" for i in range(30))
    base = " ".join(f"tok{i}" for i in range(40))
    half = " ".join(f"tok{i}" for i in range(20))
    rows = [(i, boiler) for i in range(10, 18)] + [(1, base), (2, half)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = containment_pairs(df, threshold=0.8)
    assert exact.count() == 28 + 1
    capped = containment_pairs(df, threshold=0.8, max_block_size=4)
    got = capped.collect()
    assert len(got) == 1
    assert (got[0]["id_a"], got[0]["id_b"]) == (1, 2)


def test_png_header_roundtrip(spark):
    docs = spark.createDataFrame([(5,), (70,)], "doc_id long")
    out = {r["asset_id"]: r
           for r in parse_png_header(synthesize_png_headers(docs)).collect()}
    assert out[5]["width"] == 6 and out[5]["height"] == 36
    assert out[70]["width"] == 7 and out[70]["height"] == 11
    assert all(r["header_ok"] == 1 and r["bit_depth"] == 8
               and r["color_type"] == 2 for r in out.values())


def test_png_parse_rejects_garbage(spark):
    assets = spark.createDataFrame(
        [(1, bytearray(b"not a png at all, definitely"))],
        "asset_id long, payload binary",
    )
    r = parse_png_header(assets).collect()[0]
    assert r["header_ok"] == 0 and r["width"] is None


def test_delete_where_partitions_counts(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, g string")
    kept, audit = delete_where(df, F.col("id") < 4, audit_keys=["g"])
    assert kept.count() == 6
    a = {r["g"]: r for r in audit.collect()}
    assert a["a"]["rows_deleted"] == 2 and a["b"]["rows_deleted"] == 2
    assert a["a"]["rows_kept"] + a["b"]["rows_kept"] == 6


def test_wap_publish_rejects_bad_audit(spark, tmp_path):
    df = spark.createDataFrame([(1, None)], "id long, v string")
    with pytest.raises(ValueError, match="not_null_v"):
        write_audit_publish(
            df, str(tmp_path / "wap"), not_null_cols=["v"]
        )
    # nothing published on failure
    import os

    assert not os.path.exists(str(tmp_path / "wap" / "published"))


def test_wap_publish_happy_path(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = write_audit_publish(
        df, str(tmp_path / "wap2"), not_null_cols=["v"], min_rows=2
    )
    checks = {r["check_name"]: r["passed"] for r in out.collect()}
    assert checks["row_floor"] == 1 and checks["published_rows"] == 2
    back = spark.read.parquet(str(tmp_path / "wap2" / "published"))
    assert back.count() == 2


def test_min_per_group_floor_honored(spark):
    rows = [(i, "big") for i in range(500)] + [(1000 + i, "small")
                                               for i in range(5)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = min_per_group_sample(df, "g", "id", min_keep=20, frac_pct=10)
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 5          # whole tiny group survives
    assert 20 <= counts["big"] < 500     # floor + ~10%


def test_horvitz_thompson_unbiased_scale(spark):
    rows = [(i, float(i % 100), float(i % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double, s double")
    out = horvitz_thompson_totals(
        df.withColumn("g", F.lit("a")), ["g"], "v", "s", "id",
        size_threshold=50.0, base_pct=10,
    ).collect()[0]
    # HT count estimate should be within 25% of the true 2000
    assert abs(out["ht_count"] - out["n_total"]) / out["n_total"] < 0.25


def test_grid_density_ranks_hotspot(spark):
    rows = [(0.5, 0.5)] * 10 + [(45.5, 90.5)] * 3
    df = spark.createDataFrame(rows, "lat double, lon double")
    out = grid_density(df, "lat", "lon", cell_deg=1.0, top_n=5).collect()
    assert out[0]["n_points"] == 10 and out[0]["rank"] == 1
    assert out[0]["lat_lo"] == 0.0 and out[0]["lon_lo"] == 0.0


# ---------------------------------------------------------------------------
# review-pass regressions (round-5 code review)
# ---------------------------------------------------------------------------

def test_ljung_box_constant_series_is_null_not_error(spark):
    rows = [(i, 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.ljung_box(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v", n_lags=4
    ).collect()[0]
    assert out["lb_q"] is None and out["p_value"] is None


def test_ewma_null_series_head_is_null_not_error(spark):
    rows = [(1, None), (2, 7.0), (3, 8.0)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = {r["t"]: r["ewma"] for r in AG.with_ewma(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v"
    ).collect()}
    assert out[1] is None          # whole lag window NULL
    assert out[2] == 7.0 and out[3] is not None


def test_ratio_ci_zero_denominator_is_null_not_error(spark):
    rows = [(1, 2.0, 0.0), (2, 3.0, 0.0)]
    df = spark.createDataFrame(rows, "id long, y double, x double")
    out = AG.ratio_delta_ci(df, [], "y", "x").collect()[0]
    assert out["ratio"] is None and out["se"] is None


def test_fisher_combine_survives_large_family(spark):
    # Spark factorial is NULL past 20; the old series silently
    # reported p_combined = 1.0 for m >= 22
    import math

    df = spark.createDataFrame([(0.5,)] * 22, "p double")
    out = AG.fisher_combine(df, "p").collect()[0]
    x2 = round(-2 * 22 * math.log(0.5), 6)
    assert out["fisher_x2"] == x2
    half = x2 / 2
    term, total = 1.0, 1.0
    for i in range(1, 22):
        term *= half / i
        total += term
    want = min(math.exp(-half) * total, 1.0)
    assert abs(out["p_combined"] - round(want, 6)) < 1e-6
    assert out["p_combined"] < 1.0


def test_permutation_one_arm_p_is_one(spark):
    rows = [(i, float(i), 1) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v double, arm int")
    out = AG.permutation_test_diff(
        df.withColumn("g", F.lit("a")), ["g"], "arm", "v", "id",
        n_permutations=16,
    ).collect()[0]
    assert out["diff_obs"] is None and out["p_value"] == 1.0


def test_wap_republish_keeps_table_available(spark, tmp_path):
    base = str(tmp_path / "wap3")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id long, v string")
    write_audit_publish(df1, base, not_null_cols=["v"])
    out = write_audit_publish(df2, base, not_null_cols=["v"])
    checks = {r["check_name"]: r["passed"] for r in out.collect()}
    assert checks["published_rows"] == 2
    back = spark.read.parquet(base + "/published")
    assert sorted(r["id"] for r in back.collect()) == [2, 3]
    # no retired leftovers
    import os

    assert not [d for d in os.listdir(base) if d.startswith("published_retired")]


def test_bfs_reach_accepts_seed_frame(spark):
    edges = [(1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src int, dst int")
    seed = df.agg(F.min("src").alias("node"))
    out = {r["node"]: r["depth"]
           for r in G.bfs_reach(df, seed, max_depth=2).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


# ---------------------------------------------------------------------------
# wave-2 operators: k-sample tests, temporal stats, chunk dedup
# ---------------------------------------------------------------------------

def test_anova_identical_groups_f_near_zero(spark):
    rows = [(g, float(v)) for g in "abc" for v in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = AG.anova_oneway(df, "g", "v").collect()[0]
    assert out["k"] == 3 and out["n"] == 15
    assert out["f_stat"] == 0.0 and out["ss_between"] == 0.0


def test_anova_separated_groups_large_f(spark):
    rows = [("a", float(v)) for v in (1, 2, 3)]
    rows += [("b", float(v)) for v in (100, 101, 102)]
    out = AG.anova_oneway(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    assert out["f_stat"] > 1000


def test_kruskal_identical_groups(spark):
    rows = [(g, float(v)) for g in "abcde" for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = AG.kruskal_wallis(df, "g", "v").collect()[0]
    # identical distributions: H ~ 0, p ~ 1 (dof 4 is even -> closed form)
    assert out["kw_h"] is not None and out["kw_h"] < 0.01
    assert out["p_value"] is not None and out["p_value"] > 0.99


def test_kruskal_odd_dof_p_is_null(spark):
    rows = [(g, float(i)) for i, g in enumerate("aabb")]
    out = AG.kruskal_wallis(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    assert out["k"] == 2 and out["p_value"] is None  # dof 1 odd


def test_levene_equal_variances_small_w(spark):
    rows = [(g, float(v + (10 if g == "b" else 0)))
            for g in "ab" for v in (1, 2, 3, 4, 5)]
    out = AG.levene_test(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    # same shape, shifted location -> identical deviations -> W = 0
    assert out["levene_w"] == 0.0


def test_median_test_balanced_split(spark):
    rows = [("a", float(v), v) for v in range(1, 11)]
    rows += [("b", float(v), 100 + v) for v in range(1, 11)]
    out = AG.median_test(
        spark.createDataFrame(rows, "g string, v double, id long"),
        "g", "v", "id",
    ).collect()[0]
    # identical distributions -> chi2 == 0
    assert out["chi2"] == 0.0 and out["k"] == 2


def test_burstiness_regular_series_is_minus_one(spark):
    from eggv_spark.operators.events import burstiness_stats

    rows = [(i, "2024-01-01 00:%02d:00" % i, "x") for i in range(30)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = burstiness_stats(df).collect()[0]
    # perfectly regular gaps: sigma = 0 -> B = -1, CV = 0
    assert out["burstiness"] == -1.0 and out["cv"] == 0.0


def test_periodogram_pure_cycle_peaks_at_frequency(spark):
    from eggv_spark.operators.events import periodogram

    # 2 events on even days, 0 on odd -> strong power at k = span/2
    rows = []
    eid = 0
    for d in range(1, 29):
        for _ in range(3 + (2 if d % 2 == 0 else 0)):
            rows.append((eid, f"2024-01-{d:02d} 12:00:00", "x"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["freq"]: r["power"] for r in periodogram(df, n_freqs=14).collect()}
    # period 2 -> frequency span/2 = 14
    assert out[14] == max(out.values())


def test_gap_islands_splits_on_missing_month(spark):
    from eggv_spark.operators.events import gap_islands_histogram

    rows = [(1, 10, "1992-01-15"), (2, 10, "1992-02-03"),
            (3, 10, "1992-04-20"), (4, 20, "1992-06-01")]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate string"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = {r["island_length"]: r for r in gap_islands_histogram(df).collect()}
    # cust 10: [Jan, Feb] + [Apr]; cust 20: [Jun]
    assert out[2]["n_islands"] == 1
    assert out[1]["n_islands"] == 2 and out[1]["n_customers"] == 2


def test_content_chunks_are_insertion_robust(spark):
    from eggv_spark.operators.dedupe import content_defined_chunks

    base = " ".join(f"tok{i}" for i in range(60))
    shifted = "INSERTED " + base   # prefix insertion
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    chunks = content_defined_chunks(df).collect()
    h1 = {r["chunk_hash"] for r in chunks if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in chunks if r["doc_id"] == 2}
    # all but the first chunk of doc 1 must reappear in doc 2
    assert len(h1 & h2) >= len(h1) - 1 > 0


def test_novelty_idf_rare_doc_scores_higher(spark):
    from eggv_spark.operators.text_analysis import novelty_idf

    common = "the quick brown fox"
    docs = [(i, common) for i in range(9)] + [(9, "xylophone quark zeppelin")]
    out = {r["doc_id"]: r["novelty_idf"] for r in novelty_idf(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect()}
    assert out[9] > out[0]


def test_bigram_pmi_collocation_beats_chance(spark):
    from eggv_spark.operators.text_analysis import bigram_pmi

    # "hong kong" always adjacent; "the" everywhere
    rows = [(i, "the hong kong office of the firm") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bigram"]: r["pmi"] for r in bigram_pmi(df, min_count=5).collect()}
    assert out["hong kong"] > out["of the"]


def test_scene_cuts_flags_jump(spark):
    from eggv_spark.operators.multimodal import detect_scene_cuts

    rows = [(1, 0, 10.0), (1, 1, 10.5), (1, 2, 50.0), (1, 3, 50.2)]
    frames = spark.createDataFrame(
        rows, "asset_id long, frame_idx int, mean_y double"
    )
    out = detect_scene_cuts(frames, threshold=5.0).collect()[0]
    assert out["n_cuts"] == 1 and out["first_cut_idx"] == 2


# ---------------------------------------------------------------------------
# wave-3 operators
# ---------------------------------------------------------------------------

def test_friedman_identical_treatments(spark):
    rows = [(b, t, float(b)) for b in range(10) for t in "abcde"]
    df = spark.createDataFrame(rows, "blk int, trt string, y double")
    out = AG.friedman_test(df, "blk", "trt", "y").collect()[0]
    # all treatments tie within every block -> Q == 0, p == 1
    assert out["k"] == 5 and out["b"] == 10
    assert out["friedman_q"] == 0.0 and out["p_value"] == 1.0


def test_friedman_dominant_treatment(spark):
    rows = []
    for b in range(12):
        for i, t in enumerate("abcde"):   # k=5 -> even dof, p defined
            rows.append((b, t, float(i)))
    out = AG.friedman_test(
        spark.createDataFrame(rows, "blk int, trt string, y double"),
        "blk", "trt", "y",
    ).collect()[0]
    # fully ordered treatments across all blocks: Q = b(k-1) = 48 max
    assert out["friedman_q"] == 48.0 and out["p_value"] < 0.001


def test_powerlaw_mle_recovers_alpha(spark):
    # inverse-CDF sample of a pure alpha=2.5 power law
    import random

    rng = random.Random(5)
    xs = [1.0 * (1 - rng.random()) ** (-1 / 1.5) for _ in range(4000)]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    out = AG.powerlaw_mle(df, "v", 1.0).collect()[0]
    assert abs(out["alpha"] - 2.5) < 0.1


def test_bollinger_flags_spike(spark):
    vals = [10.0 + (i % 3) * 0.1 for i in range(25)]
    vals[24] = 50.0  # spike on the last row
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = AG.with_bollinger(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v", window_rows=20
    ).collect()
    by_t = {r["t"]: r for r in out}
    assert by_t[24]["bb_breach"] == 1
    assert by_t[10]["bb_breach"] is None  # frame not yet full
    assert by_t[23]["bb_breach"] == 0


def test_rsi_all_gains_pins_100(spark):
    rows = [(i, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = {r["t"]: r["rsi"] for r in AG.with_rsi(
        df.withColumn("g", F.lit("a")), ["g"], "t", "v", period=14
    ).collect()}
    assert out[19] == 100.0 and out[5] is None


def test_markov_entropy_deterministic_chain_is_zero(spark):
    from eggv_spark.operators.events import markov_entropy_rate

    # a -> b -> a -> b ... : next state fully determined
    rows = [(i, 1, f"2024-01-01 00:{i:02d}:00", "ab"[i % 2])
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = markov_entropy_rate(df).collect()[0]
    assert out["entropy_rate_nats"] == 0.0


def test_hapax_templated_vs_varied(spark):
    from eggv_spark.operators.text_analysis import hapax_stats

    rows = [(i, "tmpl", "the same words every time") for i in range(5)]
    rows += [(100 + i, "varied", f"unique{i} words vary here{i}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in hapax_stats(df).collect()}
    assert out["tmpl"]["n_hapax"] == 0
    assert out["varied"]["hapax_frac"] > 0.5


def test_hotspot_clusters_merge_adjacent_cells(spark):
    from eggv_spark.operators.geo import hotspot_clusters

    # two adjacent dense cells + one far-away dense cell
    pts = [(0.5, 0.5)] * 4 + [(0.5, 1.5)] * 4 + [(60.5, 60.5)] * 4
    df = spark.createDataFrame(pts, "lat double, lon double")
    out = hotspot_clusters(df, "lat", "lon", cell_deg=1.0, min_points=3)
    rows = sorted(out.collect(), key=lambda r: -r["n_cells"])
    assert len(rows) == 2
    assert rows[0]["n_cells"] == 2 and rows[0]["n_points"] == 8
    assert rows[1]["n_cells"] == 1 and rows[1]["n_points"] == 4


# ---------------------------------------------------------------------------
# wave-4: ML evaluation, agreement, Python DataSource, transformWithState
# ---------------------------------------------------------------------------

def test_average_precision_perfect_ranking(spark):
    rows = [(i, 10.0 - i, 1 if i < 3 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    out = AG.average_precision(df, "score", "y", "id").collect()[0]
    assert out["avg_precision"] == 1.0 and out["n_pos"] == 3


def test_average_precision_worst_ranking(spark):
    # positives ranked last: precision at the positives = k/(n-3+k)
    rows = [(i, 10.0 - i, 1 if i >= 7 else 0) for i in range(10)]
    out = AG.average_precision(
        spark.createDataFrame(rows, "id long, score double, y int"),
        "score", "y", "id",
    ).collect()[0]
    want = (1 / 8 + 2 / 9 + 3 / 10) / 3
    assert abs(out["avg_precision"] - round(want, 6)) < 1e-6


def test_lift_chart_top_decile_concentration(spark):
    rows = [(i, 100.0 - i, 1 if i < 10 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    out = {r["decile"]: r for r in AG.lift_chart(
        df, "score", "y", "id"
    ).collect()}
    # all positives in decile 1 -> lift 10, cum_gain 1.0 from decile 1
    assert out[1]["lift"] == 10.0 and out[1]["cum_gain"] == 1.0
    assert out[10]["n_pos"] == 0


def test_cohen_kappa_perfect_and_chance(spark):
    rows = [(i, i % 2) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, y int")
    perfect = AG.cohen_kappa(
        df, F.col("y") == 1, F.col("y") == 1
    ).collect()[0]
    assert perfect["kappa"] == 1.0
    # rater B constant: expected agreement = observed -> kappa 0
    const = AG.cohen_kappa(df, F.col("y") == 1, F.lit(True)).collect()[0]
    assert const["kappa"] == 0.0


def test_mcnemar_counts_discordant_only(spark):
    # users: 3 flip a->b==0, 1 flips 0->1, 6 concordant
    rows = []
    for u in range(3):
        rows.append((u, 1, 0))
    rows.append((3, 0, 1))
    for u in range(4, 10):
        rows.append((u, 1, 1))
    df = spark.createDataFrame(rows, "u long, fa int, fb int")
    out = AG.mcnemar_test(
        df, "u", F.col("fa") == 1, F.col("fb") == 1
    ).collect()[0]
    assert out["b_only_first"] == 3 and out["c_only_second"] == 1
    # (|3-1|-1)^2 / 4 = 0.25
    assert out["mcnemar_chi2"] == 0.25


def test_gvf_datasource_roundtrip(spark, tmp_path):
    from eggv_spark.sources.gvf_datasource import register_gvf_datasource

    register_gvf_datasource(spark)
    (tmp_path / "a.gvf").write_text(
        "##gvf-version 1.10\n"
        "chr1\tsrc\tSNV\t100\t105\t.\t+\t.\tID=rs1\n"
        "bad line without tabs\n"
        "chr2\tsrc\tSNV\t200\t205\t.\t-\t.\tID=rs2\n"
    )
    (tmp_path / "b.gvf").write_text(
        "chr3\tsrc\tSNV\t300\t305\t.\t+\t.\tID=rs3\n"
    )
    df = (
        spark.read.format("gvf")
        .option("mode", "dropmalformed")       # opt-in salvage mode;
        .load(str(tmp_path))                   # default FAILFAST raises
    )
    rows = sorted(df.collect(), key=lambda r: r["start"])
    assert len(rows) == 3                      # malformed line dropped
    assert rows[0]["seqid"] == "chr1" and rows[0]["end"] == 105
    assert df.rdd.getNumPartitions() == 2      # one partition per file


def test_gvf_datasource_gzip_member(spark, tmp_path):
    import gzip

    from eggv_spark.sources.gvf_datasource import register_gvf_datasource

    register_gvf_datasource(spark)
    with gzip.open(tmp_path / "c.gvf.gz", "wt") as fh:
        fh.write("chrX\tsrc\tSNV\t1\t2\t.\t+\t.\tID=rs9\n")
    df = spark.read.format("gvf").load(str(tmp_path / "c.gvf.gz"))
    assert df.count() == 1


# ---------------------------------------------------------------------------
# review-fix regressions (round-5 second review pass)
# ---------------------------------------------------------------------------

def test_gvf_datasource_failfast_default(spark, tmp_path):
    """Default mode fails AT THE SCAN with the file path — corruption
    must never be silently dropped (the CSV path quarantines; the
    datasource raises)."""
    from eggv_spark.sources.gvf_datasource import register_gvf_datasource

    register_gvf_datasource(spark)
    (tmp_path / "dirty.gvf").write_text(
        "chr1\ts\tSNV\t1\t2\t.\t+\t.\tID=rs1\n"
        "only\tfour\tfields\there\n"
    )
    with pytest.raises(Exception, match="dirty.gvf"):
        spark.read.format("gvf").load(str(tmp_path / "dirty.gvf")).count()


def test_periodogram_multi_month_no_aliasing(spark):
    """Day index is days-since-epoch: a series spanning two months
    keeps its days distinct (dayofmonth would collapse Jan-05 and
    Feb-05 into one bucket and cap the span at 31)."""
    from eggv_spark.operators.events import periodogram

    ev = spark.createDataFrame(
        [("c", f"2024-{m:02d}-{d:02d} 00:00:00")
         for m in (1, 2) for d in range(1, 6)],
        "event_type string, ts string",
    ).selectExpr("event_type", "CAST(ts AS TIMESTAMP) AS ts")
    assert periodogram(ev).first()["n_days"] == 10


def test_bigram_pmi_denominator_counts_all_bigrams(spark):
    """p(ab) divides by ALL bigram occurrences, not the min_count
    survivors: with one dominant bigram and a long filtered tail, a
    survivors-only denominator would inflate PMI by
    ln(N_all / N_surviving)."""
    # "a b" x5 (survives min_count=5), 5 distinct singleton bigrams
    # (filtered): N_all = 10, N_surviving = 5.
    rows = [("a b",)] * 5 + [(f"x{i} y{i}",) for i in range(5)]
    df = spark.createDataFrame(rows, "text string")
    out = {r["bigram"]: r for r in T.bigram_pmi(df).collect()}
    assert set(out) == {"a b"}
    # unigrams: a=5, b=5, n=20; p(ab) = 5/10
    expected = math.log((5 / 10) / ((5 / 20) * (5 / 20)))
    assert out["a b"]["pmi"] == round(expected, 4)


def test_median_test_degenerate_side_yields_null(spark):
    """All non-median values on one side: expected counts hit zero
    and the chi2 must come back NULL (DuckDB divide-by-zero
    semantics), never NaN."""
    df = spark.createDataFrame(
        [("a", 3.0, 1), ("a", 3.0, 2), ("b", 3.0, 3), ("b", 1.0, 4)],
        "g string, v double, tb int",
    )
    row = AG.median_test(df, "g", "v", "tb").collect()[0]
    assert row["chi2"] is None


def test_friedman_block_count_deterministic_max(spark):
    """A dropped (block, treatment) cell (null value) must not make
    the reported block count depend on which treatment any_value
    happens to pick: b = max over per-treatment counts."""
    rows = [
        (b, t, None if (b, t) == (1, "t1") else float(b * 3 + len(t)))
        for b in (1, 2, 3) for t in ("t1", "t2", "t3")
    ]
    df = spark.createDataFrame(rows, "blk int, trt string, v double")
    out = AG.friedman_test(df, "blk", "trt", "v").collect()[0]
    assert out["b"] == 3  # t2/t3 have 3 blocks; t1 only 2


def test_fisher_kruskal_friedman_share_series_helper():
    """The even-dof chi2 survival series exists exactly once."""
    import inspect

    src = inspect.getsource(AG)
    assert src.count('F.struct(F.lit(1.0).alias("term")') == 1
