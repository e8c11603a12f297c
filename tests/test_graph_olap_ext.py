"""Tests for the round-3 extension families: graph algorithms, the
OLAP TPC-H-shaped composites' building blocks, regression aggregates,
vector quantization, the Bloom pre-filter, Zipf diagnostics, RFM
segmentation, and the partition-balance report."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eggv_spark.operators import graph as G
from eggv_spark.operators.aggregates import linreg_by_group
from eggv_spark.operators.dedupe import bloom_prefilter
from eggv_spark.operators.events import rfm_segments
from eggv_spark.operators.similarity import (
    int8_quantize,
    label_centroid_similarity,
)
from eggv_spark.operators.tableops import partition_balance
from eggv_spark.operators.text_analysis import zipf_slope


# ---------------------------------------------------------------------------
# graph
# ---------------------------------------------------------------------------

def _edges(spark, rows):
    return spark.createDataFrame(
        [Row(src=s, dst=d, weight=w) for s, d, w in rows]
    )


def test_pagerank_mass_conserved(spark):
    # a 3-cycle plus a dangling sink
    e = _edges(spark, [(1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 4, 1)])
    ranks = {r["node"]: r["rank"] for r in G.pagerank(e, iterations=5).collect()}
    assert set(ranks) == {1, 2, 3, 4}
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-9)
    # nodes 2 and 4 each receive exactly half of node 1's rank (plus
    # the same dangling share), so their ranks tie; node 3 collects
    # ALL of 2's rank and must outrank both
    assert ranks[4] == pytest.approx(ranks[2], abs=1e-12)
    assert ranks[3] > ranks[4]
    assert all(r > 0 for r in ranks.values())


def test_pagerank_symmetric_cycle_uniform(spark):
    e = _edges(spark, [(1, 2, 1), (2, 3, 1), (3, 1, 1)])
    ranks = [r["rank"] for r in G.pagerank(e, iterations=4).collect()]
    assert all(math.isclose(r, 1 / 3, abs_tol=1e-12) for r in ranks)


def test_degree_stats_directions(spark):
    e = _edges(spark, [(1, 2, 5), (1, 3, 1), (2, 3, 1)])
    rows = {r["node"]: r for r in G.degree_stats(e).collect()}
    assert rows[1]["out_degree"] == 2 and rows[1]["in_degree"] == 0
    assert rows[3]["in_degree"] == 2 and rows[3]["out_degree"] == 0
    assert rows[2]["out_distinct"] == 1 and rows[2]["in_distinct"] == 1


# ---------------------------------------------------------------------------
# regression aggregate
# ---------------------------------------------------------------------------

def test_linreg_exact_line(spark):
    # y = 3x + 7 exactly -> slope 3, intercept 7, r2 1
    df = spark.createDataFrame(
        [Row(g="a", x=float(x), y=3.0 * x + 7.0) for x in range(10)]
    )
    row = linreg_by_group(df, ["g"], "x", "y").collect()[0]
    assert row["slope"] == pytest.approx(3.0)
    assert row["intercept"] == pytest.approx(7.0)
    assert row["r2"] == pytest.approx(1.0)
    assert row["n_obs"] == 10


def test_linreg_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    xs = rng.uniform(0, 50, 200)
    ys = 2.5 * xs + rng.normal(0, 5, 200)
    df = spark.createDataFrame(
        [Row(g="a", x=float(x), y=float(y)) for x, y in zip(xs, ys)]
    )
    row = linreg_by_group(df, ["g"], "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert row["slope"] == pytest.approx(slope, abs=1e-3)
    assert row["intercept"] == pytest.approx(intercept, abs=1e-1)


# ---------------------------------------------------------------------------
# vector quantization / centroid similarity
# ---------------------------------------------------------------------------

def test_int8_quantize_bounds_and_error(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, -2.0, 0.5]),
            Row(vec_id=2, embedding=[0.1, 0.2, 0.4]),
        ]
    )
    rows = {r["vec_id"]: r for r in int8_quantize(df).collect()}
    # codes live in [-127, 127]; the abs-max element hits ±127 exactly
    assert rows[1]["min_code"] == -127
    assert rows[1]["max_code"] == 64  # 1.0 * (127/2) = 63.5 -> 64
    assert rows[2]["max_code"] == 127
    for r in rows.values():
        assert -127 <= r["min_code"] <= r["max_code"] <= 127
        # reconstruction error bounded by half a quantization step
        assert r["recon_rmse"] <= 0.5 / r["scale"] + 1e-9


def test_label_centroid_similarity_orthogonal(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0], label=0),
            Row(vec_id=2, embedding=[3.0, 0.0], label=0),
            Row(vec_id=3, embedding=[0.0, 2.0], label=1),
            Row(vec_id=4, embedding=[1.0, 1.0], label=2),
        ]
    )
    rows = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in label_centroid_similarity(df).collect()
    }
    assert set(rows) == {(0, 1), (0, 2), (1, 2)}
    assert rows[(0, 1)] == pytest.approx(0.0, abs=1e-9)
    assert rows[(0, 2)] == pytest.approx(math.sqrt(0.5), abs=1e-6)


# ---------------------------------------------------------------------------
# bloom pre-filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives(spark):
    build = spark.createDataFrame([Row(k=i) for i in range(0, 100, 7)])
    probe = spark.createDataFrame([Row(p=i) for i in range(100)])
    out = {
        r["probe_key"]: r["bloom_candidate"]
        for r in bloom_prefilter(probe, build, "p", "k").collect()
    }
    members = set(range(0, 100, 7))
    for key, flag in out.items():
        if key in members:
            assert flag, f"false negative on {key}"
    # with m=65536, k=4, n=15 the FP probability is ~1e-12 — expect
    # the non-members to be rejected
    rejected = [k for k, flag in out.items() if not flag]
    assert len(rejected) >= 80


def test_bloom_tiny_filter_saturates(spark):
    # m=8 bits with 100 keys saturates the filter: everything passes,
    # demonstrating the FP regime (still zero false negatives)
    build = spark.createDataFrame([Row(k=i) for i in range(100)])
    probe = spark.createDataFrame([Row(p=i) for i in range(100, 120)])
    out = bloom_prefilter(probe, build, "p", "k", k=2, m_bits=8).collect()
    assert all(r["bloom_candidate"] for r in out)


# ---------------------------------------------------------------------------
# zipf / rfm / partition balance
# ---------------------------------------------------------------------------

def test_zipf_slope_flat_corpus(spark):
    # every term equally frequent -> lf constant -> slope 0
    df = spark.createDataFrame(
        [Row(text="aa bb cc"), Row(text="aa bb cc")]
    )
    row = zipf_slope(df).collect()[0]
    assert row["n_terms"] == 3
    assert row["zipf_slope"] == pytest.approx(0.0)


def test_zipf_slope_power_law(spark):
    # freq(term_r) = 8/r for r in 1,2,4,8 -> slope exactly -1 on log-log
    docs = []
    for term, n in [("a", 8), ("b", 4), ("c", 2), ("d", 1)]:
        docs += [Row(text=term)] * n
    row = zipf_slope(spark.createDataFrame(docs)).collect()[0]
    # ranks 1,2,3,4 with freqs 8,4,2,1: not exactly -1 (rank 3 vs 4
    # off-grid) but steeply negative
    assert row["zipf_slope"] < -0.8


def test_rfm_tiles_and_segment(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: recent, frequent, big spender; user 2: stale and small
    for i in range(8):
        rows.append(Row(user_id=1, ts=base + dt.timedelta(days=20 + i),
                        value=100.0))
    rows.append(Row(user_id=2, ts=base, value=1.0))
    rows.append(Row(user_id=3, ts=base + dt.timedelta(days=10), value=10.0))
    rows.append(Row(user_id=4, ts=base + dt.timedelta(days=15), value=20.0))
    out = {r["user_id"]: r for r in rfm_segments(
        spark.createDataFrame(rows)).collect()}
    assert out[1]["segment"] == 444
    assert out[2]["segment"] == 111
    assert out[1]["recency_days"] == 0
    assert out[2]["frequency"] == 1
    assert out[1]["monetary"] == pytest.approx(800.0)


def test_partition_balance_uniform_and_skewed(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(4000)])
    out = partition_balance(df, "k", n_buckets=8).collect()
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4
    assert all(r["skew_factor"] == out[0]["skew_factor"] for r in out)
    assert out[0]["skew_factor"] < 1.3  # md5 spreads uniform keys well
    # one hot key -> skew factor explodes
    hot = spark.createDataFrame([Row(k=1)] * 3000 + [Row(k=i) for i in range(100)])
    skew = partition_balance(hot, "k", n_buckets=8).collect()[0]["skew_factor"]
    assert skew > 4.0


# ---------------------------------------------------------------------------
# markov / ks / covariance / vocab jaccard
# ---------------------------------------------------------------------------

def test_markov_transitions_probabilities(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    seq = ["view", "click", "view", "click", "buy"]
    rows = [
        Row(user_id=1, event_type=t, ts=base + dt.timedelta(minutes=i),
            event_id=i)
        for i, t in enumerate(seq)
    ]
    from eggv_spark.operators.events import markov_transitions

    out = {
        (r["from_type"], r["to_type"]): r
        for r in markov_transitions(spark.createDataFrame(rows)).collect()
    }
    # view->click twice (p=1), click->{view, buy} once each (p=0.5)
    assert out[("view", "click")]["n_transitions"] == 2
    assert out[("view", "click")]["p"] == pytest.approx(1.0)
    assert out[("click", "view")]["p"] == pytest.approx(0.5)
    assert out[("click", "buy")]["p"] == pytest.approx(0.5)
    # probabilities sum to 1 per from-state
    assert sum(
        r["p"] for (f, _), r in out.items() if f == "click"
    ) == pytest.approx(1.0)


def test_ks_statistic_identical_and_disjoint(spark):
    from eggv_spark.operators.aggregates import ks_statistic

    same = spark.createDataFrame(
        [Row(g=g, v=float(i)) for g in ("a", "b") for i in range(50)]
    )
    row = ks_statistic(same, "g", "v", "a", "b").collect()[0]
    assert row["ks_stat"] == pytest.approx(0.0)
    assert row["n_a"] == 50 and row["n_b"] == 50
    # fully separated supports -> KS = 1
    apart = spark.createDataFrame(
        [Row(g="a", v=float(i)) for i in range(20)]
        + [Row(g="b", v=float(i + 100)) for i in range(20)]
    )
    assert apart.transform(
        lambda df: ks_statistic(df, "g", "v", "a", "b")
    ).collect()[0]["ks_stat"] == pytest.approx(1.0)


def test_covariance_matrix_known_values(spark):
    import numpy as np

    from eggv_spark.operators.aggregates import covariance_matrix

    rng = np.random.RandomState(3)
    xs = rng.uniform(0, 10, 100)
    ys = 2 * xs + rng.normal(0, 1, 100)
    df = spark.createDataFrame(
        [Row(g="a", x=float(x), y=float(y)) for x, y in zip(xs, ys)]
    )
    row = covariance_matrix(df, ["g"], ["x", "y"]).collect()[0]
    assert row["var_x"] == pytest.approx(np.var(xs, ddof=1), abs=1e-3)
    assert row["cov_x_y"] == pytest.approx(
        np.cov(xs, ys, ddof=1)[0, 1], abs=1e-3
    )


def test_source_vocab_jaccard(spark):
    from eggv_spark.operators.text_analysis import source_vocab_jaccard

    df = spark.createDataFrame(
        [
            Row(source="s1", text="a b c"),
            Row(source="s2", text="a b d"),
            Row(source="s3", text="x y z"),
        ]
    )
    out = {
        (r["src_a"], r["src_b"]): r["jaccard"]
        for r in source_vocab_jaccard(df).collect()
    }
    assert out[("s1", "s2")] == pytest.approx(2 / 4)
    # disjoint vocab pairs produce no row (inner join on terms)
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_negative_sample_keys_properties(spark):
    from eggv_spark.operators.relational import negative_sample_keys

    inter = spark.createDataFrame(
        [Row(e=1, it=1), Row(e=1, it=2), Row(e=2, it=3)]
    )
    items = spark.createDataFrame([Row(it=i) for i in range(1, 21)])
    out = negative_sample_keys(
        inter, items, "e", "it", n_candidates=8, k=4
    ).collect()
    seen = {(1, 1), (1, 2), (2, 3)}
    for r in out:
        # never a positive, always a real item, capped at k per entity
        assert (r["e"], r["it"]) not in seen
        assert 1 <= r["it"] <= 20
    per_entity = {}
    for r in out:
        per_entity.setdefault(r["e"], []).append(r["it"])
    for e, its in per_entity.items():
        assert len(its) <= 4
    # deterministic: second run identical
    again = negative_sample_keys(
        inter, items, "e", "it", n_candidates=8, k=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# round-5 staging: ivf+pq, incremental agg, weighted sampling, pareto
# ---------------------------------------------------------------------------

def test_incremental_agg_merge_equals_full_recompute(spark):
    from eggv_spark.operators.tableops import incremental_agg_merge

    rows = [Row(k=i % 5, v=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)
    base, delta = df.filter("v < 60"), df.filter("v >= 60")
    current = base.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    merged = {
        r["k"]: r
        for r in incremental_agg_merge(
            current, delta, ["k"], count_col="n", sum_cols={"s": "v"}
        ).collect()
    }
    full = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert set(merged) == set(full)
    for k in full:
        assert merged[k]["n"] == full[k]["n"]
        assert merged[k]["s"] == pytest.approx(full[k]["s"])


def test_incremental_agg_merge_delta_only_keys(spark):
    from eggv_spark.operators.tableops import incremental_agg_merge

    current = spark.createDataFrame([Row(k=1, n=2, s=10.0)])
    delta = spark.createDataFrame([Row(k=2, v=5.0), Row(k=2, v=7.0)])
    out = {
        r["k"]: r
        for r in incremental_agg_merge(
            current, delta, ["k"], count_col="n", sum_cols={"s": "v"}
        ).collect()
    }
    assert out[1]["n"] == 2 and out[1]["s"] == 10.0
    assert out[2]["n"] == 2 and out[2]["s"] == 12.0


def test_weighted_sample_biased_toward_heavy(spark):
    from eggv_spark.operators.relational import weighted_sample_group

    # 200 heavy (w=100) + 200 light (w=1): a 50-draw weighted sample
    # should be overwhelmingly heavy rows
    rows = [Row(g="a", rid=i, w=100.0) for i in range(200)]
    rows += [Row(g="a", rid=i + 200, w=1.0) for i in range(200)]
    out = weighted_sample_group(
        spark.createDataFrame(rows), "g", "w", ["rid"], k=50
    ).collect()
    assert len(out) == 50
    heavy = sum(1 for r in out if r["rid"] < 200)
    assert heavy >= 45
    # deterministic replay
    again = weighted_sample_group(
        spark.createDataFrame(rows), "g", "w", ["rid"], k=50
    ).collect()
    assert sorted(r["rid"] for r in out) == sorted(r["rid"] for r in again)


def test_pareto_frontier_2d_semantics(spark):
    from eggv_spark.operators.relational import pareto_frontier_2d

    rows = [
        Row(pid=1, name="a", cost=1.0, val=5),   # frontier (cheapest)
        Row(pid=2, name="b", cost=2.0, val=7),   # frontier
        Row(pid=3, name="c", cost=2.0, val=6),   # dominated by 2 (same cost)
        Row(pid=4, name="d", cost=3.0, val=7),   # dominated by 2 (cheaper =val)
        Row(pid=5, name="e", cost=4.0, val=9),   # frontier
        Row(pid=6, name="f", cost=5.0, val=1),   # dominated
    ]
    out = pareto_frontier_2d(
        spark.createDataFrame(rows), "cost", "val", ["pid", "name"]
    ).collect()
    assert sorted(r["pid"] for r in out) == [1, 2, 5]
    by_pid = {r["pid"]: r for r in out}
    assert by_pid[2]["val"] == 7 and by_pid[2]["cost"] == 2.0


def test_quantile_normalize_uniform_groups(spark):
    from eggv_spark.operators.aggregates import quantile_normalize

    # group a: 0..99, group b: 1000..1099 — after normalization both
    # should span the GLOBAL distribution's range
    rows = [Row(g="a", rid=i, v=float(i)) for i in range(100)]
    rows += [Row(g="b", rid=i, v=1000.0 + i) for i in range(100)]
    out = quantile_normalize(
        spark.createDataFrame(rows), "g", "v", ["rid"], round_dp=2
    ).collect()
    a_norm = [r["normalized"] for r in out if r["g"] == "a"]
    b_norm = [r["normalized"] for r in out if r["g"] == "b"]
    # the top of each group maps near the global max, the bottom near
    # the global min — distributions are aligned
    assert max(a_norm) == pytest.approx(max(b_norm))
    assert min(a_norm) == pytest.approx(min(b_norm))
    assert min(a_norm) == pytest.approx(0.0, abs=1.0)
    assert max(b_norm) == pytest.approx(1099.0, abs=2.0)


def test_qgram_fuzzy_join_blocks_and_verifies(spark):
    from eggv_spark.operators.relational import qgram_fuzzy_join

    df = spark.createDataFrame(
        [
            Row(k=1, name="red widget"),
            Row(k=2, name="red widgit"),   # distance 1 from k=1
            Row(k=3, name="blue bolt"),    # shares no token with 1/2
            Row(k=4, name="red sprocketzzz"),  # shares token, too far
        ]
    )
    out = qgram_fuzzy_join(df, df, "k", "k", "name", "name").collect()
    pairs = {(r["left_key"], r["right_key"]): r["distance"] for r in out}
    assert pairs == {(1, 2): 1}


def test_copurchase_pairs_counts(spark):
    from eggv_spark.operators.relational import copurchase_pairs

    rows = [
        Row(b=1, it=10), Row(b=1, it=20), Row(b=1, it=30),
        Row(b=2, it=10), Row(b=2, it=20),
        Row(b=3, it=10), Row(b=3, it=20), Row(b=3, it=20),  # dup item
    ]
    out = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in copurchase_pairs(spark.createDataFrame(rows), "b", "it").collect()
    }
    assert out[(10, 20)] == 3  # dup within basket counted once
    assert out[(10, 30)] == 1 and out[(20, 30)] == 1


def test_fk_audit_counts_orphans(spark):
    from eggv_spark.operators.tableops import fk_audit

    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=98)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    out = fk_audit([("child->parent", child, "fk", parent, "pk")]).collect()
    assert len(out) == 1
    assert out[0]["relation"] == "child->parent"
    assert out[0]["n_rows"] == 4 and out[0]["n_orphans"] == 2


def test_conversion_latency_filters_and_computes(spark):
    import datetime as dt

    from eggv_spark.operators.events import conversion_latency

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: view then purchase 90s later
        Row(user_id=1, event_type="view", ts=base),
        Row(user_id=1, event_type="purchase", ts=base + dt.timedelta(seconds=90)),
        # user 2: purchase BEFORE first view -> excluded
        Row(user_id=2, event_type="purchase", ts=base),
        Row(user_id=2, event_type="view", ts=base + dt.timedelta(seconds=10)),
        # user 3: never purchased -> excluded
        Row(user_id=3, event_type="view", ts=base),
    ]
    out = {r["user_id"]: r["latency_sec"]
           for r in conversion_latency(spark.createDataFrame(rows)).collect()}
    assert out == {1: 90}


def test_event_rate_dispersion(spark):
    import datetime as dt

    from eggv_spark.operators.events import event_rate_stats

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: exactly 2 events every hour for 4 hours -> dispersion 0
    for h in range(4):
        for j in range(2):
            rows.append(Row(user_id=1,
                            ts=base + dt.timedelta(hours=h, minutes=j)))
    # user 2: bursty — 9 events in one hour, 1 in another
    rows += [Row(user_id=2, ts=base + dt.timedelta(minutes=i)) for i in range(9)]
    rows.append(Row(user_id=2, ts=base + dt.timedelta(hours=5)))
    out = {r["user_id"]: r for r in event_rate_stats(
        spark.createDataFrame(rows)).collect()}
    assert out[1]["n_active_hours"] == 4 and out[1]["dispersion"] == 0.0
    assert out[2]["n_events"] == 10
    assert out[2]["dispersion"] > 1.0  # overdispersed


def test_stream_incremental_agg_sink_equals_batch(spark, tmp_path):
    from eggv_spark.streaming.events_stream import stream_incremental_agg_sink

    df = spark.createDataFrame(
        [Row(k=i % 4, v=float(i)) for i in range(40)]
    )
    src, table, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "tbl"), str(tmp_path / "ck")
    )
    for half in (0, 1):
        df.filter(F.col("v") % 2 == half).coalesce(1).write.mode(
            "append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    stream_incremental_agg_sink(
        stream, table, ["k"], ckpt, count_col="n", sum_cols={"s": "v"}
    )
    got = {r["k"]: r for r in spark.read.parquet(table).collect()}
    want = {r["k"]: r for r in df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert got[k]["s"] == pytest.approx(want[k]["s"])
    # the swap write leaves no staging dir or old copy behind
    assert sorted(p.name for p in tmp_path.iterdir()) == ["ck", "src", "tbl"]


def test_hll_rollup_estimates_close_to_exact(spark):
    docs = spark.createDataFrame(
        [Row(source=f"s{i % 3}", h=f"val{i}") for i in range(300)]
    )
    per = docs.groupBy("source").agg(F.hll_sketch_agg("h").alias("sk"))
    est = {r["source"]: r["e"] for r in per.select(
        "source", F.hll_sketch_estimate("sk").alias("e")).collect()}
    for s, e in est.items():
        assert abs(e - 100) / 100 < 0.05
    total = per.agg(F.hll_union_agg("sk").alias("u")).select(
        F.hll_sketch_estimate("u").alias("e")).collect()[0]["e"]
    assert abs(total - 300) / 300 < 0.05


# ---------------------------------------------------------------------------
# empty-input edges for the round-3 operator families
# ---------------------------------------------------------------------------

def test_empty_inputs_round3_ops(spark):
    from eggv_spark.operators.aggregates import (
        ks_statistic, linreg_by_group, quantile_normalize,
    )
    from eggv_spark.operators.events import (
        conversion_latency, event_rate_stats, markov_transitions,
        rfm_segments,
    )
    from eggv_spark.operators.relational import (
        copurchase_pairs, pareto_frontier_2d, weighted_sample_group,
    )
    from eggv_spark.operators import graph as G

    empty_ev = spark.createDataFrame(
        [], "user_id long, event_type string, ts timestamp, "
            "event_id long, value double"
    )
    assert markov_transitions(empty_ev).count() == 0
    assert conversion_latency(empty_ev).count() == 0
    assert event_rate_stats(empty_ev).count() == 0
    assert rfm_segments(empty_ev).count() == 0

    empty_kv = spark.createDataFrame([], "g string, v double, rid long")
    assert ks_statistic(empty_kv, "g", "v", "a", "b").count() == 0
    assert linreg_by_group(empty_kv, ["g"], "rid", "v").count() == 0
    assert weighted_sample_group(empty_kv, "g", "v", ["rid"]).count() == 0
    assert copurchase_pairs(empty_kv, "g", "rid").count() == 0
    assert pareto_frontier_2d(empty_kv, "v", "rid", ["g"]).count() == 0
    # quantile_normalize needs a non-empty percentile grid source —
    # empty input yields an empty (not failing) frame
    assert quantile_normalize(empty_kv, "g", "v", ["rid"]).count() == 0

    empty_edges = spark.createDataFrame(
        [], "src int, dst int, weight long"
    )
    assert G.degree_stats(empty_edges).count() == 0


def test_label_propagation_two_communities(spark):
    # two dense triangles joined by one weak bridge — propagation
    # should keep them as separate min-labeled communities
    e = _edges(spark, [
        (1, 2, 10), (2, 3, 10), (1, 3, 10),
        (4, 5, 10), (5, 6, 10), (4, 6, 10),
        (3, 4, 1),
    ])
    out = {r["node"]: r["label"]
           for r in G.label_propagation(e, iterations=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == out[5] == out[6] == 4


def test_label_propagation_isolated_node_keeps_label(spark):
    e = _edges(spark, [(1, 2, 5), (3, 3, 1)])
    out = {r["node"]: r["label"]
           for r in G.label_propagation(e, iterations=2).collect()}
    # the self-loop-only node keeps its own community
    assert out[3] == 3
    # a bare pair OSCILLATES under synchronous updates (documented
    # sync-LPA artifact): after each round the two swap labels
    one = {r["node"]: r["label"]
           for r in G.label_propagation(e, iterations=1).collect()}
    assert one[1] == 2 and one[2] == 1
    assert out[1] == 1 and out[2] == 2


def test_proximity_join_radius_semantics(spark):
    from eggv_spark.operators.geo import haversine_km, proximity_join

    pts = spark.createDataFrame([
        Row(id=1, lat=48.8566, lon=2.3522),    # Paris
        Row(id=2, lat=48.8600, lon=2.3600),    # ~0.7 km away
        Row(id=3, lat=48.7000, lon=2.3522),    # ~17 km away
        Row(id=4, lat=51.5074, lon=-0.1278),   # London (~340 km)
    ])
    out = {(r["left_id"], r["right_id"]): r["distance_km"]
           for r in proximity_join(pts, pts, radius_km=25.0).collect()}
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 2)] < 1.0
    assert 15.0 < out[(1, 3)] < 20.0
    # cross-check one distance against the scalar haversine
    d = pts.filter("id = 1").crossJoin(
        pts.filter("id = 4").selectExpr(
            "lat AS lat2", "lon AS lon2")
    ).select(haversine_km(
        F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")
    ).alias("d")).collect()[0]["d"]
    assert 330 < d < 350


def test_proximity_join_catches_cell_boundary_pairs(spark):
    from eggv_spark.operators.geo import proximity_join

    # two points straddling a 0.25-degree cell edge, ~2 km apart
    pts = spark.createDataFrame([
        Row(id=1, lat=10.249, lon=20.0),
        Row(id=2, lat=10.251, lon=20.0),
    ])
    out = proximity_join(pts, pts, radius_km=25.0, cell_deg=0.25).collect()
    assert len(out) == 1 and out[0]["distance_km"] < 3.0


def test_countmin_never_undercounts(spark):
    from eggv_spark.operators.aggregates import countmin_estimate

    rows = [Row(k=f"key{i % 50}") for i in range(1000)]
    df = spark.createDataFrame(rows)
    probes = df.distinct()
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(
        F.count("*").alias("n")).collect()}
    est = {r["probe_key"]: r["cm_estimate"] for r in countmin_estimate(
        df, "k", probes, "k", depth=4, width=64).collect()}
    for k, n in exact.items():
        assert est[k] >= n  # the one-sided CM guarantee
    # with 50 keys in 4x64 cells, most estimates should be exact
    exact_hits = sum(1 for k in exact if est[k] == exact[k])
    assert exact_hits >= 40


def test_changepoint_finds_known_shift(spark):
    from eggv_spark.operators.events import changepoint_detect

    # level shift after day 5: 0,0,0,0,0 -> 10,10,10,10,10
    rows = [("a", d, 0.0) for d in range(1, 6)] + [
        ("a", d, 10.0) for d in range(6, 11)
    ]
    # control series with no shift: constant
    rows += [("b", d, 3.0) for d in range(1, 11)]
    df = spark.createDataFrame(rows, "k string, day int, v double")
    out = {
        r.k: r for r in changepoint_detect(df, ["k"], "day", "v").collect()
    }
    a = out["a"]
    assert a.split_at == 5  # last point of the left segment
    assert (a.mean_left, a.mean_right) == (0.0, 10.0)
    assert a.shift_stat == pytest.approx(
        (5 * 5 / 10) ** 0.5 * 10, abs=1e-6
    )
    # constant series: statistic 0 everywhere, earliest split wins
    assert out["b"].shift_stat == 0.0 and out["b"].split_at == 1


def test_theil_sen_robust_to_one_outlier(spark):
    from eggv_spark.operators.aggregates import theil_sen_trend

    # clean line y = 2x + 1 with ONE wild outlier at x=5: the median
    # pairwise slope ignores it where OLS would be dragged far off
    rows = [("g", x, 2.0 * x + 1.0) for x in range(1, 11) if x != 5]
    rows.append(("g", 5, 1000.0))
    df = spark.createDataFrame(rows, "k string, x int, y double")
    out = theil_sen_trend(df, ["k"], "x", "y").collect()[0]
    assert out.n_pairs == 45
    assert out.slope == pytest.approx(2.0, abs=1e-6)
    assert out.intercept == pytest.approx(1.0, abs=1e-6)


def test_mann_kendall_monotone_and_tied_series(spark):
    from eggv_spark.operators.aggregates import mann_kendall_test

    rows = [("up", x, float(x)) for x in range(1, 11)]        # strict rise
    rows += [("flat", x, 7.0) for x in range(1, 11)]          # all tied
    df = spark.createDataFrame(rows, "k string, x int, y double")
    out = {r.k: r for r in mann_kendall_test(df, ["k"], "x", "y").collect()}
    up = out["up"]
    assert up.s_stat == 45  # every one of the 45 pairs rises
    # var with no ties: n(n-1)(2n+5)/18 = 10*9*25/18 = 125
    assert up.var_s == 125.0
    assert up.mk_z == pytest.approx((45 - 1) / 125**0.5, abs=1e-4)
    flat = out["flat"]
    # one tie group of size 10 cancels the variance entirely: S=0, z=0
    assert flat.s_stat == 0 and flat.var_s == 0.0 and flat.mk_z == 0.0


def test_tost_equivalence_decisions(spark):
    from eggv_spark.operators.aggregates import tost_equivalence

    # "same": arms differ by 0.5 with sd~1, n=40/arm -> well inside a
    # +/-2.0 margin.  "far": arms differ by 10 -> decisively outside.
    rows = []
    for i in range(40):
        jitter = (i % 5 - 2) * 0.5   # mean-zero, sd ~ 0.7
        rows += [("same", 0, 10.0 + jitter), ("same", 1, 10.5 + jitter)]
        rows += [("far", 0, 10.0 + jitter), ("far", 1, 20.0 + jitter)]
    df = spark.createDataFrame(rows, "k string, arm int, value double")
    out = {r.k: r for r in
           tost_equivalence(df, "arm", "value", margin=2.0,
                            keys=["k"]).collect()}
    same, far = out["same"], out["far"]
    assert same.n0 == same.n1 == 40
    assert same.equivalent == 1
    assert same.z_lower > 1.6449 and same.z_upper < -1.6449
    assert far.equivalent == 0
    # one-sided structure: z_lower = (diff + margin)/se
    assert far.mean_diff == pytest.approx(-10.0, abs=1e-6)
