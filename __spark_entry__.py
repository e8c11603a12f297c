"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query on sf0.001.
``queries()`` — one named entry per implemented operator from
SURVEY.md §2 (+ extensions), each ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query.

Design notes for oracle comparability:
- every computed column is aliased identically on both sides;
- floating aggregates are rounded (sums 2dp, ratios/avgs 4dp) so
  double summation-order differences can't flip the value hash;
- timestamps cross the boundary as epoch-second BIGINTs;
- window orderings always carry a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eggv_spark.functions.extract import (
    json_field,
    json_struct,
    regexp_extract_null,
    strip_prefix_cast_long,
)
from eggv_spark.functions import scalars as SC
from eggv_spark.operators import aggregates as AG
from eggv_spark.operators import dedupe as D
from eggv_spark.operators import ml as ML
from eggv_spark.operators import relational as R
from eggv_spark.operators import similarity as S
from eggv_spark.operators import tableops as TO
from eggv_spark.operators import text_analysis as T
from eggv_spark.operators import graph as G
from eggv_spark.operators.events import (
    funnel_counts,
    gapfill_hourly,
    page_hinkley,
    retention_cohorts,
    retention_matrix,
    rfm_segments,
    sessionize,
    sliding_window_counts,
    tumbling_window_counts,
)
from eggv_spark.operators.rangejoin import asof_join, range_join
from eggv_spark.sources.readers import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit.  Queries that
    round-trip through a filesystem sink (CDC replay, dynamic
    overwrite, schema evolution, format round-trip, ...) need their
    files to outlive the lazily-returned DataFrame, so cleanup cannot
    be in-function; registering with atexit keeps repeated
    gate/driver runs from accumulating orphaned /tmp copies."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative chain off genomic data: scan -> pushed filter ->
    broadcast join -> split/explode -> group count (the same operator
    skeleton as the reference's GVF pipeline: SRC-04, FLT-01, JOIN-01,
    STR-05, EXP-01, dedup-as-agg)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    filtered = lineitem.filter(F.col("l_quantity") > 25).select("l_partkey")
    part_dim = part.select("p_partkey", "p_name")
    joined = R.left_join(
        filtered, part_dim,
        filtered["l_partkey"] == part_dim["p_partkey"], broadcast_right=True,
    )
    exploded = R.explode_split(joined, "p_name", " ", "token")
    return exploded.groupBy("token").agg(F.count("*").alias("n"))


_FLAGSHIP_SQL = """
SELECT token, count(*) AS n
FROM (
    SELECT unnest(string_split(p.p_name, ' ')) AS token
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 25
)
GROUP BY token
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# §2.1 sources
# ---------------------------------------------------------------------------

def _src_scan(spark, sf_dir):
    return R.project(_t(spark, sf_dir, "region"), ["r_regionkey", "r_name"])


# ---------------------------------------------------------------------------
# §2.2 projection / scalar transforms
# ---------------------------------------------------------------------------

def _prj_projection(spark, sf_dir):
    return R.project(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_quantity"],
    )


def _prj_rename_cast(spark, sf_dir):
    df = R.rename(
        _t(spark, sf_dir, "orders"),
        {"o_orderkey": "order_id", "o_orderpriority": "priority"},
    )
    df = R.cast_columns(df, {"o_custkey": "string"})
    return R.rename(
        R.project(df, ["order_id", "o_custkey", "priority"]),
        {"o_custkey": "custkey_str"},
    )


def _str_prefix_concat(spark, sf_dir):
    df = R.prefix_concat(_t(spark, sf_dir, "nation"), "n_name", "n_", "prefixed")
    return R.project(df, ["n_nationkey", "prefixed"])


def _str_regexp_extract(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.select(
        "event_id",
        regexp_extract_null("props", r'"k": (\d+)').cast("long").alias("k_val"),
        regexp_extract_null("props", r'"missing": (\d+)').alias("missing_val"),
    )


def _str_strip_cast(spark, sf_dir):
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        strip_prefix_cast_long("c_name", "Customer#").alias("custkey_from_name"),
    )


def _str_concat_ws(spark, sf_dir):
    df = R.concat_with_sep(
        _t(spark, sf_dir, "part"), ["p_brand", "p_type"], ",", "brand_type"
    )
    return R.project(df, ["p_partkey", "brand_type"])


def _str_split_get(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    df = R.split_get(df, "p_name", " ", 0, "adjective")
    df = R.split_get(df, "p_name", " ", 1, "noun")
    df = R.split_get(df, "p_name", " ", 5, "sixth_token")  # out of bounds -> null
    return R.project(df, ["p_partkey", "adjective", "noun", "sixth_token"])


def _exp_explode(spark, sf_dir):
    df = R.explode_split(_t(spark, sf_dir, "part"), "p_name", " ", "token")
    return R.project(df, ["p_partkey", "token"])


def _nul_fill(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority")
    )
    return R.fill_null(df, {"priority": "none"})


def _nul_drop(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority")
    )
    return R.drop_null_keys(df, ["priority"])


def _str_json_field(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.select(
        "event_id",
        json_field("props", "$.k").cast("long").alias("k_val"),
        json_field("props", "$.missing").alias("missing_val"),
        json_struct("props", "k LONG").getField("k").alias("k_struct"),
    )


def _dt_date_parts(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    parts = SC.date_parts("o_orderdate")
    return df.select(
        "o_orderkey",
        *[c.alias(n) for n, c in parts.items()],
        SC.days_between(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since_95"),
    )


def _str_attr_map(spark, sf_dir):
    """GVF-style 'k=v;k=v' attr parsing via str_to_map — the
    structured generalization of the reference's per-field regexes
    (eggv/process.py:125-158).  The attr string is synthesized from
    part columns, so the oracle is the original columns."""
    df = _t(spark, sf_dir, "part").withColumn(
        "attr",
        F.concat_ws(
            ";",
            F.concat(F.lit("brand="), F.col("p_brand")),
            F.concat(F.lit("type="), F.col("p_type")),
            F.concat(F.lit("size="), F.col("p_size").cast("string")),
        ),
    )
    return df.select(
        "p_partkey",
        SC.attr_field("attr", "type").alias("type_val"),
        SC.attr_field("attr", "size").cast("long").alias("size_val"),
        SC.attr_field("attr", "nope").alias("missing_val"),
    )


def _arr_vector_stats(spark, sf_dir):
    df = _t(spark, sf_dir, "embeddings")
    stats = SC.array_stats(F.col("embedding").cast("array<double>"))
    return df.select(
        "vec_id",
        stats["n_dims"].alias("n_dims"),
        F.round(stats["vec_sum"], 4).alias("vec_sum"),
        F.round(stats["vec_mean"], 4).alias("vec_mean"),
        F.round(stats["vec_min"].cast("double"), 4).alias("vec_min"),
        F.round(stats["vec_max"].cast("double"), 4).alias("vec_max"),
        stats["n_positive"].alias("n_positive"),
    )


def _agg_percentiles(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", 0.5), 2).alias("p50"),
            F.round(F.percentile("l_extendedprice", 0.95), 2).alias("p95"),
        )
    )


def _agg_pivot(spark, sf_dir):
    return AG.pivot_counts(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


# ---------------------------------------------------------------------------
# §2.3 filters
# ---------------------------------------------------------------------------

def _flt_eq(spark, sf_dir):
    return R.project(
        R.filter_eq(_t(spark, sf_dir, "orders"), "o_orderstatus", "O"),
        ["o_orderkey", "o_custkey"],
    )


def _flt_isin(spark, sf_dir):
    return R.project(
        R.filter_isin(
            _t(spark, sf_dir, "orders"), "o_orderpriority",
            ["1-URGENT", "2-HIGH"],
        ),
        ["o_orderkey", "o_orderpriority"],
    )


def _flt_neg_notnull(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority"),
    )
    return R.filter_not_in_and_notnull(df, "o_orderstatus", ["F"], "priority")


# ---------------------------------------------------------------------------
# §2.4 join
# ---------------------------------------------------------------------------

def _join_left_broadcast(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = R.left_join(
        orders, customer, orders["o_custkey"] == customer["c_custkey"],
        broadcast_right=True,
    )
    return joined.select("o_orderkey", "c_name", "c_mktsegment")


def _composite_shipping_priority(spark, sf_dir):
    """Composite relational query (TPC-H Q3 shape): 3-way join with
    selective filters on both outer tables, revenue aggregation, and
    global top-k.  Exercises Catalyst's join ordering + broadcast
    selection + partial aggregation in one plan — the 'does the whole
    engine compose' check."""
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # customer (filtered dim) is broadcast; lineitem⋈orders is a
    # fact-fact join — no hint, AQE picks broadcast at small SF and
    # shuffle-hash/sort-merge at scale.
    joined = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return R.sort_limit(
        agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    ).select(
        "l_orderkey",
        # NTZ -> LTZ (session tz is UTC) -> epoch seconds.
        F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_epoch"),
        "revenue",
    )


def _join_semi(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return R.semi_join(customer, urgent, "c_custkey")


def _join_anti(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return R.anti_join(customer, orders, "c_custkey")


def _rng_range_join(spark, sf_dir):
    """Bucketed point-in-interval join: customer balances inside
    supplier [acctbal, acctbal+1000] bands — equi-join on bins, exact
    predicate post-filter (no cross join at any scale)."""
    points = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("bal")
    )
    intervals = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("lo"),
        (F.col("s_acctbal").cast("double") + 1000.0).alias("hi"),
    )
    return range_join(points, intervals, "bal", "lo", "hi", bin_width=1000).select(
        "c_custkey", "s_suppkey"
    )


def _join_asof(spark, sf_dir):
    """As-of join: each click event picks up the value of the same
    user's most recent purchase at-or-before it (union + window — one
    shuffle, no range explosion)."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # One purchase row per (user, ts) so ties are deterministic in
    # both engines.
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(clicks, purchases, ["user_id"], "ts", ["pval"],
                    tiebreak_col="event_id")
    return out.select(
        "event_id", "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        F.round(F.col("asof_pval").cast("double"), 4).alias("asof_pval"),
    )


def _rng_interval_overlap(spark, sf_dir):
    """Interval-interval overlap join: each lineitem's ship→receipt
    window matched to every calendar month it touches — the bucketed
    equi-join on (bin) with first-intersection-bin dedup (never a
    cross join, never a distinct shuffle)."""
    from eggv_spark.operators.rangejoin import interval_overlap_join

    epoch_day = lambda c: F.datediff(c, F.lit("1970-01-01"))  # noqa: E731
    # no receipt date in this schema: derive a deterministic 0-39 day
    # transit window from the key (intervals stay under the 64-day bin)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        epoch_day(F.col("l_shipdate")).alias("ship_day"),
        (
            epoch_day(F.col("l_shipdate"))
            + F.pmod("l_orderkey", F.lit(40))
        ).alias("receipt_day"),
    )
    months = (
        _t(spark, sf_dir, "lineitem")
        .select(F.trunc("l_shipdate", "mm").alias("m"))
        .distinct()
        .select(
            epoch_day(F.col("m")).alias("month_day"),
            epoch_day(F.last_day("m")).alias("month_end_day"),
        )
    )
    out = interval_overlap_join(
        li, months,
        "ship_day", "receipt_day", "month_day", "month_end_day",
        bin_width=64,
    )
    return out.select(
        "l_orderkey", "l_linenumber", "ship_day", "receipt_day", "month_day"
    )


def _join_asof_fwd(spark, sf_dir):
    """Forward as-of join with a 1-hour tolerance: each click picks
    up the same user's NEXT purchase within an hour (pandas
    merge_asof(direction='forward', tolerance=...) semantics) — the
    same one-shuffle union+window kernel traversed in reverse."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", ["pval"],
        tiebreak_col="event_id", direction="forward", tolerance="1 hour",
    )
    return out.select(
        "event_id", "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        F.round(F.col("asof_pval").cast("double"), 4).alias("asof_pval"),
    )


# ---------------------------------------------------------------------------
# set ops / sort-limit (engine extensions, SURVEY §2.8)
# ---------------------------------------------------------------------------

def _set_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.distinct_union([c, s])


def _set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.intersect_rows(c, s)


def _set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.except_rows(c, s)


def _srt_global_topk(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return R.sort_limit(
        df, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# multi-level aggregation / analytic windows (extensions)
# ---------------------------------------------------------------------------

def _agg_rollup(spark, sf_dir):
    return AG.rollup_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 2), "n_rows": F.count("*")},
    )


def _agg_cube(spark, sf_dir):
    return AG.cube_agg(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        {"sum_price": F.round(F.sum("o_totalprice"), 2), "n_rows": F.count("*")},
    )


def _agg_grouping_sets(spark, sf_dir):
    return AG.grouping_sets_agg(
        _t(spark, sf_dir, "lineitem"),
        [["l_returnflag"], ["l_linestatus"]],
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 2), "n_rows": F.count("*")},
    )


def _agg_distinct_counts(spark, sf_dir):
    return AG.distinct_counts(
        _t(spark, sf_dir, "orders"), ["o_orderpriority"], "o_custkey"
    ).select("o_orderpriority", "n_distinct")


def _win_lag_lead(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    out = AG.with_lag_lead(
        df, "o_totalprice", ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return out.select("o_custkey", "o_orderkey", "prev_value", "next_value")


def _win_running_sum(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    out = AG.with_running_sum(
        df, "o_totalprice", ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return out.select(
        "o_custkey", "o_orderkey",
        F.round("running_sum", 2).alias("running_sum"),
    )


def _win_moving_avg(spark, sf_dir):
    # Averaged in exact integer cents: float sums drift by an ulp
    # between engines (DuckDB windows aggregate via segment trees,
    # reordering additions), which can flip a 2dp round.
    df = _t(spark, sf_dir, "orders").withColumn(
        "price_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    out = AG.with_moving_avg(
        df, "price_cents", ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()], preceding=2,
    )
    return out.select(
        "o_custkey", "o_orderkey",
        F.round(F.col("moving_avg") / 100.0, 4).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# §2.6 dedup
# ---------------------------------------------------------------------------

def _ddp_dedup_all(spark, sf_dir):
    return R.dedupe(
        R.project(_t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])
    )


def _ddp_dedup_keys(spark, sf_dir):
    return R.dedupe(R.project(_t(spark, sf_dir, "orders"), ["o_custkey"]))


def _ddp_first_by_key(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    first = R.dedupe_first_by_key(
        df, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    )
    return first.select(
        "o_custkey",
        "o_orderkey",
        # NTZ -> LTZ (session tz is UTC) -> epoch seconds.
        F.col("o_orderdate").cast("timestamp").cast("long").alias("order_epoch"),
    )


def _ddp_dedup_composite(spark, sf_dir):
    return R.dedupe(
        R.project(_t(spark, sf_dir, "events"), ["user_id", "event_type"])
    )


# ---------------------------------------------------------------------------
# aggregation / windows (engine extensions beyond the reference, §2.8)
# ---------------------------------------------------------------------------

def _agg_pricing_summary(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("n_rows"),
        )
    )


def _win_topk_per_group(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    top = R.top_k_per_group(
        df, ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3,
    )
    return top.select("o_custkey", "o_orderkey", "rank")


def _evt_tumbling_window(spark, sf_dir):
    counts = tumbling_window_counts(_t(spark, sf_dir, "events"), "ts", "1 hour")
    return counts.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


def _evt_sliding_window(spark, sf_dir):
    counts = sliding_window_counts(
        _t(spark, sf_dir, "events"), "ts", "1 hour", "30 minutes"
    )
    return counts.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


def _evt_gapfill(spark, sf_dir):
    out = gapfill_hourly(_t(spark, sf_dir, "events"))
    return out.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def _mm_resize(spark, sf_dir):
    """REAL image resize (round 3, de-stubbed): genuine 4x4 binary-PPM
    payloads (synthesize_ppm_images) resampled to 6x3 by the stdlib
    nearest-neighbor path (resize_ppm, fake_decode=False) — exercising
    both upsampling (4->6 wide) and downsampling (4->3 tall).  The
    oracle replays the floor-mapped pixel formula in SQL."""
    from eggv_spark.operators import multimodal as M

    resized = M.resize_images(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents")),
        width=6, height=3, fake_decode=False,
    )
    # Hash the HEX of the resized buffer (not the raw bytes): the
    # DuckDB oracle's md5 is VARCHAR-only, and hex round-trips the
    # payload losslessly into string space on both engines.
    return resized.select(
        "asset_id", "width", "height",
        F.length("resized").cast("long").alias("n_bytes"),
        F.md5(F.hex("resized")).alias("resized_hash"),
    )


def _join_salted_skew(spark, sf_dir):
    """Salted shuffled join — must produce byte-identical results to
    the plain join (the salt is plumbing, not semantics)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    return R.salted_join(orders, customer, "o_custkey", n_salts=8).select(
        "o_orderkey", "c_name"
    )


def _evt_sessionize(spark, sf_dir):
    sessions = sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").cast("long").alias("start_epoch"),
            F.max("ts").cast("long").alias("end_epoch"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis (extension family)
# ---------------------------------------------------------------------------

def _txt_token_count(spark, sf_dir):
    return T.with_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_words", "n_distinct_tokens"
    )


def _txt_quality_score(spark, sf_dir):
    return T.with_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "text_len", "n_tokens", "mean_token_len",
        "stopword_ratio", "alnum_ratio",
    )


def _txt_lang_id(spark, sf_dir):
    return T.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "score_en", "score_fr", "score_es",
        "score_de", "score_zh",
    )


def _txt_fingerprint(spark, sf_dir):
    return T.with_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "content_hash", "min_shingle_hash"
    )


def _txt_repetition(spark, sf_dir):
    return T.with_repetition_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "dup_word_frac", "max_word_share",
        "top_bigram_share",
    )


def _txt_pii_scrub(spark, sf_dir):
    """PII redaction over deterministic synthesized text (the corpus
    has no PII, so emails/phones/IPs are composed from customer
    columns, then scrubbed)."""
    c = _t(spark, sf_dir, "customer")
    phone = F.concat(
        F.lit("55-123-456-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    synth = F.concat_ws(
        " ",
        F.col("c_name"),
        F.concat(F.lit("user"), F.col("c_custkey"), F.lit("@example.com")),
        phone,
        F.concat(F.lit("10.0."), F.col("c_nationkey"), F.lit(".1")),
    )
    return c.select(
        "c_custkey", SC.redact_pii(synth).alias("scrubbed")
    )


def _txt_url_parse(spark, sf_dir):
    """URL decomposition via Spark's built-in parse_url over
    deterministic synthesized URLs."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"),
    )
    parts = SC.url_parts(url)
    return d.select(
        "doc_id",
        parts["url_host"].alias("url_host"),
        parts["url_path"].alias("url_path"),
        parts["url_proto"].alias("url_proto"),
    )


def _ddp_decontaminate(spark, sf_dir):
    """Train/eval decontamination: docs with doc_id % 10 == 0 play the
    eval set; surviving training docs share no 5-gram with it."""
    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return T.decontaminate(train, eval_set).select(
        "doc_id", "source", "n_chars"
    )


def _txt_tfidf(spark, sf_dir):
    return T.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _evt_funnel(spark, sf_dir):
    return funnel_counts(_t(spark, sf_dir, "events"))


def _evt_retention(spark, sf_dir):
    r = retention_cohorts(_t(spark, sf_dir, "events"))
    return r.select(
        F.col("cohort_week").cast("long").alias("cohort_epoch"),
        "week_offset",
        "n_users",
    )


def _stream_dedupe(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    return ES.run_available_now(
        ES.streaming_exact_dedupe(ES.read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


def _tbl_validate(spark, sf_dir):
    """One-pass Deequ-style constraint validation over orders."""
    return TO.validate_constraints(
        _t(spark, sf_dir, "orders"),
        not_null=["o_custkey", "o_orderdate"],
        unique="o_orderkey",
        ranges={"o_totalprice": (0.0, 1_000_000.0)},
        accepted={"o_orderstatus": ["O", "F", "P"]},
    )


def _mm_audio_decode(spark, sf_dir):
    """REAL audio decode (fake=False): synthesize genuine 16-bit PCM
    WAV payloads, open them with the stdlib wave module inside the
    Arrow-batched stage, and emit PCM stats.  The sample formula is
    reproduced by the DuckDB oracle (64-sample frames keep the mean
    dyadic; rms is a double-precision sqrt on both engines)."""
    from eggv_spark.operators import multimodal as M

    feats = M.extract_features(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents")), fake_decode=False
    )
    return feats.select(
        "asset_id", "modality", "n_bytes",
        F.get("feature", 0).cast("int").alias("n_channels"),
        F.get("feature", 1).cast("int").alias("sample_rate"),
        F.get("feature", 3).cast("int").alias("n_frames"),
        F.round(F.get("feature", 4), 4).alias("mean_amp"),
        F.round(F.get("feature", 5), 4).alias("rms"),
        F.get("feature", 6).cast("int").alias("peak"),
        F.get("feature", 7).cast("int").alias("zero_crossings"),
    )


def _txt_chunk(spark, sf_dir):
    """Fixed-token-window chunking (training-example prep), 1->N."""
    return T.chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=32)


def _txt_pack_sequences(spark, sf_dir):
    """Sharded training-sequence packing by cumulative token offset."""
    return T.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_tokens=256, n_shards=8
    )


def _smp_stratified(spark, sf_dir):
    """Deterministic hash-stratified sample with per-stratum rates."""
    sampled = R.stratified_sample_hash(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderkey",
        {"1-URGENT": 50, "2-HIGH": 25},
        default_pct=5,
    )
    return sampled.groupBy("o_orderpriority").agg(F.count("*").alias("n_rows"))


def _agg_corr(spark, sf_dir):
    return AG.corr_cov_agg(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_quantity", "l_extendedprice",
    )


def _agg_stats_moments(spark, sf_dir):
    return AG.stats_agg(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_quantity", "l_extendedprice",
    )


def _agg_histogram(spark, sf_dir):
    return AG.histogram_fixed(
        _t(spark, sf_dir, "orders"), "o_totalprice", 3_000_000
    )


def _win_range_frame(spark, sf_dir):
    """RANGE-frame window (value-range, not row-count): per user, the
    count and value-sum of events in the trailing hour BEFORE each
    event.  ROWS frames can't express this — the frame width varies
    with event density.  Ordered on epoch seconds (integer) so both
    engines bound the frame identically."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").withColumn(
        "epoch", F.col("ts").cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch")
        .rangeBetween(-3600, Window.currentRow)
    )
    # windowed float SUMs drift an ulp between engines (DuckDB's
    # segment-tree accumulation) — sum exact 1e-4 units instead
    units = F.round(F.col("value") * 10000).cast("long")
    return e.withColumn("units", units).select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_hour"),
        (F.sum("units").over(w) / 10000.0).alias("sum_trailing_hour"),
    )


def _agg_argminmax(spark, sf_dir):
    """min_by/max_by (argmin/argmax) aggregates — per nation, the
    customer holding the min/max account balance.  Tie-safe: acctbal
    ties broken by keying on (acctbal, custkey) struct order."""
    c = _t(spark, sf_dir, "customer")
    key_min = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    key_max = F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("neg"))
    return c.groupBy("c_nationkey").agg(
        F.min_by("c_custkey", key_min).alias("poorest_cust"),
        F.max_by("c_custkey", key_max).alias("richest_cust"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


def _exp_posexplode(spark, sf_dir):
    """posexplode: row expansion WITH the element ordinal (the
    reference's explode loses position; ordinals matter for
    order-sensitive downstreams like frame indices)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    )


def _join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=>): null keys MATCH each other
    instead of silently dropping — the semantics dimension tables
    with unknown-member rows need."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 100 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 100 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("k"),
        "c_name",
    )
    return o.join(c, o["k"].eqNullSafe(c["k"])).select("o_orderkey", "c_name")


def _txt_unigram_lm(spark, sf_dir):
    return T.unigram_logprob(_t(spark, sf_dir, "documents"))


def _txt_quality_filter(spark, sf_dir):
    out = T.quality_filter(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", "dup_word_frac", "stopword_ratio", "keep"
    )


def _stream_view_click(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    views = ES.read_events_stream(spark, sf_dir).filter("event_type = 'view'")
    clicks = ES.read_events_stream(spark, sf_dir).filter("event_type = 'click'")
    out = ES.run_available_now(
        ES.streaming_view_click_join(views, clicks), output_mode="append"
    )
    return out.select(
        "user_id",
        F.col("view_ts").cast("long").alias("view_epoch"),
        F.col("click_ts").cast("long").alias("click_epoch"),
    )


# ---------------------------------------------------------------------------
# relational completeness: outer/cross joins, subqueries, samples
# ---------------------------------------------------------------------------

def _join_full_outer(spark, sf_dir):
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    out = R.full_outer_join(
        cust, supp, cust["c_nationkey"] == supp["s_nationkey"],
        coalesce_keys={"nationkey": ("c_nationkey", "s_nationkey")},
    )
    return out.select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def _join_cross(spark, sf_dir):
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    a = region.select(
        F.col("r_regionkey").alias("key_a"), F.col("r_name").alias("name_a")
    )
    b = region.select(
        F.col("r_regionkey").alias("key_b"), F.col("r_name").alias("name_b")
    )
    return R.cross_join(a, b).select("key_a", "name_a", "key_b", "name_b")


def _sub_exists(spark, sf_dir):
    """Correlated EXISTS subquery — exercises Spark's subquery
    planner (rewritten to a broadcast-able left-semi join)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_sub_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_sub_orders")
    return spark.sql(
        "SELECT c_custkey, c_name FROM v_sub_customer c"
        " WHERE EXISTS (SELECT 1 FROM v_sub_orders o"
        "  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"
    )


def _sub_in(spark, sf_dir):
    """Uncorrelated IN subquery (planned as left-semi join)."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_sub_part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_sub_lineitem")
    return spark.sql(
        "SELECT p_partkey, p_name FROM v_sub_part"
        " WHERE p_partkey IN (SELECT l_partkey FROM v_sub_lineitem"
        "  WHERE l_quantity >= 49)"
    )


def _sub_scalar(spark, sf_dir):
    """Scalar subquery threshold — integer arithmetic so both engines
    compute the identical cutoff (a float avg() would differ in the
    last ulp between summation orders and flip boundary rows)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_sub_orders2")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_sub_customer2")
    return spark.sql(
        "SELECT o_orderkey, o_custkey FROM v_sub_orders2"
        " WHERE o_custkey > (SELECT max(c_custkey) FROM v_sub_customer2) - 100"
    )


def _smp_systematic(spark, sf_dir):
    li = R.systematic_sample(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", 100, 5
    )
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _agg_conditional(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return AG.conditional_agg(
        li,
        ["l_returnflag"],
        {
            "n_bigqty": (F.col("l_quantity") > 25, None),
            "disc_revenue": (
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice"),
            ),
            "n_open_status": (F.col("l_linestatus") == "O", None),
        },
    )


def _agg_string_agg(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    )
    return AG.string_agg_sorted(joined, ["r_name"], "n_name", out="nations")


def _win_ntile_rank(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return AG.with_distribution_ranks(
        cust, ["c_mktsegment"], [F.col("c_acctbal"), F.col("c_custkey")], 4
    ).select("c_custkey", "c_mktsegment", "tile", "pct_rank", "cume_dist")


def _win_first_last(spark, sf_dir):
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


def _agg_approx(spark, sf_dir):
    """Sketch aggregates (HLL++, approx percentiles) in GRADEABLE
    form (round 6, per the round-5 verdict item 2): the raw sketch
    outputs are not DuckDB-reproducible, so the driver row used to be
    rows-only.  The output now carries the EXACT twins (count_distinct
    and exact interpolated percentiles — what the oracle hashes) plus
    per-sketch tolerance booleans: HLL++ at rsd=0.02 checked at 5%
    relative tolerance, approx_percentile(accuracy=10000) checked at
    1%.  Both sketch families are merge-order-invariant (HLL++
    register-max; GK summaries), so the booleans are stable across
    partition configs.  The sketch path remains the 100 TB plan — the
    exact twins are the verification harness."""
    return AG.approx_aggregates_graded(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_orderkey"
    )


# ---------------------------------------------------------------------------
# dedup family (extension)
# ---------------------------------------------------------------------------

def _docs_with_dups(spark, sf_dir):
    """Documents plus injected exact duplicates (every 10th doc
    re-tagged with id+1,000,000) so dedup outputs are non-trivial —
    the synthetic corpus itself has no exact dups."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )


_DUPDOCS_SQL = (
    "SELECT doc_id, text FROM documents"
    " UNION ALL"
    " SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"
)


def _ddp_exact_hash(spark, sf_dir):
    return D.exact_dedupe(_docs_with_dups(spark, sf_dir))


def _ddp_soft_dedup(spark, sf_dir):
    """Soft dedup by downweighting: instead of REMOVING duplicates,
    every copy gets weight 1/(duplicate-group size), so a content
    group contributes exactly one document of effective mass however
    many times it was crawled — the keep-but-reweight curation
    alternative to hard removal (preserves coverage while killing
    over-representation).  One hash-partitioned window (same shuffle
    key a groupBy would use) computes group sizes; the per-source
    rollup reports raw vs distinct vs effective document counts.
    Injected dup group sizes are 1 or 2, so every weight is exactly
    representable and the float sum is parity-exact."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    all_docs = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    w = Window.partitionBy(F.md5("text"))
    weighted = all_docs.withColumn(
        "_w", F.lit(1.0) / F.count("*").over(w)
    )
    return weighted.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.round(F.sum("_w"), 4).alias("effective_docs"),
    )


def _ddp_minhash_neardup(spark, sf_dir):
    return D.minhash_neardup_pairs(_docs_with_dups(spark, sf_dir), threshold=0.7)


def _ddp_simhash(spark, sf_dir):
    return D.simhash(_t(spark, sf_dir, "documents"))


def _ddp_simhash_neardup(spark, sf_dir):
    return D.simhash_neardup_pairs(_docs_with_dups(spark, sf_dir), max_hamming=3)


def _ddp_index_dedup(spark, sf_dir):
    """Incremental near-dup: probe a re-crawled shard (every 10th doc
    re-tagged +1,000,000) against a persisted MinHash band index of
    the full corpus — the production shape for continuously-crawled
    corpora, where all-pairs LSH over corpus ∪ shard every ingest is
    O(corpus).  Each shard doc is an exact copy of its source, so the
    signature-agreement estimate is 1.0 and dup_of resolves to the
    smallest matching corpus id (dedupe.minhash_band_index /
    dedupe_against_index).

    ROUND-11 NEGATIVE RESULT: an xxhash64 gram hash (output
    row-identical at sf0.001/0.01/0.1) measured NEUTRAL (0.87-1.05x
    across idle-host A/Bs), as did a fused one-pass signature build:
    at this SF the operator is bound by interpreted
    higher-order-function overhead in the shingle construction
    (phase bisect: shingle strings 0.85 s of the 1.76 s floor), not
    by the hash (OPTIMIZATION_r11.md, item 4).  md5 stays — uniform
    oracle portability at zero measured cost."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = D.minhash_band_index(docs)
    shard = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return D.dedupe_against_index(shard, index, threshold=0.7)


def _ddp_window_dedup(spark, sf_dir):
    """Unaligned exact-substring dedup (sliding K-token windows,
    suffix-dedup semantics): every 8-token window is counted
    corpus-wide and any position covered by a duplicated window is
    stripped — catches duplicated runs at ANY offset, where the
    chunk-aligned passage dedup only catches boundary-aligned ones.
    Over the corpus-with-exact-dups fixture the re-tagged copies (and
    their sources) are removed wholesale
    (dedupe.sliding_window_dedup)."""
    return D.sliding_window_dedup(
        _docs_with_dups(spark, sf_dir), window_tokens=8
    )


def _stream_index_dedup(spark, sf_dir):
    """Streaming twin of ddp_index_dedup: the re-tagged shard arrives
    as a STREAM (file source), each micro-batch probes the persisted
    MinHash band index via a stateless stream-static equi-join, and
    the availableNow output collapses band collisions to the same
    per-doc verdict the batch operator emits — so the two share one
    oracle (streaming.streaming_index_dedupe)."""
    from eggv_spark.streaming import events_stream as ES

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # persist: the static side of a stream-static join re-evaluates
    # every micro-batch — unpersisted, the whole corpus would
    # re-shingle per batch.  hash family mirrors the batch twin
    # (_ddp_index_dedup): md5 — see its round-11 negative result.
    index = D.minhash_band_index(docs).persist()
    shard_stream = (
        ES.read_documents_stream(spark, sf_dir)
        .select("doc_id", "text")
        .filter("doc_id % 10 = 0")
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    )
    try:
        matches = ES.run_available_now(
            ES.streaming_index_dedupe(shard_stream, index)
        )
        shard_ids = docs.filter("doc_id % 10 = 0").select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id")
        )
        return D.collapse_index_matches(
            matches, shard_ids, "doc_id", threshold=0.7
        )
    finally:
        index.unpersist()


def _ddp_ngram_jaccard(spark, sf_dir):
    """Standalone exact n-gram Jaccard on deterministic adjacent-id
    pairs (the verification kernel of the near-dup pipeline)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = D.with_shingle_hashes(docs)
    # Pairs whose id_b has no document drop out in the verify join
    # (inner) — same as the oracle's JOIN.
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return D.jaccard_verify_pairs(pairs, shingled, threshold=0.0)


def _tbl_unpivot(spark, sf_dir):
    return TO.unpivot(
        _t(spark, sf_dir, "part"),
        ["p_partkey"],
        ["p_brand", "p_type", "p_name"],
        "attribute",
        "attr_value",
    )


def _tbl_merge_upsert(spark, sf_dir):
    current = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    updates = (
        current.filter("c_custkey % 7 = 0")
        .withColumn("c_mktsegment", F.lit("UPDATED"))
        .unionByName(
            spark.range(1).select(
                F.lit(9_000_001).alias("c_custkey"),
                F.lit("Customer#new").alias("c_name"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    return TO.merge_upsert(current, updates, ["c_custkey"])


def _tbl_profile(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").withColumn(
        "priority_nullable", F.nullif("o_orderpriority", F.lit("5-LOW"))
    )
    return TO.profile_columns(
        df, ["o_custkey", "o_orderstatus", "priority_nullable"]
    )


def _tbl_key_distribution(spark, sf_dir):
    return TO.key_distribution(
        _t(spark, sf_dir, "lineitem"), ["l_partkey"], top_n=10
    )


def _agg_gini(spark, sf_dir):
    """Per-group Gini, JVM window+agg form (round 6: previously the
    pandas-UDAF form — same values, but a UDAF cannot partial-agg, so
    the SQL formulation is the one that ships at 100 TB; the UDAF
    variant survives as aggregates.gini_by_group, the custom-aggregate
    extension-point demo, equality-tested against this form)."""
    return AG.gini_by_group_sql(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )


def _ddp_dup_clusters(spark, sf_dir):
    """Near-dup pairs resolved to duplicate clusters: iterative
    connected components, then every doc mapped to its cluster's
    keeper (min id)."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = D.minhash_neardup_pairs(docs, threshold=0.7)
    return D.dedup_keepers(pairs, docs.select("doc_id"))


def _ddp_canonical_docs(spark, sf_dir):
    """Near-dup clusters canonicalized by QUALITY (longest text wins,
    min id on ties) instead of min-id — the keeper-selection policy
    real cleaning pipelines use."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = D.minhash_neardup_pairs(docs, threshold=0.7)
    scored = docs.select("doc_id", F.length("text").alias("quality"))
    return D.canonical_keepers(pairs, scored)


def _ddp_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    return D.embedding_neardup_pairs(with_dups, threshold=0.95)


# ---------------------------------------------------------------------------
# similarity search (extension)
# ---------------------------------------------------------------------------

def _sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter("vec_id % 50 = 0"), k=5)


def _sim_ivf_topk(spark, sf_dir):
    """IVF probe at n_probe=10 of 16 cells: measured recall@5 = 0.94
    on the synthetic corpus (see the sweep in sim_recall_eval's
    docstring).  At real scale n_centroids ~ sqrt(n), so a 10-cell
    probe is a small corpus fraction, not 60% of the cells."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter("vec_id % 50 = 0"), k=5, n_probe=10)


def _sim_recall_eval(spark, sf_dir):
    """ANN quality gauge: recall@5 of the IVF probe against the
    exact brute-force top-5, per query — the metric that justifies
    (or vetoes) an index at scale.

    Measured recall/cost curve on the sf0.01 synthetic corpus
    (500 uniform-random 64-d vectors, 10 queries, mean recall@5):

    ====  =======  ==========  ======
    cells  probes  probe_frac  recall
    ====  =======  ==========  ======
      16        8        0.50   0.84
      16       10        0.62   0.94  <- default
      16       12        0.75   0.96
      32        8        0.25   0.54
      32       16        0.50   0.78
      64       16        0.25   0.50
    ====  =======  ==========  ======

    Uniform-random embeddings are the ANN worst case: with no cluster
    structure, cell membership carries almost no neighborhood signal
    and recall tracks the probed corpus fraction for ANY
    partition-based index (more centroids at fixed probe_frac only
    add quantization noise — see the 32/64-cell rows).  Real
    embedding corpora cluster, which is what lets sqrt(n) centroids
    with a small probe fraction hold recall high at scale; on this
    synthetic corpus the honest operating point is probe_frac=0.62
    for recall 0.94."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    return S.ann_recall(
        S.brute_force_topk(emb, q, k=5),
        S.ivf_topk(emb, q, k=5, n_probe=10),
        k=5,
    )


def _sim_ndcg(spark, sf_dir):
    """Order-aware ANN quality: NDCG@5 of the IVF ranking against
    graded relevance derived from the exact brute-force ranks
    (rel = 6 - true_rank, so the true best neighbor carries gain
    2^5-1) — recall says whether the right neighbors came back,
    NDCG says whether they came back in the right ORDER
    (similarity.ranking_ndcg)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    truth = S.brute_force_topk(emb, q, k=5).select(
        "query_id",
        "neighbor_id",
        (F.lit(6) - F.col("rank")).cast("double").alias("rel"),
    )
    ranked = S.ivf_topk(emb, q, k=5, n_probe=10)
    return S.ranking_ndcg(ranked, truth, k=5)


def _sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN: shuffle-free 8x16 encode of the
    corpus + per-query asymmetric-distance LUT, fully deterministic
    (md5 codebooks, 6dp argmin w/ index tiebreak) so the DuckDB
    oracle reproduces codes, LUT, and ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, emb.filter("vec_id % 50 = 0"), k_neighbors=5)


def _sim_range_search(spark, sf_dir):
    """Radius similarity search through the IVF index: every corpus
    neighbor with 4dp-rounded cosine >= 0.25 per query — unranked
    filter output, no per-query window funnel."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_range_search(
        emb, emb.filter("vec_id % 50 = 0"), threshold=0.25
    )


def _sim_kmeans_iter(spark, sf_dir):
    """One Lloyd k-means iteration over the embedding corpus
    (SemDeDup-style semantic clustering step): map-only E-step
    against deterministic md5 centroids, skinny posexplode M-step
    with map-side combine.  Deterministic (6dp distance round,
    lowest-cluster tiebreak) so the DuckDB oracle reproduces
    assignments, inertia, and updated-centroid norms."""
    return S.kmeans_iteration(_t(spark, sf_dir, "embeddings"))


def _smp_cap_per_group(spark, sf_dir):
    """Per-source document cap (domain balancing): at most 10 docs
    per source, chosen by engine-portable md5 hash rank — the
    standard anti-dominance mixer of web-scale training corpora."""
    return R.cap_per_group(
        _t(spark, sf_dir, "documents"), "source", "doc_id", 10
    ).select("doc_id", "source")


def _txt_ngram_stats(spark, sf_dir):
    """Corpus bigram frequency top-100 under a total order
    (count desc, ngram asc): staged tokenization, map-side-combined
    explode count, TakeOrderedAndProject cut."""
    return T.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=100)


def _evt_anomaly(spark, sf_dir):
    """Per-user z-score outlier flags over event values — one window
    shuffle, flag computed on the ROUNDED z so the threshold
    comparison is engine-portable."""
    from eggv_spark.operators.events import zscore_anomalies

    return zscore_anomalies(_t(spark, sf_dir, "events"))


def _agg_mode(spark, sf_dir):
    """Deterministic per-group mode (most frequent order priority per
    order status, smallest value wins ties) — two combined hash
    aggregations, no window over raw rows."""
    return AG.mode_agg(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_orderpriority"
    )


def _stream_running_zscore(spark, sf_dir):
    """Stateful streaming prefix z-score (applyInPandasWithState,
    3-scalar state per user); over availableNow input it must equal
    the batch running-window SQL — which is the oracle."""
    from eggv_spark.streaming import events_stream as ES

    return ES.run_available_now(
        ES.streaming_running_zscore(ES.read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


def _stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment: streaming events pick up
    their user's market segment from the static customer dim, then
    aggregate events per segment — availableNow output must equal
    the batch join+agg SQL."""
    from eggv_spark.streaming import events_stream as ES

    dim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ES.streaming_static_enrich(
        ES.read_events_stream(spark, sf_dir), dim, ("user_id", "c_custkey")
    )
    out = ES.run_available_now(
        enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ),
        output_mode="complete",
    )
    return out


def _set_union_evolve(spark, sf_dir):
    """Schema-evolution union: two feed generations of orders (the
    newer one grew a status column) concatenated BY NAME with
    null-fill — no shuffle, no positional mis-alignment."""
    orders = _t(spark, sf_dir, "orders")
    gen1 = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 0).select(
        "o_orderkey", "o_totalprice"
    )
    gen2 = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return R.union_evolve([gen1, gen2])


def _stream_sliding(spark, sf_dir):
    """Streaming hopping-window counts over availableNow input —
    must equal the batch sliding-window SQL (the oracle)."""
    from eggv_spark.streaming import events_stream as ES

    out = ES.run_available_now(
        ES.streaming_sliding_counts(ES.read_events_stream(spark, sf_dir))
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


def _evt_throttle(spark, sf_dir):
    """Per-user rate limiting: at most 2 events per (user, day) in
    arrival order — the abuse-damping cap before user-level
    aggregation.  The cap genuinely binds on this table (~2.2
    events/user-day)."""
    from eggv_spark.operators.events import throttle_events

    out = throttle_events(
        _t(spark, sf_dir, "events"),
        max_per_window=2,
        window="1 day",
    )
    return out.select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_epoch")
    )


def _flt_like_pushdown(spark, sf_dir):
    """Substring/prefix pattern filters (LIKE family) — both reach
    the parquet scan as PushedFilters (StringContains/StartsWith),
    so row groups without matches never decompress."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("green") | F.col("p_type").startswith("SMALL"))
        .select("p_partkey", "p_name", "p_type")
    )


def _exp_map_explode(spark, sf_dir):
    """Map-entry expansion: build a typed map in-plan and explode it
    to (key, value) rows — the EAV flattening of map columns (1->N,
    Generate operator, shuffle-free)."""
    orders = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey", F.explode(m).alias("attr_key", "attr_value")
    )


def _txt_hashed_features(spark, sf_dir):
    """Feature hashing: fixed-width bag-of-words vectors via the
    engine-portable md5 bucket hash — no vocabulary, no shuffle.

    The vector is emitted as a comma-joined scalar (``feature_csv``)
    rather than ArrayType: the driver's pandas canonicalizer sorts on
    all columns and cannot hash list-typed cells (round-3 driver
    error: ``TypeError: unhashable type: 'list'``)."""
    return T.with_hashed_features(
        _t(spark, sf_dir, "documents"), n_buckets=8
    ).select(
        "doc_id",
        "n_tokens",
        F.concat_ws(",", F.col("feature_vec").cast("array<string>")).alias(
            "feature_csv"
        ),
    )


def _agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price per return flag —
    sum(w*x)/sum(w), one map-side-combinable pass (a plain avg would
    weight every line equally regardless of units moved)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_quantity") * F.col("l_extendedprice"))
            / F.sum("l_quantity"),
            4,
        ).alias("weighted_avg_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("plain_avg_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


def _set_symmetric_diff(spark, sf_dir):
    """Symmetric difference — (A except B) union (B except A),
    side-tagged — over nation sets of sparse key-filtered customer
    and supplier subsets (full sets coincide at every SF, which
    would verify trivially)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.pmod("c_custkey", F.lit(97)) == 0
    ).select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").filter(
        F.pmod("s_suppkey", F.lit(11)) == 0
    ).select(F.col("s_nationkey").alias("nationkey"))
    only_c = c.subtract(s).withColumn("side", F.lit("customer_only"))
    only_s = s.subtract(c).withColumn("side", F.lit("supplier_only"))
    return only_c.unionByName(only_s)


def _join_fuzzy_name(spark, sf_dir):
    """Fuzzy entity resolution: a small probe list of corrupted
    customer names (derived in-plan) matched back by Levenshtein
    distance <= 2 against the broadcast probe side — the
    typo-tolerant lookup of record linkage.  The corpus streams; only
    the probe list broadcasts, so the plan is a BroadcastNestedLoop
    with a cheap per-pair distance, never a corpus self-join."""
    customers = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = (
        customers.filter(F.col("c_custkey") % 300 == 0)
        .select(
            F.col("c_custkey").alias("probe_id"),
            F.concat(F.col("c_name"), F.lit("X")).alias("probe_name"),
        )
    )
    joined = customers.join(
        F.broadcast(probes),
        F.levenshtein("c_name", "probe_name") <= 2,
    )
    return joined.select(
        "probe_id",
        "probe_name",
        "c_custkey",
        "c_name",
        F.levenshtein("c_name", "probe_name").alias("edit_distance"),
    )


def _win_pct_change(spark, sf_dir):
    """Month-over-month revenue change per order priority: monthly
    rollup (map-side combined) then lag within each small series —
    the window runs over months, never raw orders."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.trunc("o_orderdate", "mm").alias("month"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "o_orderpriority",
        F.col("month").cast("string").alias("month"),
        "revenue",
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias(
            "pct_change"
        ),
    )


def _txt_source_quality(spark, sf_dir):
    """Corpus-quality audit rollup: per (source, lang) quality
    metrics WITH subtotal rows per source and a grand total
    (ROLLUP) — the drift dashboard over the cleaning signals."""
    scored = T.with_quality_score(_t(spark, sf_dir, "documents"))
    return (
        scored.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("alnum_ratio"), 4).alias("avg_alnum_ratio"),
        )
    )


def _smp_mixture_weights(spark, sf_dir):
    """Per-source token shares + uniform-target importance weights —
    the mixture design artifact reviewed before rebalancing."""
    scored = T.with_token_counts(_t(spark, sf_dir, "documents"))
    return T.mixture_weights(scored, "source", "n_tokens")


def _dt_date_spine(spark, sf_dir):
    """Calendar-dimension generator over the events table's day
    range — bounds derived in-plan (1-row agg -> sequence explode),
    no driver round-trip."""
    from eggv_spark.sources.readers import date_spine

    bounds = _t(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    return date_spine(bounds, "lo", "hi")


def _composite_training_mixture(spark, sf_dir):
    """The LLM-data cleaning pipeline as ONE declarative plan:
    dup-injected corpus -> text normalization -> exact dedup on
    normalized content (deterministic min-id keeper) -> quality
    scoring -> per-source token-budget fill.  Every stage is an
    existing operator; Catalyst fuses the normalize+score projections
    and the chain costs two shuffles (dedup window, budget window)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with_dups = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    normed = T.with_normalized_text(with_dups).select(
        "doc_id", "source", "norm_text"
    )
    deduped = R.dedupe_first_by_key(
        normed.withColumn("_h", F.md5("norm_text")), ["_h"], ["doc_id"]
    ).drop("_h")
    scored = T.with_quality_score(deduped, text_col="norm_text").select(
        "doc_id", "source", "n_tokens", "stopword_ratio"
    )
    return R.token_budget_sample(
        scored, "source", "doc_id", "stopword_ratio", "n_tokens", budget=600
    )


def _txt_dup_ngram_frac(spark, sf_dir):
    """Duplicated 4-gram fraction per document over the dup-injected
    corpus — the RefinedWeb substring-duplication filter signal."""
    return T.with_dup_ngram_fraction(_docs_with_dups(spark, sf_dir), n=4)


def _smp_train_eval_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by md5 bucket
    of doc_id — disjoint, exhaustive, partition-invariant."""
    out = R.train_eval_split(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _evt_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user
    (gaps-and-islands over calendar days, two shuffles total)."""
    from eggv_spark.operators.events import activity_streaks

    return activity_streaks(_t(spark, sf_dir, "events"))


def _agg_histogram_eqdepth(spark, sf_dir):
    """Equi-depth histogram of order totals: percentile cut points
    from ONE mergeable aggregate (never a global ntile sort),
    broadcast back for codegen bucketing."""
    return AG.equi_depth_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", n_buckets=10
    )


def _evt_user_journey(spark, sf_dir):
    """Path analysis: the most common first-3 event sequences across
    users — funnel discovery with a deterministic total order."""
    from eggv_spark.operators.events import user_journey_paths

    return user_journey_paths(_t(spark, sf_dir, "events"))


def _txt_normalize(spark, sf_dir):
    """Corpus text normalization: lowercase, control-char strip,
    whitespace collapse, trim — shuffle-free Column expressions."""
    return T.with_normalized_text(_t(spark, sf_dir, "documents")).select(
        "doc_id", "norm_text", "n_chars_norm", "chars_removed"
    )


def _agg_entropy(spark, sf_dir):
    """Per-user Shannon entropy (bits) of the event-type
    distribution — two map-side-combinable hash aggregations."""
    return AG.entropy_agg(_t(spark, sf_dir, "events"), ["user_id"], "event_type")


def _smp_domain_mix(spark, sf_dir):
    """Equal-share domain rebalancing: cap each event type at
    ceil(total/n_types) by deterministic md5 rank; the scalar cap is
    computed in-plan (1-row broadcast, no driver round-trip).  On
    this table the cap genuinely binds (the hot types are truncated
    to the equal share; cold types pass through whole)."""
    return R.domain_mix_sample(
        _t(spark, sf_dir, "events").select("event_id", "event_type"),
        "event_type",
        "event_id",
    )


def _ddp_passage_dedup(spark, sf_dir):
    """Corpus-level duplicated-passage removal (C4/RefinedWeb step):
    4-token passages, global md5-keyed occurrence counts, duplicated
    passages stripped, survivors reassembled in document order."""
    return D.passage_dedup(_t(spark, sf_dir, "documents"), chunk_tokens=4)


def _smp_token_budget(spark, sf_dir):
    """Token-budget mixture sampling: per source, greedily take the
    highest-stopword-ratio documents until 800 cumulative tokens —
    the per-domain token-allocation fill of a pretraining mixture."""
    scored = T.with_quality_score(_t(spark, sf_dir, "documents"))
    return R.token_budget_sample(
        scored.select("doc_id", "source", "n_tokens", "stopword_ratio"),
        "source",
        "doc_id",
        "stopword_ratio",
        "n_tokens",
        budget=800,
    )


def _mm_audio_segments(spark, sf_dir):
    """Windowed audio segmentation over REAL decoded PCM (stdlib
    wave parse in mapInPandas, 1->N): per-16-sample RMS + peak —
    the silence-trim / loudness-normalize front-end."""
    from eggv_spark.operators import multimodal as M

    return M.audio_rms_segments(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents"))
    )


def _tbl_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: diff orders against a derived second
    snapshot (keys %97 deleted, %89 repriced, %101 cloned to new
    keys) and count keys per added/removed/changed/unchanged class.
    Each side collapses to (key, md5) BEFORE the full-outer join, so
    the shuffle carries digests, not row bodies."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.pmod("o_orderkey", F.lit(97)) != 0).withColumn(
        "o_totalprice",
        F.when(
            F.pmod("o_orderkey", F.lit(89)) == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    added = orders.filter(F.pmod("o_orderkey", F.lit(101)) == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = base.unionByName(added)
    diff = TO.snapshot_diff(
        orders, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return diff.groupBy("diff_status").agg(F.count("*").alias("n_keys"))


def _mm_image_hash(spark, sf_dir):
    """Perceptual average-hash over REAL decoded PPM bytes
    (mapInPandas, stdlib P6 decoder, all-integer threshold math) plus
    the per-hash bucket size — the image near-dup candidate key."""
    from eggv_spark.operators import multimodal as M

    from pyspark.sql import Window as W

    hashed = M.image_ahash(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )
    return hashed.withColumn(
        "n_bucket", F.count("*").over(W.partitionBy("ahash")).cast("long")
    )


def _mm_bmp_decode(spark, sf_dir):
    """REAL uncompressed-BMP decode (fake=False): synthesize genuine
    24-bit bottom-up BMP payloads with a padded 20-byte row stride
    (6x4 raster — 2 padding bytes per row, so stride bugs shear
    loudly), parse them with the stdlib little-endian header decoder
    inside the Arrow-batched mapInPandas stage, and emit integer
    channel sums — round(mean*n) recovers the exact integer sum, so
    there is no float32 rounding ambiguity vs the DuckDB replica
    (multimodal.decode_bmp; the second real image container next to
    PPM/P6)."""
    from eggv_spark.operators import multimodal as M

    imgs = M.synthesize_bmp_images(_t(spark, sf_dir, "documents"))
    feats = M.extract_features(imgs, fake_decode=False)
    n = F.lit(24)
    return feats.select(
        "asset_id",
        "n_bytes",
        "content_hash",
        F.get("feature", 0).cast("int").alias("width"),
        F.get("feature", 1).cast("int").alias("height"),
        F.round(F.get("feature", 3) * n).cast("long").alias("sum_r"),
        F.round(F.get("feature", 4) * n).cast("long").alias("sum_g"),
        F.round(F.get("feature", 5) * n).cast("long").alias("sum_b"),
        F.get("feature", 6).cast("int").alias("max_px"),
        F.get("feature", 7).cast("int").alias("min_px"),
    )


def _tbl_zorder_key(spark, sf_dir):
    """Z-order (Morton) locality key over (l_partkey, l_suppkey):
    the two-column data-skipping sort key, as a pure unrolled
    shift/mask/or Column program (shuffle-free, codegen)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        TO.zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )


# ---------------------------------------------------------------------------
# multimodal + streaming (extension)
# ---------------------------------------------------------------------------

def _mm_asset_stats(spark, sf_dir):
    from eggv_spark.operators import multimodal as M

    return M.asset_stats(M.synthesize_assets(_t(spark, sf_dir, "documents")))


def _mm_feature_extract(spark, sf_dir):
    """REAL image decode (fake=False): synthesize genuine binary-PPM
    payloads, parse them with the stdlib P6 decoder inside the
    Arrow-batched mapInPandas stage, and emit per-channel raster
    stats.  Every feature value is dyadic (4x4 raster) so the DuckDB
    oracle reproduces it exactly from the pixel formula."""
    from eggv_spark.operators import multimodal as M

    imgs = M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    feats = M.extract_features(imgs, fake_decode=False)
    return feats.select(
        "asset_id", "modality", "n_bytes", "content_hash",
        F.get("feature", 0).cast("int").alias("width"),
        F.get("feature", 1).cast("int").alias("height"),
        F.round(F.get("feature", 3).cast("double"), 4).alias("mean_r"),
        F.round(F.get("feature", 4).cast("double"), 4).alias("mean_g"),
        F.round(F.get("feature", 5).cast("double"), 4).alias("mean_b"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 4
        ).alias("feature_sum"),
    )


def _mm_video_frames(spark, sf_dir):
    """REAL video decode (fake=False): synthesize genuine Y4M
    (YUV4MPEG2, C444) payloads, parse header + FRAME markers with the
    stdlib decoder inside mapInPandas, and emit per-frame hash + luma
    mean.  4x4 frames make mean_y dyadic (sum/16), so the DuckDB
    oracle reproduces every value exactly from the pixel formula."""
    from eggv_spark.operators import multimodal as M

    vids = M.synthesize_y4m_videos(_t(spark, sf_dir, "documents"))
    frames = M.sample_video_frames(vids, n_frames=4, fake_decode=False)
    return frames.select(
        "asset_id", "frame_idx", "frame_hash",
        F.round("mean_y", 4).alias("mean_y"),
    )


def _stream_tumbling(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    out = ES.run_available_now(
        ES.streaming_tumbling_counts(ES.read_events_stream(spark, sf_dir))
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


def _stream_late_data(spark, sf_dir):
    """Watermark LATE-DATA DROP semantics — the Structured Streaming
    contract none of the other stream queries isolates.  Events arrive
    in three deterministic micro-batches (maxFilesPerTrigger=1, file
    mtimes forced so FileStreamSource's mtime ordering is never racy):
    the on-time bulk, then the freshest 2 hours, then stragglers hours
    older than the by-then-established watermark — which are DROPPED.
    Empirically pinned engine semantics (Spark 4.1.2): the late-input
    filter in batch N uses the watermark computed through batch N-2
    (one-batch lag — a straggler in the batch right after the bulk is
    still accepted; see the mini-probe in
    tests/test_skew_sliding_stateful.py), while append-mode
    finalization in batch N uses the batch-N watermark; hence the
    three-batch arrangement, which makes the drop unconditional.
    Every boundary sits hours from any window edge by construction
    (split points at tmax-2h/-6h vs a ~61-minute delay, straggler
    window ends >=2h below the filtering watermark) — and the one
    residue class where the FINAL watermark could land exactly on an
    hour-aligned window end (tmax % 3600 == 60 for the 3660 s delay)
    gets the delay bumped by 30 s, identically on both sides, so
    <=-vs-< edge choices cannot flip a row for ANY fixture data.
    The oracle is then simply: all non-straggler rows, windows
    finalized at tmax - delay."""
    import os

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    e = F.unix_timestamp("ts")
    tmax = ev.agg(F.max(e)).first()[0]
    head = e > F.lit(tmax - 7200)
    straggler = (e <= F.lit(tmax - 21600)) & (F.col("event_id") % 50 == 0)
    base = _scratch_dir("late_data_")
    feed = os.path.join(base, "feed")
    prev: set[str] = set()
    for i, batch in enumerate(
        (~head & ~straggler, head, straggler)
    ):
        ev.filter(batch).coalesce(1).write.mode("append").parquet(feed)
        cur = {
            f for f in os.listdir(feed) if not f.startswith(("_", "."))
        }
        for f in cur - prev:
            os.utime(os.path.join(feed, f), (1_000_000 + 10 * i,) * 2)
        prev = cur
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    from eggv_spark.streaming import events_stream as ES

    agg = (
        stream.withWatermark(
            "ts",
            f"{3660 + (30 if tmax % 3600 == 60 else 0)} seconds",
        )
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    out = ES.run_available_now(agg, output_mode="append")
    return out.select(
        F.col("w.start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


def _stream_user_totals(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    out = ES.run_available_now(
        ES.streaming_user_totals(ES.read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    # The memory sink appends one row per user per micro-batch; the
    # final state per user is the row with the largest running count.
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )


def _stream_session_windows(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    out = ES.run_available_now(
        ES.streaming_session_windows(ES.read_events_stream(spark, sf_dir))
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("long").alias("start_epoch"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# oracle SQL builders for the hash-heavy extension queries
# ---------------------------------------------------------------------------

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
)
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    " generate_series(1, greatest(len(t) - 2, 1)),"
    " i -> array_to_string(list_slice(t, i, i + 2), ' ')))"
)
_BASEHASH_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


def _minhash_oracle(source_sql: str | None = None) -> str:
    """Banded-LSH near-dup oracle; ``source_sql`` overrides the
    (doc_id, text) source (default: the planted-dups corpus) so
    composites can run the same validated chain over a derived
    survivor set."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    return f"""
WITH alldocs AS ({source_sql or _DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id, shingles,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bands l JOIN bands r
          ON l.band = r.band AND l.band_key = r.band_key
          AND l.doc_id < r.doc_id),
verified AS (SELECT id_a, id_b,
    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
    FROM pairs JOIN hs sa ON sa.doc_id = id_a JOIN hs sb ON sb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.7
"""


def _minhash_est_oracle() -> str:
    """Estimated (signature agree-share) vs exact Jaccard on
    adjacent-id pairs — the same deterministic shingle/perm formulas
    as _minhash_oracle, over plain documents."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    n_perms = len(D.MINHASH_A)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id, shingles,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents),
est AS (SELECT pr.id_a, pr.id_b,
        round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
              / {n_perms}.0, 4) AS est_jaccard
        FROM pairs pr JOIN sig sa ON sa.doc_id = pr.id_a
        JOIN sig sb ON sb.doc_id = pr.id_b AND sb.j = sa.j
        GROUP BY pr.id_a, pr.id_b),
ex AS (SELECT pr.id_a, pr.id_b,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))),
             4) AS exact_jaccard
       FROM pairs pr JOIN hs sa ON sa.doc_id = pr.id_a
       JOIN hs sb ON sb.doc_id = pr.id_b)
SELECT e.id_a, e.id_b, e.est_jaccard, x.exact_jaccard,
 round(abs(e.est_jaccard - x.exact_jaccard), 4) AS abs_err
FROM est e JOIN ex x ON e.id_a = x.id_a AND e.id_b = x.id_b
"""


def _window_dedup_oracle() -> str:
    """Sliding-window substring-dedup replica: same K=8 window
    hashes, dup-start flags, and positional cover (max over a
    K-1-preceding ROWS frame) as dedupe.sliding_window_dedup.
    string_agg FILTER yields NULL for fully-removed docs — coalesced
    to '' to match Spark's concat_ws."""
    k = 8
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
g0 AS (SELECT doc_id, unnest(list_transform(
        generate_series(0, len(t) - {k}), i -> {{'i': i,
        'h': md5(array_to_string(list_slice(t, i + 1, i + {k}), ' '))}}))
        AS u FROM toks),
g AS (SELECT doc_id, u.i AS i, u.h AS h FROM g0),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
fl AS (SELECT doc_id, i FROM g JOIN dup USING (h)),
p0 AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t)), i -> {{'p': i - 1, 'tok': t[i]}}))
        AS u FROM toks),
pos AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM p0),
flagged AS (SELECT pos.doc_id, pos.p, pos.tok,
            CASE WHEN fl.i IS NOT NULL THEN 1 ELSE 0 END AS d
            FROM pos LEFT JOIN fl
            ON fl.doc_id = pos.doc_id AND fl.i = pos.p),
marked AS (SELECT doc_id, p, tok, d,
           max(d) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS rm
           FROM flagged),
agg AS (SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(d) AS BIGINT) AS n_dup_windows,
        CAST(sum(rm) AS BIGINT) AS n_removed,
        COALESCE(string_agg(tok, ' ' ORDER BY p) FILTER (rm = 0), '')
         AS cleaned_text
        FROM marked GROUP BY doc_id)
SELECT a.doc_id, COALESCE(g.n_tokens, 0) AS n_tokens,
 COALESCE(g.n_dup_windows, 0) AS n_dup_windows,
 COALESCE(g.n_removed, 0) AS n_removed,
 COALESCE(g.cleaned_text, '') AS cleaned_text
FROM alldocs a LEFT JOIN agg g USING (doc_id)
"""


def _index_dedup_oracle() -> str:
    """Index-probe incremental dedup replica: shard docs are exact
    copies of every 10th corpus doc, so their signatures equal the
    source's — bands/signatures are computed once over documents and
    the shard side reuses them via src_id."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    n_perms = len(D.MINHASH_A)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
shard AS (SELECT doc_id + 1000000 AS new_id, doc_id AS src_id
          FROM documents WHERE doc_id % 10 = 0),
cand AS (SELECT DISTINCT s.new_id, s.src_id, b2.doc_id AS old_id
         FROM shard s JOIN bands b1 ON b1.doc_id = s.src_id
         JOIN bands b2 ON b2.band = b1.band AND b2.band_key = b1.band_key),
est AS (SELECT c.new_id, c.old_id,
        round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
              / {n_perms}.0, 4) AS ej
        FROM cand c JOIN sig sa ON sa.doc_id = c.src_id
        JOIN sig sb ON sb.doc_id = c.old_id AND sb.j = sa.j
        GROUP BY c.new_id, c.old_id),
m AS (SELECT new_id, min(old_id) AS dup_of,
      CAST(count(DISTINCT old_id) AS BIGINT) AS n_matches,
      max(ej) AS best_est
      FROM est WHERE ej >= 0.7 GROUP BY new_id)
SELECT s.new_id AS doc_id, m.dup_of IS NOT NULL AS is_dup, m.dup_of,
 COALESCE(m.n_matches, 0) AS n_matches, m.best_est
FROM shard s LEFT JOIN m ON m.new_id = s.new_id
"""


def _audio_resample_oracle() -> str:
    """REAL 2x-decimation replica: kept sample k (of 32) is source
    sample i=2k of the synthesized WAV (sample i of doc d =
    (d*31 + i*17) % 4096 - 2048, 16-bit little-endian); the payload
    is the canonical 44-byte RIFF header for 32 samples @ 4000 Hz
    plus the kept PCM bytes."""
    from eggv_spark.operators.multimodal import _wav_header

    header_hex = _wav_header(32, 4000).hex().upper()
    return f"""
WITH s AS (
 SELECT d.doc_id, k,
  (d.doc_id * 31 + (2 * k) * 17) % 4096 - 2048 AS v
 FROM documents d, range(0, 32) tk(k)),
u AS (SELECT doc_id, k, CASE WHEN v < 0 THEN v + 65536 ELSE v END AS u
      FROM s)
SELECT doc_id AS asset_id, CAST(2 AS INT) AS factor,
 CAST(108 AS BIGINT) AS n_bytes,
 md5('{header_hex}' || upper(string_agg(
   lpad(to_hex(u % 256), 2, '0') || lpad(to_hex(u // 256), 2, '0'),
   '' ORDER BY k))) AS resampled_hash
FROM u GROUP BY doc_id
"""


def _simhash_oracle(src: str = "SELECT * FROM documents") -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(D.SIMHASH_BITS)
    )
    terms = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM ({src})),
tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
h AS (SELECT doc_id, {_BASEHASH_SQL.format(x='token')} AS h FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM bits
"""


def _simhash_neardup_oracle() -> str:
    """All-pairs Hamming join over the simhash fingerprints.  Valid
    as an EXACT oracle because 4 bands x 8 bits with threshold 3 < 4
    gives perfect recall (pigeonhole: <=3 differing bits cannot touch
    all 4 bands), so the banded Spark plan's output equals the full
    quadratic join the oracle can afford at sf0.01."""
    return f"""
WITH sim AS ({_simhash_oracle(_DUPDOCS_SQL)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _embedding_neardup_oracle() -> str:
    """Exact replica of the BANDED sign-LSH construction (4 tables x
    8 planes, OR over tables): hyperplanes are deterministic (md5 of
    'plane-{t}-{p}-{d}' — dedupe.signlsh_plane), so the candidate
    union + cosine-verify output is reproducible in SQL with the
    planes embedded as literals.  dim=64 per TESTDATA.md embeddings."""
    from eggv_spark.operators.dedupe import signlsh_plane

    dim, n_planes, n_tables = 64, 8, 4
    buckets = []
    for t in range(n_tables):
        bucket = " || ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(w) for w in signlsh_plane(t, p, dim))
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        buckets.append(f"{bucket} AS bucket{t}")
    bucket_cols = ", ".join(buckets)
    any_table = " OR ".join(f"a.bucket{t} = c.bucket{t}" for t in range(n_tables))
    return f"""
WITH src AS (SELECT vec_id, embedding FROM embeddings
             UNION ALL
             SELECT vec_id + 1000000 AS vec_id, embedding
             FROM embeddings WHERE vec_id % 25 = 0),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM src),
b AS (SELECT vec_id, v, {bucket_cols} FROM v),
scored AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
    round(list_dot_product(a.v, c.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
    FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_table}))
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95
"""


def _semantic_pairs_oracle() -> str:
    """The embedding-neardup oracle extended with the text re-score:
    same banded sign-LSH candidate construction, then doc-token
    Jaccard (distinct word sets) and label agreement joined on the
    (id % 1e6) doc key."""
    from eggv_spark.operators.dedupe import signlsh_plane

    dim, n_planes, n_tables = 64, 8, 4
    buckets = []
    for t in range(n_tables):
        bucket = " || ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(w) for w in signlsh_plane(t, p, dim))
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        buckets.append(f"{bucket} AS bucket{t}")
    bucket_cols = ", ".join(buckets)
    any_table = " OR ".join(f"a.bucket{t} = c.bucket{t}" for t in range(n_tables))
    return f"""
WITH src AS (SELECT vec_id, embedding FROM embeddings
             UNION ALL
             SELECT vec_id + 1000000 AS vec_id, embedding
             FROM embeddings WHERE vec_id % 25 = 0),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM src),
b AS (SELECT vec_id, v, {bucket_cols} FROM v),
scored AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
    round(list_dot_product(a.v, c.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
    FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_table})),
pairs AS (SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95),
toks AS (SELECT doc_id, list_distinct(list_filter(
    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS t
    FROM documents),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT p.id_a, p.id_b, p.cosine,
    round(len(list_intersect(ta.t, tb.t)) * 1.0
          / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 4)
        AS text_jaccard,
    la.label = lb.label AS same_label
FROM pairs p
JOIN toks ta ON p.id_a % 1000000 = ta.doc_id
JOIN toks tb ON p.id_b % 1000000 = tb.doc_id
JOIN lab la ON p.id_a % 1000000 = la.vec_id
JOIN lab lb ON p.id_b % 1000000 = lb.vec_id
"""


def _range_search_oracle() -> str:
    """IVF radius-search replica: same cell assignment/probing as the
    top-k oracle, but the tail is a threshold filter on the rounded
    cosine instead of a ranking window."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe, threshold = 64, 16, 4, 0.25
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe})
SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id
      AND round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) >= {threshold}
"""


def _kmeans_iter_oracle() -> str:
    """Lloyd-iteration replica: same md5 centroid literals, same
    6dp-rounded squared-L2 argmin with lowest-cluster tiebreak, then
    count/inertia and per-dimension means re-aggregated in SQL."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_clusters = 64, 8
    # /2000 rescale mirrors kmeans_assign: repr() round-trips the
    # exact double, so both engines see bit-identical centroids.
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w / 2000.0) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_clusters)
    )
    return f"""
WITH cent(cluster_id, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, v, cluster_id,
    round(list_aggregate(list_transform(generate_series(1, {dim}),
          i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum'), 6) AS sqd
    FROM v CROSS JOIN cent),
asg AS (SELECT vec_id, v, cluster_id, sqd FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sqd, cluster_id) AS rk FROM d)
    WHERE rk = 1),
mem AS (SELECT cluster_id, count(*) AS n_members,
    round(sum(sqd), 2) AS inertia
    FROM asg GROUP BY cluster_id),
dm AS (SELECT cluster_id, i, avg(v[i]) AS m
    FROM asg, generate_series(1, {dim}) t(i) GROUP BY 1, 2),
cn AS (SELECT cluster_id, round(sqrt(sum(m * m)), 4) AS centroid_norm
    FROM dm GROUP BY cluster_id)
SELECT CAST(mem.cluster_id AS INT) AS cluster_id, n_members, inertia,
    centroid_norm
FROM mem JOIN cn USING (cluster_id)
"""


def _pq_topk_oracle() -> str:
    """Exact replica of the PQ encode + asymmetric-distance ranking:
    md5-derived codebooks as literals; per-(vector, subspace) squared
    L2 to every centroid, 6dp-rounded; argmin with lowest-index
    tiebreak for codes; queries reuse the same distances as their
    LUT; approx distance = sum of the query's LUT entries at the
    corpus codes."""
    from eggv_spark.operators.similarity import _pq_codebook

    dim, m, k, kn = 64, 8, 16, 5
    sub_dim = dim // m
    rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cb(sub, c, cv) AS (VALUES {rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sd AS (SELECT vec_id, sub, c,
    round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cv[i])
             * (v[sub * {sub_dim} + i] - cv[i]))), 6) AS d
    FROM v CROSS JOIN cb),
enc AS (SELECT vec_id, sub, c AS code FROM (
    SELECT vec_id, sub, c,
        row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d ASC, c ASC) AS rn
    FROM sd) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, sub, c, d FROM sd WHERE vec_id % 50 = 0),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        round(sum(q.d), 4) AS approx_dist
    FROM enc e JOIN q ON q.sub = e.sub AND q.c = e.code
        AND e.vec_id <> q.query_id
    GROUP BY q.query_id, e.vec_id),
ranked AS (SELECT query_id, neighbor_id, approx_dist,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
    FROM scored)
SELECT query_id, neighbor_id, approx_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kn}
"""


def _ivf_topk_oracle(k: int = 5) -> str:
    """IVF is deterministic end-to-end (md5-derived centroid
    literals, 6dp-rounded cosine argmax with a max-cell tiebreak —
    mirror of similarity._best_cells' reverse(array_sort(struct))),
    so the probe result is reproducible in SQL: assign every vector
    to its best cell, probe each query's 10 best cells, exact top-5
    within the probed subset (n_probe here MUST track the Spark
    queries' n_probe — see _sim_ivf_topk/_sim_recall_eval)."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe = 64, 16, 10
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
scored AS (SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def _cosine_topk_oracle() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (SELECT q.query_id, c.neighbor_id,
    round(list_dot_product(q.qv, c.cv)
          / (sqrt(list_dot_product(q.qv, q.qv))
             * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
    FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def _ngram_jaccard_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
pairs AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM documents a)
SELECT id_a, id_b,
 round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
"""


def _repetition_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),
wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c
       FROM w GROUP BY doc_id, word),
wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd, max(c) AS maxc
         FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id,
       list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1]) AS bgs
       FROM toks),
b AS (SELECT doc_id, len(bgs) AS nb, unnest(bgs) AS pair FROM bg),
bc AS (SELECT doc_id, any_value(nb) AS nb, pair, count(*) AS c
       FROM b GROUP BY doc_id, pair),
bagg AS (SELECT doc_id, any_value(nb) AS nb, max(c) AS maxbc
         FROM bc GROUP BY doc_id)
SELECT w.doc_id, CAST(w.n AS INT) AS n_words,
 round((w.n - w.nd) / CAST(greatest(w.n, 1) AS DOUBLE), 4) AS dup_word_frac,
 round(w.maxc / CAST(greatest(w.n, 1) AS DOUBLE), 4) AS max_word_share,
 round(coalesce(b.maxbc, 0)
       / CAST(greatest(coalesce(b.nb, 0), 1) AS DOUBLE), 4) AS top_bigram_share
FROM wagg w LEFT JOIN bagg b ON w.doc_id = b.doc_id
"""


def _decontaminate_oracle() -> str:
    # 5-gram shingles: mirror of shingles_col(n=5) — short docs keep
    # one clamped shingle.
    shingles5 = (
        "list_distinct(list_transform("
        " generate_series(1, greatest(len(t) - 4, 1)),"
        " i -> array_to_string(list_slice(t, i, i + 4), ' ')))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles5}) AS shingle FROM toks),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
contaminated AS (SELECT DISTINCT s.doc_id FROM sh s
                 JOIN eval_sh e ON s.shingle = e.shingle
                 WHERE s.doc_id % 10 <> 0)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id % 10 <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


# ---------------------------------------------------------------------------
# round-3 additions (stage for the round-4 verification window)
# ---------------------------------------------------------------------------

def _tbl_scd2_apply(spark, sf_dir):
    """SCD2 dimension maintenance: apply a segment-change batch to a
    versioned customer dimension (open rows valid_to IS NULL) —
    changed keys close at the effective time and re-open with the new
    attributes; unchanged keys pass through.  The dimension side
    streams; only the update batch broadcasts."""
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    updates = cust.filter("c_custkey % 7 = 0").select(
        "c_custkey",
        F.concat(F.lit("SEG_"), (F.col("c_custkey") % 5).cast("string")).alias(
            "segment"
        ),
        F.lit(100).cast("long").alias("effective_ts"),
    )
    return TO.scd2_merge(
        dim, updates, "c_custkey", ["segment"], "effective_ts"
    )


def _tbl_cdc_apply(spark, sf_dir):
    """CDC change-stream apply: last op per key wins (delete beats an
    earlier update), I/U upsert, D removes — the batch twin of the
    streaming upsert sink.  Changes are synthesized from orders: keys
    %10==0 get a U (price doubled — exact in FP, no rounding-boundary
    ambiguity) at seq 2, keys %20==0 additionally a D at seq 3 (so
    the delete must win), keys %10==3 insert as brand-new keys
    shifted by 10^9."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    upd = orders.filter("o_orderkey % 10 = 0").select(
        "o_orderkey",
        (F.col("price") * 2).alias("price"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    dels = orders.filter("o_orderkey % 20 = 0").select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    ins = orders.filter("o_orderkey % 10 = 3").select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        "price",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    return TO.cdc_apply(orders, changes, ["o_orderkey"], "seq")


def _smp_temperature_weights(spark, sf_dir):
    """Temperature-scaled (p^alpha) sampling design per source: the
    multilingual rebalancing rule — natural share, alpha=0.5 target
    share, and the per-domain sampler multiplier."""
    scored = T.with_token_counts(_t(spark, sf_dir, "documents"))
    return T.temperature_weights(scored, "source", "n_tokens", alpha=0.5)


def _win_decayed_sum(spark, sf_dir):
    """Recency-weighted trailing sum (bounded-window EWMA feature)
    per user over the event stream: 8 half-life lag terms — exponents
    stay bounded so the value is engine-exact, unlike the closed-form
    prefix EWMA (see with_decayed_sum docstring).  The output is
    integer-scaled (floor(x*10^4 + 0.5)) instead of round(x, 4):
    the decayed weights put many sums EXACTLY on 4dp rounding
    boundaries (measured 21/10000 at decay 0.5), where Spark's
    decimal-string HALF_UP and DuckDB's binary round disagree —
    scale-and-floor is pure IEEE arithmetic, bit-identical on
    identical inputs in every engine."""
    ev = _t(spark, sf_dir, "events")
    out = AG.with_decayed_sum(
        ev, "value", ["user_id"], [F.col("ts"), F.col("event_id")],
        decay=0.5, window_size=8, round_dp=None,
    )
    return out.select(
        "user_id",
        "event_id",
        F.floor(F.col("decayed_sum") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("decayed_x1e4"),
    )


def _mm_image_crop(spark, sf_dir):
    """REAL pixel crop over genuine 4x4 P6 payloads: the 2x2 window
    anchored at (1, 1), re-emitted as a decodable P6 image; the
    oracle replays the pixel-slice formula in SQL."""
    from eggv_spark.operators import multimodal as M

    cropped = M.crop_images(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents")),
        x0=1, y0=1, width=2, height=2,
    )
    return cropped.select(
        "asset_id", "x0", "y0",
        F.length("cropped").cast("long").alias("n_bytes"),
        F.md5(F.hex("cropped")).alias("cropped_hash"),
    )


def _mm_audio_resample(spark, sf_dir):
    """REAL WAV downsample by 2x decimation over genuine 16-bit PCM
    payloads: every 2nd sample survives into a valid RIFF container
    at half the rate; the oracle rebuilds the exact byte stream from
    the synthesis formula."""
    from eggv_spark.operators import multimodal as M

    out = M.resample_audio(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents")), factor=2
    )
    return out.select(
        "asset_id", "factor",
        F.length("resampled").cast("long").alias("n_bytes"),
        F.md5(F.hex("resampled")).alias("resampled_hash"),
    )


def _ddp_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (C4-style crawl cleaning): four cosmetic
    URL variants per content key — tracking params, WWW+case+trailing
    slash, fragment, ref param — must collapse to ONE canonical form;
    keeper is the min doc_id.  The canonicalization is a regexp chain
    (scalars.canonical_url) whose SQL twin runs the identical RE2
    program."""
    d = _t(spark, sf_dir, "documents")
    # host keyed on the PAIR id so (2k, 2k+1) share a canonical URL
    # and the dedup actually collapses rows
    pair = (F.col("doc_id") / 2).cast("long")
    host = F.concat(F.lit("s"), (pair % 7).cast("string"))
    base = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"), pair
    )
    upper_base = F.concat(
        F.lit("https://www."), F.upper(host),
        F.lit(".EXAMPLE.com/p/"), pair, F.lit("/"),
    )
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(F.col("doc_id") % 4 == 1, upper_base)
        .when(F.col("doc_id") % 4 == 2, F.concat(base, F.lit("#section-2")))
        .otherwise(F.concat(base, F.lit("?ref=home")))
    )
    return (
        d.select("doc_id", SC.canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _txt_sentences(spark, sf_dir):
    """Sentence segmentation 1->N with post-filter indexing — the
    per-sentence expansion feeding sentence-level quality scoring."""
    return T.split_sentences(_t(spark, sf_dir, "documents"))


def _evt_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's most
    recent STRICTLY-earlier engagement event (view/click), via the
    single-shuffle union+window as-of kernel.  Touches are first
    deduped to one row per (user, ts) — max event_id wins — so the
    nearest match is unique and both engines agree at timestamp
    ties."""
    ev = _t(spark, sf_dir, "events")
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("touch_event_id"),
            F.max_by("event_type", "event_id").alias("touch_type"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases,
        touches,
        ["user_id"],
        "ts",
        ["touch_type", "touch_event_id"],
        tiebreak_col="event_id",
        strict=True,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("asof_touch_type").alias("touch_type"),
        F.col("asof_touch_event_id").alias("touch_event_id"),
    )


def _agg_chi2_cells(spark, sf_dir):
    """Source x language association audit: per-cell observed count,
    independence-expected count, and chi-square contribution — the
    contingency diagnostic run before trusting a domain/language
    mixture.  Integer marginals ride two window sums over the tiny
    cell table; no second scan of the corpus."""
    from pyspark.sql import Window

    cells = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"))
    )
    row_w = Window.partitionBy("source")
    col_w = Window.partitionBy("lang")
    all_w = Window.partitionBy()
    expected = (
        F.sum("n_docs").over(row_w)
        * F.sum("n_docs").over(col_w)
        / F.sum("n_docs").over(all_w)
    )
    return cells.select(
        "source",
        "lang",
        "n_docs",
        F.round(expected, 4).alias("expected"),
        F.round(F.pow(F.col("n_docs") - expected, 2) / expected, 4).alias(
            "chi2_contrib"
        ),
    )


def _stream_cdc_apply(spark, sf_dir):
    """Streaming CDC maintenance: the tbl_cdc_apply change set
    delivered as a 2-batch file stream into stream_cdc_sink
    (foreachBatch cdc merge, checkpointed, swap-written); the final
    table must equal the one-shot batch apply.  Batches are split BY
    KEY (pair-group parity, coalesced to one file each) so each key's
    changes arrive in one batch — the log-ordered delivery the sink's
    contract requires."""
    import os

    from eggv_spark.streaming import events_stream as ES

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    upd = orders.filter("o_orderkey % 10 = 0").select(
        "o_orderkey",
        (F.col("price") * 2).alias("price"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    dels = orders.filter("o_orderkey % 20 = 0").select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(3).cast("long").alias("seq"),
    )
    ins = orders.filter("o_orderkey % 10 = 3").select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        "price",
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    changes = upd.unionByName(dels).unionByName(ins)

    base = _scratch_dir("stream_cdc_")
    src = os.path.join(base, "changes")
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")
    orders.write.mode("overwrite").parquet(table)
    for half in (0, 1):
        changes.filter(
            F.pmod((F.col("o_orderkey") / 10).cast("long"), F.lit(2)) == half
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ES.stream_cdc_sink(stream, table, ["o_orderkey"], "seq", ckpt)
    return spark.read.parquet(table)


def _smp_apply_weights(spark, sf_dir):
    """Mixture APPLICATION: replicate/filter documents per the
    temperature-sampling design (alpha=0.5) — floor(w) copies plus a
    deterministic md5-coin extra, so upsampled domains really gain
    rows.  Completes the design->apply pair with
    smp_temperature_weights."""
    scored = T.with_token_counts(_t(spark, sf_dir, "documents"))
    weights = T.temperature_weights(scored, "source", "n_tokens", alpha=0.5)
    out = R.apply_sample_weights(
        scored.select("doc_id", "source"), weights
    )
    return out.select("doc_id", "source", "copy_idx")


def _win_winsorize(spark, sf_dir):
    """Winsorization: clip extended price to its per-flag [p05, p95]
    band — the outlier-damping transform run before fitting scale-
    sensitive statistics.  Exact interpolated percentiles ride ONE
    grouped aggregation; the clip is a broadcast join back (3 rows)."""
    li = _t(spark, sf_dir, "lineitem")
    bands = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("_lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("_hi"),
    )
    return (
        li.join(F.broadcast(bands), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(
                F.greatest(F.least("l_extendedprice", F.col("_hi")), F.col("_lo")),
                2,
            ).alias("price_winsorized"),
        )
    )


def _txt_readability(spark, sf_dir):
    """Readability proxies per document: sentence count, avg tokens
    per sentence, avg word length — the grade-level-style signals a
    quality gate consumes, built from the sentence and token
    primitives, shuffle-free."""
    d = _t(spark, sf_dir, "documents")
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    toks = T.tokens_col("text")
    n_sent = F.greatest(F.size(sentences), F.lit(1))
    n_tok = F.size(toks)
    total_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return d.select(
        "doc_id",
        F.size(sentences).cast("int").alias("n_sentences"),
        n_tok.cast("int").alias("n_tokens"),
        F.round(n_tok / n_sent, 4).alias("tokens_per_sentence"),
        F.round(
            total_chars / F.greatest(n_tok, F.lit(1)).cast("double"), 4
        ).alias("avg_word_len"),
    )


def _agg_mad(spark, sf_dir):
    """Median absolute deviation per return flag — the robust
    dispersion statistic (outlier-insensitive, unlike stddev).  Two
    grouped aggregations: the median, then the median of absolute
    deviations after a 3-row broadcast join back."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("_med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("_med"), 4).alias("median_price"),
            F.round(
                F.percentile(
                    F.abs(F.col("l_extendedprice") - F.col("_med")),
                    F.lit(0.5),
                ),
                4,
            ).alias("mad_price"),
        )
    )


def _evt_inter_event(spark, sf_dir):
    """Inter-arrival-time profile per user: mean / max gap seconds
    and event count — the cadence feature behind bot detection and
    session-gap tuning.  One window shuffle (lag) + one map-side-
    combined rollup."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    return (
        ev.withColumn("_gap", gap)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            # integer-scaled floor, not round(4): sum/count quotients
            # with 2^a*5^b denominators land exactly on rounding
            # boundaries (see win_decayed_sum)
            F.floor(F.avg("_gap") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("avg_gap_x1e4"),
            F.max("_gap").alias("max_gap_sec"),
        )
    )


def _tbl_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite, end to end: full load of the
    day-partitioned event table, then a backfill that recomputes ONLY
    day 3 (values doubled) and overwrites just that partition — every
    other day must come back byte-identical, the property that makes
    daily re-runs idempotent (tableops.partition_overwrite)."""
    import os

    sink = os.path.join(_scratch_dir("dyn_ovr_"), "events_by_day")
    ev = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("int").alias("day"),
        "event_id",
        "value",
    )
    TO.partition_overwrite(ev, sink, ["day"])
    backfill = ev.filter(F.col("day") == 3).withColumn(
        "value", F.col("value") * 2
    )
    TO.partition_overwrite(backfill, sink, ["day"])
    out = spark.read.parquet(sink)
    return out.groupBy(F.col("day").cast("int").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _tbl_incremental_append(spark, sf_dir):
    """High-water-mark incremental ingestion, end to end: load the
    order feed, re-run it (idempotent — the mark filters everything),
    then deliver a late batch above the mark and re-run.  The final
    table must hold exactly one copy of each feed row — the property
    that makes periodic batch pulls safe to re-run.  The mark read is
    a stats-answerable max() over the sink."""
    import os

    base = _scratch_dir("incr_append_")
    sink = os.path.join(base, "sink")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    feed1 = orders.filter("o_orderkey % 3 <> 0")
    late = orders.filter("o_orderkey % 3 = 0").withColumn(
        # strictly above feed1's max date so the mark admits it
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 10 YEARS")
    )
    n1 = TO.incremental_append(feed1, sink, "o_orderdate")
    n2 = TO.incremental_append(feed1, sink, "o_orderdate")  # no-op re-run
    assert n2 == 0, f"idempotent re-run appended {n2} rows"
    TO.incremental_append(feed1.unionByName(late), sink, "o_orderdate")
    return spark.read.parquet(sink).select(
        "o_orderkey",
        F.col("o_orderdate").cast("long").alias("orderdate_epoch"),
        "price",
    )


def _ddp_minhash_est(spark, sf_dir):
    """MinHash sketch-quality gauge on adjacent-id pairs: estimated
    Jaccard (signature agree-share) vs exact shingle Jaccard with the
    absolute error — the measurement that sizes MINHASH_PERMS."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return D.minhash_jaccard_estimate(docs, pairs)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# §ext OLAP composite analogs (TPC-H-shaped, adapted to this schema:
# no partsupp / commitdate / phone columns, so Q2/4/11/12/16/20/21 have
# no faithful analog; the 13 below keep each original's PLAN shape —
# join order pressure, disjunctive pushdown, correlated agg, scalar
# subquery, having filter — which is what exercises Catalyst.)
# ---------------------------------------------------------------------------

def _olap_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join where customer and supplier must sit
    in the SAME nation, revenue by nation for one region-year.  The
    two fact tables join on their keys; nation⋈region and supplier are
    broadcast dims; the c_nationkey=s_nationkey clause rides the
    supplier join as a post-condition, never a cross product."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    dim = (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(supplier),
            (lineitem["l_suppkey"] == supplier["s_suppkey"])
            & (customer["c_nationkey"] == supplier["s_nationkey"]),
        )
        .join(F.broadcast(dim), supplier["s_nationkey"] == dim["n_nationkey"])
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )


def _olap_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-side revenue forecast — every
    predicate (date range, discount band, quantity cap) pushes to the
    parquet scan, aggregation is a single map-side fold to one row."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"))
    )


def _olap_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — the both-directions disjunction evaluates on two
    broadcast nation dims AFTER the key joins."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(pair)
    )
    return joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("int").alias("yr"),
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )


def _olap_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one supplier nation's share of a region's PROMO
    spend per order year — conditional-sum over total-sum ratio on a
    6-way join."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_dim = (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .select(F.col("n_nationkey").alias("ck"))
    )
    supp_dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(cust_dim), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(supp_dim), F.col("s_nationkey") == F.col("sk"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                  .otherwise(F.lit(0.0))) / F.sum(vol), 4
        ).alias("mkt_share")
    )


def _olap_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation × order year over a
    part-name substring filter (no partsupp table here, so unit cost
    is proxied at 80% of p_retailprice — same plan shape: selective
    dim filter, two broadcast dims, two fact joins)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    ).select("p_partkey", "p_retailprice")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
    )
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation),
              supplier["s_nationkey"] == nation["n_nationkey"])
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.round(F.sum(amount), 2).alias("profit"))


def _olap_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-revenue in a
    half-year — join-heavy agg with a global top-k tail (sort only
    the grouped result, never the facts)."""
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation),
              customer["c_nationkey"] == nation["n_nationkey"])
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )
    return R.sort_limit(
        agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20
    ).select(
        "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("acctbal"), "n_name", "revenue",
    )


def _olap_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: count-of-counts — orders per customer (left
    join keeps zero-order customers, with a join-side predicate), then
    the distribution of those counts.  Two shuffles total."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"],
                      "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def _olap_q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue percentage in one month —
    conditional-over-total ratio on a broadcast part join."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol)
                        .otherwise(F.lit(0.0)))
                / F.sum(vol), 4
            ).alias("promo_revenue_pct")
        )
    )


def _olap_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) hitting the max quarterly revenue
    — grouped revenue, scalar-max broadcast back over the grouped
    table (the view + scalar subquery of the original, as two passes
    over the SMALL aggregate, one over the facts)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def _olap_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: revenue impact of small-quantity orders — the
    correlated per-part average becomes one grouped pass over the
    SAME brand-filtered lineitem slice, broadcast back onto it (the
    decorrelation Catalyst would emit for the subquery)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    thresholds = brand_li.groupBy(F.col("l_partkey").alias("tk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_cap")
    )
    return (
        brand_li.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("tk"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def _olap_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, re-joined to orders+customer, top-100 by price.  The
    having-filtered aggregate is tiny → broadcast back to the dims."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 350)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = (
        orders.join(F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
    )
    return R.sort_limit(
        joined, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 100
    ).select(
        "c_custkey", "c_name", "o_orderkey",
        F.col("o_orderdate").cast("timestamp").cast("long")
        .alias("orderdate_epoch"),
        F.round("o_totalprice", 2).alias("totalprice"),
        "sum_qty",
    )


def _olap_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: three OR'd (brand × size-band × quantity-band)
    clauses over a part join — the disjunctive-pushdown stress test
    (the join key is shared by every branch, so it stays ONE equi-join
    with a residual OR filter, not a union of three joins)."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    clause = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(clause).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )


def _olap_q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: positive-balance-above-average customers with
    no RECENT orders (this dataset has no orderless customers), rolled
    up by a custkey bucket — scalar-subquery broadcast + anti-join."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal"))
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    idle = (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, "c_custkey", "left_anti")
    )
    return idle.groupBy(
        (F.col("c_custkey") % 10).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# §ext graph / regression / vector / bloom / zipf / rfm / balance
# ---------------------------------------------------------------------------

def _trade_edges(spark, sf_dir):
    """Nation→nation trade edges (customer nation buys from supplier
    nation), weighted by lineitem count — the graph queries' input."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count("*").alias("weight"))
    )


def _graph_pagerank(spark, sf_dir):
    """Weighted PageRank (3 fixed power iterations, d=0.85) on the
    nation trade graph — the iterative-join family: each round is one
    broadcast join + one map-side-combined aggregation (see
    eggv_spark/operators/graph.py for the 100 TB notes)."""
    ranks = G.pagerank(_trade_edges(spark, sf_dir), iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _graph_degree_stats(spark, sf_dir):
    """Per-node in/out degree + distinct-neighbor counts on the nation
    trade graph — one grouped pass per direction, full-outer merge."""
    return G.degree_stats(_trade_edges(spark, sf_dir))


def _agg_linreg(spark, sf_dir):
    """Per-group OLS fit (slope/intercept/r²) from distributive
    moments — SQL's REGR_* family in one map-side-combined shuffle."""
    return AG.linreg_by_group(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        x="l_quantity", y="l_extendedprice",
    )


def _sim_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization + reconstruction RMSE —
    shuffle-free Column array math (similarity.int8_quantize)."""
    return S.int8_quantize(_t(spark, sf_dir, "embeddings"))


def _sim_centroid_cosine(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids — class
    separation diagnostic; one pass over the vectors, broadcast
    self-join over the tiny centroid table."""
    return S.label_centroid_similarity(_t(spark, sf_dir, "embeddings"))


def _ddp_bloom_prefilter(spark, sf_dir):
    """Bloom-filter existence pre-pass: which ordering customers MIGHT
    be in the high-balance set (acctbal > 9000), by k=4 md5 bit
    positions mod 2^16 — build side folds to ≤65536 distinct set bits
    (broadcastable at ANY build cardinality), probe streams map-side.
    Classic Bloom semantics: no false negatives, (1-e^{-kn/m})^k false
    positives."""
    build = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    probe = _t(spark, sf_dir, "orders")
    return D.bloom_prefilter(
        probe, build, probe_key="o_custkey", build_key="c_custkey",
        k=4, m_bits=1 << 16,
    )


def _txt_zipf_slope(spark, sf_dir):
    """Corpus Zipf diagnostic: OLS slope of ln(freq) ~ ln(rank) over
    the unigram table (natural language ≈ -1; templated corpora
    diverge) — one count shuffle + a vocabulary-sized rank."""
    return T.zipf_slope(_t(spark, sf_dir, "documents"))


def _evt_rfm(spark, sf_dir):
    """RFM segmentation of the event stream: per-user recency /
    frequency / monetary quartiles and the composite 111–444 segment
    code (events.rfm_segments)."""
    return rfm_segments(_t(spark, sf_dir, "events"))


def _tbl_partition_balance(spark, sf_dir):
    """Shuffle-balance pre-flight: bucket lineitem by portable-md5 of
    the candidate shuffle key, report per-bucket share + global skew
    factor (tableops.partition_balance)."""
    return TO.partition_balance(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", n_buckets=32
    )


def _win_ratio_to_report(spark, sf_dir):
    """Ratio-to-report window: each supplier's share of its nation's
    revenue — grouped revenue then a partition-sum window over the
    supplier-sized aggregate (never over the facts)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(F.col("s_nationkey").cast("int").alias("nationkey"),
                 "s_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("_rev"))
    )
    w = Window.partitionBy("nationkey")
    return rev.select(
        "nationkey", "s_suppkey",
        F.round("_rev", 2).alias("revenue"),
        F.round(F.col("_rev") / F.sum("_rev").over(w), 6).alias("share"),
    )


def _evt_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (events.markov_transitions) — P(next event type |
    current) with deterministic (ts, event_id) ordering."""
    from eggv_spark.operators.events import markov_transitions
    return markov_transitions(_t(spark, sf_dir, "events"))


def _agg_ks_test(spark, sf_dir):
    """Two-sample KS statistic: do returned ('R') and accepted ('A')
    lineitems draw prices from the same distribution?
    (aggregates.ks_statistic — CDF compare over the value-distinct
    table)."""
    return AG.ks_statistic(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", "A",
    )


def _agg_cov_matrix(spark, sf_dir):
    """Per-returnflag variance/covariance matrix of (quantity,
    price-in-k$, discount) — distributive moments, one shuffle.
    Price is pre-scaled to k$ so every 4dp-rounded entry is meaningful
    at its own magnitude (raw price variance ~1e9 would drown the
    rounding)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") / 1000.0).alias("price_k"),
        F.col("l_discount").alias("disc"),
    )
    return AG.covariance_matrix(
        li, ["l_returnflag"], ["qty", "price_k", "disc"]
    )


def _txt_source_jaccard(spark, sf_dir):
    """Pairwise vocabulary Jaccard between document sources — the
    mirrored-scrape detector (text_analysis.source_vocab_jaccard)."""
    return T.source_vocab_jaccard(_t(spark, sf_dir, "documents"))


def _win_rolling_corr(spark, sf_dir):
    """Rolling 30-row Pearson correlation between quantity and price
    per returnflag stream, via PREFIX-SUM moment differencing: a naive
    ``corr() OVER (ROWS 29 PRECEDING)`` re-accumulates the aggregate
    over every frame (O(frame) per row — measured 4.3 s at sf0.1);
    instead the five moments (Σx, Σy, Σxy, Σx², Σy²) are RUNNING sums,
    each frame's moment is ``cum[i] − cum[i−30]`` (one lag), and the
    corr formula runs on the differences — O(1) per row, same single
    shuffle (3.6 s at sf0.1; the residual cost is the 3-partition
    sequential window scan + exact DECIMAL accumulation, not frame
    width — so unlike the naive form this does not degrade as the
    frame grows).

    Determinism: values are scaled to exact integers (price→cents) and
    the running sums carry DECIMAL/HUGEINT — integer addition is
    associative, so both engines produce bit-identical frame moments
    regardless of their internal summation algorithm, and the final
    double formula on identical integer inputs is IEEE-identical.
    The ordering includes the VALUE columns: this table's
    (orderkey, linenumber) is not unique, and a ROWS frame under an
    ambiguous order is engine-dependent.

    SCALE CAVEAT: l_returnflag has THREE distinct values, so this
    form serializes the table onto 3 window tasks — it demonstrates
    the kernel, not the 100 TB partitioning.  The headline scale form
    is _win_rolling_corr_supplier (same kernel, per-supplier streams,
    parallelism = |suppliers|)."""
    return _rolling_corr_kernel(spark, sf_dir, "l_returnflag")


def _rolling_corr_kernel(spark, sf_dir, part_col):
    """Shared prefix-sum rolling-correlation kernel (see
    _win_rolling_corr for the moment-differencing derivation and the
    determinism contract); ``part_col`` is the stream key and sets
    the parallelism ceiling."""
    order = ["l_shipdate", "l_orderkey", "l_linenumber",
             "l_quantity", "l_extendedprice"]
    wp = Window.partitionBy(part_col).orderBy(*order)
    ws = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.round(F.col("l_quantity")).cast("decimal(6,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(14,0)")
    cum = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", part_col, *order[:1],
        F.row_number().over(wp).alias("_rn"),
        F.sum(x).over(ws).alias("_cx"),
        F.sum(y).over(ws).alias("_cy"),
        F.sum(x * y).over(ws).alias("_cxy"),
        F.sum(x * x).over(ws).alias("_cxx"),
        F.sum(y * y).over(ws).alias("_cyy"),
        *order[3:],
    )
    wl = Window.partitionBy(part_col).orderBy("_rn")
    # Materialize each 30-back lag ONCE: inlining F.lag inside the
    # corr formula instantiates 15 window slots (sx appears 3x, etc.)
    # — Catalyst does not dedupe window expressions.  5 slots, -14%.
    moms = ["_cx", "_cy", "_cxy", "_cxx", "_cyy"]
    lagged = cum.select(
        "l_orderkey", "l_linenumber", part_col, "_rn", *moms,
        *[F.lag(c, 30).over(wl).alias(c + "_l") for c in moms],
    )

    def frame(c):  # frame moment = cum[i] - cum[i-30], as exact double
        return (F.col(c) - F.coalesce(F.col(c + "_l"), F.lit(0))).cast("double")

    n = F.least(F.col("_rn"), F.lit(30)).cast("double")
    sx, sy = frame("_cx"), frame("_cy")
    sxy, sxx, syy = frame("_cxy"), frame("_cxx"), frame("_cyy")
    num = n * sxy - sx * sy
    var_x, var_y = n * sxx - sx * sx, n * syy - sy * sy
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        F.round(num / (F.sqrt(var_x) * F.sqrt(var_y)), 4) + F.lit(0.0),
    )
    return lagged.select(
        "l_orderkey", "l_linenumber", part_col,
        corr.alias("rolling_corr"),
    )


def _win_rolling_corr_supplier(spark, sf_dir):
    """Rolling 30-row quantity/price correlation PER SUPPLIER — the
    scale-safe headline form of the prefix-sum moment-differencing
    kernel (_win_rolling_corr documents the O(1)/row derivation and
    integer-exact determinism).  Partitioning by l_suppkey gives
    |suppliers| independent streams (10k/TB-scale cardinality growing
    with the data), so the single window shuffle fans out across the
    cluster instead of serializing onto l_returnflag's 3 values —
    this is the form that survives a 1000-executor 100 TB run; the
    returnflag form stays registered as the kernel demo."""
    return _rolling_corr_kernel(spark, sf_dir, "l_suppkey")


def _join_bucketed(spark, sf_dir):
    """Co-located bucketed join: orders and customer are written ONCE
    as managed tables bucketed 8-ways on custkey (the write pays the
    shuffle), then the join runs with NO exchange on either side —
    the amortization play for repeatedly-joined 100 TB fact tables.
    The result (orders per segment) is oracle-checked; the no-shuffle
    property is plan-asserted in tests/test_sources.py."""
    import os
    import shutil

    from eggv_spark.sources.writers import write_bucketed_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    t_orders, t_cust = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    # a PRIOR session's warehouse dir can survive while the catalog
    # doesn't — saveAsTable then refuses the orphan location; drop the
    # table AND clear any stale location before writing
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in (t_orders, t_cust):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(warehouse.removeprefix("file:"), t)
        shutil.rmtree(loc, ignore_errors=True)
    write_bucketed_table(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                           "o_totalprice"),
        t_orders, ["o_custkey"], 8,
    )
    write_bucketed_table(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_cust, ["c_custkey"], 8,
    )
    o, c = spark.table(t_orders), spark.table(t_cust)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _win_cumulative_distinct(spark, sf_dir):
    """Running distinct count per user over time (how many event
    TYPES has this user touched so far) — the window-COUNT-DISTINCT
    Spark windows don't support directly, decomposed into a
    first-occurrence flag (row_number over (user, type)) plus a
    cumulative sum — two windows, deterministic (ts, event_id)
    order."""
    ev = _t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first = F.when(F.row_number().over(w1) == 1, 1).otherwise(0)
    return ev.select(
        "event_id", "user_id",
        F.sum(first).over(w2).cast("long").alias("n_types_seen"),
    )


def _smp_neg_sampling(spark, sf_dir):
    """Deterministic negative sampling: 4 parts each customer never
    ordered, drawn by portable md5 from the part-key space
    (relational.negative_sample_keys) — the contrastive-pair
    generator of a recommender/embedding training pipeline."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    interactions = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
    )
    items = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey")
    )
    return R.negative_sample_keys(
        interactions, items, "custkey", "partkey", n_candidates=8, k=4
    )


def _txt_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang × predicted lang
    with per-true-lang share — the quality audit of the n-gram
    classifier, normalization over the |langs|² cell table."""
    pred = T.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "lang", "lang_pred"
    )
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang", "lang_pred", "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


def _ivf_pq_topk_oracle() -> str:
    """IVF cell pruning composed with PQ asymmetric scoring — the
    union of _ivf_topk_oracle's cell CTEs and _pq_topk_oracle's
    code/LUT CTEs, joined: candidates come from probed cells, the
    distance from the query's per-subspace LUT at the candidate's
    codes."""
    from eggv_spark.operators.similarity import _centroid_values, _pq_codebook

    dim, n_centroids, n_probe, kn = 64, 16, 10, 5
    m, k = 8, 16
    sub_dim = dim // m
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    cb_rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
cb(sub, c, cbv) AS (VALUES {cb_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
sd AS (SELECT vec_id, sub, c,
    round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cbv[i])
             * (v[sub * {sub_dim} + i] - cbv[i]))), 6) AS d
    FROM v CROSS JOIN cb),
enc AS (SELECT vec_id, sub, c AS code FROM (
    SELECT vec_id, sub, c,
        row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d ASC, c ASC) AS rn
    FROM sd) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, sub, c,
    CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS du
    FROM sd WHERE vec_id % 50 = 0),
cand AS (SELECT p.query_id, a.neighbor_id
    FROM assign a JOIN probes p USING (cell)
    WHERE a.neighbor_id <> p.query_id),
scored AS (SELECT cd.query_id, cd.neighbor_id,
        CAST(sum(q.du) AS BIGINT) AS approx_dist_u
    FROM cand cd
    JOIN enc e ON e.vec_id = cd.neighbor_id
    JOIN q ON q.query_id = cd.query_id AND q.sub = e.sub AND q.c = e.code
    GROUP BY cd.query_id, cd.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, approx_dist_u,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY approx_dist_u ASC, neighbor_id ASC) AS rank
    FROM scored)
SELECT query_id, neighbor_id, approx_dist_u, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kn}
"""


def _sim_ivf_pq_topk(spark, sf_dir):
    """IVF cell pruning + PQ asymmetric-distance scoring composed —
    the FAISS-IVFPQ serving shape relationally: the persisted index
    holds (cell, codes) only; probes broadcast; ranking is m table
    lookups per scanned code row (similarity.ivf_pq_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k_neighbors=5, n_centroids=16, n_probe=10, m=8, k=16, dim=64,
    )


def _tbl_incremental_agg(spark, sf_dir):
    """Materialized-aggregate maintenance: per-customer order stats
    built from a base period, then a delta batch MERGED in without
    re-reading the base (tableops.incremental_agg_merge); the result
    is oracled against the full recompute — the equivalence that
    makes the incremental path trustworthy."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    cut = F.lit("1999-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cut)
    delta = orders.filter(F.col("o_orderdate") >= cut)
    current = base.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum("price").alias("total_price"),
    )
    merged = TO.incremental_agg_merge(
        current, delta, ["o_custkey"], count_col="n_orders",
        sum_cols={"total_price": "price"},
    )
    return merged.select(
        "o_custkey", "n_orders",
        F.round("total_price", 2).alias("total_price"),
    )


def _smp_weighted_reservoir(spark, sf_dir):
    """Weighted without-replacement sampling (Efraimidis–Spirakis
    exponential rank), 50 lineitems per returnflag with probability
    proportional to quantity — relational.weighted_sample_group."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice",
        # integer identity columns: a double rendered to string is an
        # engine-dependent hash input; exact ints are not
        F.round("l_quantity").cast("long").alias("qty_i"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    out = R.weighted_sample_group(
        li, "l_returnflag", "l_quantity",
        ["l_orderkey", "l_linenumber", "qty_i", "cents"],
        k=50,
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        F.round("l_extendedprice", 2).alias("price"),
    )


def _srt_pareto_frontier(spark, sf_dir):
    """2-D Pareto (skyline) frontier of parts: cheapest price for each
    strictly-better size — no O(n²) dominance self-join; one per-level
    collapse plus a running max over the levels-sized table
    (relational.pareto_frontier_2d)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )
    return R.pareto_frontier_2d(
        part, minimize="price", maximize="size",
        keep_cols=["p_partkey", "p_name"],
    )


def _smp_quantile_normalize(spark, sf_dir):
    """Quantile normalization: each returnflag group's price
    distribution mapped onto the GLOBAL price distribution
    (aggregates.quantile_normalize) — the batch-effect-correction /
    feature-alignment transform, one window + one broadcast
    percentile array."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        F.round("l_quantity").cast("long").alias("qty_i"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    out = AG.quantile_normalize(
        li, "l_returnflag", "l_extendedprice",
        ["l_orderkey", "l_linenumber", "qty_i", "cents"],
        round_dp=None,
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.round("l_extendedprice", 2).alias("price"),
        # integer-scaled output: decimal round() of doubles is
        # engine-dependent exactly at the interpolated half-cent
        # midpoints this transform produces structurally; floor-scale
        # of BIT-IDENTICAL doubles is not
        F.floor(F.col("normalized") * 100 + 0.5).cast("long")
        .alias("normalized_cents"),
    )


def _join_qgram_fuzzy(spark, sf_dir):
    """All-pairs-safe fuzzy self-join of part names: token blocking +
    length filter prune the candidate space, Levenshtein verifies only
    candidates (relational.qgram_fuzzy_join) — the both-sides-large
    complement of the broadcast fuzzy lookup.
    The synthetic color-noun part names are pathologically similar
    (most pairs are within edit distance ~4), so the driver query
    matches a deterministic tenth of the catalog at distance ≤ 2 —
    the result stays match-shaped instead of quadratic; the operator
    itself carries no such restriction."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 10 == 0
    ).select("p_partkey", "p_name")
    return R.qgram_fuzzy_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        max_distance=2, max_len_diff=2,
    )


def _agg_copurchase(spark, sf_dir):
    """Market-basket co-occurrence: top-100 part pairs ordered in the
    same order (relational.copurchase_pairs) — within-basket pair
    expansion, never a corpus² product."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return R.copurchase_pairs(li, "l_orderkey", "l_partkey", top_n=100)


def _tbl_fk_audit(spark, sf_dir):
    """Referential-integrity audit of the whole star schema: orphan
    counts for all seven FK relations in one report
    (tableops.fk_audit) — the trust-the-joins pre-flight."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return TO.fk_audit([
        ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier,
         "s_suppkey"),
        ("orders.o_custkey->customer", orders, "o_custkey", customer,
         "c_custkey"),
        ("customer.c_nationkey->nation", customer, "c_nationkey", nation,
         "n_nationkey"),
        ("supplier.s_nationkey->nation", supplier, "s_nationkey", nation,
         "n_nationkey"),
        ("nation.n_regionkey->region", nation, "n_regionkey", region,
         "r_regionkey"),
    ])


def _evt_conversion_time(spark, sf_dir):
    """First-view → first-purchase conversion latency per user
    (events.conversion_latency) — one conditional-min fold, no joins."""
    from eggv_spark.operators.events import conversion_latency
    return conversion_latency(_t(spark, sf_dir, "events"))


def _evt_event_rate(spark, sf_dir):
    """Per-user arrival-rate profile with the overdispersion index
    (events.event_rate_stats) — Poisson-vs-bursty discriminator."""
    from eggv_spark.operators.events import event_rate_stats
    return event_rate_stats(_t(spark, sf_dir, "events"))


def _stream_incremental_agg(spark, sf_dir):
    """Streaming materialized-aggregate maintenance: the order feed
    streamed in three file-batches into stream_incremental_agg_sink
    (foreachBatch incremental merge, checkpointed, swap-written); the
    final table must equal the one-shot full recompute — the oracle
    for the whole streaming maintenance path."""
    import os

    from eggv_spark.streaming import events_stream as ES

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
    )
    base = _scratch_dir("stream_incr_agg_")
    src = os.path.join(base, "feed")
    table = os.path.join(base, "agg")
    ckpt = os.path.join(base, "ckpt")
    for third in (0, 1, 2):
        orders.filter(F.pmod("o_orderkey", F.lit(3)) == third).coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ES.stream_incremental_agg_sink(
        stream, table, ["o_custkey"], ckpt,
        count_col="n_orders", sum_cols={"total_price": "price"},
    )
    return spark.read.parquet(table).select(
        "o_custkey", "n_orders",
        F.round("total_price", 2).alias("total_price"),
    )


def _agg_hll_rollup(spark, sf_dir):
    """Mergeable-sketch ROLLUP: per-source HyperLogLog sketches of
    distinct content hashes, unioned into a corpus-wide sketch WITHOUT
    rescanning the data — Spark's hll_sketch_agg/hll_union_agg, the
    datasketches path that makes distinct-count rollups one-pass and
    re-aggregatable at any grain.

    GRADEABLE FORM (round 6, per the round-5 verdict item 2): the raw
    sketch estimate is merge-order-sensitive at small cardinality
    (497 vs 501 for the same 500-value set under two partition
    configs) and not DuckDB-reproducible, so the driver row used to
    burn a window slot on ``err: no_oracle``.  The output now carries
    an EXACT ``count_distinct`` twin column (what the oracle hashes)
    plus ``est_ok`` — the sketch estimate checked against the exact
    count at 5% relative tolerance (~3x the lgConfigK=12 rsd, so the
    boolean is partition-invariant where the raw estimate is not).
    The sketch path is still what ships at 100 TB — the exact twin is
    the verification harness, not the production plan."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("h")
    )
    # the sketch and its exact twin run in SEPARATE aggregations joined
    # on the group key: count_distinct in the same agg as
    # hll_sketch_agg triggers the distinct-aggregate rewrite, whose
    # partial aggregate is keyed by (source, h) and carries one sketch
    # buffer PER DISTINCT HASH — the same pathology measured at 29 s
    # on approx_aggregates_graded (aggregates.py docstring)
    sketches = docs.groupBy("source").agg(
        F.hll_sketch_agg("h").alias("_sk")
    ).alias("s")
    exact = docs.groupBy("source").agg(
        F.count_distinct("h").alias("n_distinct_exact")
    ).alias("e")
    # null-safe key join + greatest(exact, 1) denominator (round-7
    # ADVICE): a NULL source group must survive the twin join exactly
    # as ANSI GROUP BY retains it, and an all-NULL hash column
    # (exact = 0, estimate = 0) must grade TRUE, not 0/0 -> NULL
    per_source = sketches.join(
        exact, F.col("s.source").eqNullSafe(F.col("e.source"))
    )

    def _ok(est, exact):
        return (
            F.abs(est - exact.cast("double"))
            / F.greatest(exact.cast("double"), F.lit(1.0))
            <= 0.05
        ).alias("est_ok")

    per_source_row = per_source.select(
        F.col("s.source").alias("source"),
        "n_distinct_exact",
        _ok(F.hll_sketch_estimate("_sk"), F.col("n_distinct_exact")),
    )
    total_exact = docs.agg(F.count_distinct("h").alias("n_distinct_exact"))
    total = (
        per_source.agg(F.hll_union_agg("_sk").alias("_all"))
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit("__ALL__").alias("source"),
            "n_distinct_exact",
            _ok(F.hll_sketch_estimate("_all"), F.col("n_distinct_exact")),
        )
    )
    return per_source_row.unionByName(total)


def _evt_ab_test(spark, sf_dir):
    """A/B experiment readout: users split 50/50 by portable md5,
    per-variant view→purchase conversion rate, absolute lift, and the
    two-proportion z-statistic — the whole experiment analysis as ONE
    aggregation pass over per-user flags (no per-variant scans)."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events")
    # conversion = a HIGH-VALUE purchase: the synthetic stream is so
    # dense every user has every event type, so a plain any-purchase
    # flag converts 100% and degenerates the z denominator
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("_saw"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 450),
                1,
            ).otherwise(0)
        ).alias("_bought"),
    ).withColumn(
        "variant",
        F.when(base_hash(F.col("user_id").cast("string")) % 2 == 0, "A")
        .otherwise("B"),
    )
    g = per_user.filter(F.col("_saw") == 1).groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("_bought").alias("n_converted"),
        F.round(F.sum("_bought") / F.count("*"), 6).alias("conv_rate"),
    )
    a = g.filter(F.col("variant") == "A").select(
        F.col("n_users").alias("na"), F.col("n_converted").alias("ca"))
    b = g.filter(F.col("variant") == "B").select(
        F.col("n_users").alias("nb"), F.col("n_converted").alias("cb"))
    z = a.crossJoin(b).select(
        (F.col("ca") / F.col("na")).alias("_pa"),
        (F.col("cb") / F.col("nb")).alias("_pb"),
        ((F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb")))
        .alias("_pp"),
        "na", "nb", "ca", "cb",
    ).select(
        "na", "nb", "ca", "cb",
        F.round(F.col("_pb") - F.col("_pa"), 6).alias("lift"),
        # degenerate pooled rate (0 or 1) -> NULL, not an ANSI error
        F.round(
            F.try_divide(
                F.col("_pb") - F.col("_pa"),
                F.sqrt(F.col("_pp") * (1 - F.col("_pp"))
                       * (1 / F.col("na") + 1 / F.col("nb"))),
            ),
            4,
        ).alias("z_stat"),
    )
    return z


def _agg_benford(spark, sf_dir):
    """Benford first-digit audit of order totals: observed share per
    leading digit vs the log10(1+1/d) expectation — the classic
    fabricated-numbers detector, one aggregation over a digit
    extraction."""
    digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"), r"[^1-9]", ""),
        1, 1,
    ).cast("int")
    per_digit = (
        _t(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = per_digit.agg(F.sum("n").alias("_tot"))
    return (
        per_digit.crossJoin(F.broadcast(total))
        .select(
            "digit", "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("observed"),
            F.round(F.log10(1 + 1 / F.col("digit")), 6).alias("expected"),
        )
    )


def _evt_seasonal(spark, sf_dir):
    """Classical seasonal decomposition of the hourly event-count
    series: trend = centered 25-hour moving average, seasonality =
    mean detrended value per (weekday, hour-of-day) slot, residual =
    remainder.  The windows run over the HOURLY table (calendar-sized,
    ~720 rows for a month, independent of event volume) — the raw
    events fold into it with one map-side-combined aggregation."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("n"))
    )
    wt = Window.orderBy("h").rowsBetween(-12, 12)
    # Integer micro-unit (x1e4) chain: every decomposition component
    # stays an exact integer after ONE floor-scale of an
    # engine-identical division (int sums / int counts), so no
    # decimal round-half or -0.0 divergence can enter — the tiny-sf
    # sweep caught both on the rounded-double formulation.
    with_trend = hourly.select(
        "h", "n",
        F.floor(
            F.sum("n").over(wt) * 10000 / F.count("n").over(wt) + 0.5
        ).cast("long").alias("trend_x1e4"),
    ).withColumn("_det_u", F.col("n") * 10000 - F.col("trend_x1e4"))
    ws = Window.partitionBy(F.dayofweek("h"), F.hour("h"))
    seasonal_u = F.floor(
        F.sum("_det_u").over(ws) / F.count("_det_u").over(ws) + 0.5
    ).cast("long")
    return with_trend.select(
        F.col("h").cast("long").alias("hour_epoch"),
        "n",
        "trend_x1e4",
        seasonal_u.alias("seasonal_x1e4"),
        (F.col("n") * 10000 - F.col("trend_x1e4") - seasonal_u)
        .alias("residual_x1e4"),
    )


def _agg_assoc_rules(spark, sf_dir):
    """Association rules over order baskets: for each co-occurring
    part pair, support, directional confidence, and lift — the
    market-basket trio; pair expansion stays within baskets, item and
    basket totals ride broadcasts."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("b"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    n_baskets = items.select("b").distinct().agg(
        F.count("*").alias("_nb"))
    item_supp = items.groupBy("item").agg(F.count("*").alias("_supp"))
    other = items.select("b", F.col("item").alias("item_b"))
    pairs = (
        items.join(other, "b")
        .filter(F.col("item") < F.col("item_b"))
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 3)
    )
    sa = item_supp.select(F.col("item").alias("item_a"),
                          F.col("_supp").alias("_sa"))
    sb = item_supp.select(F.col("item").alias("item_b"),
                          F.col("_supp").alias("_sb"))
    scored = (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a", "item_b", "support",
            F.round(F.col("support") / F.col("_sa"), 6).alias("conf_a_b"),
            F.round(F.col("support") / F.col("_sb"), 6).alias("conf_b_a"),
            F.round(
                F.col("support") * F.col("_nb")
                / (F.col("_sa") * F.col("_sb")), 4
            ).alias("lift"),
        )
    )
    return R.sort_limit(
        scored,
        [F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()],
        100,
    )


def _graph_label_prop(spark, sf_dir):
    """Weighted label propagation (2 synchronous rounds, min-label
    ties) on the symmetrized nation trade graph — community detection
    as the second iterative-graph family member
    (graph.label_propagation)."""
    return G.label_propagation(_trade_edges(spark, sf_dir), iterations=2)


def _win_rolling_median(spark, sf_dir):
    """Rolling 30-row median price per returnflag stream — the
    robust-statistics sliding window (exact percentile per frame);
    output integer-scaled to cents so interpolated half-cent midpoints
    can't hit engine-dependent decimal rounding."""
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber",
                 "l_quantity", "l_extendedprice")
        .rowsBetween(-29, Window.currentRow)
    )
    med = F.percentile(F.col("l_extendedprice"), F.lit(0.5)).over(w)
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.floor(med * 100 + 0.5).cast("long").alias("median_cents"),
    )


def _geo_points(spark, sf_dir):
    """Deterministic synthetic coordinates: customers cluster around
    their nation's anchor with a ≤2° md5 jitter — SQL-replayable, so
    the spatial join is value-oracled like every other family."""
    from eggv_spark.operators.dedupe import base_hash

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    jlat = (base_hash(F.concat(F.col("c_custkey").cast("string"),
                               F.lit("lat"))) % 200) / 100.0
    jlon = (base_hash(F.concat(F.col("c_custkey").cast("string"),
                               F.lit("lon"))) % 200) / 100.0
    return c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_nationkey") * 6 - 72 + jlat).alias("lat"),
        (F.col("c_nationkey") * 13 % 360 - 180 + jlon).alias("lon"),
    )


def _geo_proximity(spark, sf_dir):
    """Spatial proximity self-join: customer pairs within 25 km, via
    0.25° grid bucketing + 3×3 neighborhood + haversine verify
    (geo.proximity_join) — work is per-cell density bounded, never
    |A|·|B|."""
    from eggv_spark.operators import geo as GEO

    pts = _geo_points(spark, sf_dir)
    return GEO.proximity_join(pts, pts, radius_km=25.0, cell_deg=0.25)


def _agg_countmin(spark, sf_dir):
    """Count-Min sketch frequency estimation for the 20 heaviest part
    keys: the 4×256-counter sketch folds the whole stream into ≤1024
    rows (bounded memory at ANY scale), estimates never undercount,
    and the md5 hashing makes the sketch bit-reproducible in SQL
    (aggregates.countmin_estimate)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    exact = li.groupBy("l_partkey").agg(F.count("*").alias("exact_n"))
    top = R.sort_limit(
        exact, [F.col("exact_n").desc(), F.col("l_partkey").asc()], 20
    )
    est = AG.countmin_estimate(li, "l_partkey", top, "l_partkey")
    return (
        top.join(est, top["l_partkey"] == est["probe_key"])
        .select(
            "l_partkey", "exact_n", "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_n")).alias("overcount"),
        )
    )


def _evt_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: every engagement touch
    (view/click) strictly before a user's purchase splits that
    purchase's value evenly — credit = value / n_touches.  One
    conditional-window pass: per user ordered by time, each purchase
    knows its preceding-touch count via a running conditional sum;
    credits then fan BACK to touches through a per-user join
    bounded by user activity, never a cross product."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        F.round("value", 2).alias("value"),
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(["view", "click"])
    purchases = (
        ev.withColumn(
            "n_touches",
            F.coalesce(
                F.sum(F.when(is_touch, 1).otherwise(0)).over(w), F.lit(0)
            ),
        )
        .filter((F.col("event_type") == "purchase") & (F.col("n_touches") > 0))
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
            # credit in exact integer micro-units (cent-ten-thousandths,
            # floor-divided): value/n is a repeating decimal whose 4dp
            # sums land exactly on round-half boundaries, where the two
            # engines' decimal rounding of doubles diverges
            F.floor(
                F.round(F.col("value") * 100).cast("long") * 10000
                / F.col("n_touches")
            ).cast("long").alias("credit_u"),
        )
    )
    touches = ev.filter(is_touch).select(
        "user_id", F.col("event_id").alias("touch_id"),
        F.col("ts").alias("t_ts"),
    )
    # "before" must mean exactly what the window's (ts, event_id)
    # ordering meant, or same-timestamp touches would be counted in
    # n_touches yet excluded from crediting
    before = (F.col("t_ts") < F.col("p_ts")) | (
        (F.col("t_ts") == F.col("p_ts")) & (F.col("touch_id") < F.col("p_id"))
    )
    credited = (
        touches.join(purchases, "user_id")
        .filter(before)
        .groupBy("touch_id")
        .agg(
            F.count("*").alias("n_purchases_touched"),
            F.sum("credit_u").alias("attributed_u"),
        )
    )
    return credited


def _tbl_partition_pruning(spark, sf_dir):
    """Partition pruning end-to-end: write orders hive-partitioned by
    order YEAR (one-time, temp), then read back with a year predicate
    — the scan must touch only the matching partition directories
    (asserted in tests/test_plans.py), which is THE dominant scan
    lever at 100 TB.  Result is oracled against a plain filter."""
    import os

    base = _scratch_dir("part_prune_")
    path = os.path.join(base, "orders_by_year")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _src_schema_evolution(spark, sf_dir):
    """Schema drift on read: an early order feed (3 columns) and a
    later feed that ADDED a column land in the same table directory;
    ``mergeSchema`` reconciles the parquet footers so early rows
    surface the new column as NULL — the additive-evolution contract
    every long-lived ingest path relies on (readers must not pick
    one footer arbitrarily, writers must not rewrite history).
    Aggregates per feed era: row count, null-count of the late
    column, and a value checksum."""
    import os

    base = _scratch_dir("schema_evo_")
    orders = _t(spark, sf_dir, "orders")
    early = orders.filter("o_orderkey % 2 = 0").select(
        "o_orderkey", "o_custkey", F.lit("v1").alias("feed_era")
    )
    late = orders.filter("o_orderkey % 2 = 1").select(
        "o_orderkey",
        "o_custkey",
        F.lit("v2").alias("feed_era"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    early.write.mode("overwrite").parquet(os.path.join(base, "b=1"))
    late.write.mode("overwrite").parquet(os.path.join(base, "b=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b=1"), os.path.join(base, "b=2")
    )
    return merged.groupBy("feed_era").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.col("o_totalprice").isNull().cast("int")
        ).alias("n_null_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _src_corrupt_records(spark, sf_dir):
    """PERMISSIVE-mode malformed-row accounting — the ingest contract
    the library's CSV readers rely on (and pandas/dask users trip
    over): malformed lines do NOT error, they surface as null-padded
    rows with the raw line in ``columnNameOfCorruptRecord``.  A
    delimited feed is synthesized from orders with a deterministic 1%
    of lines truncated+non-numeric (o_orderkey % 97 = 0); the read
    must route exactly those to the corrupt column and parse the rest
    type-faithfully.  Output: per custkey-decile clean-row counts and
    price sums plus one __CORRUPT__ row — so both a silently-dropped
    and a silently-accepted malformed line flips the hash.  The
    oracle computes the same split from the source table directly
    (the corrupt routing is what's under test, not reparsing)."""
    import os

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
    )
    bad = F.pmod("o_orderkey", F.lit(97)) == 0
    lines = orders.select(
        F.when(
            bad, F.concat_ws("|", F.col("o_orderkey"), F.lit("oops"))
        ).otherwise(
            F.concat_ws("|", "o_orderkey", "o_custkey", "price")
        ).alias("value")
    )
    base = _scratch_dir("corrupt_rec_")
    feed = os.path.join(base, "feed.csv")
    lines.coalesce(1).write.mode("overwrite").text(feed)
    back = spark.read.csv(
        feed,
        sep="|",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
        schema="o_orderkey long, o_custkey long, price double, _bad string",
    )
    # single pass; Spark also disallows plans whose only referenced
    # column is the corrupt-record column, which folding the corrupt
    # bucket into one aggregation sidesteps
    return back.groupBy(
        F.when(F.col("_bad").isNotNull(), F.lit("__CORRUPT__"))
        .otherwise(
            F.concat(F.lit("decile_"), F.pmod("o_custkey", F.lit(10)))
        )
        .alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(F.when(F.col("_bad").isNull(), F.col("price"))
                  .otherwise(F.lit(0.0))),
            2,
        ).alias("sum_price"),
    )


def _src_format_roundtrip(spark, sf_dir):
    """Cross-format sink/source fidelity under the driver gate: write
    a lineitem projection to ORC, JSON, and TSV, read each back
    through the typed readers, and aggregate — every format row must
    reproduce the parquet truth exactly (count, integer-exact
    quantity cents, 2dp revenue, max ship epoch).  Exercises
    writers.write_orc/write_json/write_tsv and their readers
    (sources/*.py) as one driver-verified query."""
    import os

    from eggv_spark.sources import readers as RD
    from eggv_spark.sources import writers as WR

    cols = ["l_orderkey", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_shipdate"]
    li = _t(spark, sf_dir, "lineitem").select(*cols)
    base = _scratch_dir("fmt_roundtrip_")
    orc_p = os.path.join(base, "orc")
    json_p = os.path.join(base, "json")
    tsv_p = os.path.join(base, "tsv")
    WR.write_orc(li, orc_p)
    WR.write_json(li, json_p)
    WR.write_tsv(li, tsv_p)
    back = {
        "orc": RD.read_orc(spark, orc_p, li.schema),
        "json": RD.read_json(spark, json_p, li.schema),
        "tsv": RD.read_processed_tsv(spark, tsv_p, li.schema),
    }

    def agg(df, fmt):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .alias("qty_cents"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.max(F.col("l_shipdate").cast("long")).alias("max_ship_epoch"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "qty_cents",
                 "revenue", "max_ship_epoch")

    out = agg(back["orc"], "orc")
    for fmt in ("json", "tsv"):
        out = out.unionByName(agg(back[fmt], fmt))
    return out


def _composite_semantic_pairs(spark, sf_dir):
    """Cross-modal dedup verification: sign-LSH embedding near-dup
    candidates joined back to their DOCUMENT texts and re-scored with
    word-set Jaccard plus a label-agreement flag — the
    embedding-found/text-verified pipeline a semantic dedup runs
    (vector recall, lexical precision).  Candidate generation is the
    banded LSH (never all-pairs); the text join keys on doc id."""
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    pairs = D.embedding_neardup_pairs(with_dups, threshold=0.95)
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), toks.alias("toks")
    )
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = docs.select(F.col("doc_id").alias("_da"), F.col("toks").alias("ta"))
    b = docs.select(F.col("doc_id").alias("_db"), F.col("toks").alias("tb"))
    la = labels.select(F.col("vec_id").alias("_la"),
                       F.col("label").alias("label_a"))
    lb = labels.select(F.col("vec_id").alias("_lb"),
                       F.col("label").alias("label_b"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size("ta") + F.size("tb") - inter
    return (
        pairs
        .join(a, F.col("id_a") % 1000000 == F.col("_da"))
        .join(b, F.col("id_b") % 1000000 == F.col("_db"))
        .join(F.broadcast(la), F.col("id_a") % 1000000 == F.col("_la"))
        .join(F.broadcast(lb), F.col("id_b") % 1000000 == F.col("_lb"))
        .select(
            "id_a", "id_b", "cosine",
            F.round(inter / union, 4).alias("text_jaccard"),
            (F.col("label_a") == F.col("label_b")).alias("same_label"),
        )
    )


def _dt_business_days(spark, sf_dir):
    """Business days between order and ship date per lineitem, rolled
    up to average-by-ship-month — via the CLOSED-FORM weekday count
    (f(d) = weekdays since a known Monday = (days/7)*5 + min(days%7,5);
    span = f(d2) - f(d1)), pure integer arithmetic: no calendar-spine
    explode, no per-day rows, identical in any engine."""
    def f(date_col):
        # anchor Monday PRECEDES all data (1994-12-26), so days >= 0
        # and the div/mod identities hold without sign gymnastics
        days = F.datediff(date_col, F.lit("1994-12-26").cast("date"))
        return (F.floor(days / 7) * 5
                + F.least(days % 7, F.lit(5))).cast("long")

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    bdays = f(F.to_date("l_shipdate")) - f(F.to_date("o_orderdate"))
    return (
        joined.select(
            F.date_trunc("month", "l_shipdate").cast("date").cast("string")
            .alias("ship_month"),
            bdays.alias("_bd"),
        )
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg("_bd"), 4).alias("avg_business_days"),
            F.max("_bd").alias("max_business_days"),
        )
    )


def _agg_tukey_outliers(spark, sf_dir):
    """Tukey-fence outlier census per returnflag: counts below
    Q1−1.5·IQR and above Q3+1.5·IQR.  Fences are interpolated doubles
    that differ across engines at the ulp, but since no data point can
    sit strictly between two consecutive sorted values, the COUNTS are
    engine-exact — so the output carries counts, not fence values."""
    li = _t(spark, sf_dir, "lineitem")
    fences = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("_q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("_q3"),
    ).select(
        "l_returnflag",
        (F.col("_q1") - 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_lo"),
        (F.col("_q3") + 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_hi"),
    )
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("l_extendedprice") < F.col("_lo"), 1)
                  .otherwise(0)).alias("n_low_outliers"),
            F.sum(F.when(F.col("l_extendedprice") > F.col("_hi"), 1)
                  .otherwise(0)).alias("n_high_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H analog completion (round 3): the 7 query shapes the suite was
# missing — q2/q4/q11/q12/q16/q20/q21.  The testdata has no partsupp
# table and no commit/receipt dates, so each keeps the REFERENCE QUERY'S
# PLAN SHAPE (correlated min, EXISTS semi-join, scalar-threshold agg,
# CASE-pivot, NOT-IN anti-join, nested semi chain, EXISTS∧NOT-EXISTS)
# over the columns that exist.  With these, all 22 TPC-H query shapes
# have an analog (q1=agg_pricing_summary, q3=composite_shipping_priority).
# ---------------------------------------------------------------------------


def _olap_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (correlated MIN subquery): cheapest supplier per
    part among one region's suppliers.  The part-supplier catalog is
    derived from lineitem (min unit price per (part, supplier) pair —
    the partsupp stand-in); the per-part MIN is computed once and
    joined back (the decorrelated form Catalyst itself would produce),
    with part and the supplier⋈nation⋈region dims broadcast.  The
    min-join compares raw doubles produced by identical IEEE min/
    division in both engines — no cross-engine rounding hazard."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("_unit"),
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("_unit").alias("supplycost")
    )
    parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_name")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dim = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eligible = (
        ps.join(F.broadcast(parts), ps["l_partkey"] == parts["p_partkey"])
        .join(F.broadcast(supp), ps["l_suppkey"] == supp["s_suppkey"])
    )
    min_cost = eligible.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("supplycost").alias("_min_cost")
    )
    return (
        eligible.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("_pk"))
            & (F.col("supplycost") == F.col("_min_cost")),
        )
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name", "n_name", "p_partkey", "p_name",
            # raw double, NOT rounded: both engines produce the
            # bit-identical min(extprice/qty), but a 4dp display round
            # diverges at half-boundaries (954.29875 rounded HALF_UP
            # on the binary double vs llround of the scaled product)
            F.col("supplycost").alias("min_cost"),
        )
    )


def _olap_q4_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS semi-join): orders in a half-year window
    with at least one line shipped >30 days after the order date,
    counted by priority.  The EXISTS is a LEFT SEMI join on the order
    key with the lateness predicate riding the join condition — one
    shuffle, no row duplication from multi-line orders."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > orders["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def _olap_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (group agg vs global scalar threshold): per-part
    shipped value from one region's suppliers, keeping parts above a
    fraction of the regional total.  The scalar total is a second
    aggregation over the SAME grouped intermediate (persisted once),
    cross-joined as a 1-row broadcast literal — the decorrelated scalar
    subquery plan."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    per_part = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("_value"))
    )
    total = per_part.agg(
        F.round(F.sum("_value") * F.lit(0.001), 2).alias("_threshold")
    )
    # round BOTH sides before the compare (the q15/q18 convention):
    # raw distributed double sums differ from a sequential engine's at
    # the ulp, and a part sitting exactly on the 0.1% boundary would
    # otherwise flip membership between engines.
    return (
        per_part.join(F.broadcast(total))
        .filter(F.round("_value", 2) > F.col("_threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("_value", 2).alias("part_value"),
        )
    )


def _olap_q12_ship_delay(spark, sf_dir):
    """TPC-H Q12 shape (CASE-pivot by category): lines shipped in one
    year bucketed by order-to-ship delay (the shipmode stand-in), with
    urgent/non-urgent order counts CASE-summed per bucket — one equi
    join (orders side pre-projected) and one map-side-combined agg."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "FAST")
        .when(delay <= 90, "MEDIUM")
        .otherwise("SLOW")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(bucket.alias("delay_bucket"), urgent.alias("_u"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("_u"), 1).otherwise(0))
            .alias("high_line_count"),
            F.sum(F.when(F.col("_u"), 0).otherwise(1))
            .alias("low_line_count"),
        )
    )


def _olap_q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (NOT-IN anti-join + COUNT DISTINCT): distinct
    supplier count per (brand, type, size) for a part family, excluding
    a supplier blocklist (negative account balance — the complaint-
    comment stand-in) via a broadcast LEFT ANTI join.  Part-supplier
    pairs derive from lineitem; the distinct-count shuffle groups on
    the already-deduped triple."""
    pairs = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    blocked = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad"))
    parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 9, 15, 22, 30, 42))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(F.broadcast(blocked),
                   pairs["l_suppkey"] == F.col("_bad"), "left_anti")
        .join(F.broadcast(parts), pairs["l_partkey"] == parts["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _olap_q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape (nested semi-join chain): suppliers in one
    region that moved real volume (>30 units in 1996) of a part family
    ('red' parts).  part → lineitem-agg → supplier is a chain of LEFT
    SEMI joins — each hop only filters, never widens, so no fact-side
    row duplication anywhere."""
    red = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    movers = (
        li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"],
                "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dim = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    return (
        _t(spark, sf_dir, "supplier")
        .join(movers, F.col("s_suppkey") == movers["l_suppkey"], "left_semi")
        .join(F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


def _olap_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (EXISTS ∧ NOT EXISTS): suppliers who were the
    SOLE late shipper (>60 days after order) on a multi-supplier order,
    ranked by how many orders they held up.  Both existence probes are
    order-key equi-joins (LEFT SEMI / LEFT ANTI) with the
    different-supplier predicate riding the join condition — never a
    per-order cross product; counts are integer-exact."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey",
                                              "l_shipdate")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(F.col("l_orderkey").alias("_ok"),
                         F.col("l_suppkey").alias("_sk"))
    other_late = late.select(F.col("l_orderkey").alias("_lok"),
                             F.col("l_suppkey").alias("_lsk"))
    waiting = (
        late.join(
            other,
            (late["l_orderkey"] == other["_ok"])
            & (late["l_suppkey"] != other["_sk"]),
            "left_semi",
        )
        .join(
            other_late,
            (late["l_orderkey"] == other_late["_lok"])
            & (late["l_suppkey"] != other_late["_lsk"]),
            "left_anti",
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(100)
    )


def _copurchase_edges(spark, sf_dir):
    """Part co-purchase graph (parts co-ordered ≥2 times), with the
    co-order count kept as ``n_co`` — shared input of the triangle /
    k-core / Adamic–Adar / BFS graph queries."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pb")
    )
    return (
        li.join(other, (li["l_orderkey"] == other["_ok"])
                & (li["l_partkey"] < other["_pb"]))
        .groupBy(F.col("l_partkey").alias("x"), F.col("_pb").alias("y"))
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )


def _graph_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient on the part
    co-purchase graph (parts co-ordered ≥2 times).  Wedge-join +
    closing-edge LEFT SEMI probe with a<b<c orientation — each
    triangle produced exactly once, never an all-pairs product
    (graph.triangle_count; degree-orientation is the 100 TB
    refinement, same plan)."""
    edges = _copurchase_edges(spark, sf_dir).select("x", "y")
    return G.triangle_count(edges, "x", "y")


def _agg_auc(spark, sf_dir):
    """Per-day ROC AUC (is this event a purchase, scored by event
    value) via the tie-corrected Mann–Whitney rank identity — one
    window shuffle, rank sums exact in doubles
    (aggregates.roc_auc).

    ~10% of scores are deterministically NULLed (md5 of event_id,
    residue 0 mod 10; identical expression in the oracle) — the
    driver fixtures carry ZERO NULLs in events.value (ADVICE r04
    hazard 1 / VERDICT r05 item 5), so this puts roc_auc's
    NULL-score exclusion under the driver's value-hash gate instead
    of unit tests only."""
    ev = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").alias("day"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.when(
            D.base_hash(F.col("event_id").cast("string")) % 10 != 0,
            F.col("value"),
        ).alias("value"),
    )
    return AG.roc_auc(ev, "y", "value", keys=["day"])


def _agg_welch(spark, sf_dir):
    """Welch's unequal-variance t-test on event value between the two
    arms of a deterministic md5 user split — the continuous-metric A/B
    readout (companion to evt_ab_test's proportion z-test); one
    conditional-moment aggregation pass (aggregates.welch_ttest).

    ~10% of metric values are deterministically NULLed (md5 of
    event_id, residue 0 mod 10; identical expression in the oracle)
    because the driver fixtures carry ZERO NULLs in events.value at
    every SF (ADVICE r04 hazard 1) — this puts welch_ttest's
    NULL-as-non-observation counting (n0/n1 via F.count(F.when(...)))
    under the driver's value-hash gate instead of unit tests only."""
    ev = _t(spark, sf_dir, "events").select(
        (D.base_hash(F.col("user_id").cast("string")) % 2).alias("arm"),
        F.when(
            D.base_hash(F.col("event_id").cast("string")) % 10 != 0,
            F.col("value"),
        ).alias("value"),
    )
    return AG.welch_ttest(ev, "arm", "value")


def _agg_tost(spark, sf_dir):
    """TOST equivalence readout per event type between the two arms
    of the same md5 user split as agg_welch — "did the variant stay
    within ±25 of the control mean" (aggregates.tost_equivalence,
    normal-approximation critical value so both engines evaluate one
    closed form; the ±25 margin keeps every z statistic far from the
    critical boundary, so float summation-order wiggle cannot flip
    the equivalence flag)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (D.base_hash(F.col("user_id").cast("string")) % 2).alias("arm"),
        "value",
    )
    return AG.tost_equivalence(
        ev, "arm", "value", margin=25.0, keys=["event_type"]
    )


def _smp_balanced_classes(spark, sf_dir):
    """Class-balanced downsample of the embedding table: every label
    cut to the global minority-class size by portable md5 rank —
    deterministic across runs/engines/partitionings
    (relational.balanced_downsample)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return R.balanced_downsample(emb, "label", "vec_id")


def _smp_kfold(spark, sf_dir):
    """Deterministic 5-fold CV assignment over customers (portable
    md5 mod k — reproducible across engines/partitionings, pushable
    as a scan predicate), summarized per fold to prove balance
    (relational.kfold_assign)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        R.kfold_assign(cust, "c_custkey", 5)
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def _win_drawdown(spark, sf_dir):
    """Per-user running-peak drawdown over a signed event-value
    series (credits for purchase/signup, debits otherwise) — one
    window shuffle, three frames in a single WindowExec pass
    (aggregates.with_drawdown); summarized per user."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"), F.col("value")
        ).otherwise(-F.col("value")).alias("delta"),
    )
    dd = AG.with_drawdown(ev, "user_id", "ts", "delta",
                          order_col="event_id")
    return dd.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.max("running_peak"), 2).alias("peak"),
        F.round(F.max("drawdown"), 2).alias("max_drawdown"),
    )


def _agg_theil(spark, sf_dir):
    """Theil T inequality of line revenue per returnflag — the
    decomposable, sort-free complement to the Gini UDAF; two
    map-side-combined moment passes (aggregates.theil_index)."""
    return AG.theil_index(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )


def _agg_theilsen(spark, sf_dir):
    """Theil–Sen robust trend of daily mean event value per event
    type — median pairwise slope + median-residual intercept over the
    30-point daily rollup (435 pairs per group), the outlier-immune
    complement to agg_linreg's OLS (aggregates.theil_sen_trend)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.dayofmonth("ts").cast("int").alias("day")
        )
        .agg(F.avg("value").alias("y"))
    )
    return AG.theil_sen_trend(daily, ["event_type"], "day", "y")


def _agg_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotone-trend test of daily mean event value per
    event type — distribution-free S statistic with tie-corrected
    variance and continuity-corrected z, the hypothesis companion to
    the Theil–Sen slope (aggregates.mann_kendall_test)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.dayofmonth("ts").cast("int").alias("day")
        )
        .agg(F.round(F.avg("value"), 6).alias("y"))
    )
    return AG.mann_kendall_test(daily, ["event_type"], "day", "y")


def _evt_changepoint(spark, sf_dir):
    """Single-changepoint detection per event type over the daily
    value-sum series — binary segmentation with the standardized
    mean-shift CUSUM statistic, one cumulative window pass over the
    calendar-sized rollup; the statistic is rounded before the
    argmax so engine ulp noise cannot flip the winning split
    (events.changepoint_detect)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.dayofmonth("ts").cast("int").alias("day")
        )
        .agg(F.sum("value").alias("v"))
    )
    from eggv_spark.operators.events import changepoint_detect

    return changepoint_detect(daily, ["event_type"], "day", "v")


def _agg_power_analysis(spark, sf_dir):
    """Experiment sample-size planning per event type: users-per-arm
    to detect a 1/2/5/10% relative lift in mean event value at
    alpha=0.05, power 0.8 — one map-combined moments pass, then pure
    scalar math over the tiny aggregate
    (aggregates.power_analysis_mean)."""
    return AG.power_analysis_mean(
        _t(spark, sf_dir, "events"), "value", keys=["event_type"]
    )


def _POWER_ORACLE() -> str:
    # k2 computed in Python and embedded verbatim so Spark (F.lit)
    # and DuckDB start from the SAME double — ceil() parity would
    # otherwise hinge on cross-engine pow() ulp differences
    k2 = 2.0 * (1.959963984540054 + 0.8416212335729143) ** 2
    return (
        "WITH st AS (SELECT event_type, count(*) AS n_observed,"
        " avg(value) AS mu, var_samp(value) AS v FROM events"
        " WHERE value IS NOT NULL GROUP BY event_type),"
        " m AS (SELECT unnest([1.0, 2.0, 5.0, 10.0]) AS mde_pct)"
        " SELECT event_type, n_observed, round(mu, 4) AS mean,"
        " mde_pct, CASE WHEN mu <> 0 THEN CAST(ceil(round("
        f" {k2!r} * v / ((mu * mde_pct / 100.0) * (mu * mde_pct / 100.0))"
        ", 6)) AS BIGINT) END AS n_per_arm"
        " FROM st, m"
    )


def _smp_neyman(spark, sf_dir):
    """Neyman-allocation stratified sample of orders: the 1000-row
    budget splits across order priorities proportional to N_h * s_h
    (size x price std-dev) — the variance-minimizing allocation for
    estimating mean order value; selection is a deterministic md5
    rank within each stratum (relational.neyman_stratified_sample)."""
    return R.neyman_stratified_sample(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        total_n=1000,
    )


def _agg_bootstrap_ab(spark, sf_dir):
    """Distribution-free A/B readout: Poisson-bootstrap CI for the
    difference in mean event value between the two arms of the same
    deterministic md5 user split as agg_welch — replicate differences
    pair the arms within each replicate, so the interval needs no
    normality assumption (aggregates.poisson_bootstrap_diff)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "arm", D.base_hash(F.col("user_id").cast("string")) % 2
    )
    return AG.poisson_bootstrap_diff(ev, "value", "arm", "event_id")


def _agg_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the mean event value — the
    distributed bootstrap: each row contributes Poisson(1) copies to
    each of 32 replicates via a deterministic md5 inverse-CDF draw,
    so all replicates form in ONE map-side pass (no sampling
    shuffle, no global n needed mid-scan) and any engine reproduces
    them bit-for-bit (aggregates.poisson_bootstrap_mean)."""
    return AG.poisson_bootstrap_mean(
        _t(spark, sf_dir, "events"), "value", "event_id"
    )


def _tbl_checksum(spark, sf_dir):
    """Order-insensitive table checksum over lineitem's integer and
    string columns (sum of portable per-row md5 hashes + count) —
    the two-number migration/replication validation primitive.
    Doubles/timestamps are excluded from the hashed column list
    because engines disagree on their string formatting (Java
    Double.toString vs C shortest-repr); integers and strings
    stringify identically everywhere (tableops.table_checksum).

    ~10% of l_returnflag values are deterministically NULLed (md5 of
    the (orderkey, linenumber) PK, residue 0 mod 10; identical
    expression in the oracle) — the driver fixtures carry ZERO NULLs
    (VERDICT r05 item 5), so this puts table_checksum's chr(0)-'null'
    NULL sentinel under the driver's value-hash gate: a checksum that
    silently skipped NULL columns would now diverge."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_returnflag",
        F.when(
            D.base_hash(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 10
            != 0,
            F.col("l_returnflag"),
        ),
    )
    return TO.table_checksum(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_returnflag", "l_linestatus"],
    )


def _txt_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM perplexity proxy per document — word
    ORDER distribution scoring, the step up from txt_unigram_lm;
    pair construction is shuffle-free arrays_zip, the bigram count
    join keys on the pair (not broadcast — corpus-vocabulary sized)
    (text_analysis.bigram_logprob)."""
    return T.bigram_logprob(_t(spark, sf_dir, "documents"))


def _graph_wcc(spark, sf_dir):
    """Weakly-connected components over the 100 heaviest inter-nation
    trade edges — the large-star/small-star fixpoint
    (dedupe.connected_components_star, Kiveris et al. SoCC'14: O(log²n)
    rounds regardless of diameter) exposed as a graph query rather
    than only inside near-dup cluster resolution.  The cutoff is
    rank-based (weight desc, (src,dst) tiebreak), never a percentile,
    so both engines select the identical edge set.  Output: every node
    of the thresholded graph with the smallest node id it can reach."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    comp = D.connected_components_star(edges)
    return comp.select(
        F.col("node").cast("int").alias("node"),
        F.col("component").cast("int").alias("component"),
    )


def _graph_neighbor_jaccard(spark, sf_dir):
    """Link-prediction feature over the part co-purchase backbone:
    neighborhood-overlap Jaccard for pairs sharing >=2 neighbors,
    top-100 under a total order — wedge-join candidates only, never
    |V|^2 (graph.neighbor_jaccard).  Backbone density is
    scale-dependent: at sf0.1 the >=2-co-order edge filter thins the
    graph to (correctly, oracle-agreed) zero qualifying pairs; the
    sf0.01 gate sees a populated result."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pb")
    )
    edges = (
        li.join(other, (li["l_orderkey"] == other["_ok"])
                & (li["l_partkey"] < other["_pb"]))
        .groupBy(F.col("l_partkey").alias("x"), F.col("_pb").alias("y"))
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("x", "y")
    )
    return G.neighbor_jaccard(edges, "x", "y", min_common=2, k=100)


def _agg_psi(spark, sf_dir):
    """Population-drift readout: PSI components of event value between
    the first and second half of the month (day <= 15 vs day > 15) —
    equal-width global bins, per-side map-combined counts, bins-sized
    merge (aggregates.population_stability)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    return AG.population_stability(a, b, "value", n_bins=10)


def _composite_corpus_funnel(spark, sf_dir):
    """End-to-end pretraining-corpus cleaning funnel, reported as a
    per-stage survivor table (docs + tokens): raw (with injected
    exact duplicates) → quality gate (repetition + length + stopword
    signals, one pass) → exact dedup (min-id keeper per content hash)
    → per-source token budget.  Each stage is the registry operator
    it names (quality_filter / exact-hash keeper / token_budget) run
    in composition — the funnel IS the production shape: one scan
    feeds stage 0/1, the dedup adds one hash window, the budget one
    source window; stage counts are 1-row aggregates unioned."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    scored = T.quality_filter(corpus).select(
        "doc_id", "text", "source", "n_tokens", "stopword_ratio", "keep"
    )
    s2 = scored.filter("keep")
    content = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    s3 = (
        s2.withColumn("_keeper", F.min("doc_id").over(Window.partitionBy(content)))
        .filter(F.col("doc_id") == F.col("_keeper"))
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy(F.col("stopword_ratio").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s4 = (
        s3.withColumn("_cum", F.sum("n_tokens").over(w_budget))
        .filter(F.col("_cum") <= 800)
    )

    def stage(df, idx, name):
        return df.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"),
            "n_docs", "n_tokens",
        )

    return (
        stage(scored, 0, "raw")
        .unionByName(stage(s2, 1, "quality_gate"))
        .unionByName(stage(s3, 2, "exact_dedup"))
        .unionByName(stage(s4, 3, "token_budget"))
    )


def _ddp_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup on the embedding corpus with
    injected exact duplicates (every 25th vector re-added under a
    shifted id): k-means cluster (map-only deterministic E-step),
    within-cluster cosine pairs, drop near-dups (>0.95) of lower-id
    cluster-mates.  Quadratic work is per-cluster, never corpus-wide
    (similarity.semantic_dedupe)."""
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    return S.semantic_dedupe(with_dups, threshold=0.95)


def _semdedup_oracle() -> str:
    """SemDeDup replica: the kmeans_assign centroid literals and
    6dp-rounded argmin (same as _kmeans_iter_oracle), then in-cluster
    cosine pairs and the lower-id-keeper anti-join."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_clusters = 64, 8
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w / 2000.0) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_clusters)
    )
    return f"""
WITH cent(cluster_id, cv) AS (VALUES {cent_rows}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
    FROM embeddings WHERE vec_id % 25 = 0),
d AS (SELECT vec_id, v, cluster_id,
    round(list_aggregate(list_transform(generate_series(1, {dim}),
          i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum'), 6) AS sqd
    FROM base CROSS JOIN cent),
asg AS (SELECT vec_id, v, cluster_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sqd, cluster_id) AS rk FROM d)
    WHERE rk = 1),
dup AS (SELECT DISTINCT b.vec_id AS idb
    FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id
        AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) > 0.95),
sz AS (SELECT cluster_id, count(*) AS n_cluster_members
    FROM asg GROUP BY cluster_id)
SELECT vec_id, CAST(asg.cluster_id AS INT) AS cluster_id,
    n_cluster_members
FROM asg JOIN sz USING (cluster_id)
WHERE vec_id NOT IN (SELECT idb FROM dup)
"""


def _agg_calibration(spark, sf_dir):
    """Reliability diagram of a min-max-normalized event-value
    'probability' against the purchase outcome: 10 equal-width bins,
    per-bin count / mean prediction / outcome rate / |gap| — one
    1-row broadcast for the normalizer plus one combined aggregation
    (aggregates.calibration_bins)."""
    ev = _t(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    scored = ev.join(F.broadcast(mm)).select(
        ((F.col("value") - F.col("_lo"))
         / (F.col("_hi") - F.col("_lo"))).alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return AG.calibration_bins(scored, "p", "y", n_bins=10)


def _txt_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary sizing curve: vocab size needed for
    50/90/95/99% corpus coverage under a total (count desc, token asc)
    order — token counts + one vocab-sized cumulative window
    (text_analysis.vocab_coverage)."""
    return T.vocab_coverage(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ROUND-11 STAGED REGISTRATIONS — NOT in queries()/oracle_sql().
#
# The registry is frozen at 445 through round 10 (round-9 verdict
# item 2).  These fixtures + oracles make the round-11 registration
# purely mechanical (verdict item 3): when a window has room, append
# the R11_STAGED_QUERIES items to the ``reg`` dict and the
# R11_STAGED_ORACLES items to ``oracle_sql()`` — nothing else.
# Fixture parameters are pinned per ROUND10_QUEUE.md's recipe table;
# the oracle bodies were validated against pure-Python references in
# tests/test_round10_staged_oracles.py, and the PAIRED Spark-vs-DuckDB
# cross-check runs every session in tests/test_round11_registration.py.
# fe_quantile_binning's plan_lint BNLJ allowlist entry is pre-added
# (bounded literal n_bins spine, the evt_qte class).
# ---------------------------------------------------------------------------


def _ml_ridge_fit(spark, sf_dir):
    """Closed-form 2-feature ridge regression on integer-quantized
    orders features (ml.ridge_fit): one corpus pass folds the exact
    DECIMAL(38,0) moment matrix; the λ-damped normal-equation solve
    is a fixed-order float expression on the 1-row aggregate."""
    u = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).cast("bigint").alias("x1"),
        (F.col("o_orderkey") % 97).cast("bigint").alias("x2"),
        F.round("o_totalprice").cast("bigint").alias("y"),
    )
    return ML.ridge_fit(u, "x1", "x2", "y", lam=1000.0)


_R11_RIDGE_SQL = """
WITH u AS (
  SELECT CAST(o_custkey % 100 AS BIGINT) AS x1,
         CAST(o_orderkey % 97 AS BIGINT) AS x2,
         CAST(round(o_totalprice) AS BIGINT) AS y
  FROM orders
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
         sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
         sum(x2 * y) AS s2y, sum(y * y) AS syy
  FROM u
), c AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mx1,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS mx2,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
         CAST(s11 AS DOUBLE) AS d11, CAST(s22 AS DOUBLE) AS d22,
         CAST(s12 AS DOUBLE) AS d12, CAST(s1y AS DOUBLE) AS d1y,
         CAST(s2y AS DOUBLE) AS d2y, CAST(syy AS DOUBLE) AS dyy
  FROM m
), k AS (
  SELECT n, mx1, mx2, my,
         d11 - CAST(n AS DOUBLE) * mx1 * mx1 AS c11,
         d22 - CAST(n AS DOUBLE) * mx2 * mx2 AS c22,
         d12 - CAST(n AS DOUBLE) * mx1 * mx2 AS c12,
         d1y - CAST(n AS DOUBLE) * mx1 * my AS c1y,
         d2y - CAST(n AS DOUBLE) * mx2 * my AS c2y,
         dyy - CAST(n AS DOUBLE) * my * my AS cyy
  FROM c
), b AS (
  SELECT n, mx1, mx2, my, c11, c22, c12, c1y, c2y, cyy,
         (c1y * (c22 + 1000.0) - c12 * c2y)
           / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b1,
         ((c11 + 1000.0) * c2y - c12 * c1y)
           / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b2
  FROM k
)
SELECT n,
       round(b1, 6) AS b1,
       round(b2, 6) AS b2,
       round(my - b1 * mx1 - b2 * mx2, 6) AS intercept,
       round((cyy - 2.0 * b1 * c1y - 2.0 * b2 * c2y
              + b1 * b1 * c11 + 2.0 * b1 * b2 * c12
              + b2 * b2 * c22) / CAST(n AS DOUBLE), 6) AS mse,
       CAST(1000.0 AS DOUBLE) AS lambda
FROM b
"""


def _fe_quantile_binning(spark, sf_dir):
    """Equal-frequency binning of rounded order totals into 8 bins
    (relational.quantile_binning) — integer-rational type-1 edges on
    the evt_qte spine-join kernel.  plan_lint: 4 bounded BNLJs from
    the 8-row literal bin spine (allowlisted, the evt_qte class)."""
    v = _t(spark, sf_dir, "orders").select(
        F.round("o_totalprice").cast("bigint").alias("v")
    )
    return R.quantile_binning(v, "v", n_bins=8)


_R11_QBIN_SQL = """
WITH base AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) AS v FROM orders
  WHERE o_totalprice IS NOT NULL
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM base
), spine AS (
  SELECT CAST(j AS BIGINT) AS j FROM generate_series(1, 8) t(j)
), edges AS (
  SELECT spine.j, max(ranked.v) AS edge
  FROM ranked JOIN spine
    ON (ranked.rn - 1) * 8 < spine.j * ranked.n
   AND spine.j * ranked.n <= ranked.rn * 8
  GROUP BY spine.j
), assigned AS (
  SELECT (SELECT min(j) FROM edges WHERE edge >= base.v) AS bin
  FROM base
), counts AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_rows FROM assigned GROUP BY bin
)
SELECT e.j AS bin, e.edge AS upper_edge,
       coalesce(c.n_rows, 0) AS n_rows
FROM edges e LEFT JOIN counts c ON c.bin = e.j
"""


def _evt_retention_matrix(spark, sf_dir):
    """Weekly cohort retention triangle over events
    (events.retention_matrix): cohort = each user's first 7-day
    period, DISTINCT-user counts at (cohort, offset) grain."""
    return retention_matrix(_t(spark, sf_dir, "events"), period_days=7)


_R11_RETENTION_SQL = """
WITH up AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(epoch(ts) / (86400 * 7)) AS BIGINT) AS p
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), cohorts AS (
  SELECT u, min(p) AS c FROM up GROUP BY u
), sizes AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_cohort FROM cohorts GROUP BY c
), active AS (
  SELECT cohorts.c, up.p - cohorts.c AS "offset",
         CAST(count(*) AS BIGINT) AS n_active
  FROM up JOIN cohorts USING (u)
  GROUP BY cohorts.c, up.p - cohorts.c
)
SELECT active.c AS cohort_period, "offset", n_cohort, n_active,
       round(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE), 6)
         AS retention
FROM active JOIN sizes ON sizes.c = active.c
"""


def _txt_winnowing(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints, k=5 w=4
    (text_analysis.winnowing_fingerprints): local-minimum k-gram
    selection with the rightmost-tie rule; one per-doc window is the
    only exchange."""
    return T.winnowing_fingerprints(
        _t(spark, sf_dir, "documents"), k=5, w=4
    )


_R11_WINNOW_BODY = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
  FROM documents WHERE text IS NOT NULL
), gi AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t) - 5 + 1)) AS i
  FROM d WHERE len(t) >= 5
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {_BASEHASH_SQL.format(x='substr(t, i, 5)')} AS h
  FROM gi
), n AS (
  SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id
), sel AS (
  SELECT doc_id, pos,
         min(struct_pack(h := h, np := -pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS pick
  FROM g
)
SELECT DISTINCT sel.doc_id, -(pick.np) AS pos, pick.h AS gram_hash
FROM sel JOIN n USING (doc_id)
WHERE sel.pos <= n.ng - 3
"""

_R11_WINNOW_SQL = _R11_WINNOW_BODY


def _ddp_winnow_neardup(spark, sf_dir):
    """Winnowing near-dup pair audit, rolled up by shared-fingerprint
    count (text_analysis.winnow_neardup_pairs + an integer-exact
    rollup): the raw pair set is too wide for a driver row at sf0.1
    (ROUND10_QUEUE.md), so the registry form reports, per ``shared``
    level, the pair count and the exact integer sum of the smaller
    fingerprint set — mean_fp_min is the only float, derived from
    two exact integers in fixed order."""
    pairs = T.winnow_neardup_pairs(
        _t(spark, sf_dir, "documents"), k=5, w=4,
        min_shared=2, max_hash_docs=64,
    )
    return pairs.groupBy("shared").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.least("fp_a", "fp_b")).alias("sum_fp_min"),
    ).select(
        "shared", "n_pairs", "sum_fp_min",
        F.round(
            F.col("sum_fp_min").cast("double")
            / F.col("n_pairs").cast("double"), 6
        ).alias("mean_fp_min"),
    )


_R11_WINNOW_PAIRS_SQL = f"""
WITH fp0 AS ({_R11_WINNOW_BODY}),
fps AS (SELECT DISTINCT doc_id, gram_hash FROM fp0),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS fp
            FROM fps GROUP BY doc_id),
hd AS (SELECT gram_hash FROM fps GROUP BY gram_hash
       HAVING count(*) <= 64),
kept AS (SELECT fps.doc_id, fps.gram_hash FROM fps JOIN hd USING (gram_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM kept a JOIN kept b
    ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT shared, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(least(pa.fp, pb.fp)) AS BIGINT) AS sum_fp_min,
       round(CAST(sum(least(pa.fp, pb.fp)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_fp_min
FROM pairs
JOIN per_doc pa ON pa.doc_id = doc_a
JOIN per_doc pb ON pb.doc_id = doc_b
GROUP BY shared
"""


def _sim_rank_metrics(spark, sf_dir):
    """Pooled retrieval scoreboard (similarity.rank_metrics): MRR@5 +
    macro recall/precision@5 + hit-rate@5 of the IVF probe against
    the exact brute-force top-5 — the one-row summary on the same
    validated chains sim_recall_eval compares per-query."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    ranked = S.ivf_topk(emb, q, k=5, n_probe=10)
    truth = S.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return S.rank_metrics(ranked, truth, k=5)


def _r11_rank_metrics_sql() -> str:
    return f"""
WITH truth0 AS ({_cosine_topk_oracle()}),
ranked0 AS ({_ivf_topk_oracle()}),
hits AS (
  SELECT r.query_id AS q, CAST(min(r.rank) AS BIGINT) AS first,
         CAST(count(*) AS BIGINT) AS hits
  FROM ranked0 r JOIN truth0 t
    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
  WHERE r.rank <= 5
  GROUP BY r.query_id
),
per_q AS (
  SELECT t.q,
         coalesce(1.0 / CAST(h.first AS DOUBLE), 0.0) AS rr,
         coalesce(CAST(h.hits AS DOUBLE)
                  / CAST(n_rel AS DOUBLE), 0.0) AS rec,
         coalesce(CAST(h.hits AS DOUBLE) / 5.0, 0.0) AS prec,
         CAST(coalesce(h.hits > 0, FALSE) AS BIGINT) AS hit
  FROM (SELECT query_id AS q, CAST(count(*) AS BIGINT) AS n_rel
        FROM truth0 GROUP BY query_id) t
  LEFT JOIN hits h ON h.q = t.q
),
pooled AS (
  SELECT q,
         count(*) OVER w AS nq,
         sum(rr) OVER w AS srr,
         sum(rec) OVER w AS srec,
         sum(prec) OVER w AS sprec,
         sum(hit) OVER w AS shit
  FROM per_q
  WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT CAST(nq AS BIGINT) AS n_queries,
       round(srr / nq, 6) AS mrr,
       round(srec / nq, 6) AS recall_at_k,
       round(sprec / nq, 6) AS precision_at_k,
       round(CAST(shit AS DOUBLE) / nq, 6) AS hit_rate,
       5 AS k
FROM pooled ORDER BY q DESC LIMIT 1
"""


def _evt_page_hinkley(spark, sf_dir):
    """Page–Hinkley drift detector over the daily event-value series,
    delta=50 lambda=400 cents (events.page_hinkley); day crosses the
    oracle boundary as epoch-day BIGINT per the driver convention."""
    out = page_hinkley(
        _t(spark, sf_dir, "events"), delta_cents=50, lambda_cents=400
    )
    return out.select(
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        .cast("bigint").alias("day_num"),
        "x_cents", "ph", "alarm",
    )


_R11_PH_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS x_cents
  FROM events GROUP BY CAST(ts AS DATE)
), staged AS (
  SELECT day, x_cents,
         CAST(x_cents AS DOUBLE)
           - sum(CAST(x_cents AS DOUBLE)) OVER w / count(*) OVER w
           - 50.0 AS dev
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), m AS (
  SELECT day, x_cents, sum(dev) OVER w AS m
  FROM staged
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num, x_cents,
       round(m - min(m) OVER w, 6) AS ph,
       round(m - min(m) OVER w, 6) > 400.0 AS alarm
FROM m
WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
"""


def _agg_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over a 3-item integer panel derived from
    orders (aggregates.cronbach_alpha): exact DECIMAL(38,0) moments,
    fixed-order α assembly; NULL items are refused in-plan."""
    u = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 7).cast("bigint").alias("i1"),
        (F.col("o_orderkey") % 5).cast("bigint").alias("i2"),
        (F.round("o_totalprice").cast("bigint") % 9).alias("i3"),
    )
    return AG.cronbach_alpha(u, ["i1", "i2", "i3"])


_R11_ALPHA_SQL = """
WITH u AS (
  SELECT CAST(o_custkey % 7 AS BIGINT) AS i1,
         CAST(o_orderkey % 5 AS BIGINT) AS i2,
         CAST(round(o_totalprice) % 9 AS BIGINT) AS i3
  FROM orders
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(i1) AS s1, sum(i1 * i1) AS q1,
         sum(i2) AS s2, sum(i2 * i2) AS q2,
         sum(i3) AS s3, sum(i3 * i3) AS q3,
         sum(i1 + i2 + i3) AS st,
         sum((i1 + i2 + i3) * (i1 + i2 + i3)) AS qt
  FROM u
), v AS (
  SELECT n,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
         + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
         + (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS siv,
         (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS tv
  FROM m
)
SELECT n AS n_subjects, 3 AS k_items,
       round(siv, 6) AS sum_item_var,
       round(tv, 6) AS total_var,
       round(1.5 * (1.0 - siv / tv), 6) AS alpha
FROM v
"""


def _tbl_txn_time_travel(spark, sf_dir):
    """Transactional-table time travel (operators/txnlog.py, the
    round-9 verdict item 5 driver query): create v1 from a keyed
    orders slice (with zone-map stats), MERGE v2 (keyed patch + one
    new row, file-level pruned), DELETE v3 — then read VERSION 2,
    proving the snapshot is immune to the later delete.  The oracle
    reproduces v2 purely relationally: v1 with the %3-keyed patch
    applied, plus the inserted row."""
    base = _t(spark, sf_dir, "orders").filter("o_orderkey % 10 = 0").select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.round("o_totalprice").cast("bigint").alias("cents"),
    )
    tbl = _scratch_dir("txn_tt_") + "/t"
    from eggv_spark.operators import txnlog as TX

    TX.create(base, tbl, stats_cols=["k"])
    updates = base.filter("k % 3 = 0").select(
        "k", (F.col("cents") + 1000).alias("cents")
    ).unionByName(
        spark.createDataFrame([(-42, 123)], "k bigint, cents bigint")
    )
    TX.merge_upsert(spark, updates, tbl, ["k"])
    TX.delete_rows(spark, tbl, "k % 7 = 0")  # v3: invisible at v2
    return TX.read(spark, tbl, version=2).select("k", "cents")


_R11_TXN_TT_SQL = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(round(o_totalprice) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT k,
       CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END AS cents
FROM base
UNION ALL
SELECT CAST(-42 AS BIGINT) AS k, CAST(123 AS BIGINT) AS cents
"""


R11_STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ml_ridge_fit": _ml_ridge_fit,
    "fe_quantile_binning": _fe_quantile_binning,
    "evt_retention_matrix": _evt_retention_matrix,
    "txt_winnowing": _txt_winnowing,
    "ddp_winnow_neardup": _ddp_winnow_neardup,
    "sim_rank_metrics": _sim_rank_metrics,
    "evt_page_hinkley": _evt_page_hinkley,
    "agg_cronbach_alpha": _agg_cronbach_alpha,
    "tbl_txn_time_travel": _tbl_txn_time_travel,
}


def r11_staged_oracles() -> dict[str, str]:
    return {
        "ml_ridge_fit": _R11_RIDGE_SQL,
        "fe_quantile_binning": _R11_QBIN_SQL,
        "evt_retention_matrix": _R11_RETENTION_SQL,
        "txt_winnowing": _R11_WINNOW_SQL,
        "ddp_winnow_neardup": _R11_WINNOW_PAIRS_SQL,
        "sim_rank_metrics": _r11_rank_metrics_sql(),
        "evt_page_hinkley": _R11_PH_SQL,
        "agg_cronbach_alpha": _R11_ALPHA_SQL,
        "tbl_txn_time_travel": _R11_TXN_TT_SQL,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All implemented queries, in VERIFICATION-ROTATION order.

    The external driver oracle-checks the first 50 entries of this dict
    each round.  Rounds 1-5 verified 50 entries each (CORRECTNESS_r01
    .. _r05 — 247 green, ``agg_approx`` rows-only by design,
    ``agg_hll_rollup`` rows-only in r05 pre-exact-twin,
    ``txt_hashed_features`` erred in r03 on its then-ArrayType output
    and passed in r04 re-emitted as a scalar); the verified blocks sit
    behind the window, regression-guarded by
    tests/test_reference_parity.py and scripts/check_correctness.py
    which runs ALL entries locally at two scales.

    Round-10 window (the first 50 of the returned dict — see the
    ``_r10_window`` list at the bottom of this function): round 9 ran
    50/50 green with zero flags, so per the rotation doctrine the
    window is the 11 last never-driver-verified entries (waves 22-26,
    ``graph_path_stats`` … ``fe_rare_category_collapse``) — a green
    round 10 closes CUMULATIVE driver coverage at 445/445 — followed
    by 39 r01-block §2 parity pads, oldest-first (their only driver
    rows date to round 1).  The registry stays FROZEN at 445 through
    round 10 (round-9 verdict item 2); the staged operators'
    registration recipe for round 11 is in ROUND10_QUEUE.md /
    ROUND11_QUEUE.md.

    Round-9 window (verified 50/50 green in CORRECTNESS_r09.json):
    the entire
    never-driver-verified backlog, i.e. the round-8 waves 11-21 that
    registered behind the full round-8 window, in oldest-wave-first
    order (``sim_kcenter_coreset`` … ``composite_ann_health``), per
    the round-8 verdict.  The registry was FROZEN at 445 that round.

    Round-8 window (verified 50/50 green in CORRECTNESS_r08.json):
    the THIRTEEN
    round-7-staged operators registered this round per ROUND8_QUEUE.md
    (CUPED adjusted lift, DAU/WAU/MAU actives, funnel paths, HHI
    concentration, MCC confusion, Brier decomposition, PPS systematic
    + stratified sampling, compaction planning, graph modularity,
    perplexity quality bins, BPE merge application, ViT image
    patches), the new composite_tokenizer_pipeline (BPE apply →
    budget select → sequence pack in one two-shuffle plan, VERDICT
    r07 item 6), the FIVE operators staged-and-registered within the
    same round once their oracles validated (in-plan logistic GD and
    PCA power iteration over embeddings, readability scores,
    contamination report, DSIR importance weights), the
    composite_importance_mixture (DSIR score → integer PPS weight →
    per-source stratified fill as one plan), a THIRD same-round wave
    (BM25 retrieval, Kneser–Ney bigram LM, two-sample energy
    distance, per-channel image histograms, and the hashed-BoW →
    logistic classifier composite), a FOURTH wave (multinomial Naive
    Bayes with the dense doc×class grid, 1-D Wasserstein transport
    cost, per-doc token entropy/evenness, distinct-n diversity per
    source, and the WAV silence audit), a FIFTH wave (multi-step
    Lloyd k-means with DECIMAL(38,18)-exact centroid feedback,
    PAV-on-bins isotonic calibration, daily-count ACF, image
    intensity entropy, embedding coherence, and the coherence-gate
    composite), a SIXTH wave (fixed-grid decision stump,
    integer-exact HITS hubs/authorities, MMR diversified retrieval,
    RAKE keywords), a SEVENTH wave (the Johnson-Lindenstrauss
    sign-projection distortion audit and the MMR->doc-join->budget
    RAG context-assembly composite), an EIGHTH wave
    (difference-in-differences and the IVF-kNN label-learnability
    eval composite), a NINTH (top-2 PCA by deflation — the
    spectral-gap probe), and a TENTH (Mann–Whitney rank-sum, LOO
    target encoding, propensity-matched ATT, Monroe log-odds, MaxSim
    late-interaction re-rank) — exactly 50 never-driver-verified
    entries, so no re-verification pads this round (rotation
    doctrine: new registrations claim the window first; round 7
    closed driver coverage of all 334 prior entries, and the five
    r01 pads the tenth wave displaced rejoin the round-9 queue).

    Round-7 window (per the round-6 verdict items 1-4):
    the 23 never-driver-checked wave-2/3/4 entries, agg_approx +
    agg_hll_rollup (their only driver rows predate the round-6
    exact-twin rework), ddp_containment re-verified with the
    frequent-bucket ceiling live, the TWELVE round-6-staged operators
    registered this round (c4_line_filters, vocab_jsd,
    bpe_train_merges, embedding_drift, epoch_shuffle, srm_check,
    multiplicative_means, join_cardinality_estimate,
    prefix_dim_recall, label_chi2_terms, uplift_by_segment,
    schema_drift_audit), the new win_rolling_corr_supplier headline,
    and 11 high-complexity r01/r02 re-verification picks.  A green
    round 7 closes driver coverage of all 334 entries.

    Round-6 window: the 18 remaining round-4 additions
    + the 32 round-5 wave-1 additions — exactly the never-driver-
    verified block the round-5 verdict ordered front-swapped
    (VERDICT.md item 1); CORRECTNESS_r06.json records 50/50 green.

    Round-5 window (verified 49/50 green in CORRECTNESS_r05.json):
    the 49-entry block staged at the
    end of round 4 — ``txt_lang_confusion`` plus IVF+PQ, incremental
    agg (batch + streaming twin), weighted sampling, Pareto, quantile
    normalization, q-gram fuzzy, co-purchase/association rules,
    FK audit, conversion/rate/seasonal analytics, A/B readout, Benford
    (``agg_hll_rollup`` is rows-only: sketch estimates are not
    value-reproducible in DuckDB), the TPC-H-analog completion
    (``olap_q2/q4/q11/q12/q16/q20/q21``), triangle census, rank-sum
    ROC AUC, Welch t-test, class-balanced downsampling, vocabulary
    coverage, SemDeDup, calibration bins, the corpus-cleaning funnel,
    k-fold assignment, drawdown, PSI drift, the ORC/JSON/TSV roundtrip
    gate, neighbor-overlap Jaccard, the interpolated bigram LM, the
    Theil index, and the order-insensitive table checksum — plus
    ``mm_bmp_decode`` promoted from the round-4-additions queue as
    slot 50.

    Round-4 additions (dict tail, the round-6 queue together with the
    round-5 additions, all dual-scale green on arrival):
    incremental shard-vs-corpus dedup against a
    persisted MinHash band index in batch (``ddp_index_dedup``) AND
    streaming (``stream_index_dedup``, stateless stream-static band
    probe, same oracle); unaligned sliding-window exact-substring
    dedup (``ddp_window_dedup``); the Poisson-bootstrap family
    (``agg_bootstrap_ci``, ``agg_bootstrap_ab``) plus experiment
    power analysis (``agg_power_analysis``); Neyman-allocation
    stratified sampling (``smp_neyman``); dynamic partition
    overwrite for idempotent backfills (``tbl_partition_overwrite``);
    single-changepoint CUSUM detection (``evt_changepoint``);
    Theil–Sen robust trend + its Mann–Kendall hypothesis companion
    (``agg_theilsen``/``agg_mann_kendall``); additive schema
    evolution on read (``src_schema_evolution``); NDCG@k ranking
    eval (``sim_ndcg``); weakly-connected components by
    large-star/small-star over the rank-thresholded trade graph
    (``graph_wcc``, recursive-CTE oracle); and watermark late-data
    drop semantics over a deterministic three-micro-batch feed
    (``stream_late_data``, engine drop/finalization contract pinned
    by tests/test_skew_sliding_stateful.py); PERMISSIVE-mode
    malformed-row accounting (``src_corrupt_records``: a 1%-corrupted
    synthesized feed whose corrupt-column routing must exactly match
    the oracle's intended split); soft dedup by duplicate-group
    downweighting (``ddp_soft_dedup``, the keep-but-reweight curation
    alternative to hard removal); and TOST mean-equivalence readout
    (``agg_tost``, the non-inferiority complement to ``agg_welch``).

    Round-5 additions (32 entries, dict tail, all dual-scale green on
    arrival — together with the 18 remaining round-4 additions they
    form EXACTLY the final 50-entry round-6 window, closing driver
    coverage of the whole registry): the statistics family
    (Spearman, Cramér's V with empty-cell correction, Cohen's d,
    mutual information/NMI, rank-based trimmed mean, Lorenz deciles,
    fixed-probe ECDF, runs test, randomization test + BH-FDR,
    Fisher's method, Ljung–Box, delta-method ratio CI, digit-count
    histogram), EWMA + rolling skewness windows, Kaplan–Meier
    survival + cohort LTV, k-core/Adamic–Adar/BFS graph queries,
    code-detect/markdown-strip/unicode-profile curation, asymmetric
    containment dedup, PNG header parse, DELETE WHERE audit +
    write-audit-publish, coverage-floor + Horvitz–Thompson sampling,
    as-of tolerance join, pair-cosine histogram, and geo grid
    density.

    Round-5 wave 2 (11 entries, dict tail — the round-7 queue, all
    dual-scale green on arrival): the k-sample test family (one-way
    ANOVA, tie-corrected Kruskal–Wallis with even-dof closed-form
    tail, Levene's W, Mood's median test), temporal structure
    (burstiness/CV/Fano, discrete periodogram, gaps-and-islands
    streak histogram), content-defined chunk dedup, IDF novelty,
    bigram PMI collocations, and Y4M scene-cut detection.

    Round-5 wave 3 (7 entries, dict tail, dual-scale green):
    Friedman blocked-rank test, power-law tail MLE, Bollinger bands,
    RSI (SMA variant), Markov-chain entropy rate, hapax/type-token
    vocabulary profile, and adaptive grid-density hotspot clustering
    (large-star/small-star components over dense cells).

    Round-5 wave 4 (5 entries, dict tail, dual-scale green): the ML
    evaluation family (average precision, decile lift/gain chart,
    Cohen's kappa, McNemar's paired test) and GVF as a registered
    PySpark-4 Python DataSource (``spark.read.format("gvf")``, one
    InputPartition per file).  ``transformWithStateInPandas`` is
    implemented (streaming.streaming_user_profile_tws) but carried
    by a skip-gated test only: this container ships no
    ``google.protobuf`` at all, so the TWS driver-worker channel
    cannot start.

    REGISTRY FREEZE, LIFTED ROUND 7: the registry held at 321 entries
    through round 6 (round-4 verdict decision) so driver coverage
    could close mechanically; the round-6 verdict ordered the freeze
    lifted once the 23 wave-2/3/4 entries entered the window — the 12
    round-6-staged operators plus win_rolling_corr_supplier brought
    the registry to 334 in round 7, and the 13 round-7-staged
    operators bring it to 347 in round 8.  The
    rotation doctrine stands: never-driver-verified entries always
    claim the window first.  Every entry is dual-scale oracle-green
    (CORRECTNESS_LOCAL_r0*.json), plan-pinned
    (PLAN_FINGERPRINTS.json), and cross-config partition-invariant
    (scripts/determinism_sweep.py; since round 6 with ZERO
    exceptions — the sketch queries' gradeable exact-twin forms are
    hash-invariant and fully value-oracled).
    """
    reg = {
        # --- round-7 verification window (50), per the round-6
        # verdict: (1) the 23 never-driver-checked wave-2/3/4
        # entries; (2) agg_approx + agg_hll_rollup, whose only driver
        # rows are pre-exact-twin `no_oracle` errors (r03/r05);
        # (3) ddp_containment, re-verified with the frequent-bucket
        # ceiling LIVE (max_block_size=64, round-7 change);
        # (4) the 12 round-6-staged operators, registered this round;
        # (5) win_rolling_corr_supplier, the scale-safe headline form
        # of the rolling-corr kernel (verdict item 4); and (6) 11
        # re-verification picks from the r01/r02 blocks (highest-
        # complexity plans, regression re-checks — already green). ---
        "agg_anova": _agg_anova,
        "agg_kruskal": _agg_kruskal,
        "agg_levene": _agg_levene,
        "agg_median_test": _agg_median_test,
        "evt_burstiness": _evt_burstiness,
        "evt_periodogram": _evt_periodogram,
        "dt_gap_islands": _dt_gap_islands,
        "ddp_chunk_dedup": _ddp_chunk_dedup,
        "txt_novelty_idf": _txt_novelty_idf,
        "txt_bigram_pmi": _txt_bigram_pmi,
        "mm_scene_cuts": _mm_scene_cuts,
        "agg_friedman": _agg_friedman,
        "agg_powerlaw": _agg_powerlaw,
        "win_bollinger": _win_bollinger,
        "win_rsi": _win_rsi,
        "evt_markov_entropy": _evt_markov_entropy,
        "txt_hapax": _txt_hapax,
        "geo_hotspot_clusters": _geo_hotspot_clusters,
        "agg_pr_auc": _agg_pr_auc,
        "agg_lift_chart": _agg_lift_chart,
        "agg_kappa": _agg_kappa,
        "agg_mcnemar": _agg_mcnemar,
        "src_gvf_datasource": _src_gvf_datasource,
        "agg_approx": _agg_approx,
        "agg_hll_rollup": _agg_hll_rollup,
        "ddp_containment": _ddp_containment,
        "c4_line_filters": _c4_line_filters,
        "vocab_jsd": _vocab_jsd,
        "bpe_train_merges": _bpe_train_merges,
        "embedding_drift": _embedding_drift,
        "epoch_shuffle": _epoch_shuffle,
        "srm_check": _srm_check,
        "multiplicative_means": _multiplicative_means,
        "join_cardinality_estimate": _join_cardinality_estimate,
        "prefix_dim_recall": _prefix_dim_recall,
        "label_chi2_terms": _label_chi2_terms,
        "uplift_by_segment": _uplift_by_segment,
        "schema_drift_audit": _schema_drift_audit,
        "win_rolling_corr_supplier": _win_rolling_corr_supplier,
        "flagship_token_pipeline": _flagship,
        "composite_corpus_funnel": _composite_corpus_funnel,
        "graph_pagerank": _graph_pagerank,
        "ddp_minhash_neardup": _ddp_minhash_neardup,
        "sim_ivf_pq_topk": _sim_ivf_pq_topk,
        "stream_session_windows": _stream_session_windows,
        "olap_q21_waiting_suppliers": _olap_q21_waiting_suppliers,
        "evt_sessionize": _evt_sessionize,
        "join_salted_skew": _join_salted_skew,
        "txt_tfidf": _txt_tfidf,
        "agg_pricing_summary": _agg_pricing_summary,
        # --- verified in round 6 (CORRECTNESS_r06.json: 50/50 green;
        # the 18 round-4 additions + 32 round-5 wave-1 entries) ---
        "ddp_index_dedup": _ddp_index_dedup,
        "ddp_window_dedup": _ddp_window_dedup,
        "agg_bootstrap_ci": _agg_bootstrap_ci,
        "agg_bootstrap_ab": _agg_bootstrap_ab,
        "tbl_partition_overwrite": _tbl_partition_overwrite,
        "smp_neyman": _smp_neyman,
        "agg_power_analysis": _agg_power_analysis,
        "stream_index_dedup": _stream_index_dedup,
        "evt_changepoint": _evt_changepoint,
        "agg_theilsen": _agg_theilsen,
        "src_schema_evolution": _src_schema_evolution,
        "agg_mann_kendall": _agg_mann_kendall,
        "sim_ndcg": _sim_ndcg,
        "graph_wcc": _graph_wcc,
        "stream_late_data": _stream_late_data,
        "src_corrupt_records": _src_corrupt_records,
        "ddp_soft_dedup": _ddp_soft_dedup,
        "agg_tost": _agg_tost,
        "agg_spearman": _agg_spearman,
        "agg_cramers_v": _agg_cramers_v,
        "agg_cohens_d": _agg_cohens_d,
        "agg_mutual_info": _agg_mutual_info,
        "agg_trimmed_mean": _agg_trimmed_mean,
        "agg_lorenz": _agg_lorenz,
        "agg_ecdf": _agg_ecdf,
        "agg_runs_test": _agg_runs_test,
        "agg_permutation_fdr": _agg_permutation_fdr,
        "agg_fisher_method": _agg_fisher_method,
        "agg_ljung_box": _agg_ljung_box,
        "agg_ratio_ci": _agg_ratio_ci,
        "agg_digit_histogram": _agg_digit_histogram,
        "win_ewma": _win_ewma,
        "win_rolling_skew": _win_rolling_skew,
        "evt_survival_km": _evt_survival_km,
        "evt_cohort_ltv": _evt_cohort_ltv,
        "graph_kcore": _graph_kcore,
        "graph_adamic_adar": _graph_adamic_adar,
        "graph_bfs_reach": _graph_bfs_reach,
        "txt_code_detect": _txt_code_detect,
        "txt_markdown_strip": _txt_markdown_strip,
        "txt_unicode_profile": _txt_unicode_profile,
        "mm_png_header": _mm_png_header,
        "tbl_delete_where": _tbl_delete_where,
        "tbl_wap_publish": _tbl_wap_publish,
        "smp_min_per_group": _smp_min_per_group,
        "smp_horvitz_thompson": _smp_horvitz_thompson,
        "join_asof_tolerance": _join_asof_tolerance,
        "sim_pair_stats": _sim_pair_stats,
        "geo_grid_density": _geo_grid_density,
        # --- verified in round 5 (CORRECTNESS_r05.json: 49/50 green;
        # agg_hll_rollup was rows-only then — its exact-twin gradeable
        # form landed in round 6) ---
        "txt_lang_confusion": _txt_lang_confusion,
        "tbl_incremental_agg": _tbl_incremental_agg,
        "smp_weighted_reservoir": _smp_weighted_reservoir,
        "srt_pareto_frontier": _srt_pareto_frontier,
        "smp_quantile_normalize": _smp_quantile_normalize,
        "join_qgram_fuzzy": _join_qgram_fuzzy,
        "agg_copurchase": _agg_copurchase,
        "tbl_fk_audit": _tbl_fk_audit,
        "evt_conversion_time": _evt_conversion_time,
        "evt_event_rate": _evt_event_rate,
        "stream_incremental_agg": _stream_incremental_agg,
        "evt_ab_test": _evt_ab_test,
        "agg_benford": _agg_benford,
        "evt_seasonal": _evt_seasonal,
        "agg_assoc_rules": _agg_assoc_rules,
        "graph_label_prop": _graph_label_prop,
        "win_rolling_median": _win_rolling_median,
        "geo_proximity": _geo_proximity,
        "agg_countmin": _agg_countmin,
        "evt_attribution_linear": _evt_attribution_linear,
        "tbl_partition_pruning": _tbl_partition_pruning,
        "composite_semantic_pairs": _composite_semantic_pairs,
        "dt_business_days": _dt_business_days,
        "agg_tukey_outliers": _agg_tukey_outliers,
        "olap_q2_min_cost_supplier": _olap_q2_min_cost_supplier,
        "olap_q4_priority_check": _olap_q4_priority_check,
        "olap_q11_important_stock": _olap_q11_important_stock,
        "olap_q12_ship_delay": _olap_q12_ship_delay,
        "olap_q16_supplier_counts": _olap_q16_supplier_counts,
        "olap_q20_part_promotion": _olap_q20_part_promotion,
        "graph_triangles": _graph_triangles,
        "agg_auc": _agg_auc,
        "agg_welch": _agg_welch,
        "smp_balanced_classes": _smp_balanced_classes,
        "txt_vocab_coverage": _txt_vocab_coverage,
        "ddp_semdedup": _ddp_semdedup,
        "agg_calibration": _agg_calibration,
        "smp_kfold": _smp_kfold,
        "win_drawdown": _win_drawdown,
        "agg_psi": _agg_psi,
        "src_format_roundtrip": _src_format_roundtrip,
        "graph_neighbor_jaccard": _graph_neighbor_jaccard,
        "txt_bigram_lm": _txt_bigram_lm,
        "agg_theil": _agg_theil,
        "tbl_checksum": _tbl_checksum,
        # slot 50: promoted from the round-4 additions queue
        "mm_bmp_decode": _mm_bmp_decode,
        # --- verified in round 4 (CORRECTNESS_r04.json: 50/50 green) ---
        "tbl_scd2_apply": _tbl_scd2_apply,
        "tbl_cdc_apply": _tbl_cdc_apply,
        "smp_temperature_weights": _smp_temperature_weights,
        "win_decayed_sum": _win_decayed_sum,
        "mm_image_crop": _mm_image_crop,
        "mm_audio_resample": _mm_audio_resample,
        "ddp_minhash_est": _ddp_minhash_est,
        "ddp_url_dedup": _ddp_url_dedup,
        "txt_sentences": _txt_sentences,
        "evt_attribution": _evt_attribution,
        "agg_chi2_cells": _agg_chi2_cells,
        "stream_cdc_apply": _stream_cdc_apply,
        "tbl_incremental_append": _tbl_incremental_append,
        "win_winsorize": _win_winsorize,
        "txt_readability": _txt_readability,
        "agg_mad": _agg_mad,
        "evt_inter_event": _evt_inter_event,
        "smp_apply_weights": _smp_apply_weights,
        "olap_q5_local_supplier": _olap_q5_local_supplier,
        "olap_q6_forecast_revenue": _olap_q6_forecast_revenue,
        "olap_q7_volume_shipping": _olap_q7_volume_shipping,
        "olap_q8_market_share": _olap_q8_market_share,
        "olap_q9_product_profit": _olap_q9_product_profit,
        "olap_q10_returned_items": _olap_q10_returned_items,
        "olap_q13_customer_distribution": _olap_q13_customer_distribution,
        "olap_q14_promo_effect": _olap_q14_promo_effect,
        "olap_q15_top_supplier": _olap_q15_top_supplier,
        "olap_q17_small_quantity": _olap_q17_small_quantity,
        "olap_q18_large_orders": _olap_q18_large_orders,
        "olap_q19_disjunctive": _olap_q19_disjunctive,
        "olap_q22_idle_customers": _olap_q22_idle_customers,
        "graph_degree_stats": _graph_degree_stats,
        "agg_linreg": _agg_linreg,
        "sim_int8_quantize": _sim_int8_quantize,
        "sim_centroid_cosine": _sim_centroid_cosine,
        "ddp_bloom_prefilter": _ddp_bloom_prefilter,
        "txt_zipf_slope": _txt_zipf_slope,
        "evt_rfm": _evt_rfm,
        "tbl_partition_balance": _tbl_partition_balance,
        "win_ratio_to_report": _win_ratio_to_report,
        "evt_markov": _evt_markov,
        "agg_ks_test": _agg_ks_test,
        "agg_cov_matrix": _agg_cov_matrix,
        "txt_source_jaccard": _txt_source_jaccard,
        "win_rolling_corr": _win_rolling_corr,
        "join_bucketed": _join_bucketed,
        "win_cumulative_distinct": _win_cumulative_distinct,
        "smp_neg_sampling": _smp_neg_sampling,
        # slot 50 of the round-4 window: re-queued after the round-3
        # driver error (now scalar)
        "txt_hashed_features": _txt_hashed_features,
        # --- verified in round 3 (CORRECTNESS_r03.json: 48/50 green) ---
        "join_cross": _join_cross,
        "txt_chunk": _txt_chunk,
        "txt_pack_sequences": _txt_pack_sequences,
        "smp_stratified": _smp_stratified,
        "agg_corr": _agg_corr,
        "mm_audio_decode": _mm_audio_decode,
        "tbl_validate": _tbl_validate,
        "sim_pq_topk": _sim_pq_topk,
        "sim_kmeans_iter": _sim_kmeans_iter,
        "sim_range_search": _sim_range_search,
        "smp_cap_per_group": _smp_cap_per_group,
        "txt_ngram_stats": _txt_ngram_stats,
        "evt_anomaly": _evt_anomaly,
        "agg_mode": _agg_mode,
        "stream_running_zscore": _stream_running_zscore,
        "txt_normalize": _txt_normalize,
        "agg_entropy": _agg_entropy,
        "smp_domain_mix": _smp_domain_mix,
        "ddp_passage_dedup": _ddp_passage_dedup,
        "smp_token_budget": _smp_token_budget,
        "tbl_zorder_key": _tbl_zorder_key,
        "mm_image_hash": _mm_image_hash,
        "join_asof_fwd": _join_asof_fwd,
        "tbl_snapshot_diff": _tbl_snapshot_diff,
        "stream_sliding_window": _stream_sliding,
        "set_union_evolve": _set_union_evolve,
        "stream_static_enrich": _stream_static_enrich,
        "ddp_canonical_docs": _ddp_canonical_docs,
        "sim_recall_eval": _sim_recall_eval,
        "evt_throttle": _evt_throttle,
        "mm_audio_segments": _mm_audio_segments,
        "rng_interval_overlap": _rng_interval_overlap,
        "evt_user_journey": _evt_user_journey,
        "agg_histogram_eqdepth": _agg_histogram_eqdepth,
        "evt_streaks": _evt_streaks,
        "smp_train_eval_split": _smp_train_eval_split,
        "txt_dup_ngram_frac": _txt_dup_ngram_frac,
        "composite_training_mixture": _composite_training_mixture,
        "dt_date_spine": _dt_date_spine,
        "smp_mixture_weights": _smp_mixture_weights,
        "txt_source_quality": _txt_source_quality,
        "win_pct_change": _win_pct_change,
        "set_symmetric_diff": _set_symmetric_diff,
        "join_fuzzy_name": _join_fuzzy_name,
        "agg_weighted_avg": _agg_weighted_avg,
        "flt_like_pushdown": _flt_like_pushdown,
        "exp_map_explode": _exp_map_explode,
        # slot 50: re-verify with the REAL resize path (was digest-stub in r01)
        "mm_resize": _mm_resize,
        # --- verified in round 2 (CORRECTNESS_r02.json: 50/50 green) ---
        "txt_token_count": _txt_token_count,
        "txt_quality_score": _txt_quality_score,
        "txt_lang_id": _txt_lang_id,
        "txt_fingerprint": _txt_fingerprint,
        "txt_repetition": _txt_repetition,
        "txt_pii_scrub": _txt_pii_scrub,
        "txt_url_parse": _txt_url_parse,
        "txt_unigram_lm": _txt_unigram_lm,
        "txt_quality_filter": _txt_quality_filter,
        "ddp_exact_hash": _ddp_exact_hash,
        "ddp_simhash": _ddp_simhash,
        "ddp_simhash_neardup": _ddp_simhash_neardup,
        "ddp_ngram_jaccard": _ddp_ngram_jaccard,
        "ddp_dup_clusters": _ddp_dup_clusters,
        "ddp_embedding_neardup": _ddp_embedding_neardup,
        "ddp_decontaminate": _ddp_decontaminate,
        "sim_cosine_topk": _sim_cosine_topk,
        "sim_ivf_topk": _sim_ivf_topk,
        "mm_asset_stats": _mm_asset_stats,
        "mm_feature_extract": _mm_feature_extract,
        "mm_video_frames": _mm_video_frames,
        "stream_tumbling_window": _stream_tumbling,
        "stream_user_totals": _stream_user_totals,
        "stream_dedupe": _stream_dedupe,
        "stream_view_click_join": _stream_view_click,
        "sub_exists": _sub_exists,
        "sub_in": _sub_in,
        "sub_scalar": _sub_scalar,
        "evt_funnel": _evt_funnel,
        "evt_retention": _evt_retention,
        "agg_gini": _agg_gini,
        "agg_conditional": _agg_conditional,
        "agg_string_agg": _agg_string_agg,
        "agg_stats_moments": _agg_stats_moments,
        "agg_histogram": _agg_histogram,
        "agg_argminmax": _agg_argminmax,
        "tbl_unpivot": _tbl_unpivot,
        "tbl_merge_upsert": _tbl_merge_upsert,
        "tbl_profile": _tbl_profile,
        "tbl_key_distribution": _tbl_key_distribution,
        "win_ntile_rank": _win_ntile_rank,
        "win_first_last": _win_first_last,
        "win_range_frame": _win_range_frame,
        "exp_posexplode": _exp_posexplode,
        "join_full_outer": _join_full_outer,
        "join_null_safe": _join_null_safe,
        "smp_systematic": _smp_systematic,
        # --- verified in round 1 (CORRECTNESS_r01.json: 50/50 green) ---
        "composite_shipping_priority": _composite_shipping_priority,
        "src_scan": _src_scan,
        "prj_projection": _prj_projection,
        "prj_rename_cast": _prj_rename_cast,
        "str_prefix_concat": _str_prefix_concat,
        "str_regexp_extract": _str_regexp_extract,
        "str_strip_cast": _str_strip_cast,
        "str_json_field": _str_json_field,
        "str_attr_map": _str_attr_map,
        "dt_date_parts": _dt_date_parts,
        "arr_vector_stats": _arr_vector_stats,
        "agg_percentiles": _agg_percentiles,
        "agg_pivot": _agg_pivot,
        "str_concat_ws": _str_concat_ws,
        "str_split_get": _str_split_get,
        "exp_explode": _exp_explode,
        "nul_fill": _nul_fill,
        "nul_drop": _nul_drop,
        "flt_eq": _flt_eq,
        "flt_isin": _flt_isin,
        "flt_neg_notnull": _flt_neg_notnull,
        "join_left_broadcast": _join_left_broadcast,
        "join_semi": _join_semi,
        "join_anti": _join_anti,
        "rng_range_join": _rng_range_join,
        "join_asof": _join_asof,
        "set_union_distinct": _set_union_distinct,
        "set_intersect": _set_intersect,
        "set_except": _set_except,
        "srt_global_topk": _srt_global_topk,
        "agg_rollup": _agg_rollup,
        "agg_cube": _agg_cube,
        "agg_grouping_sets": _agg_grouping_sets,
        "agg_distinct_counts": _agg_distinct_counts,
        "win_lag_lead": _win_lag_lead,
        "win_running_sum": _win_running_sum,
        "win_moving_avg": _win_moving_avg,
        "ddp_dedup_all": _ddp_dedup_all,
        "ddp_dedup_keys": _ddp_dedup_keys,
        "ddp_first_by_key": _ddp_first_by_key,
        "ddp_dedup_composite": _ddp_dedup_composite,
        "win_topk_per_group": _win_topk_per_group,
        "evt_tumbling_window": _evt_tumbling_window,
        "evt_sliding_window": _evt_sliding_window,
        "evt_gapfill": _evt_gapfill,
        # --- round-8 registrations: the thirteen ROUND8_QUEUE.md
        # operators, staged in round 7 (implemented, property-tested,
        # oracle-validated in tests/test_round7_staged_oracles.py),
        # registered here with their registry fixtures ---
        "cuped_adjusted_lift": _cuped_adjusted_lift,
        "active_user_counts": _active_user_counts,
        "funnel_paths": _funnel_paths,
        "hhi_concentration": _hhi_concentration,
        "mcc_confusion": _mcc_confusion,
        "brier_decomposition": _brier_decomposition,
        "pps_systematic_sample": _pps_systematic_sample,
        "pps_stratified_sample": _pps_stratified_sample,
        "compaction_plan": _compaction_plan,
        "graph_modularity": _graph_modularity,
        "perplexity_bins": _perplexity_bins,
        "bpe_apply_merges": _bpe_apply_merges,
        "image_patches": _image_patches,
        "composite_tokenizer_pipeline": _composite_tokenizer_pipeline,
        # --- round-8 second wave: the five operators staged earlier
        # this round (ROUND9_QUEUE.md, pulled forward once their
        # oracles validated in tests/test_round8_staged_oracles.py)
        # plus the DSIR -> stratified-PPS selection composite ---
        "logistic_regression_gd": _logistic_regression_gd,
        "pca_power_iteration": _pca_power_iteration,
        "readability_scores": _readability_scores,
        "contamination_report": _contamination_report,
        "dsir_log_weights": _dsir_log_weights,
        "composite_importance_mixture": _composite_importance_mixture,
        # --- round-8 third wave: BM25 retrieval, Kneser-Ney LM,
        # energy distance, channel histograms, and the hashed-BoW
        # classifier composite (staged + oracle-validated in
        # tests/test_round9_staged*.py) ---
        "bm25_topk": _bm25_topk,
        "kneser_ney_logprob": _kneser_ney_logprob,
        "energy_distance": _energy_distance,
        "image_channel_hist": _image_channel_hist,
        "composite_hashed_classifier": _composite_hashed_classifier,
        # --- round-8 fourth wave: Naive Bayes, Wasserstein-1D, token
        # entropy, n-gram diversity, audio silence (staged +
        # oracle-validated in tests/test_round9b_staged*.py) ---
        "naive_bayes_fit": _naive_bayes_fit,
        "wasserstein_1d": _wasserstein_1d,
        "token_entropy": _token_entropy,
        "ngram_diversity": _ngram_diversity,
        "audio_silence_report": _audio_silence_report,
        # --- round-8 fifth wave: multi-step Lloyd k-means, isotonic
        # calibration (PAV-on-bins), daily-count ACF, image intensity
        # entropy, embedding coherence, and the coherence-gate
        # composite (staged + oracle-validated in
        # tests/test_round9c_staged*.py) ---
        "kmeans_lloyd": _kmeans_lloyd,
        "isotonic_calibration": _isotonic_calibration,
        "acf_lags": _acf_lags,
        "image_entropy": _image_entropy,
        "embedding_coherence": _embedding_coherence,
        "composite_coherence_gate": _composite_coherence_gate,
        # --- round-8 sixth wave: decision stump, integer-exact HITS,
        # MMR diversified retrieval, RAKE keywords (staged +
        # oracle-validated in tests/test_round9d_staged*.py) ---
        "decision_stump": _decision_stump,
        "graph_hits": _graph_hits,
        "mmr_diversify": _mmr_diversify,
        "rake_keywords": _rake_keywords,
        # --- round-8 seventh wave: JL projection audit + the RAG
        # context-assembly composite (staged + oracle-validated in
        # tests/test_round9e_staged*.py) ---
        "sim_random_projection": _sim_random_projection,
        "composite_rag_pipeline": _composite_rag_pipeline,
        # --- round-8 eighth wave: difference-in-differences + the
        # IVF-kNN classification eval composite (staged +
        # oracle-validated in tests/test_round9g_staged.py) ---
        "did_estimator": _did_estimator,
        "composite_knn_eval": _composite_knn_eval,
        # --- round-8 ninth wave: the spectral-gap probe (staged +
        # oracle-validated in tests/test_round9h_staged.py) ---
        "pca_top2_deflation": _pca_top2_deflation,
        # --- round-8 tenth wave: rank-sum test, LOO target encoding,
        # propensity matching, Monroe log-odds, MaxSim re-rank
        # (staged + oracle-validated in tests/test_round9i_staged.py)
        # ---
        "agg_mann_whitney": _agg_mann_whitney,
        "fe_target_encoding": _fe_target_encoding,
        "psm_att": _psm_att,
        "txt_log_odds": _txt_log_odds,
        "sim_maxsim_rerank": _sim_maxsim_rerank,
        # --- round-8 eleventh wave, registered BEHIND the full
        # 50-entry window (claims the round-9 window first): k-center
        # coreset, TextRank, Bloom audit, SPRT, IPS off-policy value
        # (staged + oracle-validated in tests/test_round9j_staged.py)
        # ---
        "sim_kcenter_coreset": _sim_kcenter_coreset,
        "txt_textrank": _txt_textrank,
        "tbl_bloom_probe": _tbl_bloom_probe,
        "evt_sprt": _evt_sprt,
        "evt_ips_value": _evt_ips_value,
        # --- round-8 twelfth wave, registered BEHIND the window
        # (claims the round-9 window after wave 11): boosted stumps,
        # personalized PageRank, Deming regression, group k-fold,
        # image near-dup band join (staged + oracle-validated in
        # tests/test_round9k_staged.py) ---
        "gbrt_stumps": _gbrt_stumps,
        "graph_ppr": _graph_ppr,
        "agg_deming": _agg_deming,
        "smp_group_kfold": _smp_group_kfold,
        "mm_image_neardup": _mm_image_neardup,
        # --- round-8 thirteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-12): event study,
        # AR(1) half-life, audio fingerprint dedup, contrastive
        # triplets, zone-map skipping (staged + oracle-validated in
        # tests/test_round9l_staged.py) ---
        "evt_event_study": _evt_event_study,
        "evt_ar1_halflife": _evt_ar1_halflife,
        "mm_audio_fingerprint": _mm_audio_fingerprint,
        "composite_contrastive_pairs": _composite_contrastive_pairs,
        "tbl_zonemap_skip": _tbl_zonemap_skip,
        # --- round-8 fourteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-13): minhash
        # recall eval, raking weights, instruction scorer (staged +
        # oracle-validated in tests/test_round9m_staged.py) ---
        "ddp_minhash_eval": _ddp_minhash_eval,
        "smp_raking_weights": _smp_raking_weights,
        "txt_instruction_score": _txt_instruction_score,
        # --- round-8 fifteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-14): integer-exact
        # batch perceptron, Kendall tau-b, CUSUM drift chart, harmonic
        # centrality, vacuum audit (staged + oracle-validated in
        # tests/test_round9n_staged.py) ---
        "perceptron_fit": _perceptron_fit,
        "agg_kendall_tau": _agg_kendall_tau,
        "evt_cusum": _evt_cusum,
        "graph_harmonic": _graph_harmonic,
        "tbl_vacuum_plan": _tbl_vacuum_plan,
        # --- round-8 sixteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-15): Nelson-Aalen
        # hazard, degree assortativity, Cochran-Armitage trend test,
        # clustering-depth sweep, metadata-filtered ANN (staged +
        # oracle-validated in tests/test_round9o_staged.py) ---
        "evt_nelson_aalen": _evt_nelson_aalen,
        "graph_assortativity": _graph_assortativity,
        "agg_cochran_armitage": _agg_cochran_armitage,
        "tbl_file_overlap_depth": _tbl_file_overlap_depth,
        "sim_filtered_ivf_topk": _sim_filtered_ivf_topk,
        # --- round-8 seventeenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-16): log-rank
        # survival comparison, dedup funnel composite, IVF cell
        # stats, Fleiss kappa (staged + oracle-validated in
        # tests/test_round9p_staged.py) ---
        "evt_logrank": _evt_logrank,
        "composite_dedup_funnel": _composite_dedup_funnel,
        "sim_ivf_cell_stats": _sim_ivf_cell_stats,
        "agg_fleiss_kappa": _agg_fleiss_kappa,
        # --- round-8 eighteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-17): CMH
        # stratified test, reciprocity, local clustering, PQ
        # distortion audit, Qini curve (staged + oracle-validated in
        # tests/test_round9q_staged.py) ---
        "agg_cmh_test": _agg_cmh_test,
        "graph_reciprocity": _graph_reciprocity,
        "graph_local_clustering": _graph_local_clustering,
        "sim_pq_distortion": _sim_pq_distortion,
        "evt_qini_curve": _evt_qini_curve,
        # --- round-8 nineteenth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-18): LSH band
        # stats, G-test, SMD balance, Wilson CI, seasonal-naive
        # backtest (staged + oracle-validated in
        # tests/test_round9r_staged.py) ---
        "ddp_lsh_band_stats": _ddp_lsh_band_stats,
        "agg_g_test": _agg_g_test,
        "agg_smd_balance": _agg_smd_balance,
        "agg_wilson_ci": _agg_wilson_ci,
        "evt_seasonal_naive_error": _evt_seasonal_naive_error,
        # --- round-8 twentieth wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-19): hop-bounded
        # SCC, MH common odds ratio, WOE encoding, streaming CUSUM
        # (staged + oracle-validated in tests/test_round9s_staged.py)
        "graph_scc": _graph_scc,
        "agg_mh_odds_ratio": _agg_mh_odds_ratio,
        "fe_woe_encoding": _fe_woe_encoding,
        "stream_cusum": _stream_cusum,
        # --- round-8 twenty-first wave, registered BEHIND the window
        # (claims the round-9 window after waves 11-20): repeated-
        # sentence audit, partial correlation, peak detection, ANN
        # health gate (staged + oracle-validated in
        # tests/test_round9t_staged.py) ---
        "txt_dup_sentence_filter": _txt_dup_sentence_filter,
        "agg_partial_corr": _agg_partial_corr,
        "evt_peaks": _evt_peaks,
        "composite_ann_health": _composite_ann_health,
        # --- round-8 twenty-second wave, registered BEHIND the
        # window: path-length census, dedup savings report, growth
        # accounting (staged + oracle-validated in
        # tests/test_round9u_staged.py) ---
        "graph_path_stats": _graph_path_stats,
        "ddp_dedup_savings": _ddp_dedup_savings,
        "evt_growth_accounting": _evt_growth_accounting,
        # --- round-8 twenty-third wave, registered BEHIND the
        # window: hybrid RRF retrieval, DOW-conditioned anomalies,
        # hash collision audit (staged + oracle-validated in
        # tests/test_round9v_staged.py) ---
        "sim_rrf_fusion": _sim_rrf_fusion,
        "evt_dow_anomaly": _evt_dow_anomaly,
        "txt_hash_collision_audit": _txt_hash_collision_audit,
        # --- round-8 twenty-fourth wave, registered BEHIND the
        # window: streaming growth states (staged + oracle-validated
        # in tests/test_round9w_staged.py) ---
        "stream_growth_states": _stream_growth_states,
        # --- round-8 twenty-fifth wave, registered BEHIND the
        # window: quantile treatment effects, quality-vs-duplication
        # cross-audit (staged + oracle-validated in
        # tests/test_round9x_staged.py) ---
        "evt_qte": _evt_qte,
        "composite_quality_vs_dup": _composite_quality_vs_dup,
        # --- round-8 twenty-sixth wave, registered BEHIND the
        # window: embedding quality gate, rare-category collapse
        # (staged + oracle-validated in tests/test_round9y_staged.py)
        "sim_vector_quality_audit": _sim_vector_quality_audit,
        "fe_rare_category_collapse": _fe_rare_category_collapse,
    }
    # --- round-10 verification window (the first 50 of the returned
    # dict), per the round-9 verdict item 1 / ROUND10_QUEUE.md: the
    # round-9 driver run was 50/50 green (zero flags), so the window
    # is (a) the 11 remaining never-driver-verified entries — waves
    # 22-26, oldest wave first — which closes CUMULATIVE driver
    # coverage at 445/445, then (b) the displaced r01-block §2 parity
    # pads, oldest-first (no driver row since r01, four rounds of
    # displacement), filling the remaining 39 slots.  The registry
    # stays FROZEN at 445 through round 10 (verdict item 2); the
    # staged round-9/10 operators register in round 11 per the
    # mechanical recipe in ROUND10_QUEUE.md / ROUND11_QUEUE.md.
    # Every window entry is dual-scale oracle-green locally
    # (CORRECTNESS_LOCAL_r09.json). ---
    _r10_window = [
        # (a) waves 22-26 — the last never-driver-verified entries
        # wave 22 (tests/test_round9u_staged.py)
        "graph_path_stats",
        "ddp_dedup_savings",
        "evt_growth_accounting",
        # wave 23 (tests/test_round9v_staged.py)
        "sim_rrf_fusion",
        "evt_dow_anomaly",
        "txt_hash_collision_audit",
        # wave 24 (tests/test_round9w_staged.py)
        "stream_growth_states",
        # wave 25 (tests/test_round9x_staged.py; evt_qte carries the
        # round-9 advice fix — integer-rational rank selection — and
        # the round-10 bounded-rational hardening)
        "evt_qte",
        "composite_quality_vs_dup",
        # wave 26 (tests/test_round9y_staged.py)
        "sim_vector_quality_audit",
        "fe_rare_category_collapse",
        # (b) r01-block §2 parity pads, oldest-first rotation
        "composite_shipping_priority",
        "src_scan",
        "prj_projection",
        "prj_rename_cast",
        "str_prefix_concat",
        "str_regexp_extract",
        "str_strip_cast",
        "str_json_field",
        "str_attr_map",
        "dt_date_parts",
        "arr_vector_stats",
        "agg_percentiles",
        "agg_pivot",
        "str_concat_ws",
        "str_split_get",
        "exp_explode",
        "nul_fill",
        "nul_drop",
        "flt_eq",
        "flt_isin",
        "flt_neg_notnull",
        "join_left_broadcast",
        "join_semi",
        "join_anti",
        "rng_range_join",
        "join_asof",
        "set_union_distinct",
        "set_intersect",
        "set_except",
        "srt_global_topk",
        "agg_rollup",
        "agg_cube",
        "agg_grouping_sets",
        "agg_distinct_counts",
        "win_lag_lead",
        "win_running_sum",
        "win_moving_avg",
        "ddp_dedup_all",
        "ddp_dedup_keys",
    ]
    out = {k: reg[k] for k in _r10_window}
    out.update((k, v) for k, v in reg.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    base = _round5_oracles()
    base.update({
        "flagship_token_pipeline": _FLAGSHIP_SQL,
        "composite_shipping_priority": (
            "SELECT l_orderkey,"
            " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,"
            " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            " FROM customer JOIN orders ON c_custkey = o_custkey"
            " JOIN lineitem ON l_orderkey = o_orderkey"
            " WHERE c_mktsegment = 'BUILDING'"
            " AND o_orderdate < TIMESTAMP '1998-01-01'"
            " GROUP BY l_orderkey, o_orderdate"
            " ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
        ),
        "src_scan": "SELECT r_regionkey, r_name FROM region",
        "prj_projection": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
        ),
        "prj_rename_cast": (
            "SELECT o_orderkey AS order_id, CAST(o_custkey AS VARCHAR) AS custkey_str,"
            " o_orderpriority AS priority FROM orders"
        ),
        "str_prefix_concat": (
            "SELECT n_nationkey, 'n_' || n_name AS prefixed FROM nation"
        ),
        "str_regexp_extract": (
            "SELECT event_id,"
            " CAST(nullif(regexp_extract(props, '\"k\": (\\d+)', 1), '') AS BIGINT) AS k_val,"
            " nullif(regexp_extract(props, '\"missing\": (\\d+)', 1), '') AS missing_val"
            " FROM events"
        ),
        "str_strip_cast": (
            "SELECT c_custkey,"
            " CAST(regexp_replace(c_name, '^Customer#', '') AS BIGINT) AS custkey_from_name"
            " FROM customer"
        ),
        "str_json_field": (
            "SELECT event_id,"
            " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,"
            " json_extract_string(props, '$.missing') AS missing_val,"
            " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct"
            " FROM events"
        ),
        "str_attr_map": (
            "SELECT p_partkey, p_type AS type_val,"
            " CAST(p_size AS BIGINT) AS size_val,"
            " CAST(NULL AS VARCHAR) AS missing_val FROM part"
        ),
        "dt_date_parts": (
            "SELECT o_orderkey,"
            " CAST(year(o_orderdate) AS INT) AS year,"
            " CAST(month(o_orderdate) AS INT) AS month,"
            " CAST(day(o_orderdate) AS INT) AS day,"
            " CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,"
            " CAST(weekofyear(o_orderdate) AS INT) AS week,"
            " CAST(quarter(o_orderdate) AS INT) AS quarter,"
            " CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)"
            "   AS INT) AS days_since_95"
            " FROM orders"
        ),
        "arr_vector_stats": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
            " FROM embeddings)"
            # "+ 0" drops IEEE -0.0 (DuckDB round keeps the sign of a
            # just-negative value; Spark emits +0.0; hashes compare
            # strings)
            " SELECT vec_id, CAST(len(v) AS INT) AS n_dims,"
            " round(list_sum(v), 4) + 0 AS vec_sum,"
            " round(list_sum(v) / len(v), 4) + 0 AS vec_mean,"
            " round(list_min(v), 4) + 0 AS vec_min,"
            " round(list_max(v), 4) + 0 AS vec_max,"
            " CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_positive"
            " FROM e"
        ),
        "agg_percentiles": (
            "SELECT l_returnflag,"
            " round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,"
            " round(quantile_cont(l_extendedprice, 0.95), 2) AS p95"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        # sketch queries, gradeable form: the oracle hashes the exact
        # twins; the tolerance booleans must come out TRUE on the
        # Spark side (sketch within tolerance of exact) to match.
        "agg_approx": (
            "SELECT l_returnflag,"
            " COUNT(DISTINCT l_orderkey) AS n_distinct_exact,"
            " round(quantile_cont(l_orderkey, 0.5), 4) AS p50_exact,"
            " round(quantile_cont(l_orderkey, 0.9), 4) AS p90_exact,"
            " TRUE AS distinct_ok, TRUE AS p50_ok, TRUE AS p90_ok"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "agg_hll_rollup": (
            "SELECT source,"
            " COUNT(DISTINCT md5(text)) AS n_distinct_exact,"
            " TRUE AS est_ok"
            " FROM documents GROUP BY source"
            " UNION ALL"
            " SELECT '__ALL__' AS source,"
            " COUNT(DISTINCT md5(text)) AS n_distinct_exact,"
            " TRUE AS est_ok"
            " FROM documents"
        ),
        "agg_pivot": (
            "SELECT user_id,"
            " count(*) FILTER (event_type = 'click') AS click,"
            " count(*) FILTER (event_type = 'error') AS error,"
            " count(*) FILTER (event_type = 'purchase') AS purchase,"
            " count(*) FILTER (event_type = 'signup') AS signup,"
            " count(*) FILTER (event_type = 'view') AS view"
            " FROM events GROUP BY user_id"
        ),
        "str_concat_ws": (
            "SELECT p_partkey, p_brand || ',' || p_type AS brand_type FROM part"
        ),
        "str_split_get": (
            "SELECT p_partkey,"
            " list_extract(string_split(p_name, ' '), 1) AS adjective,"
            " list_extract(string_split(p_name, ' '), 2) AS noun,"
            " list_extract(string_split(p_name, ' '), 6) AS sixth_token"
            " FROM part"
        ),
        "exp_explode": (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part"
        ),
        "nul_fill": (
            "SELECT o_orderkey,"
            " coalesce(nullif(o_orderpriority, '5-LOW'), 'none') AS priority"
            " FROM orders"
        ),
        "nul_drop": (
            "SELECT o_orderkey, o_orderpriority AS priority FROM orders"
            " WHERE nullif(o_orderpriority, '5-LOW') IS NOT NULL"
        ),
        "flt_eq": (
            "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'O'"
        ),
        "flt_isin": (
            "SELECT o_orderkey, o_orderpriority FROM orders"
            " WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')"
        ),
        "flt_neg_notnull": (
            "SELECT o_orderkey, o_orderstatus,"
            " nullif(o_orderpriority, '5-LOW') AS priority FROM orders"
            " WHERE o_orderstatus NOT IN ('F')"
            " AND nullif(o_orderpriority, '5-LOW') IS NOT NULL"
        ),
        "join_left_broadcast": (
            "SELECT o_orderkey, c_name, c_mktsegment FROM orders"
            " LEFT JOIN customer ON o_custkey = c_custkey"
        ),
        "join_semi": (
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN ("
            " SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
        ),
        "join_anti": (
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN ("
            " SELECT o_custkey FROM orders)"
        ),
        "rng_range_join": (
            "SELECT c_custkey, s_suppkey FROM customer JOIN supplier"
            " ON CAST(c_acctbal AS DOUBLE) >= CAST(s_acctbal AS DOUBLE)"
            " AND CAST(c_acctbal AS DOUBLE) <= CAST(s_acctbal AS DOUBLE) + 1000.0"
        ),
        "join_asof": (
            "WITH clicks AS ("
            "  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'"
            "), purchases AS ("
            "  SELECT user_id, ts, max(value) AS pval FROM events"
            "  WHERE event_type = 'purchase' GROUP BY user_id, ts"
            ") SELECT c.event_id, c.user_id,"
            " CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,"
            " round(CAST(p.pval AS DOUBLE), 4) AS asof_pval"
            " FROM clicks c ASOF LEFT JOIN purchases p"
            " ON c.user_id = p.user_id AND c.ts >= p.ts"
        ),
        "set_union_distinct": (
            "SELECT c_nationkey AS nationkey FROM customer"
            " UNION SELECT s_nationkey FROM supplier"
        ),
        "set_intersect": (
            "SELECT c_nationkey AS nationkey FROM customer"
            " INTERSECT SELECT s_nationkey FROM supplier"
        ),
        "set_except": (
            "SELECT c_nationkey AS nationkey FROM customer"
            " EXCEPT SELECT s_nationkey FROM supplier"
        ),
        "srt_global_topk": (
            "SELECT o_orderkey, o_totalprice FROM orders"
            " ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
        ),
        "agg_rollup": (
            "SELECT l_returnflag, l_linestatus,"
            " round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,"
            " CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)"
            "   AS grouping_level"
            " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
        ),
        "agg_cube": (
            "SELECT o_orderstatus, o_orderpriority,"
            " round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_rows,"
            " CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)"
            "   AS grouping_level"
            " FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
        ),
        "agg_grouping_sets": (
            "SELECT l_returnflag, l_linestatus,"
            " round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,"
            " CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)"
            "   AS grouping_level"
            " FROM lineitem"
            " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
        ),
        "agg_distinct_counts": (
            "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct"
            " FROM orders GROUP BY o_orderpriority"
        ),
        "win_lag_lead": (
            "SELECT o_custkey, o_orderkey,"
            " lag(o_totalprice) OVER w AS prev_value,"
            " lead(o_totalprice) OVER w AS next_value"
            " FROM orders WINDOW w AS ("
            "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"
        ),
        "win_running_sum": (
            "SELECT o_custkey, o_orderkey,"
            " round(sum(o_totalprice) OVER ("
            "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)"
            "  AS running_sum"
            " FROM orders"
        ),
        "win_moving_avg": (
            "SELECT o_custkey, o_orderkey,"
            " round(avg(CAST(round(o_totalprice * 100) AS BIGINT)) OVER ("
            "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
            "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4)"
            "  AS moving_avg"
            " FROM orders"
        ),
        "ddp_dedup_all": (
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
        ),
        "ddp_dedup_keys": "SELECT DISTINCT o_custkey FROM orders",
        "ddp_first_by_key": (
            "SELECT o_custkey, o_orderkey,"
            " CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
            "  ) AS rn FROM orders"
            ") WHERE rn = 1"
        ),
        "ddp_dedup_composite": "SELECT DISTINCT user_id, event_type FROM events",
        "agg_pricing_summary": (
            "SELECT l_returnflag, l_linestatus,"
            " round(sum(l_quantity), 2) AS sum_qty,"
            " round(sum(l_extendedprice), 2) AS sum_base,"
            " round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,"
            " round(avg(l_quantity), 4) AS avg_qty,"
            " count(*) AS n_rows"
            " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'"
            " GROUP BY l_returnflag, l_linestatus"
        ),
        "win_topk_per_group": (
            "SELECT o_custkey, o_orderkey, rank FROM ("
            "  SELECT o_custkey, o_orderkey, row_number() OVER ("
            "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC"
            "  ) AS rank FROM orders"
            ") WHERE rank <= 3"
        ),
        "evt_tumbling_window": (
            "SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,"
            " count(*) AS n_events, round(sum(value), 4) AS sum_value"
            " FROM events GROUP BY 1"
        ),
        "evt_sliding_window": (
            "WITH ev AS (SELECT value,"
            "  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS t30 FROM events),"
            " w AS (SELECT value, unnest([t30, t30 - 1800]) AS window_epoch FROM ev)"
            " SELECT window_epoch, count(*) AS n_events,"
            " round(sum(value), 4) AS sum_value FROM w GROUP BY window_epoch"
        ),
        "evt_gapfill": (
            "WITH counts AS ("
            "  SELECT date_trunc('hour', ts) AS w, count(*) AS n_events,"
            "  round(sum(value), 4) AS sum_value FROM events GROUP BY 1"
            "), grid AS ("
            "  SELECT unnest(generate_series("
            "    (SELECT date_trunc('hour', min(ts)) FROM events),"
            "    (SELECT date_trunc('hour', max(ts)) FROM events),"
            "    INTERVAL 1 HOUR)) AS w"
            ") SELECT CAST(floor(epoch(g.w)) AS BIGINT) AS window_epoch,"
            " coalesce(c.n_events, 0) AS n_events,"
            " coalesce(c.sum_value, 0.0) AS sum_value"
            " FROM grid g LEFT JOIN counts c ON g.w = c.w"
        ),
        "join_salted_skew": (
            "SELECT o_orderkey, c_name FROM orders"
            " JOIN customer ON o_custkey = c_custkey"
        ),
        "stream_user_totals": (
            "SELECT user_id, count(*) AS n_events,"
            " round(sum(value), 4) AS sum_value FROM events GROUP BY user_id"
        ),
        "evt_sessionize": (
            "WITH lagged AS ("
            "  SELECT user_id, ts,"
            "   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER ("
            "     PARTITION BY user_id ORDER BY ts, event_id"
            "   ) > 1800 THEN 1 ELSE 0 END AS boundary"
            "  FROM events"
            "), sess AS ("
            "  SELECT user_id, ts,"
            "   CAST(sum(boundary) OVER ("
            "     PARTITION BY user_id ORDER BY ts"
            "   ) AS BIGINT) AS session_id"
            "  FROM lagged"
            ") SELECT user_id, session_id, count(*) AS n_events,"
            " CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,"
            " CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch"
            " FROM sess GROUP BY user_id, session_id"
        ),
        "txt_token_count": (
            f"SELECT doc_id, len({_TOKS_SQL}) AS n_tokens,"
            " len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
            "     t -> t <> '')) AS n_words,"
            f" len(list_distinct({_TOKS_SQL})) AS n_distinct_tokens"
            " FROM documents"
        ),
        "txt_quality_score": (
            f"WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents)"
            " SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,"
            " len(t) AS n_tokens,"
            " round(list_sum(list_transform(t, s -> CAST(length(s) AS DOUBLE)))"
            "       / greatest(len(t), 1), 4) AS mean_token_len,"
            " round(CAST(len(list_filter(t, s -> list_contains("
            f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
            "       / greatest(len(t), 1), 4) AS stopword_ratio,"
            " round(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"
            "   AS DOUBLE) / greatest(length(text), 1), 4) AS alnum_ratio"
            " FROM toks"
        ),
        "txt_lang_id": (
            f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),"
            " s AS (SELECT doc_id,"
            + ",".join(
                f" len(list_filter(t, x -> list_contains("
                f"{list(T.LANG_MARKERS[lang])}, x))) AS score_{lang}"
                for lang in T.LANG_MARKERS
            )
            + " FROM toks)"
            " SELECT doc_id, CASE"
            " WHEN score_en >= score_fr AND score_en >= score_es"
            "  AND score_en >= score_de AND score_en >= score_zh THEN 'en'"
            " WHEN score_fr >= score_es AND score_fr >= score_de"
            "  AND score_fr >= score_zh THEN 'fr'"
            " WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'"
            " WHEN score_de >= score_zh THEN 'de'"
            " ELSE 'zh' END AS lang_pred,"
            " score_en, score_fr, score_es, score_de, score_zh FROM s"
        ),
        "txt_fingerprint": (
            f"WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),"
            f" sh AS (SELECT doc_id, text, {_SHINGLES_SQL} AS shingles FROM toks)"
            " SELECT doc_id,"
            " md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,"
            " list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_hash"
            " FROM sh"
        ),
        "ddp_exact_hash": (
            f"WITH alldocs AS ({_DUPDOCS_SQL})"
            " SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,"
            " min(doc_id) AS keeper_id, count(*) AS n_copies"
            " FROM alldocs GROUP BY 1"
        ),
        "ddp_minhash_neardup": _minhash_oracle(),
        "ddp_dup_clusters": (
            # Connected components as a recursive transitive closure
            # over the minhash near-dup pairs (+ self-loops), then
            # min reachable id per node; unpaired docs keep their id.
            f"WITH RECURSIVE np AS ({_minhash_oracle()}),"
            " edges AS ("
            "  SELECT id_a AS src, id_b AS dst FROM np"
            "  UNION SELECT id_b, id_a FROM np"
            "  UNION SELECT id_a, id_a FROM np"
            "  UNION SELECT id_b, id_b FROM np"
            " ),"
            " reach(src, dst) AS ("
            "  SELECT src, dst FROM edges"
            "  UNION"
            "  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
            " ),"
            f" alldocs AS ({_DUPDOCS_SQL})"
            " SELECT d.doc_id,"
            " coalesce(min(r.dst), d.doc_id) AS keeper_id"
            " FROM alldocs d LEFT JOIN reach r ON r.src = d.doc_id"
            " GROUP BY d.doc_id"
        ),
        "ddp_canonical_docs": (
            # same transitive closure as ddp_dup_clusters, but the
            # keeper is arg_min over id - length*1e7 (argmax length,
            # min id on ties) across each node's reachable set
            f"WITH RECURSIVE np AS ({_minhash_oracle()}),"
            " edges AS ("
            "  SELECT id_a AS src, id_b AS dst FROM np"
            "  UNION SELECT id_b, id_a FROM np"
            "  UNION SELECT id_a, id_a FROM np"
            "  UNION SELECT id_b, id_b FROM np"
            " ),"
            " reach(src, dst) AS ("
            "  SELECT src, dst FROM edges"
            "  UNION"
            "  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
            " ),"
            f" alldocs AS ({_DUPDOCS_SQL})"
            " SELECT d.doc_id,"
            " coalesce(arg_min(t.doc_id,"
            "   t.doc_id - CAST(length(t.text) AS BIGINT) * 10000000),"
            "  d.doc_id) AS keeper_id"
            " FROM alldocs d"
            " LEFT JOIN reach r ON r.src = d.doc_id"
            " LEFT JOIN alldocs t ON t.doc_id = r.dst"
            " GROUP BY d.doc_id"
        ),
        "tbl_unpivot": (
            "SELECT p_partkey, 'p_brand' AS attribute, p_brand AS attr_value FROM part"
            " UNION ALL"
            " SELECT p_partkey, 'p_type', p_type FROM part"
            " UNION ALL"
            " SELECT p_partkey, 'p_name', p_name FROM part"
        ),
        "tbl_merge_upsert": (
            "WITH updates AS ("
            "  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment"
            "  FROM customer WHERE c_custkey % 7 = 0"
            "  UNION ALL"
            "  SELECT 9000001, 'Customer#new', 'NEW'"
            ") SELECT * FROM updates"
            " UNION ALL"
            " SELECT c_custkey, c_name, c_mktsegment FROM customer"
            " WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)"
        ),
        "tbl_profile": (
            "WITH src AS (SELECT o_custkey, o_orderstatus,"
            "  nullif(o_orderpriority, '5-LOW') AS priority_nullable FROM orders)"
            " SELECT 'o_custkey' AS col_name, count(*) AS n_rows,"
            "  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
            "  count(DISTINCT o_custkey) AS n_distinct,"
            "  CAST(min(o_custkey) AS VARCHAR) AS min_value,"
            "  CAST(max(o_custkey) AS VARCHAR) AS max_value FROM src"
            " UNION ALL"
            " SELECT 'o_orderstatus', count(*),"
            "  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
            "  count(DISTINCT o_orderstatus),"
            "  CAST(min(o_orderstatus) AS VARCHAR),"
            "  CAST(max(o_orderstatus) AS VARCHAR) FROM src"
            " UNION ALL"
            " SELECT 'priority_nullable', count(*),"
            "  CAST(sum(CASE WHEN priority_nullable IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
            "  count(DISTINCT priority_nullable),"
            "  CAST(min(priority_nullable) AS VARCHAR),"
            "  CAST(max(priority_nullable) AS VARCHAR) FROM src"
        ),
        "tbl_key_distribution": (
            "SELECT l_partkey, count(*) AS n_rows,"
            " round(CAST(count(*) AS DOUBLE)"
            "   / (SELECT count(*) FROM lineitem), 4) AS share"
            " FROM lineitem GROUP BY l_partkey"
            " ORDER BY n_rows DESC, l_partkey ASC LIMIT 10"
        ),
        "agg_gini": (
            "WITH r AS (SELECT l_returnflag, l_quantity AS v,"
            "  row_number() OVER (PARTITION BY l_returnflag"
            "    ORDER BY l_quantity) AS rn FROM lineitem)"
            " SELECT l_returnflag,"
            " round(2.0 * sum(rn * v) / (count(*) * sum(v))"
            "   - (count(*) + 1.0) / count(*), 4) AS gini"
            " FROM r GROUP BY l_returnflag"
        ),
        "ddp_simhash": _simhash_oracle(),
        "ddp_simhash_neardup": _simhash_neardup_oracle(),
        "ddp_embedding_neardup": _embedding_neardup_oracle(),
        "ddp_ngram_jaccard": _ngram_jaccard_oracle(),
        "sim_cosine_topk": _cosine_topk_oracle(),
        "sim_ivf_topk": _ivf_topk_oracle(),
        "sim_pq_topk": _pq_topk_oracle(),
        "sim_kmeans_iter": _kmeans_iter_oracle(),
        "sim_range_search": _range_search_oracle(),
        "sim_ndcg": (
            # exact + IVF replicas as CTEs; rel = 6 - exact rank,
            # standard 2^rel - 1 gain with log2(rank+1) discount,
            # IDCG re-ranks truth grades desc (item-id tiebreak)
            f"WITH bf AS ({_cosine_topk_oracle()}),"
            f" ivf AS ({_ivf_topk_oracle()}),"
            " t AS (SELECT query_id, neighbor_id,"
            "  CAST(6 - rank AS DOUBLE) AS rel FROM bf),"
            " g AS (SELECT i.query_id,"
            "  (pow(2.0, COALESCE(t.rel, 0)) - 1) / log2(i.rank + 1)"
            "   AS gain"
            "  FROM ivf i LEFT JOIN t ON t.query_id = i.query_id"
            "  AND t.neighbor_id = i.neighbor_id WHERE i.rank <= 5),"
            " dcg AS (SELECT query_id, sum(gain) AS dcg FROM g"
            "  GROUP BY 1),"
            " ideal AS (SELECT query_id,"
            "  sum((pow(2.0, rel) - 1) / log2(irk + 1)) AS idcg FROM ("
            "   SELECT query_id, rel, row_number() OVER ("
            "    PARTITION BY query_id ORDER BY rel DESC,"
            "    neighbor_id ASC) AS irk FROM t)"
            "  WHERE irk <= 5 GROUP BY 1)"
            " SELECT d.query_id, round(d.dcg, 6) AS dcg,"
            " round(i.idcg, 6) AS idcg,"
            " round(d.dcg / i.idcg, 6) AS ndcg_at_5"
            " FROM dcg d LEFT JOIN ideal i USING (query_id)"
        ),
        "ddp_soft_dedup": (
            # group sizes are 1 or 2 by construction, so 1/n sums are
            # dyadic and parity-exact
            "WITH d AS (SELECT doc_id, source, text FROM documents"
            " UNION ALL SELECT doc_id + 1000000, source, text"
            "  FROM documents WHERE doc_id % 10 = 0),"
            " h AS (SELECT source, md5(text) AS h FROM d),"
            " c AS (SELECT h, count(*) AS n FROM h GROUP BY h)"
            " SELECT source, count(*) AS n_docs,"
            " count(DISTINCT h.h) AS n_distinct,"
            " round(sum(1.0 / c.n), 4) AS effective_docs"
            " FROM h JOIN c USING (h) GROUP BY source"
        ),
        "src_corrupt_records": (
            # the oracle computes the intended clean/corrupt split
            # from the source table; Spark's CSV corrupt routing must
            # land on exactly the same partition of the rows
            "SELECT concat('decile_', CAST(o_custkey % 10 AS VARCHAR))"
            "  AS bucket, count(*) AS n_rows,"
            " round(sum(round(o_totalprice, 2)), 2) AS sum_price"
            " FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY 1"
            " UNION ALL"
            " SELECT '__CORRUPT__' AS bucket, count(*) AS n_rows,"
            " 0.0 AS sum_price FROM orders WHERE o_orderkey % 97 = 0"
        ),
        "stream_late_data": (
            # stragglers (batch 3) are dropped against the watermark
            # established by the on-time bulk; append mode emits only
            # windows finalized by the final watermark tmax - 61min
            "WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT)"
            "  AS e, value FROM events),"
            " mx AS (SELECT max(e) AS tmax FROM e),"
            " kept AS (SELECT e.e, e.value FROM e, mx WHERE NOT ("
            "  e.e <= tmax - 21600 AND event_id % 50 = 0))"
            " SELECT CAST(floor(k.e / 3600) AS BIGINT) * 3600"
            "  AS window_epoch, count(*) AS n_events,"
            " round(sum(k.value), 4) AS sum_value"
            " FROM kept k, mx"
            " WHERE CAST(floor(k.e / 3600) AS BIGINT) * 3600 + 3600"
            "  <= mx.tmax - 3660"
            "   - CASE WHEN mx.tmax % 3600 = 60 THEN 30 ELSE 0 END"
            " GROUP BY 1"
        ),
        "graph_wcc": (
            # components via transitive closure (recursive CTE) over
            # the identical rank-thresholded symmetric edge set;
            # component = min reachable id (self included)
            "WITH RECURSIVE trade AS ("
            " SELECT CAST(c_nationkey AS INT) AS src,"
            "  CAST(s_nationkey AS INT) AS dst, count(*) AS weight"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " WHERE c_nationkey <> s_nationkey"
            " GROUP BY src, dst),"
            " topk AS (SELECT src, dst FROM ("
            "  SELECT src, dst, row_number() OVER ("
            "   ORDER BY weight DESC, src, dst) AS rn FROM trade)"
            "  WHERE rn <= 100),"
            " sym AS (SELECT src, dst FROM topk"
            "  UNION SELECT dst, src FROM topk),"
            " reach(node, r) AS ("
            "  SELECT src, dst FROM sym"
            "  UNION"
            "  SELECT reach.node, sym.dst FROM reach"
            "   JOIN sym ON reach.r = sym.src)"
            " SELECT node, CAST(least(node, min(r)) AS INT) AS component"
            " FROM reach GROUP BY node"
        ),
        "sim_recall_eval": (
            # exact and IVF top-5 as nested CTEs (each oracle is a
            # full deterministic SELECT), then per-query hit counting
            f"WITH bf AS ({_cosine_topk_oracle()}),"
            f" ivf AS ({_ivf_topk_oracle()})"
            " SELECT b.query_id, CAST(count(i.neighbor_id) AS INT)"
            "  AS n_hits,"
            " round(count(i.neighbor_id) / 5.0, 4) AS recall_at_5"
            " FROM bf b LEFT JOIN ivf i"
            "  ON b.query_id = i.query_id"
            "  AND b.neighbor_id = i.neighbor_id"
            " GROUP BY b.query_id"
        ),
        "smp_cap_per_group": (
            # cap_per_group replica: the rank hash is base_hash
            # (first 8 hex chars of md5 as a long).
            "SELECT doc_id, source FROM ("
            " SELECT doc_id, source, row_number() OVER ("
            "  PARTITION BY source"
            "  ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
            "   AS BIGINT), doc_id) AS rk"
            " FROM documents) WHERE rk <= 10"
        ),
        "txt_ngram_stats": (
            f"WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),"
            " e AS (SELECT unnest(list_transform("
            "  generate_series(1, greatest(len(t) - 1, 0)),"
            "  i -> t[i] || ' ' || t[i + 1])) AS ngram FROM tk)"
            " SELECT ngram, count(*) AS n_occurrences FROM e"
            " GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 100"
        ),
        "evt_anomaly": (
            # "+ 0" normalizes IEEE negative zero: DuckDB round()
            # keeps -0.0 (a just-below-mean value), Spark's decimal
            # round emits +0.0, and the hash compares STRINGS.
            "WITH z AS (SELECT event_id, user_id, value,"
            " round((value - avg(value) OVER (PARTITION BY user_id))"
            "  / stddev_samp(value) OVER (PARTITION BY user_id), 4) + 0"
            "  AS zscore"
            " FROM events)"
            " SELECT event_id, user_id, value, zscore,"
            " coalesce(abs(zscore) > 3.0, false) AS is_anomaly FROM z"
        ),
        "stream_running_zscore": (
            # prefix-window twin of the stateful operator: stats over
            # ROWS UNBOUNDED PRECEDING..CURRENT per (user, event-time)
            "WITH w AS (SELECT event_id, user_id, value,"
            "  avg(value) OVER win AS m,"
            "  stddev_samp(value) OVER win AS sd"
            " FROM events"
            " WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id"
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            " SELECT event_id, user_id, value,"
            " round((value - m) / nullif(sd, 0.0), 4) + 0 AS zscore FROM w"
        ),
        "agg_mode": (
            "SELECT o_orderstatus, o_orderpriority AS mode_value,"
            " c AS mode_count"
            " FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS c,"
            "  row_number() OVER (PARTITION BY o_orderstatus"
            "   ORDER BY count(*) DESC, o_orderpriority) AS rk"
            "  FROM orders GROUP BY 1, 2) WHERE rk = 1"
        ),
        "txt_normalize": (
            "WITH n AS (SELECT doc_id,"
            "  trim(regexp_replace(regexp_replace(lower(text),"
            "   '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,"
            "  length(text) AS raw_len"
            " FROM documents)"
            " SELECT doc_id, norm_text,"
            " CAST(length(norm_text) AS INT) AS n_chars_norm,"
            " CAST(raw_len - length(norm_text) AS INT) AS chars_removed"
            " FROM n"
        ),
        "agg_entropy": (
            # algebraic one-pass form: H = log2(N) - sum(n*log2 n)/N
            "WITH c AS (SELECT user_id, event_type, count(*) AS n"
            " FROM events GROUP BY 1, 2)"
            " SELECT user_id, CAST(sum(n) AS BIGINT) AS n_rows,"
            " count(*) AS n_distinct_values,"
            " round(log2(CAST(sum(n) AS DOUBLE))"
            "  - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 4)"
            "  AS entropy_bits"
            " FROM c GROUP BY user_id"
        ),
        "smp_domain_mix": (
            "WITH s AS (SELECT CAST(ceil(count(*) /"
            "   count(DISTINCT event_type)) AS BIGINT) AS cap FROM events),"
            " r AS (SELECT event_id, event_type,"
            "  row_number() OVER (PARTITION BY event_type ORDER BY"
            "   CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),"
            "    1, 8)) AS BIGINT), event_id) AS rn"
            "  FROM events)"
            " SELECT event_id, event_type FROM r, s WHERE rn <= cap"
        ),
        "smp_token_budget": (
            f"WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t"
            "  FROM documents),"
            " q AS (SELECT doc_id, source, len(t) AS n_tokens,"
            "  round(CAST(len(list_filter(t, s -> list_contains("
            f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
            "   / greatest(len(t), 1), 4) AS stopword_ratio FROM toks),"
            " w AS (SELECT doc_id, source, n_tokens, stopword_ratio,"
            "  CAST(sum(n_tokens) OVER (PARTITION BY source"
            "   ORDER BY stopword_ratio DESC, doc_id"
            "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens"
            "  FROM q)"
            " SELECT * FROM w WHERE cum_tokens <= 800"
        ),
        "tbl_zorder_key": (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
            + TO.zorder_key_sql("l_partkey", "l_suppkey")
            + " AS zkey FROM lineitem"
        ),
        "flt_like_pushdown": (
            "SELECT p_partkey, p_name, p_type FROM part"
            " WHERE p_name LIKE '%green%' OR p_type LIKE 'SMALL%'"
        ),
        "exp_map_explode": (
            "SELECT o_orderkey, 'status' AS attr_key,"
            " o_orderstatus AS attr_value FROM orders"
            " UNION ALL"
            " SELECT o_orderkey, 'priority', o_orderpriority FROM orders"
        ),
        "txt_hashed_features": (
            f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)"
            " SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,"
            " array_to_string(list_transform(generate_series(0, 7), i ->"
            "  CAST(len(list_filter(t, s ->"
            "   CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 8"
            "    = i)) AS VARCHAR)), ',') AS feature_csv"
            " FROM toks"
        ),
        "agg_weighted_avg": (
            "SELECT l_returnflag,"
            " round(sum(l_quantity * l_extendedprice) / sum(l_quantity), 4)"
            "  AS weighted_avg_price,"
            " round(avg(l_extendedprice), 4) AS plain_avg_price,"
            " round(sum(l_quantity), 2) AS total_qty"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "set_symmetric_diff": (
            "WITH c AS (SELECT c_nationkey AS nationkey FROM customer"
            "  WHERE c_custkey % 97 = 0),"
            " s AS (SELECT s_nationkey AS nationkey FROM supplier"
            "  WHERE s_suppkey % 11 = 0)"
            " SELECT nationkey, 'customer_only' AS side FROM ("
            "  SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)"
            " UNION ALL"
            " SELECT nationkey, 'supplier_only' FROM ("
            "  SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)"
        ),
        "join_fuzzy_name": (
            "WITH probes AS (SELECT c_custkey AS probe_id,"
            "  c_name || 'X' AS probe_name FROM customer"
            "  WHERE c_custkey % 300 = 0)"
            " SELECT p.probe_id, p.probe_name, c.c_custkey, c.c_name,"
            " CAST(levenshtein(c.c_name, p.probe_name) AS INT)"
            "  AS edit_distance"
            " FROM customer c JOIN probes p"
            " ON levenshtein(c.c_name, p.probe_name) <= 2"
        ),
        "win_pct_change": (
            "WITH m AS (SELECT o_orderpriority,"
            "  date_trunc('month', o_orderdate) AS month,"
            "  round(sum(o_totalprice), 2) AS revenue"
            " FROM orders GROUP BY 1, 2)"
            " SELECT o_orderpriority,"
            " CAST(CAST(month AS DATE) AS VARCHAR) AS month, revenue,"
            " round((revenue - lag(revenue) OVER w)"
            "  / lag(revenue) OVER w * 100, 4) + 0 AS pct_change"
            " FROM m WINDOW w AS (PARTITION BY o_orderpriority"
            "  ORDER BY month)"
        ),
        "txt_source_quality": (
            f"WITH toks AS (SELECT doc_id, source, lang, text, {_TOKS_SQL}"
            "  AS t FROM documents),"
            " q AS (SELECT source, lang, len(t) AS n_tokens,"
            "  round(CAST(len(list_filter(t, s -> list_contains("
            f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
            "   / greatest(len(t), 1), 4) AS stopword_ratio,"
            "  round(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]',"
            "   '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4)"
            "   AS alnum_ratio FROM toks)"
            " SELECT source, lang, count(*) AS n_docs,"
            " round(avg(n_tokens), 4) AS avg_tokens,"
            " round(avg(stopword_ratio), 4) AS avg_stopword_ratio,"
            " round(avg(alnum_ratio), 4) AS avg_alnum_ratio"
            " FROM q GROUP BY ROLLUP (source, lang)"
        ),
        "smp_mixture_weights": (
            f"WITH toks AS (SELECT source, len({_TOKS_SQL}) AS n_tokens"
            "  FROM documents),"
            " d AS (SELECT source, count(*) AS n_docs,"
            "  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM toks"
            "  GROUP BY source),"
            " t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,"
            "  count(*) AS nd FROM d)"
            " SELECT d.source, d.n_docs, d.n_tokens,"
            " round(d.n_tokens * 1.0 / t.total, 4) AS token_share,"
            " round(t.total * 1.0 / (t.nd * d.n_tokens), 4)"
            "  AS uniform_weight"
            " FROM d, t"
        ),
        "dt_date_spine": (
            # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek:
            # 0=Sunday..6 -> +1 aligns
            "WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,"
            "  max(CAST(ts AS DATE)) AS hi FROM events),"
            " d AS (SELECT unnest(generate_series(b.lo, b.hi,"
            "  INTERVAL 1 DAY)) AS day FROM b)"
            " SELECT CAST(day AS DATE) AS day,"
            " CAST(year(day) AS INT) AS year,"
            " CAST(month(day) AS INT) AS month,"
            " CAST(dayofweek(day) + 1 AS INT) AS day_of_week,"
            " dayofweek(day) + 1 IN (1, 7) AS is_weekend"
            " FROM d"
        ),
        "composite_training_mixture": (
            "WITH base AS (SELECT doc_id, text, source FROM documents"
            "  UNION ALL SELECT doc_id + 1000000, text, source"
            "  FROM documents WHERE doc_id % 10 = 0),"
            " norm AS (SELECT doc_id, source,"
            "  trim(regexp_replace(regexp_replace(lower(text),"
            "   '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g'))"
            "   AS norm_text FROM base),"
            " dd AS (SELECT doc_id, source, norm_text,"
            "  row_number() OVER (PARTITION BY md5(norm_text)"
            "   ORDER BY doc_id) AS rn FROM norm),"
            " kept AS (SELECT doc_id, source, norm_text FROM dd"
            "  WHERE rn = 1),"
            " toks AS (SELECT doc_id, source,"
            "  list_filter(regexp_split_to_array(lower(norm_text),"
            "   '\\s+'), t -> t <> '') AS t FROM kept),"
            " q AS (SELECT doc_id, source, len(t) AS n_tokens,"
            "  round(CAST(len(list_filter(t, s -> list_contains("
            f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
            "   / greatest(len(t), 1), 4) AS stopword_ratio FROM toks),"
            " w AS (SELECT doc_id, source, n_tokens, stopword_ratio,"
            "  CAST(sum(n_tokens) OVER (PARTITION BY source"
            "   ORDER BY stopword_ratio DESC, doc_id"
            "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens"
            "  FROM q)"
            " SELECT * FROM w WHERE cum_tokens <= 600"
        ),
        "txt_dup_ngram_frac": (
            f"WITH alldocs AS ({_DUPDOCS_SQL}),"
            f" toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),"
            " w AS (SELECT doc_id,"
            "  md5(array_to_string(list_slice(t, i, i + 3), ' ')) AS h"
            "  FROM toks, unnest(generate_series(1,"
            "   greatest(len(t) - 3, 0))) AS g(i)),"
            " f AS (SELECT h, count(*) AS n FROM w GROUP BY 1)"
            " SELECT w.doc_id, count(*) AS n_windows,"
            " CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_dup_windows,"
            " round(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) * 1.0"
            "  / count(*), 4) AS dup_ngram_frac"
            " FROM w JOIN f USING (h) GROUP BY w.doc_id"
        ),
        "smp_train_eval_split": (
            "WITH b AS (SELECT doc_id,"
            "  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),"
            "   1, 8)) AS BIGINT) % 100 AS bucket FROM documents),"
            " s AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'"
            "  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split"
            "  FROM b)"
            " SELECT split, count(*) AS n_docs,"
            " min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id"
            " FROM s GROUP BY split"
        ),
        "evt_streaks": (
            "WITH d AS (SELECT DISTINCT user_id,"
            "  CAST(ts AS DATE) AS day FROM events),"
            " i AS (SELECT user_id, day,"
            "  datediff('day', DATE '1970-01-01', day)"
            "   - row_number() OVER (PARTITION BY user_id ORDER BY day)"
            "   AS island FROM d),"
            " s AS (SELECT user_id, island, count(*) AS len"
            "  FROM i GROUP BY 1, 2)"
            " SELECT user_id, max(len) AS longest_streak_days,"
            " CAST(sum(len) AS BIGINT) AS n_active_days,"
            " count(*) AS n_streaks FROM s GROUP BY user_id"
        ),
        "agg_histogram_eqdepth": (
            "WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)"
            "  AS cents FROM orders),"
            " cuts AS (SELECT ["
            + ", ".join(
                f"quantile_cont(cents, {i / 10})" for i in range(1, 10)
            )
            + "] AS cut FROM c)"
            " SELECT CAST(1 + list_sum(list_transform(cuts.cut,"
            "   x -> CASE WHEN c.cents > x THEN 1 ELSE 0 END)) AS INT)"
            "  AS bucket,"
            " count(*) AS n_rows, min(c.cents) AS lo_cents,"
            " max(c.cents) AS hi_cents"
            " FROM c, cuts GROUP BY 1"
        ),
        "evt_user_journey": (
            "WITH r AS (SELECT user_id, event_type,"
            "  row_number() OVER (PARTITION BY user_id"
            "   ORDER BY ts, event_id) AS rn FROM events),"
            " p AS (SELECT user_id,"
            "  string_agg(event_type, ' > ' ORDER BY rn) AS path"
            "  FROM r WHERE rn <= 3 GROUP BY user_id)"
            " SELECT path, count(*) AS n_users FROM p GROUP BY path"
            " ORDER BY n_users DESC, path LIMIT 20"
        ),
        "rng_interval_overlap": (
            "WITH li AS (SELECT l_orderkey, l_linenumber,"
            "  datediff('day', DATE '1970-01-01', l_shipdate) AS ship_day,"
            "  datediff('day', DATE '1970-01-01', l_shipdate)"
            "   + (l_orderkey % 40) AS receipt_day"
            " FROM lineitem),"
            " m AS (SELECT DISTINCT date_trunc('month', l_shipdate) AS mlo"
            "  FROM lineitem),"
            " mm AS (SELECT"
            "  datediff('day', DATE '1970-01-01', mlo) AS month_day,"
            "  datediff('day', DATE '1970-01-01', last_day(mlo))"
            "   AS month_end_day FROM m)"
            " SELECT li.l_orderkey, li.l_linenumber, li.ship_day,"
            " li.receipt_day, mm.month_day"
            " FROM li JOIN mm ON li.ship_day <= mm.month_end_day"
            " AND mm.month_day <= li.receipt_day"
        ),
        "mm_audio_segments": (
            # sample i of doc d is ((d*31 + i*17) % 4096) - 2048 (the
            # synthesize_wav_audio formula); 16-sample windows
            "WITH s AS (SELECT doc_id, i,"
            "  ((doc_id*31 + i*17) % 4096) - 2048 AS v"
            " FROM documents, unnest(generate_series(0, 63)) AS t(i))"
            " SELECT doc_id AS asset_id, CAST(i // 16 AS INT)"
            "  AS segment_idx,"
            " CAST(16 AS INT) AS n_samples,"
            " round(sqrt(sum(v*v) / 16.0), 4) AS rms,"
            " CAST(max(abs(v)) AS INT) AS peak"
            " FROM s GROUP BY 1, 2"
        ),
        "evt_throttle": (
            "WITH r AS (SELECT event_id, user_id, ts,"
            "  row_number() OVER (PARTITION BY user_id,"
            "   date_trunc('day', ts) ORDER BY ts, event_id) AS rn"
            " FROM events)"
            " SELECT event_id, user_id,"
            " CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch"
            " FROM r WHERE rn <= 2"
        ),
        "stream_static_enrich": (
            "SELECT c.c_mktsegment, count(*) AS n_events,"
            " round(sum(e.value), 4) AS sum_value"
            " FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"
            " GROUP BY c.c_mktsegment"
        ),
        "set_union_evolve": (
            "SELECT o_orderkey, o_totalprice,"
            " CAST(NULL AS VARCHAR) AS o_orderstatus"
            " FROM orders WHERE o_orderkey % 2 = 0"
            " UNION ALL"
            " SELECT o_orderkey, o_totalprice, o_orderstatus"
            " FROM orders WHERE o_orderkey % 2 = 1"
        ),
        "stream_sliding_window": (
            # streaming availableNow over all input == batch hopping
            # aggregation: each event lands in 2 windows (1h/30m)
            "WITH ev AS (SELECT value,"
            "  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS t30"
            "  FROM events),"
            " w AS (SELECT value, unnest([t30, t30 - 1800]) AS window_epoch"
            "  FROM ev)"
            " SELECT window_epoch, count(*) AS n_events,"
            " round(sum(value), 4) AS sum_value FROM w GROUP BY window_epoch"
        ),
        "tbl_snapshot_diff": (
            # status depends only on WITHIN-engine hash equality, so
            # double->string formatting differences are irrelevant
            "WITH oldt AS (SELECT o_orderkey, md5(concat_ws(chr(31),"
            "  coalesce(CAST(o_totalprice AS VARCHAR), '<NULL>'),"
            "  coalesce(o_orderstatus, '<NULL>'))) AS h FROM orders),"
            " base AS (SELECT o_orderkey,"
            "  CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0"
            "   ELSE o_totalprice END AS p, o_orderstatus"
            "  FROM orders WHERE o_orderkey % 97 <> 0),"
            " added AS (SELECT o_orderkey + 10000000 AS o_orderkey,"
            "  o_totalprice AS p, o_orderstatus FROM orders"
            "  WHERE o_orderkey % 101 = 0),"
            " newt AS (SELECT o_orderkey, md5(concat_ws(chr(31),"
            "  coalesce(CAST(p AS VARCHAR), '<NULL>'),"
            "  coalesce(o_orderstatus, '<NULL>'))) AS h"
            "  FROM (SELECT * FROM base UNION ALL SELECT * FROM added)),"
            " j AS (SELECT oldt.h AS ho, newt.h AS hn"
            "  FROM oldt FULL OUTER JOIN newt USING (o_orderkey))"
            " SELECT CASE WHEN ho IS NULL THEN 'added'"
            "  WHEN hn IS NULL THEN 'removed'"
            "  WHEN ho <> hn THEN 'changed'"
            "  ELSE 'unchanged' END AS diff_status, count(*) AS n_keys"
            " FROM j GROUP BY 1"
        ),
        "join_asof_fwd": (
            "WITH clicks AS ("
            "  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'"
            "), purchases AS ("
            "  SELECT user_id, ts, max(value) AS pval FROM events"
            "  WHERE event_type = 'purchase' GROUP BY user_id, ts"
            ") SELECT c.event_id, c.user_id,"
            " CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,"
            " round(CAST(CASE WHEN p.ts <= c.ts + INTERVAL 1 HOUR"
            "  THEN p.pval END AS DOUBLE), 4) AS asof_pval"
            " FROM clicks c ASOF LEFT JOIN purchases p"
            " ON c.user_id = p.user_id AND c.ts <= p.ts"
        ),
        "mm_image_hash": (
            # pixel byte k of doc d is (d*7 + k*13) % 256 (the
            # synthesize_ppm_images formula); pixel i brightness is
            # bytes 3i..3i+2.  Integer threshold: s*n >= total.
            "WITH px AS (SELECT doc_id, i,"
            "  ((doc_id*7 + (i*3)*13) % 256)"
            "  + ((doc_id*7 + (i*3+1)*13) % 256)"
            "  + ((doc_id*7 + (i*3+2)*13) % 256) AS s"
            " FROM documents, unnest(generate_series(0, 15)) AS t(i)),"
            " a AS (SELECT doc_id, sum(s) AS total, count(*) AS n"
            "  FROM px GROUP BY 1),"
            " b AS (SELECT px.doc_id,"
            "  CASE WHEN px.s * a.n >= a.total THEN 1 ELSE 0 END"
            "   << (15 - px.i) AS bit"
            "  FROM px JOIN a USING (doc_id)),"
            " h AS (SELECT doc_id AS asset_id, CAST(16 AS INT) AS n_pixels,"
            "  CAST(sum(bit) AS BIGINT) AS ahash FROM b GROUP BY 1)"
            " SELECT asset_id, n_pixels, ahash,"
            " count(*) OVER (PARTITION BY ahash) AS n_bucket FROM h"
        ),
        "ddp_passage_dedup": (
            "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t"
            "  FROM documents),"
            " c AS (SELECT doc_id, t,"
            "  CAST(greatest(ceil(len(t) / 4.0), 1) AS INT) AS n FROM toks),"
            " e AS (SELECT doc_id, t,"
            "  unnest(generate_series(0, n - 1)) AS i FROM c),"
            " ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,"
            "  array_to_string(list_slice(t, i * 4 + 1, i * 4 + 4), ' ')"
            "   AS chunk_text FROM e),"
            " f AS (SELECT md5(chunk_text) AS h, count(*) AS n"
            "  FROM ch GROUP BY 1),"
            " j AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.n"
            "  FROM ch JOIN f ON md5(ch.chunk_text) = f.h)"
            " SELECT doc_id, count(*) AS n_chunks,"
            " CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_dup_chunks,"
            " coalesce(string_agg(CASE WHEN n = 1 THEN chunk_text END,"
            "  ' ' ORDER BY chunk_idx), '') AS cleaned_text"
            " FROM j GROUP BY doc_id"
        ),
        "mm_asset_stats": (
            "SELECT doc_id AS asset_id,"
            " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'"
            "  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,"
            " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
            # duckdb md5 is VARCHAR-only; hashes the same utf-8 bytes
            " md5(text) AS content_hash"
            " FROM documents"
        ),
        "mm_feature_extract": (
            # REAL PPM decode replica: pixel i of doc d is
            # (d*7 + i*13) % 256 (synthesize_ppm_images), features are
            # the P6 raster stats (decode_ppm), content_hash is md5 of
            # the lowercase hex of the full payload bytes.
            "WITH px AS ("
            " SELECT d.doc_id, i, (d.doc_id * 7 + i * 13) % 256 AS v"
            " FROM documents d, generate_series(0, 47) t(i)),"
            " st AS (SELECT doc_id,"
            "  avg(v) FILTER (i % 3 = 0) AS mean_r,"
            "  avg(v) FILTER (i % 3 = 1) AS mean_g,"
            "  avg(v) FILTER (i % 3 = 2) AS mean_b,"
            "  max(v) AS max_px, min(v) AS min_px,"
            "  string_agg(lpad(to_hex(v), 2, '0'), '' ORDER BY i) AS hx"
            " FROM px GROUP BY doc_id)"
            " SELECT doc_id AS asset_id, 'image' AS modality,"
            " CAST(59 AS BIGINT) AS n_bytes,"
            " md5(lower(hex(encode('P6' || chr(10) || '4 4' || chr(10)"
            "  || '255' || chr(10)) || unhex(hx)))) AS content_hash,"
            " CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,"
            " round(mean_r, 4) AS mean_r, round(mean_g, 4) AS mean_g,"
            " round(mean_b, 4) AS mean_b,"
            " round(4 + 4 + 255 + mean_r + mean_g + mean_b"
            "  + max_px + min_px, 4) AS feature_sum"
            " FROM st"
        ),
        "mm_bmp_decode": (
            # REAL BMP decode replica: raster byte i (padding incl.)
            # of doc d is (d*11 + i*17) % 256 over the 80-byte padded
            # raster (synthesize_bmp_images, 6x4 @ stride 20).  Pixel
            # bytes are those with i%20 < 18; BGR order means channel
            # R is (i%20)%3 = 2.  content_hash is md5 of the lowercase
            # hex of header || raster; the 54-byte header is constant.
            "WITH px AS ("
            " SELECT d.doc_id, i, (d.doc_id * 11 + i * 17) % 256 AS v"
            " FROM documents d, generate_series(0, 79) t(i)),"
            " st AS (SELECT doc_id,"
            "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 2) AS sum_r,"
            "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 1) AS sum_g,"
            "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 0) AS sum_b,"
            "  max(v) FILTER (i % 20 < 18) AS max_px,"
            "  min(v) FILTER (i % 20 < 18) AS min_px,"
            "  string_agg(lpad(lower(to_hex(v)), 2, '0'), '' ORDER BY i)"
            "   AS hx"
            " FROM px GROUP BY doc_id)"
            " SELECT doc_id AS asset_id, CAST(134 AS BIGINT) AS n_bytes,"
            " md5('424d860000000000000036000000280000000600000004000000"
            "010018000000000050000000130b0000130b00000000000000000000'"
            "  || hx) AS content_hash,"
            " CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,"
            " CAST(sum_r AS BIGINT) AS sum_r,"
            " CAST(sum_g AS BIGINT) AS sum_g,"
            " CAST(sum_b AS BIGINT) AS sum_b,"
            " CAST(max_px AS INT) AS max_px, CAST(min_px AS INT) AS min_px"
            " FROM st"
        ),
        "mm_video_frames": (
            # REAL Y4M decode replica: byte i of frame f of doc d is
            # (d*7 + f*11 + i*13) % 256 over the 48-byte C444 frame
            # (synthesize_y4m_videos); frame_hash is md5 of the
            # lowercase frame hex; mean_y averages the 16-byte Y plane.
            "WITH px AS ("
            " SELECT d.doc_id, f, i,"
            "  (d.doc_id * 7 + f * 11 + i * 13) % 256 AS v"
            " FROM documents d, range(0, 4) tf(f), range(0, 48) ti(i))"
            " SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,"
            " md5(string_agg(lpad(lower(to_hex(v)), 2, '0'), ''"
            "  ORDER BY i)) AS frame_hash,"
            " round(avg(v) FILTER (i < 16), 4) AS mean_y"
            " FROM px GROUP BY doc_id, f"
        ),
        "mm_resize": (
            # REAL nearest-neighbor resize replica: source is the 4x4
            # P6 payload (pixel byte i of doc d = (d*7 + i*13) % 256,
            # synthesize_ppm_images); destination byte j of the 6x3
            # raster samples source pixel (x*4//6, y*4//3) where
            # y = j//18, x = (j%18)//3, c = j%3.  The resized payload
            # is header 'P6\n6 3\n255\n' (hex 50360A3620330A3235350A)
            # + 54-byte raster; resized_hash = md5 of its UPPER hex.
            "WITH px AS ("
            " SELECT d.doc_id, j,"
            "  ((((j // 18) * 4 // 3) * 4 + ((j % 18) // 3) * 4 // 6) * 3"
            "   + (j % 3)) AS i"
            " FROM documents d, range(0, 54) tj(j))"
            " SELECT doc_id AS asset_id, CAST(6 AS INT) AS width,"
            " CAST(3 AS INT) AS height,"
            " CAST(65 AS BIGINT) AS n_bytes,"
            " md5('50360A3620330A3235350A' ||"
            "  upper(string_agg(lpad(to_hex((doc_id * 7 + i * 13) % 256),"
            "   2, '0'), '' ORDER BY j))) AS resized_hash"
            " FROM px GROUP BY doc_id"
        ),
        "stream_tumbling_window": (
            # The streaming plan over all available input must equal
            # the batch aggregation — the oracle IS the batch SQL.
            "SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,"
            " count(*) AS n_events, round(sum(value), 4) AS sum_value"
            " FROM events GROUP BY 1"
        ),
        "stream_session_windows": (
            # session_window(ts, 30m): an event exactly at the open
            # session's end (gap >= 1800s) starts a NEW session —
            # note >= where batch sessionize uses > (half-open
            # window [start, start+gap)).
            "WITH lagged AS ("
            "  SELECT user_id, ts, event_id,"
            "   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER ("
            "     PARTITION BY user_id ORDER BY ts, event_id"
            "   ) >= 1800 THEN 1 ELSE 0 END AS boundary"
            "  FROM events"
            "), sess AS ("
            "  SELECT user_id, ts,"
            "   sum(boundary) OVER ("
            "     PARTITION BY user_id ORDER BY ts, event_id"
            "   ) AS sid"
            "  FROM lagged"
            ") SELECT user_id,"
            " CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,"
            " count(*) AS n_events"
            " FROM sess GROUP BY user_id, sid"
        ),
        "txt_repetition": _repetition_oracle(),
        "txt_pii_scrub": (
            "SELECT c_custkey,"
            " regexp_replace(regexp_replace(regexp_replace("
            "   c_name || ' ' || 'user' || c_custkey || '@example.com'"
            "   || ' ' || '55-123-456-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
            "   || ' ' || '10.0.' || c_nationkey || '.1',"
            "  '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),"
            "  '\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),"
            "  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')"
            " AS scrubbed FROM customer"
        ),
        "txt_url_parse": (
            "WITH u AS (SELECT doc_id,"
            "  'https://' || source || '.example.com/docs/' || doc_id"
            "  || '?lang=' || lang AS url FROM documents)"
            " SELECT doc_id,"
            " regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS url_host,"
            " regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS url_path,"
            " regexp_extract(url, '^([a-z]+)://', 1) AS url_proto"
            " FROM u"
        ),
        "ddp_decontaminate": _decontaminate_oracle(),
        "join_full_outer": (
            "WITH c AS (SELECT c_nationkey, count(*) AS n_cust"
            "  FROM customer GROUP BY c_nationkey),"
            " s AS (SELECT s_nationkey, count(*) AS n_supp"
            "  FROM supplier GROUP BY s_nationkey)"
            " SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,"
            " coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp"
            " FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey"
        ),
        "join_cross": (
            "SELECT a.r_regionkey AS key_a, a.r_name AS name_a,"
            " b.r_regionkey AS key_b, b.r_name AS name_b"
            " FROM region a CROSS JOIN region b"
        ),
        "sub_exists": (
            "SELECT c_custkey, c_name FROM customer c"
            " WHERE EXISTS (SELECT 1 FROM orders o"
            "  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"
        ),
        "sub_in": (
            "SELECT p_partkey, p_name FROM part"
            " WHERE p_partkey IN (SELECT l_partkey FROM lineitem"
            "  WHERE l_quantity >= 49)"
        ),
        "sub_scalar": (
            "SELECT o_orderkey, o_custkey FROM orders"
            " WHERE o_custkey > (SELECT max(c_custkey) FROM customer) - 100"
        ),
        "smp_systematic": (
            "SELECT l_returnflag, count(*) AS n_rows,"
            " round(sum(l_quantity), 2) AS sum_qty"
            " FROM lineitem WHERE l_orderkey % 100 < 5"
            " GROUP BY l_returnflag"
        ),
        "agg_conditional": (
            "SELECT l_returnflag,"
            " count(*) FILTER (WHERE l_quantity > 25) AS n_bigqty,"
            " round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice"
            "   ELSE 0.0 END), 2) AS disc_revenue,"
            " count(*) FILTER (WHERE l_linestatus = 'O') AS n_open_status"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "agg_string_agg": (
            "SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations"
            " FROM nation JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY r_name"
        ),
        "win_ntile_rank": (
            "SELECT c_custkey, c_mktsegment,"
            " CAST(ntile(4) OVER w AS INT) AS tile,"
            " round(percent_rank() OVER w, 4) AS pct_rank,"
            " round(cume_dist() OVER w, 4) AS cume_dist"
            " FROM customer"
            " WINDOW w AS (PARTITION BY c_mktsegment"
            "  ORDER BY c_acctbal, c_custkey)"
        ),
        "win_first_last": (
            "SELECT o_orderkey, o_custkey,"
            " first_value(o_orderkey) OVER w AS first_order,"
            " last_value(o_orderkey) OVER w AS last_order"
            " FROM orders"
            " WINDOW w AS (PARTITION BY o_custkey"
            "  ORDER BY o_orderdate, o_orderkey"
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        ),
        "txt_tfidf": (
            "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
            " tf AS (SELECT doc_id, unnest(t) AS term FROM toks),"
            " tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),"
            " dfreq AS (SELECT term, count(*) AS ndt FROM tfc GROUP BY 1),"
            " n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),"
            " scored AS (SELECT doc_id, term, tf,"
            "  round(tf * (ln((n_docs + 1) / CAST(ndt + 1 AS DOUBLE)) + 1), 4)"
            "   AS tfidf"
            "  FROM tfc JOIN dfreq USING (term) CROSS JOIN n),"
            " ranked AS (SELECT doc_id, term, tf, tfidf,"
            "  CAST(row_number() OVER (PARTITION BY doc_id"
            "   ORDER BY tfidf DESC, term ASC) AS INT) AS rank FROM scored)"
            " SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3"
        ),
        "evt_funnel": (
            "WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events"
            "  WHERE event_type = 'view' GROUP BY 1),"
            " s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e"
            "  JOIN s1 ON e.user_id = s1.user_id"
            "  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),"
            " s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e"
            "  JOIN s2 ON e.user_id = s2.user_id"
            "  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)"
            " SELECT CAST(0 AS INT) AS step_idx, 'view' AS step,"
            "  (SELECT count(*) FROM s1) AS n_users"
            " UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s2)"
            " UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s3)"
        ),
        "evt_retention": (
            "WITH first AS (SELECT user_id,"
            "  date_trunc('week', min(ts)) AS cohort_week"
            "  FROM events GROUP BY 1),"
            " activity AS (SELECT DISTINCT user_id,"
            "  date_trunc('week', ts) AS active_week FROM events)"
            " SELECT CAST(floor(epoch(cohort_week)) AS BIGINT) AS cohort_epoch,"
            "  CAST(datediff('day', cohort_week, active_week) // 7 AS INT)"
            "   AS week_offset,"
            "  count(DISTINCT user_id) AS n_users"
            " FROM activity JOIN first USING (user_id)"
            " GROUP BY cohort_week, week_offset"
        ),
        "stream_dedupe": (
            "SELECT DISTINCT user_id, event_type, ts FROM events"
        ),
        "txt_unigram_lm": (
            "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
            " t AS (SELECT doc_id, unnest(t) AS term FROM toks),"
            " counts AS (SELECT term, count(*) AS n_term FROM t GROUP BY 1),"
            " total AS (SELECT sum(n_term) AS n_total FROM counts)"
            " SELECT doc_id, count(*) AS n_tokens,"
            " round(avg(ln(n_term / CAST(n_total AS DOUBLE))), 4) AS avg_logprob"
            " FROM t JOIN counts USING (term) CROSS JOIN total"
            " GROUP BY doc_id"
        ),
        "txt_quality_filter": (
            "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
            " w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),"
            " wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c"
            "  FROM w GROUP BY doc_id, word),"
            " wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd"
            "  FROM wc GROUP BY doc_id),"
            " stop AS (SELECT doc_id,"
            "  len(list_filter(t, x -> list_contains("
            "   ['the','a','of','and','to','in','is','on','for','with'], x)))"
            "   AS n_stop, len(t) AS n FROM toks),"
            " j AS (SELECT s.doc_id, CAST(s.n AS INT) AS n_tokens,"
            "  round((s.n - coalesce(w.nd, 0))"
            "   / CAST(greatest(s.n, 1) AS DOUBLE), 4) AS dup_word_frac,"
            "  round(s.n_stop / CAST(greatest(s.n, 1) AS DOUBLE), 4)"
            "   AS stopword_ratio"
            "  FROM stop s LEFT JOIN wagg w ON w.doc_id = s.doc_id)"
            " SELECT doc_id, n_tokens, dup_word_frac, stopword_ratio,"
            " (dup_word_frac <= 0.75 AND n_tokens >= 10"
            "  AND stopword_ratio >= 0.0) AS keep FROM j"
        ),
        "win_range_frame": (
            "WITH e AS (SELECT event_id, user_id,"
            "  CAST(round(value * 10000) AS BIGINT) AS units,"
            "  CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events)"
            " SELECT event_id, user_id,"
            " count(*) OVER w AS n_trailing_hour,"
            " sum(units) OVER w / 10000.0 AS sum_trailing_hour"
            " FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch"
            "  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"
        ),
        "agg_argminmax": (
            "WITH r AS (SELECT c_nationkey, c_custkey, c_acctbal,"
            "  row_number() OVER (PARTITION BY c_nationkey"
            "   ORDER BY c_acctbal ASC, c_custkey ASC) AS rn_min,"
            "  row_number() OVER (PARTITION BY c_nationkey"
            "   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn_max"
            "  FROM customer)"
            " SELECT c_nationkey,"
            " max(CASE WHEN rn_min = 1 THEN c_custkey END) AS poorest_cust,"
            " max(CASE WHEN rn_max = 1 THEN c_custkey END) AS richest_cust,"
            " round(min(c_acctbal), 2) AS min_bal,"
            " round(max(c_acctbal), 2) AS max_bal"
            " FROM r GROUP BY c_nationkey"
        ),
        "exp_posexplode": (
            "WITH s AS (SELECT p_partkey, string_split(p_name, ' ') AS w"
            "  FROM part)"
            " SELECT p_partkey, CAST(i - 1 AS INT) AS pos, w[i] AS word"
            " FROM s, unnest(generate_series(1, len(w))) AS t(i)"
        ),
        "join_null_safe": (
            "WITH o AS (SELECT o_orderkey,"
            "  CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END AS k"
            "  FROM orders),"
            " c AS (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL"
            "  ELSE c_custkey END AS k, c_name FROM customer)"
            " SELECT o_orderkey, c_name FROM o JOIN c"
            " ON o.k IS NOT DISTINCT FROM c.k"
        ),
        "tbl_validate": (
            "WITH a AS (SELECT"
            " sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,"
            " sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v2,"
            " count(o_orderkey) - count(DISTINCT o_orderkey) AS v3,"
            " sum(CASE WHEN NOT o_totalprice BETWEEN 0.0 AND 1000000.0"
            "     THEN 1 ELSE 0 END) AS v4,"
            " sum(CASE WHEN o_orderstatus IS NOT NULL"
            "     AND o_orderstatus NOT IN ('O', 'F', 'P')"
            "     THEN 1 ELSE 0 END) AS v5"
            " FROM orders)"
            " SELECT c AS constraint, CAST(v AS BIGINT) AS violations,"
            " v = 0 AS passed FROM a, (VALUES"
            " ('not_null(o_custkey)', 1), ('not_null(o_orderdate)', 2),"
            " ('unique(o_orderkey)', 3),"
            " ('range(o_totalprice,[0.0,1000000.0])', 4),"
            " ('accepted(o_orderstatus)', 5)) t(c, i),"
            " LATERAL (SELECT CASE i WHEN 1 THEN v1 WHEN 2 THEN v2"
            "  WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END AS v) s"
        ),
        "mm_audio_decode": (
            # REAL WAV decode replica: sample i of doc d is
            # (d*31 + i*17) % 4096 - 2048 (synthesize_wav_audio);
            # stats mirror decode_wav.  n_bytes = 44-byte header +
            # 64 16-bit samples.
            "WITH s AS (SELECT d.doc_id, i,"
            "  (d.doc_id * 31 + i * 17) % 4096 - 2048 AS v"
            " FROM documents d, generate_series(0, 63) t(i)),"
            " lagged AS (SELECT doc_id, v,"
            "  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM s),"
            " a AS (SELECT doc_id, avg(v) AS mean_amp,"
            "  sqrt(avg(CAST(v AS DOUBLE) * v)) AS rms,"
            "  max(abs(v)) AS peak,"
            "  sum(CASE WHEN prev IS NOT NULL AND (prev < 0) <> (v < 0)"
            "      THEN 1 ELSE 0 END) AS zc"
            " FROM lagged GROUP BY doc_id)"
            " SELECT doc_id AS asset_id, 'audio' AS modality,"
            " CAST(172 AS BIGINT) AS n_bytes,"
            " CAST(1 AS INT) AS n_channels, CAST(8000 AS INT) AS sample_rate,"
            " CAST(64 AS INT) AS n_frames,"
            " round(mean_amp, 4) AS mean_amp, round(rms, 4) AS rms,"
            " CAST(peak AS INT) AS peak, CAST(zc AS INT) AS zero_crossings"
            " FROM a"
        ),
        "txt_chunk": (
            "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
            " c AS (SELECT doc_id, t,"
            "  CAST(greatest(ceil(len(t) / 32.0), 1) AS INT) AS n FROM toks),"
            " e AS (SELECT doc_id, t,"
            "  unnest(generate_series(0, n - 1)) AS i FROM c)"
            " SELECT doc_id, CAST(i AS INT) AS chunk_idx,"
            " array_to_string(list_slice(t, i * 32 + 1, i * 32 + 32), ' ')"
            "  AS chunk_text,"
            " CAST(len(list_slice(t, i * 32 + 1, i * 32 + 32)) AS INT)"
            "  AS n_tokens"
            " FROM e"
        ),
        "txt_pack_sequences": (
            "WITH toks AS (SELECT doc_id,"
            "  CAST(doc_id % 8 AS INT) AS shard,"
            "  CAST(len(" + _TOKS_SQL + ") AS INT) AS n_tokens FROM documents),"
            " w AS (SELECT doc_id, shard, n_tokens,"
            "  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id"
            "   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset"
            "  FROM toks)"
            " SELECT doc_id, shard, n_tokens, start_offset,"
            " CAST(floor(start_offset / 256.0) AS INT) AS bin_in_shard FROM w"
        ),
        "smp_stratified": (
            "SELECT o_orderpriority, count(*) AS n_rows FROM orders"
            " WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),"
            "  1, 8)) AS BIGINT) % 100"
            " < (CASE o_orderpriority WHEN '1-URGENT' THEN 50"
            "    WHEN '2-HIGH' THEN 25 ELSE 5 END)"
            " GROUP BY o_orderpriority"
        ),
        "agg_corr": (
            "SELECT l_returnflag,"
            " round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_xy,"
            " round(covar_samp(l_quantity, l_extendedprice), 4) + 0"
            "  AS covar_samp_xy,"
            " round(covar_pop(l_quantity, l_extendedprice), 4) + 0"
            "  AS covar_pop_xy,"
            " count(*) AS n_rows"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "agg_stats_moments": (
            "SELECT l_returnflag,"
            " round(stddev_samp(l_quantity), 4) AS x_stddev,"
            " round(var_samp(l_quantity), 4) AS x_var,"
            " round(corr(l_quantity, l_extendedprice), 4) + 0 AS xy_corr,"
            " round(covar_samp(l_quantity, l_extendedprice), 4) + 0"
            "  AS xy_covar,"
            " round(skewness(l_quantity), 4) + 0 AS x_skew"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "agg_histogram": (
            "SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 3000000"
            "  AS bucket, count(*) AS n_rows"
            " FROM orders GROUP BY 1"
        ),
        "stream_view_click_join": (
            "SELECT v.user_id,"
            " CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,"
            " CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch"
            " FROM events v JOIN events c ON v.user_id = c.user_id"
            " AND v.event_type = 'view' AND c.event_type = 'click'"
            " AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE"
        ),
        # --- round-3 additions (round-4 window) ---
        "tbl_scd2_apply": (
            # scd2_merge replica: every %7 key's open row closes at
            # eff=100 (BUILDING-style segments never equal SEG_x, but
            # keep the change predicate anyway) and re-opens with the
            # new segment; others pass through.
            "WITH changed AS (SELECT c_custkey,"
            "  'SEG_' || CAST(c_custkey % 5 AS VARCHAR) AS new_seg"
            " FROM customer WHERE c_custkey % 7 = 0"
            "  AND c_mktsegment <> 'SEG_' || CAST(c_custkey % 5 AS VARCHAR))"
            " SELECT c.c_custkey, c.c_mktsegment AS segment,"
            " CAST(0 AS BIGINT) AS valid_from,"
            " CAST(CASE WHEN ch.c_custkey IS NOT NULL THEN 100 END"
            "  AS BIGINT) AS valid_to"
            " FROM customer c LEFT JOIN changed ch USING (c_custkey)"
            " UNION ALL"
            " SELECT c_custkey, new_seg, CAST(100 AS BIGINT),"
            "  CAST(NULL AS BIGINT) FROM changed"
        ),
        "tbl_cdc_apply": (
            # cdc_apply replica: %20 keys deleted (D at seq 3 beats
            # the U at seq 2), remaining %10 keys take the doubled
            # price (x2 is exact in FP), %10==3 keys insert shifted
            # by 10^9.
            "SELECT o_orderkey, round(o_totalprice, 2) AS price"
            " FROM orders WHERE o_orderkey % 10 <> 0"
            " UNION ALL"
            " SELECT o_orderkey, round(o_totalprice, 2) * 2"
            " FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0"
            " UNION ALL"
            " SELECT o_orderkey + 1000000000, round(o_totalprice, 2)"
            " FROM orders WHERE o_orderkey % 10 = 3"
        ),
        "smp_temperature_weights": (
            f"WITH toks AS (SELECT source, len({_TOKS_SQL}) AS n_tokens"
            "  FROM documents),"
            " d AS (SELECT source, CAST(sum(n_tokens) AS BIGINT)"
            "  AS n_tokens FROM toks GROUP BY source),"
            " t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d),"
            " p AS (SELECT d.source, d.n_tokens,"
            "  d.n_tokens * 1.0 / t.total AS p FROM d, t),"
            " z AS (SELECT sum(pow(p, 0.5)) AS z FROM p)"
            " SELECT p.source, p.n_tokens, round(p.p, 4) AS p_natural,"
            " round(pow(p.p, 0.5) / z.z, 4) AS q_temperature,"
            " round(pow(p.p, 0.5) / z.z / p.p, 4) AS sample_weight"
            " FROM p, z"
        ),
        "win_decayed_sum": (
            # 8 half-life lag terms, same left-to-right addition order
            # and the same 0.5**d double literals as the Column
            # builder so the doubles agree bitwise; integer-scaled
            # floor instead of round(4) (see the query docstring).
            "SELECT user_id, event_id, CAST(floor(("
            + " + ".join(
                f"coalesce(lag(value, {d}) OVER ("
                "PARTITION BY user_id ORDER BY ts, event_id), 0)"
                f" * {0.5 ** d!r}"
                for d in range(8)
            )
            + ") * 10000 + 0.5) AS BIGINT) AS decayed_x1e4 FROM events"
        ),
        "mm_image_crop": (
            # REAL crop replica: destination byte j of the 2x2 window
            # at (1,1) samples source pixel (1 + (j%6)//3, 1 + j//6),
            # channel j%3, of the 4x4 P6 (pixel byte i of doc d =
            # (d*7 + i*13) % 256).  Payload = header 'P6\n2 2\n255\n'
            # (hex 50360A3220320A3235350A) + 12-byte raster.
            "WITH px AS ("
            " SELECT d.doc_id, j,"
            "  (((1 + j // 6) * 4 + 1 + (j % 6) // 3) * 3 + (j % 3)) AS i"
            " FROM documents d, range(0, 12) tj(j))"
            " SELECT doc_id AS asset_id, CAST(1 AS INT) AS x0,"
            " CAST(1 AS INT) AS y0,"
            " CAST(23 AS BIGINT) AS n_bytes,"
            " md5('50360A3220320A3235350A' ||"
            "  upper(string_agg(lpad(to_hex((doc_id * 7 + i * 13) % 256),"
            "   2, '0'), '' ORDER BY j))) AS cropped_hash"
            " FROM px GROUP BY doc_id"
        ),
        "mm_audio_resample": _audio_resample_oracle(),
        "ddp_minhash_est": _minhash_est_oracle(),
        "ddp_index_dedup": _index_dedup_oracle(),
        # the streaming twin collapses to the identical verdict table
        "stream_index_dedup": _index_dedup_oracle(),
        "ddp_window_dedup": _window_dedup_oracle(),
        "agg_power_analysis": _POWER_ORACLE(),
        "src_schema_evolution": (
            # merged-read truth: early (even-key) rows carry no price
            # column -> all NULL; late (odd-key) rows carry the 2dp
            # rounded price
            "SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END"
            "  AS feed_era, count(*) AS n_rows,"
            " CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)"
            "  AS BIGINT) AS n_null_price,"
            " round(sum(CASE WHEN o_orderkey % 2 = 1"
            "  THEN round(o_totalprice, 2) END), 2) AS sum_price"
            " FROM orders GROUP BY 1"
        ),
        "agg_mann_kendall": (
            # y rounded to 6dp in the rollup so tie groups are
            # IDENTICAL across engines (raw double avgs could tie in
            # one engine and differ by an ulp in the other)
            "WITH d AS (SELECT event_type, CAST(day(ts) AS INT) AS x,"
            "  round(avg(value), 6) AS y FROM events GROUP BY 1, 2),"
            " s AS (SELECT a.event_type,"
            "  CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat"
            "  FROM d a JOIN d b ON a.event_type = b.event_type"
            "  AND a.x < b.x GROUP BY 1),"
            " n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),"
            " t AS (SELECT event_type,"
            "  sum(t * (t - 1) * (2 * t + 5)) AS tc FROM ("
            "   SELECT event_type, y, count(*) AS t FROM d GROUP BY 1, 2)"
            "  WHERE t > 1 GROUP BY 1),"
            " j AS (SELECT s.event_type, s.s_stat, n.n,"
            "  COALESCE(t.tc, 0) AS tc FROM s"
            "  JOIN n USING (event_type) LEFT JOIN t USING (event_type)),"
            " v AS (SELECT event_type, s_stat, CAST(n AS BIGINT)"
            "  AS n_points,"
            "  (n * (n - 1) * (2 * n + 5) - tc) / 18.0 AS var_s FROM j)"
            " SELECT event_type, n_points, s_stat,"
            " round(var_s, 4) AS var_s,"
            " round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)"
            "  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)"
            "  ELSE 0 END, 4) AS mk_z"
            " FROM v"
        ),
        "agg_theilsen": (
            # same pair set (x_i < x_j within group), median slope,
            # and median-residual intercept as theil_sen_trend;
            # medians interpolate linearly in both engines
            "WITH d AS (SELECT event_type, CAST(day(ts) AS INT) AS x,"
            "  avg(value) AS y FROM events GROUP BY 1, 2),"
            " p AS (SELECT a.event_type,"
            "  (b.y - a.y) / (b.x - a.x) AS sl"
            "  FROM d a JOIN d b ON a.event_type = b.event_type"
            "  AND a.x < b.x),"
            " ms AS (SELECT event_type,"
            "  quantile_cont(sl, 0.5) AS slope,"
            "  CAST(count(*) AS BIGINT) AS n_pairs"
            "  FROM p GROUP BY event_type),"
            " r AS (SELECT d.event_type, ms.n_pairs, ms.slope,"
            "  d.y - ms.slope * d.x AS res"
            "  FROM d JOIN ms USING (event_type))"
            " SELECT event_type, n_pairs, round(slope, 6) AS slope,"
            " round(quantile_cont(res, 0.5), 6) AS intercept"
            " FROM r GROUP BY event_type, n_pairs, slope"
        ),
        "evt_changepoint": (
            # same statistic, cumulative windows, 6dp rounding, and
            # earliest-split tiebreak as events.changepoint_detect
            "WITH d AS (SELECT event_type, CAST(day(ts) AS INT) AS day,"
            "  sum(value) AS v FROM events GROUP BY 1, 2),"
            " c AS (SELECT event_type, day, v,"
            "  row_number() OVER (PARTITION BY event_type ORDER BY day)"
            "   AS t,"
            "  sum(v) OVER (PARTITION BY event_type ORDER BY day"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,"
            "  count(*) OVER (PARTITION BY event_type) AS n,"
            "  sum(v) OVER (PARTITION BY event_type) AS tot FROM d),"
            " s AS (SELECT event_type, day, CAST(n AS BIGINT) AS n_points,"
            "  round(cum / t, 6) AS mean_left,"
            "  round((tot - cum) / (n - t), 6) AS mean_right,"
            "  round(sqrt(t * (n - t) / n)"
            "   * abs(cum / t - (tot - cum) / (n - t)), 6) AS stat"
            "  FROM c WHERE t < n),"
            " r AS (SELECT *, row_number() OVER (PARTITION BY event_type"
            "  ORDER BY stat DESC, day ASC) AS rk FROM s)"
            " SELECT event_type, n_points, day AS split_at,"
            " mean_left, mean_right, stat AS shift_stat"
            " FROM r WHERE rk = 1"
        ),
        "smp_neyman": (
            # same quota formula and md5 rank as the operator; quota
            # = least(N_h, round(1000 * N_h*s_h / sum(N_h*s_h)))
            "WITH r AS (SELECT o_orderpriority AS s, o_orderkey AS k,"
            "  o_totalprice AS v FROM orders"
            "  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),"
            " st AS (SELECT s, count(*) AS nh,"
            "  coalesce(stddev_samp(v), 0) AS sh FROM r GROUP BY s),"
            " tot AS (SELECT sum(nh * sh) AS t FROM st),"
            " q AS (SELECT s, least(nh, CAST(round(1000 * nh * sh / t)"
            "  AS BIGINT)) AS quota FROM st, tot),"
            " rk AS (SELECT s, k, v, row_number() OVER ("
            "  PARTITION BY s ORDER BY "
            + _BASEHASH_SQL.format(x="CAST(k AS VARCHAR)")
            + " ASC, k ASC) AS rn FROM r)"
            " SELECT rk.s AS o_orderpriority, rk.k AS o_orderkey,"
            " rk.v AS o_totalprice, q.quota AS stratum_quota"
            " FROM rk JOIN q USING (s) WHERE rk.rn <= q.quota"
        ),
        "agg_bootstrap_ab": (
            # same md5 arm split as agg_welch; same frozen Poisson(1)
            # ladder as agg_bootstrap_ci; arm 0 = smaller group value
            # via min_by/max_by over the per-arm aggregates
            "WITH r AS (SELECT CAST(event_id AS VARCHAR) AS k,"
            "  CAST(value AS DOUBLE) AS x,"
            "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),"
            "   1, 8)) AS BIGINT) % 2 AS g"
            "  FROM events WHERE value IS NOT NULL"
            "  AND event_id IS NOT NULL),"
            " drawn AS (SELECT x, g, b,"
            "  CASE WHEN u < 0.36787944117144233 THEN 0"
            "   WHEN u < 0.7357588823428847 THEN 1"
            "   WHEN u < 0.9196986029286058 THEN 2"
            "   WHEN u < 0.9810118431238463 THEN 3"
            "   WHEN u < 0.9963401531726563 THEN 4"
            "   WHEN u < 0.9994058151824183 THEN 5"
            "   ELSE 6 END AS w FROM ("
            "   SELECT x, g, t.b, CAST(concat('0x', substr(md5("
            "    k || ':' || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT)"
            "    / 4294967296.0 AS u"
            "   FROM r, generate_series(0, 31) t(b))),"
            " pa AS (SELECT b, g, sum(w * x) / sum(w) AS m FROM drawn"
            "  GROUP BY b, g),"
            " reps AS (SELECT b, max_by(m, g) - min_by(m, g) AS d"
            "  FROM pa GROUP BY b),"
            " pt AS (SELECT min_by(n, g) AS n0, max_by(n, g) AS n1,"
            "  min_by(m, g) AS m0, max_by(m, g) AS m1 FROM ("
            "   SELECT g, count(*) AS n, avg(x) AS m FROM r GROUP BY g)),"
            " ci AS (SELECT quantile_cont(d, 0.025) AS lo,"
            "  quantile_cont(d, 0.975) AS hi FROM reps)"
            " SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,"
            " round(m0, 4) AS mean0, round(m1, 4) AS mean1,"
            " round(m1 - m0, 4) AS diff,"
            " round(lo, 4) AS ci_lo, round(hi, 4) AS ci_hi"
            " FROM pt, ci"
        ),
        "agg_bootstrap_ci": (
            # deterministic Poisson(1) draw: u = md5(key ':' b)/2^32
            # against the frozen CDF ladder (POISSON1_CDF, capped 6)
            "WITH r AS (SELECT CAST(event_id AS VARCHAR) AS k,"
            "  CAST(value AS DOUBLE) AS x FROM events"
            "  WHERE value IS NOT NULL AND event_id IS NOT NULL),"
            " drawn AS (SELECT x,"
            "  CASE WHEN u < 0.36787944117144233 THEN 0"
            "   WHEN u < 0.7357588823428847 THEN 1"
            "   WHEN u < 0.9196986029286058 THEN 2"
            "   WHEN u < 0.9810118431238463 THEN 3"
            "   WHEN u < 0.9963401531726563 THEN 4"
            "   WHEN u < 0.9994058151824183 THEN 5"
            "   ELSE 6 END AS w, b FROM ("
            "   SELECT x, t.b, CAST(concat('0x', substr(md5("
            "    k || ':' || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT)"
            "    / 4294967296.0 AS u"
            "   FROM r, generate_series(0, 31) t(b))),"
            " reps AS (SELECT b, sum(w * x) / sum(w) AS m FROM drawn"
            "  GROUP BY b),"
            " point AS (SELECT count(*) AS n, avg(x) AS mn FROM r),"
            " ci AS (SELECT quantile_cont(m, 0.025) AS lo,"
            "  quantile_cont(m, 0.975) AS hi FROM reps)"
            " SELECT n, round(mn, 4) AS mean, round(lo, 4) AS ci_lo,"
            " round(hi, 4) AS ci_hi FROM point, ci"
        ),
        "ddp_url_dedup": (
            "WITH h AS (SELECT doc_id, doc_id // 2 AS pair,"
            "  's' || CAST((doc_id // 2) % 7 AS VARCHAR) AS host"
            " FROM documents),"
            " u AS (SELECT doc_id, CASE"
            " WHEN doc_id % 4 = 0 THEN 'https://' || host ||"
            "  '.example.com/p/' || CAST(pair AS VARCHAR) ||"
            "  '?utm_source=feed&utm_campaign=x'"
            " WHEN doc_id % 4 = 1 THEN 'https://www.' || upper(host) ||"
            "  '.EXAMPLE.com/p/' || CAST(pair AS VARCHAR) || '/'"
            " WHEN doc_id % 4 = 2 THEN 'https://' || host ||"
            "  '.example.com/p/' || CAST(pair AS VARCHAR) ||"
            "  '#section-2'"
            " ELSE 'https://' || host || '.example.com/p/' ||"
            "  CAST(pair AS VARCHAR) || '?ref=home' END AS url"
            " FROM h),"
            " c AS (SELECT doc_id, "
            + SC.CANONICAL_URL_SQL_STEPS.format(x="url")
            + " AS canonical_url FROM u)"
            " SELECT canonical_url, min(doc_id) AS keeper_id,"
            " count(*) AS n_copies FROM c GROUP BY canonical_url"
        ),
        "txt_sentences": (
            # identical RE2 split + post-filter indexing (i-1 matches
            # posexplode's 0-base)
            r"WITH sent AS (SELECT doc_id,"
            r" list_filter(regexp_split_to_array(text, '[.!?]+\s+'),"
            r"  s -> len(trim(s)) > 0) AS ss FROM documents)"
            " SELECT doc_id, CAST(i - 1 AS INT) AS sentence_idx,"
            " ss[i] AS sentence, CAST(len(ss[i]) AS INT) AS n_chars"
            " FROM sent, lateral unnest(generate_series(1, len(ss))) t(i)"
        ),
        "evt_attribution": (
            # native ASOF LEFT JOIN, strict backward (t.ts < p.ts);
            # the touch side is deduped to one row per (user, ts)
            # first so the nearest match is unique in both engines.
            "WITH touches AS ("
            " SELECT user_id, ts, max(event_id) AS touch_event_id,"
            "  arg_max(event_type, event_id) AS touch_type"
            " FROM events WHERE event_type IN ('view', 'click')"
            " GROUP BY user_id, ts),"
            " p AS (SELECT user_id, ts, event_id FROM events"
            "  WHERE event_type = 'purchase')"
            " SELECT p.user_id, p.event_id AS purchase_event_id,"
            " t.touch_type, t.touch_event_id"
            " FROM p ASOF LEFT JOIN touches t"
            " ON p.user_id = t.user_id AND p.ts > t.ts"
        ),
        "smp_apply_weights": (
            # temperature-weight CTE (identical to
            # smp_temperature_weights, 4dp-rounded weight), then
            # floor(w) copies + md5-coin fractional extra via lateral
            # generate_series (empty when n_copies = 0).
            f"WITH toks AS (SELECT source, len({_TOKS_SQL}) AS n_tokens"
            "  FROM documents),"
            " d AS (SELECT source, CAST(sum(n_tokens) AS BIGINT)"
            "  AS n_tokens FROM toks GROUP BY source),"
            " t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d),"
            " p AS (SELECT d.source, d.n_tokens * 1.0 / t.total AS p"
            "  FROM d, t),"
            " z AS (SELECT sum(pow(p, 0.5)) AS z FROM p),"
            " w AS (SELECT p.source,"
            "  round(pow(p.p, 0.5) / z.z / p.p, 4) AS sw FROM p, z),"
            " n AS (SELECT doc_id, dc.source,"
            "  CAST(floor(sw) AS BIGINT) + CASE WHEN"
            "   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),"
            "    1, 8)) AS BIGINT) / 4294967296.0 < sw - floor(sw)"
            "   THEN 1 ELSE 0 END AS n_copies"
            "  FROM documents dc JOIN w USING (source))"
            " SELECT doc_id, source, CAST(ci AS INT) AS copy_idx"
            " FROM n, lateral unnest(generate_series(1, n_copies)) t(ci)"
        ),
        "win_winsorize": (
            "WITH b AS (SELECT l_returnflag,"
            "  quantile_cont(l_extendedprice, 0.05) AS lo,"
            "  quantile_cont(l_extendedprice, 0.95) AS hi"
            " FROM lineitem GROUP BY l_returnflag)"
            " SELECT l_orderkey, l_linenumber, l_returnflag,"
            " round(greatest(least(l_extendedprice, hi), lo), 2)"
            "  AS price_winsorized"
            " FROM lineitem JOIN b USING (l_returnflag)"
        ),
        "txt_readability": (
            rf"WITH s AS (SELECT doc_id, {_TOKS_SQL} AS t,"
            r" len(list_filter(regexp_split_to_array(text, '[.!?]+\s+'),"
            r"  x -> len(trim(x)) > 0)) AS n_sent FROM documents)"
            " SELECT doc_id, CAST(n_sent AS INT) AS n_sentences,"
            " CAST(len(t) AS INT) AS n_tokens,"
            " round(len(t) * 1.0 / greatest(n_sent, 1), 4)"
            "  AS tokens_per_sentence,"
            " round(coalesce(list_sum(list_transform(t, x -> len(x))), 0)"
            "  * 1.0 / greatest(len(t), 1), 4) AS avg_word_len"
            " FROM s"
        ),
        "agg_mad": (
            "WITH m AS (SELECT l_returnflag,"
            "  quantile_cont(l_extendedprice, 0.5) AS med"
            " FROM lineitem GROUP BY l_returnflag)"
            " SELECT l_returnflag, round(any_value(med), 4)"
            "  AS median_price,"
            " round(quantile_cont(abs(l_extendedprice - med), 0.5), 4)"
            "  AS mad_price"
            " FROM lineitem JOIN m USING (l_returnflag)"
            " GROUP BY l_returnflag"
        ),
        "evt_inter_event": (
            "WITH g AS (SELECT user_id,"
            " CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts))"
            "  AS BIGINT)) OVER ("
            "  PARTITION BY user_id ORDER BY ts, event_id) AS gap"
            " FROM events)"
            " SELECT user_id, count(*) AS n_events,"
            " CAST(floor(avg(gap) * 10000 + 0.5) AS BIGINT)"
            "  AS avg_gap_x1e4,"
            " max(gap) AS max_gap_sec"
            " FROM g GROUP BY user_id"
        ),
        "tbl_partition_overwrite": (
            # final table state after the day-3 dynamic overwrite:
            # day 3 values doubled, every other day untouched
            "SELECT CAST(day(ts) AS INT) AS day, count(*) AS n_rows,"
            " round(sum(CASE WHEN day(ts) = 3 THEN value * 2"
            "  ELSE value END), 2) AS sum_value"
            " FROM events GROUP BY day(ts)"
        ),
        "tbl_incremental_append": (
            # final sink = feed1 (keys %3<>0, original dates) plus the
            # late batch (keys %3=0, dates shifted +10y) — each row
            # exactly once despite three pull runs.
            "SELECT o_orderkey,"
            " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,"
            " round(o_totalprice, 2) AS price"
            " FROM orders WHERE o_orderkey % 3 <> 0"
            " UNION ALL"
            " SELECT o_orderkey,"
            " CAST(floor(epoch(o_orderdate + INTERVAL 10 YEAR)) AS BIGINT),"
            " round(o_totalprice, 2)"
            " FROM orders WHERE o_orderkey % 3 = 0"
        ),
        "stream_cdc_apply": (
            # the streamed final table must equal the one-shot batch
            # apply — the oracle IS tbl_cdc_apply's.
            "SELECT o_orderkey, round(o_totalprice, 2) AS price"
            " FROM orders WHERE o_orderkey % 10 <> 0"
            " UNION ALL"
            " SELECT o_orderkey, round(o_totalprice, 2) * 2"
            " FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0"
            " UNION ALL"
            " SELECT o_orderkey + 1000000000, round(o_totalprice, 2)"
            " FROM orders WHERE o_orderkey % 10 = 3"
        ),
        "agg_chi2_cells": (
            "WITH cells AS (SELECT source, lang, count(*) AS n_docs"
            " FROM documents GROUP BY source, lang)"
            " SELECT source, lang, n_docs,"
            " round(sum(n_docs) OVER (PARTITION BY source)"
            "  * sum(n_docs) OVER (PARTITION BY lang) * 1.0"
            "  / sum(n_docs) OVER (), 4) AS expected,"
            " round(pow(n_docs - sum(n_docs) OVER (PARTITION BY source)"
            "  * sum(n_docs) OVER (PARTITION BY lang) * 1.0"
            "  / sum(n_docs) OVER (), 2)"
            "  / (sum(n_docs) OVER (PARTITION BY source)"
            "  * sum(n_docs) OVER (PARTITION BY lang) * 1.0"
            "  / sum(n_docs) OVER ()), 4) AS chi2_contrib"
            " FROM cells"
        ),
        "olap_q5_local_supplier": (
            "SELECT n_name,"
            " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            "  AND c_nationkey = s_nationkey"
            " JOIN nation ON s_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " WHERE r_name = 'ASIA'"
            " AND o_orderdate >= TIMESTAMP '1996-01-01'"
            " AND o_orderdate < TIMESTAMP '1997-01-01'"
            " GROUP BY n_name"
        ),
        "olap_q6_forecast_revenue": (
            "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue"
            " FROM lineitem"
            " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1997-01-01'"
            " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        ),
        "olap_q7_volume_shipping": (
            "SELECT supp_nation, cust_nation, yr,"
            " round(sum(volume), 2) AS revenue FROM ("
            " SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
            "  CAST(year(l_shipdate) AS INT) AS yr,"
            "  l_extendedprice * (1 - l_discount) AS volume"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
            " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
            " WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
            "  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
            " AND l_shipdate >= TIMESTAMP '1995-01-01'"
            " AND l_shipdate < TIMESTAMP '1998-01-01')"
            " GROUP BY supp_nation, cust_nation, yr"
        ),
        "olap_q8_market_share": (
            "SELECT yr, round(sum(CASE WHEN nation = 'NATION_3'"
            "   THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share"
            " FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr,"
            "  l_extendedprice * (1 - l_discount) AS volume,"
            "  n1.n_name AS nation"
            " FROM lineitem JOIN part ON l_partkey = p_partkey"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
            " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
            " JOIN region ON n2.n_regionkey = r_regionkey"
            " WHERE r_name = 'ASIA' AND p_type = 'PROMO')"
            " GROUP BY yr"
        ),
        "olap_q9_product_profit": (
            "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,"
            " round(sum(l_extendedprice * (1 - l_discount)"
            "  - 0.8 * p_retailprice * l_quantity), 2) AS profit"
            " FROM lineitem JOIN part ON l_partkey = p_partkey"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " JOIN nation ON s_nationkey = n_nationkey"
            " WHERE p_name LIKE '%red%'"
            " GROUP BY n_name, yr"
        ),
        "olap_q10_returned_items": (
            "SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal,"
            " n_name,"
            " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " WHERE l_returnflag = 'R'"
            " AND o_orderdate >= TIMESTAMP '1996-01-01'"
            " AND o_orderdate < TIMESTAMP '1996-07-01'"
            " GROUP BY c_custkey, c_name, c_acctbal, n_name"
            " ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
        ),
        "olap_q13_customer_distribution": (
            "SELECT c_count, count(*) AS custdist FROM ("
            " SELECT c_custkey, count(o_orderkey) AS c_count"
            " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
            "  AND o_orderpriority <> '1-URGENT'"
            " GROUP BY c_custkey)"
            " GROUP BY c_count"
        ),
        "olap_q14_promo_effect": (
            "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'"
            "   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
            "  / sum(l_extendedprice * (1 - l_discount)), 4)"
            "  AS promo_revenue_pct"
            " FROM lineitem JOIN part ON l_partkey = p_partkey"
            " WHERE l_shipdate >= TIMESTAMP '1996-03-01'"
            " AND l_shipdate < TIMESTAMP '1996-04-01'"
        ),
        "olap_q15_top_supplier": (
            "WITH rev AS (SELECT l_suppkey,"
            "  round(sum(l_extendedprice * (1 - l_discount)), 2)"
            "   AS total_revenue"
            " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
            "  AND l_shipdate < TIMESTAMP '1996-04-01'"
            " GROUP BY l_suppkey)"
            " SELECT s_suppkey, s_name, total_revenue"
            " FROM supplier JOIN rev ON s_suppkey = l_suppkey"
            " WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"
        ),
        "olap_q17_small_quantity": (
            "WITH bli AS (SELECT l_partkey, l_quantity, l_extendedprice"
            "  FROM lineitem JOIN part ON l_partkey = p_partkey"
            "  WHERE p_brand = 'Brand#23'),"
            " thr AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS cap"
            "  FROM bli GROUP BY l_partkey)"
            " SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly"
            " FROM bli JOIN thr USING (l_partkey) WHERE l_quantity < cap"
        ),
        "olap_q18_large_orders": (
            "SELECT c_custkey, c_name, o_orderkey,"
            " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,"
            " round(o_totalprice, 2) AS totalprice, sum_qty"
            " FROM orders"
            " JOIN (SELECT l_orderkey,"
            "   round(sum(l_quantity), 2) AS sum_qty FROM lineitem"
            "  GROUP BY l_orderkey"
            "  HAVING round(sum(l_quantity), 2) > 350) big"
            "  ON o_orderkey = big.l_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100"
        ),
        "olap_q19_disjunctive": (
            "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)"
            "  AS revenue"
            " FROM lineitem JOIN part ON p_partkey = l_partkey"
            " WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
            "   AND l_quantity BETWEEN 1 AND 11)"
            " OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30"
            "   AND l_quantity BETWEEN 10 AND 20)"
            " OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50"
            "   AND l_quantity BETWEEN 20 AND 30)"
        ),
        "olap_q22_idle_customers": (
            "SELECT CAST(c_custkey % 10 AS INT) AS bucket,"
            " count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_bal"
            " FROM customer"
            " WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer"
            "   WHERE c_acctbal > 0)"
            " AND c_custkey NOT IN (SELECT o_custkey FROM orders"
            "   WHERE o_orderdate >= TIMESTAMP '2000-01-01')"
            " GROUP BY bucket"
        ),
        "graph_pagerank": (
            # 3 unrolled power iterations, dangling mass included —
            # mirrors graph.pagerank exactly (d=0.85).
            "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
            "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " GROUP BY src, dst),"
            " nodes AS (SELECT DISTINCT src AS node FROM e"
            "  UNION SELECT DISTINCT dst FROM e),"
            " nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),"
            " p AS (SELECT src, dst,"
            "  w * 1.0 / sum(w) OVER (PARTITION BY src) AS p FROM e),"
            " r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),"
            " m0 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r0"
            "  WHERE node NOT IN (SELECT src FROM e)),"
            " c0 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
            "  FROM p JOIN r0 r ON p.src = r.node GROUP BY p.dst),"
            " r1 AS (SELECT nd.node, 0.15 / nn.n"
            "   + 0.85 * (coalesce(c0.contrib, 0.0) + m0.m / nn.n) AS pr"
            "  FROM nodes nd CROSS JOIN nn CROSS JOIN m0"
            "  LEFT JOIN c0 ON nd.node = c0.node),"
            " m1 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r1"
            "  WHERE node NOT IN (SELECT src FROM e)),"
            " c1 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
            "  FROM p JOIN r1 r ON p.src = r.node GROUP BY p.dst),"
            " r2 AS (SELECT nd.node, 0.15 / nn.n"
            "   + 0.85 * (coalesce(c1.contrib, 0.0) + m1.m / nn.n) AS pr"
            "  FROM nodes nd CROSS JOIN nn CROSS JOIN m1"
            "  LEFT JOIN c1 ON nd.node = c1.node),"
            " m2 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r2"
            "  WHERE node NOT IN (SELECT src FROM e)),"
            " c2 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
            "  FROM p JOIN r2 r ON p.src = r.node GROUP BY p.dst)"
            " SELECT nd.node, round(0.15 / nn.n"
            "   + 0.85 * (coalesce(c2.contrib, 0.0) + m2.m / nn.n), 6)"
            "  AS rank"
            " FROM nodes nd CROSS JOIN nn CROSS JOIN m2"
            " LEFT JOIN c2 ON nd.node = c2.node"
        ),
        "graph_degree_stats": (
            "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
            "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " GROUP BY src, dst),"
            " o AS (SELECT src AS node, count(*) AS out_degree,"
            "  count(DISTINCT dst) AS out_distinct FROM e GROUP BY src),"
            " i AS (SELECT dst AS node, count(*) AS in_degree,"
            "  count(DISTINCT src) AS in_distinct FROM e GROUP BY dst)"
            " SELECT coalesce(o.node, i.node) AS node,"
            " coalesce(out_degree, 0) AS out_degree,"
            " coalesce(out_distinct, 0) AS out_distinct,"
            " coalesce(in_degree, 0) AS in_degree,"
            " coalesce(in_distinct, 0) AS in_distinct"
            " FROM o FULL OUTER JOIN i ON o.node = i.node"
        ),
        "agg_linreg": (
            "SELECT l_returnflag, count(*) AS n_obs,"
            " round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,"
            " round(avg(l_extendedprice)"
            "  - regr_slope(l_extendedprice, l_quantity)"
            "   * avg(l_quantity), 2) AS intercept,"
            " round(pow(corr(l_extendedprice, l_quantity), 2), 6) AS r2"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "sim_int8_quantize": (
            "WITH q AS (SELECT vec_id,"
            "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,"
            "  127.0 / list_max(list_transform(embedding,"
            "   x -> abs(CAST(x AS DOUBLE)))) AS sc"
            " FROM embeddings)"
            " SELECT vec_id, CAST(len(v) AS INT) AS n_dims,"
            " round(sc, 6) AS scale,"
            " CAST(list_min(list_transform(v,"
            "  x -> CAST(round(x * sc) AS INT))) AS INT) AS min_code,"
            " CAST(list_max(list_transform(v,"
            "  x -> CAST(round(x * sc) AS INT))) AS INT) AS max_code,"
            " round(sqrt(list_sum(list_transform(v,"
            "  x -> pow(x - CAST(round(x * sc) AS INT) / sc, 2))) / len(v)),"
            "  6) AS recon_rmse"
            " FROM q"
        ),
        "sim_centroid_cosine": (
            "WITH x AS (SELECT label, u.i AS dim,"
            "  CAST(embedding[u.i] AS DOUBLE) AS val FROM embeddings,"
            "  LATERAL unnest(generate_series(1, len(embedding))) u(i)),"
            " g AS (SELECT label, dim, sum(val) AS s, count(*) AS n"
            "  FROM x GROUP BY label, dim),"
            " c AS (SELECT label, list(s / n ORDER BY dim) AS centroid"
            "  FROM g GROUP BY label)"
            " SELECT a.label AS label_a, b.label AS label_b,"
            " round(list_dot_product(a.centroid, b.centroid)"
            "  / (sqrt(list_dot_product(a.centroid, a.centroid))"
            "   * sqrt(list_dot_product(b.centroid, b.centroid))), 6)"
            "  AS cosine"
            " FROM c a JOIN c b ON a.label < b.label"
        ),
        "ddp_bloom_prefilter": (
            # base_hash(s||'#i') % 2^16 per i in 0..3 — identical to
            # dedupe.bloom_positions; candidate iff all 4 bits set.
            "WITH pos AS (SELECT DISTINCT"
            "  CAST(concat('0x', substr(md5(concat("
            "   CAST(c_custkey AS VARCHAR), '#', t.i)), 1, 8)) AS BIGINT)"
            "   % 65536 AS pos"
            " FROM customer, LATERAL unnest(['0','1','2','3']) t(i)"
            " WHERE c_acctbal > 9000),"
            " checks AS (SELECT probe_key,"
            "  CAST(concat('0x', substr(md5(concat("
            "   CAST(probe_key AS VARCHAR), '#', t.i)), 1, 8)) AS BIGINT)"
            "   % 65536 AS pos"
            " FROM (SELECT DISTINCT o_custkey AS probe_key FROM orders),"
            "  LATERAL unnest(['0','1','2','3']) t(i))"
            " SELECT probe_key,"
            " count(*) FILTER (WHERE pos IN (SELECT pos FROM pos)) = 4"
            "  AS bloom_candidate"
            " FROM checks GROUP BY probe_key"
        ),
        "txt_zipf_slope": (
            r"WITH toks AS (SELECT unnest(list_filter("
            r" regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))"
            r"  AS term FROM documents),"
            " f AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),"
            " r AS (SELECT ln(CAST(freq AS DOUBLE)) AS lf,"
            "  ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC)"
            "   AS DOUBLE)) AS lr FROM f)"
            " SELECT count(*) AS n_terms,"
            " round(regr_slope(lf, lr), 4) AS zipf_slope,"
            " round(avg(lf) - regr_slope(lf, lr) * avg(lr), 4) AS intercept"
            " FROM r"
        ),
        "evt_rfm": (
            "WITH u AS (SELECT user_id, max(ts) AS _last,"
            "  count(*) AS frequency, round(sum(value), 2) AS monetary"
            " FROM events GROUP BY user_id),"
            " mx AS (SELECT max(ts) AS _cmax FROM events),"
            " s AS (SELECT user_id, CAST(datediff('day',"
            "   CAST(_last AS DATE), CAST(_cmax AS DATE)) AS INT)"
            "   AS recency_days, frequency, monetary FROM u, mx),"
            " t AS (SELECT user_id, recency_days, frequency, monetary,"
            "  CAST(ntile(4) OVER (ORDER BY recency_days DESC, user_id)"
            "   AS INT) AS r_tile,"
            "  CAST(ntile(4) OVER (ORDER BY frequency ASC, user_id)"
            "   AS INT) AS f_tile,"
            "  CAST(ntile(4) OVER (ORDER BY monetary ASC, user_id)"
            "   AS INT) AS m_tile FROM s)"
            " SELECT user_id, recency_days, frequency, monetary,"
            " r_tile, f_tile, m_tile,"
            " CAST(r_tile * 100 + f_tile * 10 + m_tile AS INT) AS segment"
            " FROM t"
        ),
        "tbl_partition_balance": (
            "WITH b AS (SELECT CAST(CAST(concat('0x',"
            "   substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)"
            "   % 32 AS INT) AS bucket, count(*) AS n_rows"
            " FROM lineitem GROUP BY bucket)"
            " SELECT bucket, n_rows,"
            " round(n_rows * 1.0 / sum(n_rows) OVER (), 6) AS share,"
            " round(max(n_rows) OVER () * 1.0 / avg(n_rows) OVER (), 4)"
            "  AS skew_factor"
            " FROM b"
        ),
        "win_ratio_to_report": (
            "WITH r AS (SELECT CAST(s_nationkey AS INT) AS nationkey,"
            "  s_suppkey, sum(l_extendedprice * (1 - l_discount)) AS _rev"
            " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
            " GROUP BY nationkey, s_suppkey)"
            " SELECT nationkey, s_suppkey, round(_rev, 2) AS revenue,"
            " round(_rev / sum(_rev) OVER (PARTITION BY nationkey), 6)"
            "  AS share"
            " FROM r"
        ),
        "evt_markov": (
            "WITH p AS (SELECT event_type AS from_type,"
            "  lead(event_type) OVER (PARTITION BY user_id"
            "   ORDER BY ts, event_id) AS to_type FROM events)"
            " SELECT from_type, to_type, count(*) AS n_transitions,"
            " round(count(*) * 1.0 / sum(count(*))"
            "  OVER (PARTITION BY from_type), 6) AS p"
            " FROM p WHERE to_type IS NOT NULL"
            " GROUP BY from_type, to_type"
        ),
        "agg_ks_test": (
            "WITH s AS (SELECT l_extendedprice AS v,"
            "  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_a"
            " FROM lineitem WHERE l_returnflag IN ('R', 'A')),"
            " pv AS (SELECT v, sum(is_a) AS c_a,"
            "  count(*) - sum(is_a) AS c_b FROM s GROUP BY v),"
            " t AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,"
            "  CAST(sum(c_b) AS BIGINT) AS n_b FROM pv),"
            " c AS (SELECT n_a, n_b,"
            "  sum(c_a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
            "   PRECEDING AND CURRENT ROW) * 1.0 / n_a"
            "  - sum(c_b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
            "   PRECEDING AND CURRENT ROW) * 1.0 / n_b AS d"
            "  FROM pv, t)"
            " SELECT n_a, n_b, round(max(abs(d)), 6) AS ks_stat"
            " FROM c GROUP BY n_a, n_b"
        ),
        "agg_cov_matrix": (
            "SELECT l_returnflag, count(*) AS n_obs,"
            " round(var_samp(l_quantity), 4) AS var_qty,"
            " round(var_samp(l_extendedprice / 1000.0), 4) AS var_price_k,"
            " round(var_samp(l_discount), 4) AS var_disc,"
            " round(covar_samp(l_quantity, l_extendedprice / 1000.0), 4)"
            "  AS cov_qty_price_k,"
            " round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc,"
            " round(covar_samp(l_extendedprice / 1000.0, l_discount), 4)"
            "  AS cov_price_k_disc"
            " FROM lineitem GROUP BY l_returnflag"
        ),
        "txt_source_jaccard": (
            r"WITH terms AS (SELECT DISTINCT source AS g,"
            r" unnest(list_filter(regexp_split_to_array("
            r"  lower(trim(text)), '\s+'), x -> x <> '')) AS term"
            r" FROM documents),"
            " sizes AS (SELECT g, count(*) AS n FROM terms GROUP BY g),"
            " inter AS (SELECT a.g AS src_a, b.g AS src_b,"
            "  count(*) AS n_common FROM terms a JOIN terms b"
            "  ON a.term = b.term AND a.g < b.g GROUP BY a.g, b.g)"
            " SELECT src_a, src_b, n_common,"
            " round(n_common * 1.0 / (sa.n + sb.n - n_common), 6)"
            "  AS jaccard"
            " FROM inter JOIN sizes sa ON sa.g = src_a"
            " JOIN sizes sb ON sb.g = src_b"
        ),
        "win_rolling_corr": (
            # identical prefix-sum moment differencing on exact
            # integer (cents) values — see _win_rolling_corr
            "WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  CAST(round(l_quantity) AS BIGINT) AS x,"
            "  CAST(round(l_extendedprice * 100) AS BIGINT) AS y,"
            "  l_shipdate FROM lineitem),"
            " c AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  row_number() OVER w AS rn,"
            "  sum(x) OVER wc AS cx, sum(y) OVER wc AS cy,"
            "  sum(x * y) OVER wc AS cxy, sum(x * x) OVER wc AS cxx,"
            "  sum(y * y) OVER wc AS cyy"
            " FROM b WINDOW"
            "  w AS (PARTITION BY l_returnflag ORDER BY l_shipdate,"
            "   l_orderkey, l_linenumber, x, y),"
            "  wc AS (PARTITION BY l_returnflag ORDER BY l_shipdate,"
            "   l_orderkey, l_linenumber, x, y"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),"
            " d AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  CAST(least(rn, 30) AS DOUBLE) AS n,"
            "  CAST(cx - coalesce(lag(cx, 30) OVER wr, 0) AS DOUBLE) AS sx,"
            "  CAST(cy - coalesce(lag(cy, 30) OVER wr, 0) AS DOUBLE) AS sy,"
            "  CAST(cxy - coalesce(lag(cxy, 30) OVER wr, 0) AS DOUBLE)"
            "   AS sxy,"
            "  CAST(cxx - coalesce(lag(cxx, 30) OVER wr, 0) AS DOUBLE)"
            "   AS sxx,"
            "  CAST(cyy - coalesce(lag(cyy, 30) OVER wr, 0) AS DOUBLE)"
            "   AS syy"
            " FROM c WINDOW wr AS (PARTITION BY l_returnflag ORDER BY rn))"
            " SELECT l_orderkey, l_linenumber, l_returnflag,"
            " CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            "  THEN round((n * sxy - sx * sy)"
            "   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4)"
            "   + 0 ELSE NULL END AS rolling_corr"
            " FROM d"
        ),
        "win_rolling_corr_supplier": (
            # same prefix-sum kernel, per-supplier streams (the
            # scale-safe headline form) — see _win_rolling_corr_supplier
            "WITH b AS (SELECT l_orderkey, l_linenumber, l_suppkey,"
            "  CAST(round(l_quantity) AS BIGINT) AS x,"
            "  CAST(round(l_extendedprice * 100) AS BIGINT) AS y,"
            "  l_shipdate FROM lineitem),"
            " c AS (SELECT l_orderkey, l_linenumber, l_suppkey,"
            "  row_number() OVER w AS rn,"
            "  sum(x) OVER wc AS cx, sum(y) OVER wc AS cy,"
            "  sum(x * y) OVER wc AS cxy, sum(x * x) OVER wc AS cxx,"
            "  sum(y * y) OVER wc AS cyy"
            " FROM b WINDOW"
            "  w AS (PARTITION BY l_suppkey ORDER BY l_shipdate,"
            "   l_orderkey, l_linenumber, x, y),"
            "  wc AS (PARTITION BY l_suppkey ORDER BY l_shipdate,"
            "   l_orderkey, l_linenumber, x, y"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),"
            " d AS (SELECT l_orderkey, l_linenumber, l_suppkey,"
            "  CAST(least(rn, 30) AS DOUBLE) AS n,"
            "  CAST(cx - coalesce(lag(cx, 30) OVER wr, 0) AS DOUBLE) AS sx,"
            "  CAST(cy - coalesce(lag(cy, 30) OVER wr, 0) AS DOUBLE) AS sy,"
            "  CAST(cxy - coalesce(lag(cxy, 30) OVER wr, 0) AS DOUBLE)"
            "   AS sxy,"
            "  CAST(cxx - coalesce(lag(cxx, 30) OVER wr, 0) AS DOUBLE)"
            "   AS sxx,"
            "  CAST(cyy - coalesce(lag(cyy, 30) OVER wr, 0) AS DOUBLE)"
            "   AS syy"
            " FROM c WINDOW wr AS (PARTITION BY l_suppkey ORDER BY rn))"
            " SELECT l_orderkey, l_linenumber, l_suppkey,"
            " CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            "  THEN round((n * sxy - sx * sy)"
            "   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4)"
            "   + 0 ELSE NULL END AS rolling_corr"
            " FROM d"
        ),
        "join_bucketed": (
            "SELECT c_mktsegment, count(*) AS n_orders,"
            " round(sum(o_totalprice), 2) AS total_price"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
            " GROUP BY c_mktsegment"
        ),
        "win_cumulative_distinct": (
            "WITH f AS (SELECT event_id, user_id, ts,"
            "  CASE WHEN row_number() OVER (PARTITION BY user_id,"
            "   event_type ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END"
            "   AS is_first FROM events)"
            " SELECT event_id, user_id,"
            " CAST(sum(is_first) OVER (PARTITION BY user_id"
            "  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING"
            "  AND CURRENT ROW) AS BIGINT) AS n_types_seen"
            " FROM f"
        ),
        "smp_neg_sampling": (
            # identical md5 draw, modulus, validity semi-join, and
            # positives anti-join as relational.negative_sample_keys
            "WITH inter AS (SELECT DISTINCT o_custkey AS custkey,"
            "  l_partkey AS partkey"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey),"
            " mx AS (SELECT max(p_partkey) AS m FROM part),"
            " cands AS (SELECT custkey, t.i AS cand_idx,"
            "  CAST(concat('0x', substr(md5(concat("
            "   CAST(custkey AS VARCHAR), '#', t.i)), 1, 8)) AS BIGINT)"
            "   % (SELECT m FROM mx) + 1 AS partkey"
            " FROM (SELECT DISTINCT custkey FROM inter),"
            "  LATERAL unnest(['0','1','2','3','4','5','6','7']) t(i)),"
            " valid AS (SELECT c.custkey, c.cand_idx, c.partkey"
            "  FROM cands c WHERE c.partkey IN"
            "   (SELECT p_partkey FROM part)),"
            " negs AS (SELECT v.* FROM valid v WHERE NOT EXISTS"
            "  (SELECT 1 FROM inter i WHERE i.custkey = v.custkey"
            "   AND i.partkey = v.partkey))"
            " SELECT custkey, partkey, CAST(cand_idx AS INT) AS cand_idx"
            " FROM (SELECT *, row_number() OVER (PARTITION BY custkey"
            "   ORDER BY cand_idx) AS rk FROM negs)"
            " WHERE rk <= 4"
        ),
        "txt_lang_confusion": (
            f"WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t"
            "  FROM documents),"
            " s AS (SELECT doc_id, lang,"
            + ",".join(
                f" len(list_filter(t, x -> list_contains("
                f"{list(T.LANG_MARKERS[lang])}, x))) AS score_{lang}"
                for lang in T.LANG_MARKERS
            )
            + " FROM toks),"
            " p AS (SELECT lang, CASE"
            " WHEN score_en >= score_fr AND score_en >= score_es"
            "  AND score_en >= score_de AND score_en >= score_zh THEN 'en'"
            " WHEN score_fr >= score_es AND score_fr >= score_de"
            "  AND score_fr >= score_zh THEN 'fr'"
            " WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'"
            " WHEN score_de >= score_zh THEN 'de'"
            " ELSE 'zh' END AS lang_pred FROM s)"
            " SELECT lang, lang_pred, count(*) AS n_docs,"
            " round(count(*) * 1.0 / sum(count(*))"
            "  OVER (PARTITION BY lang), 6) AS share"
            " FROM p GROUP BY lang, lang_pred"
        ),
        "sim_ivf_pq_topk": _ivf_pq_topk_oracle(),
        "tbl_incremental_agg": (
            # full recompute — the equivalence oracle for the
            # incremental base+delta merge
            "SELECT o_custkey, count(*) AS n_orders,"
            " round(sum(round(o_totalprice, 2)), 2) AS total_price"
            " FROM orders GROUP BY o_custkey"
        ),
        "smp_weighted_reservoir": (
            # identical Efraimidis-Spirakis draw: ln(u)/w with
            # u = (base_hash(identity)+1)/(2^32+1)
            "WITH s AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  l_quantity, l_extendedprice,"
            "  CAST(round(l_quantity) AS BIGINT) AS qty_i,"
            "  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents"
            " FROM lineitem),"
            " kd AS (SELECT *,"
            "  ln((CAST(concat('0x', substr(md5(concat("
            "   CAST(l_orderkey AS VARCHAR), '#',"
            "   CAST(l_linenumber AS VARCHAR), '#',"
            "   CAST(qty_i AS VARCHAR), '#', CAST(cents AS VARCHAR))),"
            "   1, 8)) AS BIGINT) + 1) / 4294967297.0) / l_quantity AS k"
            " FROM s)"
            " SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,"
            " round(l_extendedprice, 2) AS price"
            " FROM (SELECT *, row_number() OVER ("
            "  PARTITION BY l_returnflag ORDER BY k DESC,"
            "  l_orderkey, l_linenumber, qty_i, cents) AS rn FROM kd)"
            " WHERE rn <= 50"
        ),
        "srt_pareto_frontier": (
            "WITH p AS (SELECT p_partkey, p_name,"
            "  round(p_retailprice, 2) AS price,"
            "  CAST(p_size AS INT) AS size FROM part),"
            " rep AS (SELECT price, size, p_partkey, p_name FROM ("
            "  SELECT p.*, row_number() OVER (PARTITION BY price"
            "   ORDER BY size DESC, p_partkey, p_name) AS rn FROM p)"
            "  WHERE rn = 1),"
            " f AS (SELECT rep.*, max(size) OVER (ORDER BY price ASC"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm"
            "  FROM rep)"
            " SELECT p_partkey, p_name, price, size FROM f"
            " WHERE cm IS NULL OR size > cm"
        ),
        "smp_quantile_normalize": (
            "WITH s AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  l_extendedprice,"
            "  CAST(round(l_quantity) AS BIGINT) AS qty_i,"
            "  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents"
            " FROM lineitem),"
            # Replicate Spark percentile's exact interpolation
            # a*(1-f) + b*f bit-for-bit.  Every arithmetic step is its
            # own CTE column: DuckDB's compiled compound expressions
            # FMA-contract mul+add (1-ulp drift vs the JVM), but ops
            # materialized in separate projections are plain IEEE.
            " arr AS (SELECT list(l_extendedprice"
            "   ORDER BY l_extendedprice) AS a, count(*) AS n"
            "  FROM lineitem),"
            " gi AS (SELECT unnest(generate_series(0, 1000)) AS i),"
            " q1 AS (SELECT i, (n - 1) * (i / 1000.0) AS h, a FROM gi, arr),"
            " q2 AS (SELECT i, h, floor(h) AS lo, a FROM q1),"
            " q3 AS (SELECT i, a[CAST(lo AS INT) + 1] AS av,"
            "   a[CAST(ceil(h) AS INT) + 1] AS bv, h - lo AS f FROM q2),"
            " q4 AS (SELECT i, av * (1 - f) AS x, bv * f AS y FROM q3),"
            " q5 AS (SELECT i, x + y AS qv FROM q4),"
            " q6 AS (SELECT i, qv * 100 AS qc FROM q5),"
            " q7 AS (SELECT i, CAST(floor(qc + 0.5) AS BIGINT) AS qcents"
            "  FROM q6),"
            " r AS (SELECT *, percent_rank() OVER ("
            "  PARTITION BY l_returnflag ORDER BY l_extendedprice,"
            "  l_orderkey, l_linenumber, qty_i, cents) AS pr FROM s)"
            " SELECT l_orderkey, l_linenumber, l_returnflag,"
            " round(l_extendedprice, 2) AS price, q7.qcents"
            "  AS normalized_cents"
            " FROM r JOIN q7 ON q7.i = CAST(round(r.pr * 1000) AS INT)"
        ),
        "join_qgram_fuzzy": (
            r"WITH t AS (SELECT p_partkey AS k, p_name AS txt,"
            r" unnest(regexp_split_to_array(lower(p_name), '\s+')) AS tok"
            r" FROM part WHERE p_partkey % 10 = 0),"
            " cand AS (SELECT DISTINCT a.k AS left_key, b.k AS right_key,"
            "  a.txt AS left_text, b.txt AS right_text"
            " FROM t a JOIN t b ON a.tok = b.tok"
            "  AND abs(len(a.txt) - len(b.txt)) <= 2 AND a.k < b.k)"
            " SELECT left_key, right_key, left_text, right_text,"
            " CAST(levenshtein(left_text, right_text) AS INT) AS distance"
            " FROM cand WHERE levenshtein(left_text, right_text) <= 2"
        ),
        "evt_conversion_time": (
            "WITH u AS (SELECT user_id,"
            "  min(CASE WHEN event_type = 'view' THEN ts END) AS tf,"
            "  min(CASE WHEN event_type = 'purchase' THEN ts END) AS tt"
            " FROM events GROUP BY user_id)"
            " SELECT user_id,"
            " CAST(floor(epoch(tt)) AS BIGINT)"
            "  - CAST(floor(epoch(tf)) AS BIGINT) AS latency_sec"
            " FROM u WHERE tf IS NOT NULL AND tt IS NOT NULL AND tt >= tf"
        ),
        "evt_event_rate": (
            "WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hh,"
            "  count(*) AS n FROM events GROUP BY user_id, hh)"
            " SELECT user_id, count(*) AS n_active_hours,"
            " CAST(sum(n) AS BIGINT) AS n_events,"
            " round(avg(n), 4) AS events_per_hour,"
            " round(var_samp(n) / avg(n), 4) AS dispersion"
            " FROM h GROUP BY user_id"
        ),
        "stream_incremental_agg": (
            # the streamed maintained aggregate must equal the
            # one-shot full recompute
            "SELECT o_custkey, count(*) AS n_orders,"
            " round(sum(round(o_totalprice, 2)), 2) AS total_price"
            " FROM orders GROUP BY o_custkey"
        ),
        "evt_ab_test": (
            "WITH u AS (SELECT user_id,"
            "  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
            "   AS saw,"
            "  max(CASE WHEN event_type = 'purchase' AND value > 450"
            "   THEN 1 ELSE 0 END) AS bought"
            " FROM events GROUP BY user_id),"
            " v AS (SELECT CASE WHEN CAST(concat('0x',"
            "   substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
            "   % 2 = 0 THEN 'A' ELSE 'B' END AS variant, bought"
            "  FROM u WHERE saw = 1),"
            " g AS (SELECT variant, count(*) AS n,"
            "  CAST(sum(bought) AS BIGINT) AS c FROM v GROUP BY variant),"
            " a AS (SELECT n AS na, c AS ca FROM g WHERE variant = 'A'),"
            " b AS (SELECT n AS nb, c AS cb FROM g WHERE variant = 'B')"
            " SELECT na, nb, ca, cb,"
            " round(cb * 1.0 / nb - ca * 1.0 / na, 6) AS lift,"
            " round((cb * 1.0 / nb - ca * 1.0 / na)"
            "  / nullif(sqrt(((ca + cb) * 1.0 / (na + nb))"
            "   * (1 - (ca + cb) * 1.0 / (na + nb))"
            "   * (1.0 / na + 1.0 / nb)), 0), 4) AS z_stat"
            " FROM a, b"
        ),
        "composite_semantic_pairs": _semantic_pairs_oracle(),
        "dt_business_days": (
            "WITH j AS (SELECT"
            "  CAST(date_trunc('month', l_shipdate) AS DATE) AS sm,"
            "  (CAST(floor(datediff('day', DATE '1994-12-26',"
            "    CAST(l_shipdate AS DATE)) / 7) AS BIGINT) * 5"
            "   + least(datediff('day', DATE '1994-12-26',"
            "    CAST(l_shipdate AS DATE)) % 7, 5))"
            "  - (CAST(floor(datediff('day', DATE '1994-12-26',"
            "    CAST(o_orderdate AS DATE)) / 7) AS BIGINT) * 5"
            "   + least(datediff('day', DATE '1994-12-26',"
            "    CAST(o_orderdate AS DATE)) % 7, 5)) AS bd"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
            " SELECT CAST(sm AS VARCHAR) AS ship_month,"
            " count(*) AS n_lines,"
            " round(avg(bd), 4) AS avg_business_days,"
            " CAST(max(bd) AS BIGINT) AS max_business_days"
            " FROM j GROUP BY sm"
        ),
        "agg_tukey_outliers": (
            "WITH f AS (SELECT l_returnflag,"
            "  quantile_cont(l_extendedprice, 0.25) AS q1,"
            "  quantile_cont(l_extendedprice, 0.75) AS q3"
            " FROM lineitem GROUP BY l_returnflag)"
            " SELECT l.l_returnflag, count(*) AS n_rows,"
            " CAST(sum(CASE WHEN l_extendedprice"
            "   < q1 - 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_low_outliers,"
            " CAST(sum(CASE WHEN l_extendedprice"
            "   > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_high_outliers"
            " FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag"
            " GROUP BY l.l_returnflag"
        ),
        "olap_q2_min_cost_supplier": (
            "WITH ps AS (SELECT l_partkey, l_suppkey,"
            "  min(l_extendedprice / l_quantity) AS supplycost"
            " FROM lineitem GROUP BY l_partkey, l_suppkey),"
            " eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name"
            "  FROM supplier JOIN nation ON s_nationkey = n_nationkey"
            "  JOIN region ON n_regionkey = r_regionkey"
            "  WHERE r_name = 'EUROPE'),"
            " elig AS (SELECT p_partkey, p_name, s_name, s_acctbal,"
            "  n_name, supplycost"
            "  FROM ps JOIN part ON l_partkey = p_partkey"
            "  JOIN eur ON l_suppkey = s_suppkey"
            "  WHERE p_type = 'STANDARD' AND p_size <= 15)"
            " SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,"
            " p_partkey, p_name, supplycost AS min_cost"
            " FROM elig WHERE supplycost = (SELECT min(supplycost)"
            "  FROM elig e2 WHERE e2.p_partkey = elig.p_partkey)"
        ),
        "olap_q4_priority_check": (
            "SELECT o_orderpriority, count(*) AS order_count"
            " FROM orders"
            " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
            " AND o_orderdate < TIMESTAMP '1996-07-01'"
            " AND EXISTS (SELECT 1 FROM lineitem"
            "  WHERE l_orderkey = o_orderkey"
            "  AND l_shipdate > o_orderdate + INTERVAL 30 DAY)"
            " GROUP BY o_orderpriority"
        ),
        "olap_q11_important_stock": (
            "WITH pv AS (SELECT l_partkey,"
            "  sum(l_extendedprice) AS part_value"
            " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
            " JOIN nation ON s_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " WHERE r_name = 'ASIA' GROUP BY l_partkey)"
            " SELECT l_partkey AS p_partkey,"
            " round(part_value, 2) AS part_value"
            " FROM pv WHERE round(part_value, 2)"
            "  > (SELECT round(sum(part_value) * 0.001, 2) FROM pv)"
        ),
        "olap_q12_ship_delay": (
            "SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate)"
            "   <= 30 THEN 'FAST'"
            "  WHEN datediff('day', o_orderdate, l_shipdate) <= 90"
            "   THEN 'MEDIUM' ELSE 'SLOW' END AS delay_bucket,"
            " CAST(sum(CASE WHEN o_orderpriority IN"
            "  ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS high_line_count,"
            " CAST(sum(CASE WHEN o_orderpriority IN"
            "  ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)"
            "  AS low_line_count"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1997-01-01'"
            " GROUP BY delay_bucket"
        ),
        "olap_q16_supplier_counts": (
            "SELECT p_brand, p_type, p_size,"
            " count(DISTINCT l_suppkey) AS supplier_cnt"
            " FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"
            " JOIN part ON l_partkey = p_partkey"
            " WHERE p_brand <> 'Brand#5'"
            " AND p_size IN (1, 9, 15, 22, 30, 42)"
            " AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier"
            "  WHERE s_acctbal < 0)"
            " GROUP BY p_brand, p_type, p_size"
        ),
        "olap_q20_part_promotion": (
            "SELECT s_suppkey, s_name, n_name"
            " FROM supplier JOIN nation ON s_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " WHERE r_name = 'EUROPE'"
            " AND s_suppkey IN (SELECT l_suppkey FROM lineitem"
            "  WHERE l_partkey IN (SELECT p_partkey FROM part"
            "   WHERE p_name LIKE '%red%')"
            "  AND l_shipdate >= TIMESTAMP '1996-01-01'"
            "  AND l_shipdate < TIMESTAMP '1997-01-01'"
            "  GROUP BY l_suppkey, l_partkey"
            "  HAVING sum(l_quantity) > 30)"
        ),
        "olap_q21_waiting_suppliers": (
            "WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey"
            "  FROM lineitem),"
            " late AS (SELECT DISTINCT l_orderkey, l_suppkey"
            "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            "  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)"
            " SELECT s_suppkey, s_name, numwait FROM ("
            " SELECT l_suppkey, count(*) AS numwait FROM late l1"
            " WHERE EXISTS (SELECT 1 FROM pairs p"
            "   WHERE p.l_orderkey = l1.l_orderkey"
            "   AND p.l_suppkey <> l1.l_suppkey)"
            " AND NOT EXISTS (SELECT 1 FROM late l2"
            "   WHERE l2.l_orderkey = l1.l_orderkey"
            "   AND l2.l_suppkey <> l1.l_suppkey)"
            " GROUP BY l_suppkey)"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " ORDER BY numwait DESC, s_suppkey ASC LIMIT 100"
        ),
        "src_format_roundtrip": (
            "WITH a AS (SELECT count(*) AS n_rows,"
            "  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))"
            "   AS BIGINT) AS qty_cents,"
            "  round(sum(l_extendedprice), 2) AS revenue,"
            "  CAST(floor(epoch(max(l_shipdate))) AS BIGINT)"
            "   AS max_ship_epoch"
            "  FROM lineitem)"
            " SELECT 'orc' AS fmt, n_rows, qty_cents, revenue,"
            "  max_ship_epoch FROM a"
            " UNION ALL SELECT 'json', n_rows, qty_cents, revenue,"
            "  max_ship_epoch FROM a"
            " UNION ALL SELECT 'tsv', n_rows, qty_cents, revenue,"
            "  max_ship_epoch FROM a"
        ),
        "agg_theil": (
            "WITH pos AS (SELECT l_returnflag, l_extendedprice AS x"
            "  FROM lineitem WHERE l_extendedprice > 0),"
            " mu AS (SELECT l_returnflag, avg(x) AS m,"
            "  count(*) AS n_pos FROM pos GROUP BY 1)"
            " SELECT mu.l_returnflag, n_pos,"
            " round(avg((x / m) * ln(x / m)), 6) AS theil_t"
            " FROM pos p JOIN mu ON p.l_returnflag = mu.l_returnflag"
            " GROUP BY mu.l_returnflag, n_pos"
        ),
        "tbl_checksum": (
            # each column wrapped in coalesce(..., chr(0)||'null') to
            # mirror table_checksum's NULL sentinel — concat_ws would
            # otherwise silently SKIP a NULL arg in both engines,
            # collapsing NULL-vs-missing if a nullable column is added
            # l_returnflag NULLed for ~10% of rows on the md5(PK) % 10
            # residue, mirroring the Spark side — the fixtures carry
            # no NULLs, so this is what makes the chr(0)-'null'
            # sentinel below actually reachable under the driver gate
            "WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,"
            "  l_linenumber, l_linestatus,"
            "  CASE WHEN CAST(concat('0x', substr(md5("
            "   concat_ws('|', CAST(l_orderkey AS VARCHAR),"
            "    CAST(l_linenumber AS VARCHAR))), 1, 8))"
            "   AS BIGINT) % 10 <> 0 THEN l_returnflag END"
            "   AS l_returnflag"
            "  FROM lineitem)"
            " SELECT count(*) AS n_rows,"
            " CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',"
            "  coalesce(CAST(l_orderkey AS VARCHAR), chr(0)||'null'),"
            "  coalesce(CAST(l_partkey AS VARCHAR), chr(0)||'null'),"
            "  coalesce(CAST(l_suppkey AS VARCHAR), chr(0)||'null'),"
            "  coalesce(CAST(l_linenumber AS VARCHAR), chr(0)||'null'),"
            "  coalesce(l_returnflag, chr(0)||'null'),"
            "  coalesce(l_linestatus, chr(0)||'null'))), 1, 8))"
            "  AS BIGINT)) AS BIGINT) AS checksum"
            " FROM li"
        ),
        "txt_bigram_lm": (
            f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t"
            "  FROM documents),"
            " uni AS (SELECT unnest(t) AS term FROM toks),"
            " uc AS (SELECT term, count(*) AS n_term FROM uni"
            "  GROUP BY 1),"
            " tot AS (SELECT sum(n_term) AS n_total FROM uc),"
            " pairs AS (SELECT doc_id, unnest(list_transform("
            "  generate_series(1, greatest(len(t) - 1, 0)),"
            "  i -> {'prev': t[i], 'cur': t[i + 1]})) AS p FROM toks),"
            " pp AS (SELECT doc_id, p.prev AS prev, p.cur AS cur"
            "  FROM pairs),"
            " bc AS (SELECT prev, cur, count(*) AS n_big FROM pp"
            "  GROUP BY 1, 2)"
            " SELECT doc_id, count(*) AS n_bigrams,"
            " round(avg(ln(0.7 * (n_big / CAST(pc.n_term AS DOUBLE))"
            "  + (1 - 0.7) * (cc.n_term / CAST(n_total AS DOUBLE)))), 4)"
            "  AS avg_logprob"
            " FROM pp JOIN bc USING (prev, cur)"
            " JOIN uc pc ON pp.prev = pc.term"
            " JOIN uc cc ON pp.cur = cc.term CROSS JOIN tot"
            " GROUP BY doc_id"
        ),
        "graph_neighbor_jaccard": (
            "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey"
            "  FROM lineitem),"
            " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y"
            "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
            "  AND a.l_partkey < b.l_partkey"
            "  GROUP BY 1, 2 HAVING count(*) >= 2),"
            " neigh AS (SELECT x AS node, y AS w FROM e"
            "  UNION ALL SELECT y, x FROM e),"
            " deg AS (SELECT node, count(*) AS d FROM neigh"
            "  GROUP BY node),"
            " com AS (SELECT n1.node AS na, n2.node AS nb,"
            "  count(*) AS n_common"
            "  FROM neigh n1 JOIN neigh n2 ON n1.w = n2.w"
            "  AND n1.node < n2.node"
            "  GROUP BY 1, 2 HAVING count(*) >= 2)"
            " SELECT na, nb, n_common,"
            " round(n_common / CAST(da.d + db.d - n_common AS DOUBLE), 6)"
            "  AS jaccard"
            " FROM com JOIN deg da ON com.na = da.node"
            " JOIN deg db ON com.nb = db.node"
            " ORDER BY jaccard DESC, na ASC, nb ASC LIMIT 100"
        ),
        "agg_psi": (
            "WITH ev AS (SELECT ts, value FROM events"
            "  WHERE ts IS NOT NULL),"
            " mm AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),"
            " s AS (SELECT CAST(least(floor((value - lo) / (hi - lo)"
            "   * 10), 9) AS INT) AS bin,"
            "  CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS in_a"
            "  FROM ev, mm),"
            " m AS (SELECT bin,"
            "  CAST(sum(in_a) AS BIGINT) AS n_a,"
            "  CAST(sum(1 - in_a) AS BIGINT) AS n_b FROM s GROUP BY bin),"
            " t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM m)"
            " SELECT bin, n_a, n_b,"
            " round(n_a / ta, 6) AS share_a,"
            " round(n_b / tb, 6) AS share_b,"
            " round(CASE WHEN n_a > 0 AND n_b > 0 THEN"
            "  (n_a / ta - n_b / tb) * ln((n_a / ta) / (n_b / tb))"
            "  END, 6) AS contrib"
            " FROM m, t"
        ),
        "smp_kfold": (
            "SELECT CAST(CAST(concat('0x',"
            "  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)"
            "  % 5 AS INT) AS fold,"
            " count(*) AS n_rows,"
            " round(sum(c_acctbal), 2) AS total_acctbal"
            " FROM customer GROUP BY fold"
        ),
        "win_drawdown": (
            "WITH s AS (SELECT user_id, ts, event_id,"
            "  CASE WHEN event_type IN ('purchase', 'signup')"
            "   THEN value ELSE -value END AS delta FROM events),"
            " r AS (SELECT user_id, ts, event_id,"
            "  sum(delta) OVER (PARTITION BY user_id"
            "   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)"
            "   AS running_total FROM s),"
            " p AS (SELECT user_id, running_total,"
            "  max(running_total) OVER (PARTITION BY user_id"
            "   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)"
            "   AS running_peak FROM r)"
            " SELECT user_id, count(*) AS n_events,"
            " round(max(running_peak), 2) AS peak,"
            " round(max(running_peak - running_total), 2)"
            "  AS max_drawdown"
            " FROM p GROUP BY user_id"
        ),
        "composite_corpus_funnel": (
            "WITH alldocs AS (SELECT doc_id, text, source FROM documents"
            "  UNION ALL SELECT doc_id + 1000000, text, source"
            "  FROM documents WHERE doc_id % 10 = 0),"
            f" toks AS (SELECT doc_id, source, text, {_TOKS_SQL} AS t"
            "  FROM alldocs),"
            " w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word"
            "  FROM toks),"
            " wc AS (SELECT doc_id, any_value(n) AS n, word"
            "  FROM w GROUP BY doc_id, word),"
            " wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd"
            "  FROM wc GROUP BY doc_id),"
            " q AS (SELECT t.doc_id, t.source, t.text,"
            "  CAST(len(t.t) AS INT) AS n_tokens,"
            "  round((len(t.t) - coalesce(w.nd, 0))"
            "   / CAST(greatest(len(t.t), 1) AS DOUBLE), 4)"
            "   AS dup_word_frac,"
            "  round(CAST(len(list_filter(t.t, s -> list_contains("
            f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
            "   / greatest(len(t.t), 1), 4) AS stopword_ratio"
            "  FROM toks t LEFT JOIN wagg w ON t.doc_id = w.doc_id),"
            " s2 AS (SELECT * FROM q WHERE dup_word_frac <= 0.75"
            "  AND n_tokens >= 10 AND stopword_ratio >= 0.0),"
            " s3 AS (SELECT * FROM (SELECT *, min(doc_id) OVER ("
            "  PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ',"
            "  'g')))) AS keeper FROM s2) WHERE doc_id = keeper),"
            " s4 AS (SELECT * FROM (SELECT *,"
            "  CAST(sum(n_tokens) OVER (PARTITION BY source"
            "   ORDER BY stopword_ratio DESC, doc_id"
            "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM s3)"
            "  WHERE cum <= 800)"
            " SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,"
            "  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM q"
            " UNION ALL SELECT 1, 'quality_gate', count(*),"
            "  CAST(sum(n_tokens) AS BIGINT) FROM s2"
            " UNION ALL SELECT 2, 'exact_dedup', count(*),"
            "  CAST(sum(n_tokens) AS BIGINT) FROM s3"
            " UNION ALL SELECT 3, 'token_budget', count(*),"
            "  CAST(sum(n_tokens) AS BIGINT) FROM s4"
        ),
        "ddp_semdedup": _semdedup_oracle(),
        "agg_calibration": (
            "WITH mm AS (SELECT min(value) AS lo, max(value) AS hi"
            "  FROM events),"
            " s AS (SELECT (value - lo) / (hi - lo) AS p,"
            "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y"
            "  FROM events, mm),"
            " b AS (SELECT CAST(least(floor("
            "   greatest(least(p, 1.0), 0.0) * 10), 9) AS INT) AS bin,"
            "  p, y FROM s)"
            " SELECT bin, count(*) AS n,"
            " round(avg(p), 4) AS mean_pred,"
            " round(avg(y), 4) AS outcome_rate,"
            " round(abs(avg(p) - avg(y)), 4) AS abs_gap"
            " FROM b GROUP BY bin"
        ),
        "graph_triangles": (
            "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey"
            "  FROM lineitem),"
            " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y"
            "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
            "  AND a.l_partkey < b.l_partkey"
            "  GROUP BY 1, 2 HAVING count(*) >= 2),"
            " deg AS (SELECT node, count(*) AS d FROM ("
            "  SELECT x AS node FROM e UNION ALL SELECT y FROM e)"
            "  GROUP BY node),"
            " wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT)"
            "  AS n_wedges FROM deg),"
            " tri AS (SELECT count(*) AS n_triangles FROM e e1"
            "  JOIN e e2 ON e1.y = e2.x"
            "  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),"
            " ne AS (SELECT count(*) AS n_edges FROM e)"
            " SELECT n_edges, n_wedges, n_triangles,"
            " round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff"
            " FROM ne, wed, tri"
        ),
        "agg_auc": (
            # event_type IS NOT NULL mirrors roc_auc's label-null
            # exclusion (a NULL event_type would otherwise hit ELSE 0
            # here but be dropped Spark-side)
            "WITH s0 AS (SELECT CAST(day(ts) AS INT) AS day,"
            "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,"
            # ~10% of scores NULLed on the md5(event_id) % 10 residue,
            # mirroring the Spark side (the fixtures have no NULL
            # values, so this makes roc_auc's NULL-score exclusion
            # reachable under the driver gate)
            "  CASE WHEN CAST(concat('0x',"
            "   substr(md5(CAST(event_id AS VARCHAR)), 1, 8))"
            "   AS BIGINT) % 10 <> 0 THEN value END AS value"
            "  FROM events WHERE event_type IS NOT NULL),"
            " s AS (SELECT day, y, value FROM s0"
            "  WHERE value IS NOT NULL),"
            " r AS (SELECT day, y,"
            "  rank() OVER (PARTITION BY day ORDER BY value ASC)"
            "  + (count(*) OVER (PARTITION BY day, value) - 1) / 2.0"
            "   AS rr FROM s),"
            " g AS (SELECT day,"
            "  sum(CASE WHEN y = 1 THEN rr END) AS rsum,"
            "  CAST(sum(y) AS BIGINT) AS n_pos,"
            "  CAST(sum(1 - y) AS BIGINT) AS n_neg"
            "  FROM r GROUP BY day)"
            " SELECT day, n_pos, n_neg,"
            " round((rsum - n_pos * (n_pos + 1) / 2.0)"
            "  / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc"
            " FROM g"
        ),
        "agg_tost": (
            # same conditional-moment CTE shape as agg_welch, plus the
            # two one-sided z statistics against the +/-25 margin
            "WITH s AS (SELECT event_type,"
            "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),"
            "   1, 8)) AS BIGINT) % 2 AS arm, value FROM events),"
            " g AS (SELECT event_type,"
            "  count(CASE WHEN arm = 0 THEN value END) AS n0,"
            "  avg(CASE WHEN arm = 0 THEN value END) AS m0,"
            "  var_samp(CASE WHEN arm = 0 THEN value END) AS v0,"
            "  count(CASE WHEN arm <> 0 THEN value END) AS n1,"
            "  avg(CASE WHEN arm <> 0 THEN value END) AS m1,"
            "  var_samp(CASE WHEN arm <> 0 THEN value END) AS v1"
            "  FROM s GROUP BY event_type)"
            " SELECT event_type, n0, n1,"
            " round(m0 - m1, 4) AS mean_diff,"
            " round(sqrt(v0 / n0 + v1 / n1), 4) AS se,"
            " round((m0 - m1 + 25.0) / sqrt(v0 / n0 + v1 / n1), 4)"
            "  AS z_lower,"
            " round((m0 - m1 - 25.0) / sqrt(v0 / n0 + v1 / n1), 4)"
            "  AS z_upper,"
            " CAST(CASE WHEN"
            "  (m0 - m1 + 25.0) / sqrt(v0 / n0 + v1 / n1) > 1.6449"
            "  AND (m0 - m1 - 25.0) / sqrt(v0 / n0 + v1 / n1) < -1.6449"
            "  THEN 1 ELSE 0 END AS INT) AS equivalent"
            " FROM g"
        ),
        "agg_welch": (
            "WITH s AS (SELECT"
            "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),"
            "   1, 8)) AS BIGINT) % 2 AS arm,"
            # ~10% of metric values NULLed on the md5(event_id) % 10
            # residue, mirroring the Spark side: the fixtures carry no
            # NULLs in events.value, so this injection is what makes
            # the NULL-skipping count/avg/var_samp semantics below
            # actually reachable under the driver gate (ADVICE r04
            # hazard 1)
            "  CASE WHEN CAST(concat('0x',"
            "   substr(md5(CAST(event_id AS VARCHAR)), 1, 8))"
            "   AS BIGINT) % 10 <> 0 THEN value END AS value"
            "  FROM events),"
            " g AS (SELECT"
            # count() over the value expression counts NON-NULL metric
            # values only, matching welch_ttest's F.count(F.when(...))
            # semantics (a raw row count would diverge the moment a
            # null appears — and nulls now provably appear)
            "  count(CASE WHEN arm = 0 THEN value END) AS n0,"
            "  avg(CASE WHEN arm = 0 THEN value END) AS m0,"
            "  var_samp(CASE WHEN arm = 0 THEN value END) AS v0,"
            "  count(CASE WHEN arm <> 0 THEN value END) AS n1,"
            "  avg(CASE WHEN arm <> 0 THEN value END) AS m1,"
            "  var_samp(CASE WHEN arm <> 0 THEN value END) AS v1"
            "  FROM s)"
            " SELECT n0, n1, round(m0, 4) AS mean0, round(m1, 4) AS mean1,"
            " round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 4) AS t_stat,"
            " round(pow(v0 / n0 + v1 / n1, 2)"
            "  / (pow(v0 / n0, 2) / (n0 - 1)"
            "   + pow(v1 / n1, 2) / (n1 - 1)), 4) AS welch_dof"
            " FROM g"
        ),
        "smp_balanced_classes": (
            "WITH m AS (SELECT min(cnt) AS min_n FROM ("
            "  SELECT count(*) AS cnt FROM embeddings GROUP BY label)),"
            " r AS (SELECT vec_id, label, row_number() OVER ("
            "  PARTITION BY label ORDER BY"
            "  CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),"
            "   1, 8)) AS BIGINT) ASC, vec_id ASC) AS rk"
            "  FROM embeddings)"
            " SELECT vec_id, label FROM r, m WHERE rk <= min_n"
        ),
        "txt_vocab_coverage": (
            f"WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),"
            " toks AS (SELECT unnest(t) AS tok FROM tk),"
            " c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),"
            " tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),"
            " curve AS (SELECT"
            "  row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,"
            "  CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ASC"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            "   AS BIGINT) AS cum FROM c),"
            " thr AS (SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS threshold)"
            " SELECT threshold,"
            " CAST(min(rank) AS BIGINT) AS vocab_size,"
            " CAST(min(cum) AS BIGINT) AS covered_tokens"
            " FROM curve, thr, tot WHERE cum >= threshold * total"
            " GROUP BY threshold"
        ),
        "evt_attribution_linear": (
            "WITH ev AS (SELECT event_id, user_id, ts, event_type,"
            "  round(value, 2) AS value FROM events),"
            " p AS (SELECT user_id, ts AS p_ts, event_id AS p_id,"
            "  CAST(floor((CAST(round(value * 100) AS BIGINT) * 10000)"
            "   / n_touches) AS BIGINT) AS credit_u FROM ("
            "  SELECT *, coalesce(sum(CASE WHEN event_type IN"
            "    ('view', 'click') THEN 1 ELSE 0 END) OVER ("
            "   PARTITION BY user_id ORDER BY ts, event_id"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            "   AS n_touches FROM ev)"
            "  WHERE event_type = 'purchase' AND n_touches > 0),"
            " t AS (SELECT user_id, event_id AS touch_id, ts AS t_ts"
            "  FROM ev WHERE event_type IN ('view', 'click'))"
            " SELECT touch_id, count(*) AS n_purchases_touched,"
            " CAST(sum(credit_u) AS BIGINT) AS attributed_u"
            " FROM t JOIN p USING (user_id)"
            " WHERE t_ts < p_ts OR (t_ts = p_ts AND touch_id < p_id)"
            " GROUP BY touch_id"
        ),
        "tbl_partition_pruning": (
            "SELECT o_orderpriority, count(*) AS n_orders,"
            " round(sum(o_totalprice), 2) AS total_price"
            " FROM orders WHERE year(o_orderdate) = 1997"
            " GROUP BY o_orderpriority"
        ),
        "geo_proximity": (
            "WITH pts AS (SELECT c_custkey AS id,"
            "  c_nationkey * 6 - 72 + (CAST(concat('0x', substr(md5("
            "   concat(CAST(c_custkey AS VARCHAR), 'lat')), 1, 8))"
            "   AS BIGINT) % 200) / 100.0 AS lat,"
            "  c_nationkey * 13 % 360 - 180 + (CAST(concat('0x',"
            "   substr(md5(concat(CAST(c_custkey AS VARCHAR), 'lon')),"
            "   1, 8)) AS BIGINT) % 200) / 100.0 AS lon"
            " FROM customer),"
            " lhs AS (SELECT id AS left_id, lat AS left_lat,"
            "  lon AS left_lon,"
            "  (CAST(floor((lat + 90.0) / 0.25) AS BIGINT) + dy.d) * 4096"
            "   + CAST(floor((lon + 180.0) / 0.25) AS BIGINT) + dx.d"
            "   AS cell"
            " FROM pts, (SELECT unnest([-1, 0, 1]) AS d) dy,"
            "  (SELECT unnest([-1, 0, 1]) AS d) dx),"
            " rhs AS (SELECT id AS right_id, lat AS right_lat,"
            "  lon AS right_lon,"
            "  CAST(floor((lat + 90.0) / 0.25) AS BIGINT) * 4096"
            "   + CAST(floor((lon + 180.0) / 0.25) AS BIGINT) AS cell"
            " FROM pts),"
            " cand AS (SELECT left_id, right_id,"
            "  round(2 * 6371.0 * asin(sqrt("
            "   sin(radians(right_lat - left_lat) / 2)"
            "    * sin(radians(right_lat - left_lat) / 2)"
            "   + cos(radians(left_lat)) * cos(radians(right_lat))"
            "    * sin(radians(right_lon - left_lon) / 2)"
            "    * sin(radians(right_lon - left_lon) / 2))), 2)"
            "   AS distance_km"
            " FROM lhs JOIN rhs USING (cell) WHERE left_id < right_id)"
            " SELECT left_id, right_id, distance_km FROM cand"
            " WHERE distance_km <= 25.0"
        ),
        "agg_countmin": (
            "WITH cells AS (SELECT t.i,"
            "  CAST(concat('0x', substr(md5(concat("
            "   CAST(l_partkey AS VARCHAR), '#cm', t.i)), 1, 8))"
            "   AS BIGINT) % 256 AS bucket"
            " FROM lineitem, (SELECT unnest(['0','1','2','3']) AS i) t),"
            " sk AS (SELECT i, bucket, count(*) AS n FROM cells"
            "  GROUP BY i, bucket),"
            " exact AS (SELECT l_partkey, count(*) AS exact_n"
            "  FROM lineitem GROUP BY l_partkey"
            "  ORDER BY exact_n DESC, l_partkey ASC LIMIT 20),"
            " pc AS (SELECT e.l_partkey, e.exact_n, t.i,"
            "  CAST(concat('0x', substr(md5(concat("
            "   CAST(e.l_partkey AS VARCHAR), '#cm', t.i)), 1, 8))"
            "   AS BIGINT) % 256 AS bucket"
            " FROM exact e, (SELECT unnest(['0','1','2','3']) AS i) t)"
            " SELECT l_partkey, exact_n,"
            " CAST(min(coalesce(sk.n, 0)) AS BIGINT) AS cm_estimate,"
            " CAST(min(coalesce(sk.n, 0)) - exact_n AS BIGINT)"
            "  AS overcount"
            " FROM pc LEFT JOIN sk ON sk.i = pc.i"
            "  AND sk.bucket = pc.bucket"
            " GROUP BY l_partkey, exact_n"
        ),
        "graph_label_prop": (
            # 2 unrolled synchronous rounds; min-label tie-break makes
            # the fixed-point prefix exactly reproducible
            "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
            "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            " GROUP BY src, dst),"
            " sym AS (SELECT a, b, sum(w) AS w FROM ("
            "  SELECT src AS a, dst AS b, w FROM e"
            "  UNION ALL SELECT dst AS a, src AS b, w FROM e)"
            "  GROUP BY a, b),"
            " nodes AS (SELECT DISTINCT a AS node FROM sym),"
            " l0 AS (SELECT node, node AS label FROM nodes),"
            " n1 AS (SELECT s.a AS node, l.label, sum(s.w) AS lw"
            "  FROM sym s JOIN l0 l ON s.b = l.node GROUP BY s.a, l.label),"
            " b1 AS (SELECT node, label FROM (SELECT node, label,"
            "   row_number() OVER (PARTITION BY node"
            "    ORDER BY lw DESC, label ASC) AS rn FROM n1) WHERE rn = 1),"
            " l1 AS (SELECT n.node, coalesce(b1.label, n.node) AS label"
            "  FROM nodes n LEFT JOIN b1 ON b1.node = n.node),"
            " n2 AS (SELECT s.a AS node, l.label, sum(s.w) AS lw"
            "  FROM sym s JOIN l1 l ON s.b = l.node GROUP BY s.a, l.label),"
            " b2 AS (SELECT node, label FROM (SELECT node, label,"
            "   row_number() OVER (PARTITION BY node"
            "    ORDER BY lw DESC, label ASC) AS rn FROM n2) WHERE rn = 1)"
            " SELECT n.node, coalesce(b2.label, l1.label) AS label"
            " FROM nodes n JOIN l1 ON l1.node = n.node"
            " LEFT JOIN b2 ON b2.node = n.node"
        ),
        "win_rolling_median": (
            "WITH m AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  quantile_cont(l_extendedprice, 0.5) OVER ("
            "   PARTITION BY l_returnflag"
            "   ORDER BY l_shipdate, l_orderkey, l_linenumber,"
            "    l_quantity, l_extendedprice"
            "   ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS med"
            " FROM lineitem),"
            " m2 AS (SELECT l_orderkey, l_linenumber, l_returnflag,"
            "  med * 100 AS mc FROM m)"
            " SELECT l_orderkey, l_linenumber, l_returnflag,"
            " CAST(floor(mc + 0.5) AS BIGINT) AS median_cents FROM m2"
        ),
        "evt_seasonal": (
            # integer micro-unit chain mirroring _evt_seasonal: one
            # floor-scale per engine-identical int/int division
            "WITH hourly AS (SELECT date_trunc('hour', ts) AS h,"
            "  count(*) AS n FROM events GROUP BY h),"
            " t AS (SELECT h, n, CAST(floor("
            "   sum(n) OVER wt * 10000.0 / count(n) OVER wt + 0.5)"
            "   AS BIGINT) AS trend_x1e4 FROM hourly WINDOW wt AS"
            "  (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),"
            " d AS (SELECT *, n * 10000 - trend_x1e4 AS det_u FROM t)"
            " SELECT CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch, n,"
            " trend_x1e4,"
            " CAST(floor(sum(det_u) OVER w * 1.0 / count(det_u) OVER w"
            "   + 0.5) AS BIGINT) AS seasonal_x1e4,"
            " n * 10000 - trend_x1e4"
            "  - CAST(floor(sum(det_u) OVER w * 1.0"
            "     / count(det_u) OVER w + 0.5) AS BIGINT)"
            "  AS residual_x1e4"
            " FROM d WINDOW w AS (PARTITION BY dayofweek(h), hour(h))"
        ),
        "agg_assoc_rules": (
            "WITH items AS (SELECT DISTINCT l_orderkey AS b,"
            "  l_partkey AS item FROM lineitem),"
            " nb AS (SELECT count(DISTINCT b) AS nb FROM items),"
            " isupp AS (SELECT item, count(*) AS s FROM items"
            "  GROUP BY item),"
            " pairs AS (SELECT a.item AS item_a, o.item AS item_b,"
            "  count(*) AS support FROM items a"
            "  JOIN items o ON a.b = o.b AND a.item < o.item"
            "  GROUP BY item_a, item_b HAVING count(*) >= 3)"
            " SELECT item_a, item_b, support,"
            " round(support * 1.0 / sa.s, 6) AS conf_a_b,"
            " round(support * 1.0 / sb.s, 6) AS conf_b_a,"
            " round(support * 1.0 * nb.nb / (sa.s * sb.s), 4) AS lift"
            " FROM pairs JOIN isupp sa ON sa.item = item_a"
            " JOIN isupp sb ON sb.item = item_b, nb"
            " ORDER BY lift DESC, item_a ASC, item_b ASC LIMIT 100"
        ),
        "agg_benford": (
            "WITH d AS (SELECT CAST(substring(regexp_replace("
            "  CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)"
            "  AS INT) AS digit FROM orders),"
            " pd AS (SELECT digit, count(*) AS n FROM d"
            "  WHERE digit IS NOT NULL GROUP BY digit)"
            " SELECT digit, n,"
            " round(n * 1.0 / sum(n) OVER (), 6) AS observed,"
            " round(log10(1 + 1.0 / digit), 6) AS expected"
            " FROM pd"
        ),
        "agg_copurchase": (
            "WITH items AS (SELECT DISTINCT l_orderkey AS b,"
            "  l_partkey AS item FROM lineitem),"
            " pairs AS (SELECT a.item AS item_a, b2.item AS item_b,"
            "  count(*) AS support FROM items a"
            "  JOIN items b2 ON a.b = b2.b AND a.item < b2.item"
            "  GROUP BY item_a, item_b)"
            " SELECT item_a, item_b, support FROM pairs"
            " ORDER BY support DESC, item_a ASC, item_b ASC LIMIT 100"
        ),
        "tbl_fk_audit": (
            " UNION ALL ".join(
                f"SELECT '{name}' AS relation,"
                f" (SELECT count(*) FROM {child}) AS n_rows,"
                f" (SELECT count(*) FROM {child} WHERE {fk} NOT IN"
                f"  (SELECT {pk} FROM {parent})) AS n_orphans"
                for name, child, fk, parent, pk in [
                    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
                     "orders", "o_orderkey"),
                    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
                     "part", "p_partkey"),
                    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
                     "supplier", "s_suppkey"),
                    ("orders.o_custkey->customer", "orders", "o_custkey",
                     "customer", "c_custkey"),
                    ("customer.c_nationkey->nation", "customer",
                     "c_nationkey", "nation", "n_nationkey"),
                    ("supplier.s_nationkey->nation", "supplier",
                     "s_nationkey", "nation", "n_nationkey"),
                    ("nation.n_regionkey->region", "nation", "n_regionkey",
                     "region", "r_regionkey"),
                ]
            )
        ),
    })
    base.update(_r7_oracles())
    base.update(_r8_oracles())
    base.update(_r9_oracles())
    base.update(_r9b_oracles())
    base.update(_r9c_oracles())
    base.update(_r9d_oracles())
    base.update(_r9e_oracles())
    base.update(_r9f_oracles())
    base.update(_r9g_oracles())
    base.update(_r9h_oracles())
    base.update(_r9i_oracles())
    base.update(_r9j_oracles())
    base.update(_r9k_oracles())
    base.update(_r9l_oracles())
    base.update(_r9m_oracles())
    base.update(_r9n_oracles())
    base.update(_r9o_oracles())
    base.update(_r9p_oracles())
    base.update(_r9q_oracles())
    base.update(_r9r_oracles())
    base.update(_r9s_oracles())
    base.update(_r9t_oracles())
    base.update(_r9u_oracles())
    base.update(_r9v_oracles())
    base.update(_r9w_oracles())
    base.update(_r9x_oracles())
    base.update(_r9y_oracles())
    return base


# ---------------------------------------------------------------------------
# round-5 additions: statistics family
# ---------------------------------------------------------------------------

def _agg_spearman(spark, sf_dir):
    """Spearman rank correlation of quantity vs price per returnflag —
    average-rank tie treatment, two analytic windows + one corr
    aggregation (aggregates.spearman_corr)."""
    return AG.spearman_corr(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_quantity", "l_extendedprice",
    )


def _agg_cramers_v(spark, sf_dir):
    """Chi-square + Cramér's V association between order status and
    priority — cell counts in one shuffle, marginals from windows
    over the tiny contingency frame (aggregates.cramers_v)."""
    return AG.cramers_v(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


def _agg_cohens_d(spark, sf_dir):
    """Standardized effect size (pooled-SD Cohen's d) of event value
    between hash-split arms per event type — the magnitude companion
    to agg_welch (aggregates.cohens_d)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_arm", (F.col("user_id") % 2).cast("int")
    )
    return AG.cohens_d(ev, ["event_type"], "_arm", "value")


def _agg_mutual_info(spark, sf_dir):
    """Mutual information + marginal entropies + NMI between order
    status and priority — same cells-frame plan as Cramér's V
    (aggregates.mutual_information)."""
    return AG.mutual_information(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


def _agg_trimmed_mean(spark, sf_dir):
    """10% symmetric trimmed mean of extended price per returnflag —
    rank-based trim with a unique integer tiebreak so the kept value
    multiset is engine-identical (aggregates.trimmed_mean)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_tb", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    return AG.trimmed_mean(li, ["l_returnflag"], "l_extendedprice", "_tb")


def _agg_lorenz(spark, sf_dir):
    """Lorenz curve at decile boundaries of order value per priority
    class — the distributional readout behind agg_gini; integer-exact
    decile assignment (aggregates.lorenz_deciles)."""
    return AG.lorenz_deciles(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"], "o_totalprice", "o_orderkey",
    )


_ECDF_PROBES = [1000.0, 10000.0, 30000.0, 60000.0, 90000.0]


def _agg_ecdf(spark, sf_dir):
    """Empirical CDF of extended price at five fixed probes per
    returnflag — sort-free conditional aggregates, one map-side pass
    (aggregates.ecdf_at_points)."""
    return AG.ecdf_at_points(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_extendedprice", _ECDF_PROBES,
    )


def _agg_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test (mean split) for serial randomness of
    the daily mean event value per event type — one lag window over
    the 30-point daily rollup (aggregates.runs_test)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("int").alias("day"))
        .agg(F.round(F.avg("value"), 6).alias("y"))
    )
    return AG.runs_test(daily, ["event_type"], "day", "y")


_R5_STATS_ORACLES = {
    "agg_spearman": (
        "WITH r AS (SELECT l_returnflag,"
        " rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)"
        "  + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)"
        "    / 2.0 AS rx,"
        " rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)"
        "  + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)"
        "     - 1) / 2.0 AS ry"
        " FROM lineitem WHERE l_quantity IS NOT NULL"
        " AND l_extendedprice IS NOT NULL)"
        " SELECT l_returnflag, count(*) AS n,"
        " round(corr(rx, ry), 4) AS spearman FROM r GROUP BY l_returnflag"
    ),
    "agg_cramers_v": (
        "WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,"
        "  count(*) AS o FROM orders WHERE o_orderstatus IS NOT NULL"
        "  AND o_orderpriority IS NOT NULL GROUP BY 1, 2),"
        " m AS (SELECT o, CAST(sum(o) OVER (PARTITION BY a) AS DOUBLE)"
        "  AS rt, CAST(sum(o) OVER (PARTITION BY b) AS DOUBLE) AS ct,"
        "  CAST(sum(o) OVER () AS DOUBLE) AS n, a, b FROM cells)"
        # empty cells of the full r x c table contribute e each to
        # chi2; their total is n - sum(e) over the observed cells
        " SELECT CAST(max(n) AS BIGINT) AS n,"
        " count(DISTINCT a) AS n_rows_cat, count(DISTINCT b) AS n_cols_cat,"
        " round(sum(pow(o - rt * ct / n, 2) / (rt * ct / n))"
        "  + (max(n) - sum(rt * ct / n)), 4) AS chi2,"
        " round(sqrt((sum(pow(o - rt * ct / n, 2) / (rt * ct / n))"
        "   + (max(n) - sum(rt * ct / n)))"
        "  / (max(n) * least(count(DISTINCT a) - 1,"
        "     count(DISTINCT b) - 1))), 6) AS cramers_v"
        " FROM m"
    ),
    "agg_cohens_d": (
        "SELECT event_type,"
        " count(CASE WHEN user_id % 2 = 0 THEN value END) AS n0,"
        " count(CASE WHEN user_id % 2 <> 0 THEN value END) AS n1,"
        " round(avg(CASE WHEN user_id % 2 <> 0 THEN value END)"
        "  - avg(CASE WHEN user_id % 2 = 0 THEN value END), 4)"
        "  AS mean_diff,"
        " round(sqrt(((count(CASE WHEN user_id % 2 = 0 THEN value END) - 1)"
        "   * var_samp(CASE WHEN user_id % 2 = 0 THEN value END)"
        "  + (count(CASE WHEN user_id % 2 <> 0 THEN value END) - 1)"
        "   * var_samp(CASE WHEN user_id % 2 <> 0 THEN value END))"
        "  / (count(CASE WHEN user_id % 2 = 0 THEN value END)"
        "     + count(CASE WHEN user_id % 2 <> 0 THEN value END) - 2)), 4)"
        "  AS pooled_sd,"
        " round((avg(CASE WHEN user_id % 2 <> 0 THEN value END)"
        "  - avg(CASE WHEN user_id % 2 = 0 THEN value END))"
        "  / sqrt(((count(CASE WHEN user_id % 2 = 0 THEN value END) - 1)"
        "   * var_samp(CASE WHEN user_id % 2 = 0 THEN value END)"
        "  + (count(CASE WHEN user_id % 2 <> 0 THEN value END) - 1)"
        "   * var_samp(CASE WHEN user_id % 2 <> 0 THEN value END))"
        "  / (count(CASE WHEN user_id % 2 = 0 THEN value END)"
        "     + count(CASE WHEN user_id % 2 <> 0 THEN value END) - 2)), 4)"
        "  AS cohens_d"
        " FROM events GROUP BY event_type"
    ),
    "agg_mutual_info": (
        "WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,"
        "  count(*) AS o FROM orders WHERE o_orderstatus IS NOT NULL"
        "  AND o_orderpriority IS NOT NULL GROUP BY 1, 2),"
        " tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM cells),"
        " pa AS (SELECT a, CAST(sum(o) AS DOUBLE) AS na FROM cells"
        "  GROUP BY a),"
        " pb AS (SELECT b, CAST(sum(o) AS DOUBLE) AS nb FROM cells"
        "  GROUP BY b),"
        " mi AS (SELECT sum((o / n) * ln((o / n) / ((na / n) * (nb / n))))"
        "  AS v FROM cells JOIN pa USING (a) JOIN pb USING (b), tot),"
        " ha AS (SELECT sum(-(na / n) * ln(na / n)) AS v FROM pa, tot),"
        " hb AS (SELECT sum(-(nb / n) * ln(nb / n)) AS v FROM pb, tot)"
        " SELECT CAST(n AS BIGINT) AS n, round(mi.v, 6) AS mi_nats,"
        " round(ha.v, 6) AS h_a, round(hb.v, 6) AS h_b,"
        " round(mi.v / sqrt(ha.v * hb.v), 6) AS nmi"
        " FROM tot, mi, ha, hb"
    ),
    "agg_trimmed_mean": (
        "WITH r AS (SELECT l_returnflag, l_extendedprice AS x,"
        " row_number() OVER (PARTITION BY l_returnflag"
        "  ORDER BY l_extendedprice, l_orderkey * 8 + l_linenumber) AS rn,"
        " count(*) OVER (PARTITION BY l_returnflag) AS n"
        " FROM lineitem WHERE l_extendedprice IS NOT NULL)"
        " SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,"
        " count(*) AS n_kept, round(avg(x), 4) AS trimmed_mean"
        " FROM r WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)"
        " GROUP BY l_returnflag"
    ),
    "agg_lorenz": (
        "WITH r AS (SELECT o_orderpriority, o_totalprice AS x,"
        " row_number() OVER (PARTITION BY o_orderpriority"
        "  ORDER BY o_totalprice, o_orderkey) AS rn,"
        " count(*) OVER (PARTITION BY o_orderpriority) AS n"
        " FROM orders WHERE o_totalprice IS NOT NULL),"
        " d AS (SELECT o_orderpriority,"
        "  CAST(floor((rn * 10 - 1) / n) + 1 AS INT) AS decile,"
        "  count(*) AS n_rows, sum(x) AS s"
        "  FROM r GROUP BY 1, 2)"
        " SELECT o_orderpriority, decile, n_rows,"
        " round(sum(s) OVER (PARTITION BY o_orderpriority ORDER BY decile"
        "  ROWS UNBOUNDED PRECEDING)"
        "  / sum(s) OVER (PARTITION BY o_orderpriority), 6) AS cum_share"
        " FROM d"
    ),
    "agg_ecdf": (
        "WITH a AS (SELECT l_returnflag, count(*) AS n,"
        + ", ".join(
            f" avg(CASE WHEN l_extendedprice <= {p} THEN 1.0 ELSE 0.0 END)"
            f" AS f{i}"
            for i, p in enumerate(_ECDF_PROBES)
        )
        + " FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1)"
        + " UNION ALL ".join(
            f" SELECT l_returnflag, n, CAST({p} AS DOUBLE) AS probe,"
            f" round(f{i}, 6) AS cdf FROM a"
            for i, p in enumerate(_ECDF_PROBES)
        )
    ),
    "agg_runs_test": (
        "WITH daily AS (SELECT event_type,"
        "  CAST(day(ts) AS INT) AS day, round(avg(value), 6) AS y"
        "  FROM events GROUP BY 1, 2),"
        " mu AS (SELECT event_type, avg(y) AS m FROM daily GROUP BY 1),"
        " s AS (SELECT d.event_type, d.day,"
        "  CASE WHEN d.y > mu.m THEN 1 ELSE 0 END AS sg"
        "  FROM daily d JOIN mu USING (event_type) WHERE d.y <> mu.m),"
        " runs AS (SELECT event_type, sg,"
        "  CASE WHEN lag(sg) OVER (PARTITION BY event_type ORDER BY day)"
        "   IS NULL OR sg <> lag(sg) OVER (PARTITION BY event_type"
        "   ORDER BY day) THEN 1 ELSE 0 END AS chg FROM s)"
        " SELECT event_type, CAST(sum(sg) AS BIGINT) AS n_above,"
        " CAST(count(*) - sum(sg) AS BIGINT) AS n_below,"
        " CAST(sum(chg) AS BIGINT) AS runs,"
        " round((sum(chg) - (2.0 * sum(sg) * (count(*) - sum(sg))"
        "   / count(*) + 1))"
        "  / sqrt(2.0 * sum(sg) * (count(*) - sum(sg))"
        "   * (2.0 * sum(sg) * (count(*) - sum(sg)) - sum(sg)"
        "      - (count(*) - sum(sg)))"
        "   / (count(*) * count(*) * (count(*) - 1.0))), 4) AS runs_z"
        " FROM runs GROUP BY event_type"
    ),
}


def _round5_oracles() -> dict[str, str]:
    """Oracle SQL for the round-5 additions (kept out of the main
    literal so each family stays reviewable next to its entries)."""
    out = {}
    out.update(_R5_STATS_ORACLES)
    out.update(_R5_EXP_ORACLES)
    out.update(_R5_EVT_GRAPH_ORACLES)
    out.update(_R5_TXT_ORACLES)
    out["ddp_containment"] = _containment_oracle()
    out.update(_R5_TAIL_ORACLES)
    out["sim_pair_stats"] = _pair_stats_oracle()
    for k, v in _R5W2_ORACLES.items():
        out[k] = v.replace("{toks}", _TOKS_SQL)
    out["ddp_chunk_dedup"] = _chunk_dedup_oracle()
    for k, v in _R5W3_ORACLES.items():
        out[k] = v.replace("{toks}", _TOKS_SQL)
    out.update(_R5W4_ORACLES)
    return out


# ---------------------------------------------------------------------------
# round-5 additions: experimentation + window family
# ---------------------------------------------------------------------------

def _perm_pvalues(spark, sf_dir):
    """Shared frame: per-event-type randomization-test p-value for
    the hash-arm mean difference (B=64 md5 coin-flip permutations,
    one exploded map-side pass — aggregates.permutation_test_diff)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_arm", (F.col("user_id") % 2).cast("int")
    )
    return AG.permutation_test_diff(
        ev, ["event_type"], "_arm", "value", "event_id", n_permutations=64
    )


def _agg_permutation_fdr(spark, sf_dir):
    """Randomization-test p-values per event type + Benjamini–
    Hochberg step-up across the family — the multiple-testing-safe
    experiment readout (aggregates.permutation_test_diff +
    bh_adjust)."""
    return AG.bh_adjust(
        _perm_pvalues(spark, sf_dir), "p_value", "event_type", alpha=0.05
    )


def _agg_fisher_method(spark, sf_dir):
    """Fisher's combined-probability test over the per-event-type
    randomization p-values — closed-form even-dof chi-square tail,
    evaluated as the same finite series in both engines
    (aggregates.fisher_combine)."""
    return AG.fisher_combine(_perm_pvalues(spark, sf_dir), "p_value")


def _agg_ljung_box(spark, sf_dir):
    """Ljung–Box serial-correlation test (4 lags) of the daily event
    value-sum series per event type — lag-window autocorrelations +
    the closed-form chi2(4) tail (aggregates.ljung_box)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("int").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    return AG.ljung_box(daily, ["event_type"], "day", "y", n_lags=4)


def _agg_ratio_ci(spark, sf_dir):
    """Delta-method CI for value-per-event across users (ratio of
    sums with a random denominator — the metric shape where the
    naive SE is wrong); per-user rollup then one moments pass
    (aggregates.ratio_delta_ci)."""
    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("y"),
            F.count("*").cast("double").alias("x"),
        )
    )
    return AG.ratio_delta_ci(per_user, [], "y", "x")


def _agg_digit_histogram(spark, sf_dir):
    """Order-of-magnitude (digit-count-of-cents) histogram of order
    value — integer/string bucket math that can never ulp-drift the
    way floor(log10) can, HDR-histogram style
    (aggregates.digit_histogram)."""
    return AG.digit_histogram(_t(spark, sf_dir, "orders"), [], "o_totalprice")


_EWMA_ALPHA, _EWMA_K = 0.3, 10


def _win_ewma(spark, sf_dir):
    """Finite-memory EWMA (alpha=0.3, 10 lags) of the daily event
    value-sum per event type — the sequential recursion recast as a
    bounded lag-window expression (aggregates.with_ewma)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("int").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    return AG.with_ewma(
        daily, ["event_type"], "day", "y", alpha=_EWMA_ALPHA, max_lags=_EWMA_K
    )


def _win_rolling_skew(spark, sf_dir):
    """Rolling 7-day skewness of daily order revenue (in $M) per
    priority class — third-moment shape drift from raw power sums in
    one window pass (aggregates.with_rolling_skew).  Revenue is
    scaled to millions BEFORE cubing so the power sums stay in a
    cancellation-safe double range."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01")
            ).alias("day_idx"),
        )
        # exact integer cents -> /1e8: no round-half boundary exists
        # (Spark rounds half-up, DuckDB half-even — a 6dp round of the
        # raw sum hit that tie on two of 8623 days)
        .agg(
            (F.round(F.sum("o_totalprice") * 100).cast("long") / 1e8)
            .alias("y")
        )
    )
    return AG.with_rolling_skew(
        daily, ["o_orderpriority"], "day_idx", "y", window_rows=7
    )


_PERM_PV_SQL = (
    "rows AS (SELECT event_type, CAST(event_id AS VARCHAR) AS k,"
    "  CAST(value AS DOUBLE) AS x,"
    "  CASE WHEN user_id %% 2 <> 0 THEN 1 ELSE 0 END AS g"
    "  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),"
    " obs AS (SELECT event_type, count(*) AS n,"
    "  round(avg(CASE WHEN g = 1 THEN x END)"
    "   - avg(CASE WHEN g = 0 THEN x END), 6) AS d_obs"
    "  FROM rows GROUP BY 1),"
    " perm AS (SELECT event_type, b,"
    "  round(avg(CASE WHEN pg = 1 THEN x END)"
    "   - avg(CASE WHEN pg = 0 THEN x END), 6) AS d_perm"
    "  FROM (SELECT r.event_type, r.x, b.b,"
    "   CAST(CAST(concat('0x', substr(md5(r.k || ':'"
    "    || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT) %% 2 AS INT) AS pg"
    "   FROM rows r CROSS JOIN generate_series(0, 63) b(b))"
    "  GROUP BY 1, 2),"
    " pv AS (SELECT o.event_type, o.n, o.d_obs,"
    "  CASE WHEN o.d_obs IS NULL THEN 1.0 ELSE"
    "  round((1 + sum(CASE WHEN abs(p.d_perm) >= abs(o.d_obs)"
    "   THEN 1 ELSE 0 END)) / 65.0, 6) END AS p_value"
    "  FROM obs o JOIN perm p USING (event_type) GROUP BY 1, 2, 3)"
)


def _ewma_terms_sql() -> tuple[str, str]:
    nums, dens = [], []
    for j in range(_EWMA_K + 1):
        w = _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j
        expr = "y" if j == 0 else f"lag(y, {j}) OVER w"
        nums.append(f"coalesce({expr} * {w!r}, 0.0)")
        dens.append(f"CASE WHEN {expr} IS NOT NULL THEN {w!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


_R5_EXP_ORACLES = {
    "agg_permutation_fdr": (
        "WITH " + _PERM_PV_SQL.replace("%%", "%") + ","
        " r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value,"
        "  event_type) AS INT) AS p_rank,"
        "  count(*) OVER () AS m FROM pv)"
        " SELECT event_type, n, d_obs AS diff_obs, p_value, p_rank,"
        " round(0.05 * p_rank / m, 6) AS bh_threshold,"
        " coalesce(CASE WHEN p_rank <= (SELECT max(p_rank) FROM r"
        "  WHERE p_value <= 0.05 * p_rank / m) THEN 1 ELSE 0 END, 0)"
        "  AS significant"
        " FROM r"
    ),
    "agg_fisher_method": (
        "WITH " + _PERM_PV_SQL.replace("%%", "%") + ","
        " a AS (SELECT count(*) AS m,"
        "  round(-2.0 * sum(ln(p_value)), 6) AS fisher_x2 FROM pv)"
        # lgamma form, not factorial(i): valid for any family size
        # (mirrors the Spark side's factorial-free recurrence, which
        # exists because Spark factorial is NULL past 20)
        " SELECT m, fisher_x2,"
        " round(least(exp(-fisher_x2 / 2.0) * list_sum(list_transform("
        "  generate_series(0, CAST(m AS INT) - 1),"
        "  i -> CASE WHEN i = 0 THEN 1.0 WHEN fisher_x2 = 0 THEN 0.0"
        "   ELSE exp(i * ln(fisher_x2 / 2.0) - lgamma(i + 1.0)) END)),"
        "  1.0), 6) AS p_combined"
        " FROM a"
    ),
    "agg_ljung_box": (
        "WITH daily AS (SELECT event_type, CAST(day(ts) AS INT) AS day,"
        "  round(sum(value), 6) AS y FROM events GROUP BY 1, 2),"
        " mu AS (SELECT event_type, avg(y) AS m, count(*) AS nn"
        "  FROM daily GROUP BY 1),"
        " e AS (SELECT d.event_type, mu.nn, d.y - mu.m AS e,"
        "  lag(d.y, 1) OVER w - mu.m AS l1,"
        "  lag(d.y, 2) OVER w - mu.m AS l2,"
        "  lag(d.y, 3) OVER w - mu.m AS l3,"
        "  lag(d.y, 4) OVER w - mu.m AS l4"
        "  FROM daily d JOIN mu USING (event_type)"
        "  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)),"
        " a AS (SELECT event_type, CAST(max(nn) AS BIGINT) AS n,"
        "  sum(e * e) AS den, sum(e * l1) AS s1, sum(e * l2) AS s2,"
        "  sum(e * l3) AS s3, sum(e * l4) AS s4 FROM e GROUP BY 1),"
        " q AS (SELECT event_type, n, round(n * (n + 2.0)"
        "  * (pow(s1 / den, 2) / (n - 1) + pow(s2 / den, 2) / (n - 2)"
        "   + pow(s3 / den, 2) / (n - 3) + pow(s4 / den, 2) / (n - 4)),"
        "  6) AS lb_q FROM a)"
        " SELECT event_type, n, lb_q,"
        " CASE WHEN lb_q IS NULL THEN NULL ELSE"
        " round(least(exp(-lb_q / 2.0) * (1.0 + lb_q / 2.0), 1.0), 6)"
        " END AS p_value FROM q"
    ),
    "agg_ratio_ci": (
        "WITH u AS (SELECT user_id, sum(value) AS y,"
        "  CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1),"
        " a AS (SELECT count(*) AS n, avg(y) AS yb, avg(x) AS xb,"
        "  var_samp(y) AS vy, var_samp(x) AS vx,"
        "  covar_samp(y, x) AS cxy FROM u"
        "  WHERE y IS NOT NULL AND x IS NOT NULL)"
        " SELECT n, round(yb / xb, 6) AS ratio,"
        " round(sqrt((vy + (yb / xb) * (yb / xb) * vx"
        "  - 2.0 * (yb / xb) * cxy) / (n * xb * xb)), 6) AS se,"
        " round(yb / xb - 1.959964 * sqrt((vy + (yb / xb) * (yb / xb)"
        "  * vx - 2.0 * (yb / xb) * cxy) / (n * xb * xb)), 6) AS ci_lo,"
        " round(yb / xb + 1.959964 * sqrt((vy + (yb / xb) * (yb / xb)"
        "  * vx - 2.0 * (yb / xb) * cxy) / (n * xb * xb)), 6) AS ci_hi"
        " FROM a"
    ),
    "agg_digit_histogram": (
        "WITH b AS (SELECT CAST(length(CAST(CAST(round(o_totalprice"
        "  * 100) AS BIGINT) AS VARCHAR)) AS INT) AS bucket,"
        "  count(*) AS n_rows FROM orders"
        "  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0"
        "  GROUP BY 1)"
        " SELECT bucket, n_rows,"
        " CAST(pow(10.0, bucket - 1) AS BIGINT) AS lo_cents,"
        " CAST(pow(10.0, bucket) AS BIGINT) - 1 AS hi_cents,"
        " round(CAST(sum(n_rows) OVER (ORDER BY bucket"
        "  ROWS UNBOUNDED PRECEDING) AS DOUBLE)"
        "  / CAST(sum(n_rows) OVER () AS DOUBLE), 6) AS cum_frac"
        " FROM b"
    ),
    "win_ewma": (
        "WITH daily AS (SELECT event_type, CAST(day(ts) AS INT) AS day,"
        "  round(sum(value), 6) AS y FROM events GROUP BY 1, 2)"
        " SELECT event_type, day, y,"
        f" round(({_ewma_terms_sql()[0]}) / ({_ewma_terms_sql()[1]}), 6)"
        "  AS ewma"
        " FROM daily"
        " WINDOW w AS (PARTITION BY event_type ORDER BY day)"
    ),
    "win_rolling_skew": (
        "WITH daily AS (SELECT o_orderpriority,"
        "  CAST(datediff('day', TIMESTAMP '1992-01-01',"
        "   date_trunc('day', o_orderdate)) AS INT) AS day_idx,"
        "  CAST(round(sum(o_totalprice) * 100) AS BIGINT) / 1e8 AS y"
        "  FROM orders GROUP BY 1, 2),"
        " s AS (SELECT o_orderpriority, day_idx, y,"
        "  count(y) OVER w AS n, sum(y) OVER w AS s1,"
        "  sum(y * y) OVER w AS s2, sum(y * y * y) OVER w AS s3"
        "  FROM daily WINDOW w AS (PARTITION BY o_orderpriority"
        "   ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))"
        " SELECT o_orderpriority, day_idx, y,"
        # "+ 0" drops IEEE -0.0 (DuckDB round keeps the sign of a
        # just-negative value; Spark emits +0.0; hashes compare strings)
        " CASE WHEN n = 7 AND (s2 / n - (s1 / n) * (s1 / n)) > 0 THEN"
        "  round((s3 / n - 3.0 * (s1 / n) * s2 / n"
        "   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))"
        "  / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) + 0 END"
        "  AS rolling_skew"
        " FROM s"
    ),
}


# ---------------------------------------------------------------------------
# round-5 additions: events + graph family
# ---------------------------------------------------------------------------

def _evt_survival_km(spark, sf_dir):
    """Kaplan–Meier time-to-conversion curve (signup → purchase,
    right-censored at the corpus max ts) — product-limit estimator
    as exp of a cumulative log window over the per-day rollup
    (events.km_survival)."""
    from eggv_spark.operators.events import km_survival

    return km_survival(_t(spark, sf_dir, "events"))


def _evt_cohort_ltv(spark, sf_dir):
    """Cohort LTV triangle: customers cohort by first order month,
    cumulative revenue per cohort member at each month of age —
    integer-cents window sums so the cumulative is bit-exact in both
    engines (events.cohort_ltv)."""
    from eggv_spark.operators.events import cohort_ltv

    return cohort_ltv(_t(spark, sf_dir, "orders"))


def _graph_kcore(spark, sf_dir):
    """2-core of the part co-purchase graph by three fixed
    degree-pruning rounds — each round one semi-join + one map-side
    degree count, no driver loop (graph.kcore_prune).  k=2, not 3:
    the >=2-co-order graph thins as SF grows (more parts dilute
    repeat pairs), and the 3-core is empty at sf0.1 — an empty
    oracle match verifies nothing."""
    return G.kcore_prune(
        _copurchase_edges(spark, sf_dir), "x", "y", k=2, iterations=3
    )


def _top_copurchase_edges(spark, sf_dir, n=200):
    """Top-n co-purchase edges by (count desc, x, y) — a RANK-based
    cutoff (never a percentile) so both engines pick the identical
    edge set; input of the Adamic–Adar and BFS queries."""
    return (
        _copurchase_edges(spark, sf_dir)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("n_co").desc(), "x", "y")
            ),
        )
        .filter(F.col("_rn") <= n)
        .select("x", "y")
    )


def _graph_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction on the 200 heaviest co-purchase
    edges: wedge join on the middle node weighted by 1/ln(degree),
    anti-joined against existing edges so only ABSENT candidate
    links score (graph.adamic_adar)."""
    aa = G.adamic_adar(_top_copurchase_edges(spark, sf_dir), "x", "y")
    return aa.select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors", "aa_score",
    )


def _graph_bfs_reach(spark, sf_dir):
    """3-hop BFS reachability from the smallest node of the top-200
    co-purchase graph — fixed-depth frontier expansion with
    visited-set dedup, min depth per node (graph.bfs_reach);
    recursive-CTE oracle."""
    edges = _top_copurchase_edges(spark, sf_dir)
    # seed as a 1-row frame: construction stays lazy (no .first()
    # executing the edge build before the plan exists)
    seed = edges.agg(F.min("x").alias("node"))
    return G.bfs_reach(edges, seed, "x", "y", max_depth=3)


_COPURCHASE_SQL = (
    "li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),"
    " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS n_co"
    "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
    "  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)"
)

_TOP_EDGES_SQL = (
    " te AS (SELECT x, y FROM (SELECT x, y, row_number()"
    "  OVER (ORDER BY n_co DESC, x, y) AS rn FROM e) WHERE rn <= 200),"
    " u AS (SELECT x AS a, y AS b FROM te UNION SELECT y, x FROM te)"
)

_R5_EVT_GRAPH_ORACLES = {
    "evt_survival_km": (
        "WITH tmax AS (SELECT max(ts) AS tm FROM events),"
        " pu AS (SELECT user_id,"
        "  min(CASE WHEN event_type = 'signup' THEN ts END) AS t0"
        "  FROM events GROUP BY 1),"
        " ft AS (SELECT e.user_id, min(e.ts) AS tp FROM events e"
        "  JOIN pu ON e.user_id = pu.user_id"
        "  WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL"
        "  AND e.ts >= pu.t0 GROUP BY 1),"
        " dur AS (SELECT CASE WHEN ft.tp IS NOT NULL THEN"
        "   datediff('day', CAST(pu.t0 AS DATE), CAST(ft.tp AS DATE))"
        "  ELSE datediff('day', CAST(pu.t0 AS DATE), CAST(tmax.tm AS DATE))"
        "  END AS day,"
        "  CASE WHEN ft.tp IS NOT NULL THEN 1 ELSE 0 END AS ev"
        "  FROM pu LEFT JOIN ft USING (user_id), tmax"
        "  WHERE pu.t0 IS NOT NULL),"
        " pd AS (SELECT day, sum(ev) AS d_events, count(*) AS total"
        "  FROM dur GROUP BY 1),"
        " st AS (SELECT day, d_events, sum(total) OVER (ORDER BY day DESC"
        "  ROWS UNBOUNDED PRECEDING) AS n_at_risk FROM pd)"
        " SELECT day, CAST(d_events AS BIGINT) AS d_events,"
        " CAST(n_at_risk AS BIGINT) AS n_at_risk,"
        " CASE WHEN max(CASE WHEN d_events = n_at_risk THEN 1 ELSE 0 END)"
        "   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0"
        "  ELSE round(exp(sum(CASE WHEN d_events < n_at_risk THEN"
        "   ln(1.0 - CAST(d_events AS DOUBLE) / n_at_risk) END)"
        "   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6) END"
        "  AS survival"
        " FROM st"
    ),
    "evt_cohort_ltv": (
        "WITH f AS (SELECT o_custkey,"
        "  date_trunc('month', min(o_orderdate)) AS cohort"
        "  FROM orders GROUP BY 1),"
        " sizes AS (SELECT cohort, count(*) AS n_customers FROM f"
        "  GROUP BY 1),"
        " aged AS (SELECT f.cohort, datediff('month', f.cohort,"
        "   date_trunc('month', o.o_orderdate)) AS age_months,"
        "  o.o_totalprice AS v FROM orders o"
        "  JOIN f ON o.o_custkey = f.o_custkey),"
        " cells AS (SELECT cohort, age_months,"
        "  CAST(round(sum(v) * 100) AS BIGINT) AS rev_c"
        "  FROM aged GROUP BY 1, 2),"
        " w AS (SELECT cohort, age_months,"
        "  sum(rev_c) OVER (PARTITION BY cohort ORDER BY age_months"
        "   ROWS UNBOUNDED PRECEDING) AS cum_c FROM cells)"
        " SELECT CAST(CAST(w.cohort AS DATE) AS VARCHAR) AS cohort_month,"
        " CAST(age_months AS INT) AS age_months, n_customers,"
        " round(cum_c / 100.0, 2) AS cum_revenue,"
        " CAST((cum_c * 100) // n_customers AS BIGINT) / 10000.0"
        "  AS ltv_per_customer"
        " FROM w JOIN sizes ON w.cohort = sizes.cohort"
    ),
    "graph_kcore": (
        "WITH " + _COPURCHASE_SQL + ","
        " u0 AS (SELECT x AS a, y AS b FROM e UNION SELECT y, x FROM e),"
        " d1 AS (SELECT a, count(*) AS deg FROM u0 GROUP BY 1),"
        " u1 AS (SELECT u.a, u.b FROM u0 u"
        "  JOIN d1 da ON u.a = da.a AND da.deg >= 2"
        "  JOIN d1 db ON u.b = db.a AND db.deg >= 2),"
        " d2 AS (SELECT a, count(*) AS deg FROM u1 GROUP BY 1),"
        " u2 AS (SELECT u.a, u.b FROM u1 u"
        "  JOIN d2 da ON u.a = da.a AND da.deg >= 2"
        "  JOIN d2 db ON u.b = db.a AND db.deg >= 2),"
        " d3 AS (SELECT a, count(*) AS deg FROM u2 GROUP BY 1),"
        " u3 AS (SELECT u.a, u.b FROM u2 u"
        "  JOIN d3 da ON u.a = da.a AND da.deg >= 2"
        "  JOIN d3 db ON u.b = db.a AND db.deg >= 2)"
        " SELECT a AS node, count(*) AS degree FROM u3 GROUP BY 1"
        " HAVING count(*) >= 2"
    ),
    "graph_adamic_adar": (
        "WITH " + _COPURCHASE_SQL + "," + _TOP_EDGES_SQL + ","
        " deg AS (SELECT a AS z, count(*) AS dz FROM u GROUP BY 1"
        "  HAVING count(*) >= 2),"
        " wedges AS (SELECT l.a AS u_node, r.b AS v_node, d.dz"
        "  FROM u l JOIN u r ON l.b = r.a AND l.a < r.b"
        "  JOIN deg d ON d.z = l.b),"
        " scored AS (SELECT u_node, v_node, count(*) AS common_neighbors,"
        "  round(sum(1.0 / ln(dz)), 6) AS aa_score"
        "  FROM wedges GROUP BY 1, 2),"
        " ex AS (SELECT least(a, b) AS u_node, greatest(a, b) AS v_node"
        "  FROM u GROUP BY 1, 2)"
        " SELECT s.u_node AS u, s.v_node AS v, common_neighbors, aa_score"
        " FROM scored s LEFT JOIN ex ON s.u_node = ex.u_node"
        " AND s.v_node = ex.v_node WHERE ex.u_node IS NULL"
    ),
    "graph_bfs_reach": (
        "WITH RECURSIVE " + _COPURCHASE_SQL + "," + _TOP_EDGES_SQL + ","
        " bfs(node, depth) AS ("
        "  SELECT (SELECT min(x) FROM te), 0"
        "  UNION ALL"
        "  SELECT u.b, bfs.depth + 1 FROM bfs JOIN u ON u.a = bfs.node"
        "  WHERE bfs.depth < 3)"
        " SELECT CAST(node AS INT) AS node,"
        " CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY 1"
    ),
}


# ---------------------------------------------------------------------------
# round-5 additions: text curation + containment dedup + mm + tableops
# ---------------------------------------------------------------------------

_CODE_SUFFIX = " function compute() { return x + 1; } var y = 2;"


def _txt_code_detect(spark, sf_dir):
    """Code-vs-prose routing signals (brace/semicolon density, code
    keywords, symbol ratio) over documents with a deterministic
    code-block suffix injected into every 7th doc so both branches of
    the detector are exercised (text_analysis.with_code_signals)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_CODE_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return T.with_code_signals(docs).select(
        "doc_id", "n_braces", "n_semicolons", "n_code_keywords",
        "symbol_ratio", "is_code",
    )


def _txt_markdown_strip(spark, sf_dir):
    """Markdown -> plain text cleaning over a deterministically
    markdown-wrapped corpus (heading + inline link + bold injected
    in-query); reports markup counts and length reduction
    (text_analysis.strip_markdown)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("# "), F.col("source"), F.lit("\n"), F.col("text"),
            F.lit(" [more](http://"), F.col("source"),
            F.lit(".example.com/x) **"), F.col("lang"), F.lit("**"),
        ),
    )
    return T.strip_markdown(docs).select(
        "doc_id", "n_links", "n_headings", "md_len", "stripped_len"
    )


def _txt_unicode_profile(spark, sf_dir):
    """Character-class fingerprint per document (printable-ASCII /
    digit / upper / punctuation / whitespace ratios) — the cheap
    first-pass curation signal (text_analysis.with_unicode_profile)."""
    return T.with_unicode_profile(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_text", "ascii_ratio", "digit_ratio",
        "upper_ratio", "punct_ratio", "space_ratio",
    )


def _ddp_containment(spark, sf_dir):
    """Asymmetric containment dedup (short doc embedded in long doc):
    every 5th document gets a half-length truncated twin (id +
    1000000, the registry-wide twin-id convention) injected in-query; bottom-k shingle-hash blocking +
    exact intersection verification must recover the twins
    (dedupe.containment_pairs).

    The frequent-bucket ceiling is LIVE here (max_block_size=64): a
    boilerplate shingle shared by B docs yields C(B,2) candidates, so
    the 100 TB plan needs the cap on.  64 is proven output-neutral at
    both test scales — the largest observed block is 8 members at
    sf0.01 and 26 at sf0.1 (tests/test_round6_staged.py::
    test_containment_cap_is_output_neutral_and_live), so the capped
    plan emits exactly the uncapped oracle rows while bounding the
    per-block candidate volume where a template-heavy corpus would
    explode it."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = T.tokens_col("text")
    half = F.greatest(F.floor(F.size(toks) / 2).cast("int"), F.lit(1))
    truncated = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("text"),
        )
    )
    alldocs = docs.unionByName(truncated)
    out = D.containment_pairs(
        alldocs, "doc_id", "text", threshold=0.8, max_block_size=64
    )
    return out.select(
        "id_a", "id_b", F.col("n_common").cast("long").alias("n_common"),
        "containment",
    )


def _mm_png_header(spark, sf_dir):
    """PNG metadata extraction without decode: synthesize real
    signature+IHDR binaries per document, then header-parse width /
    height / bit depth / color type with pure substring/hex/conv
    Column math (multimodal.synthesize_png_headers +
    parse_png_header); the oracle recomputes from the generative
    formula."""
    from eggv_spark.operators.multimodal import (
        parse_png_header, synthesize_png_headers,
    )

    assets = synthesize_png_headers(_t(spark, sf_dir, "documents"))
    return parse_png_header(assets)


def _tbl_delete_where(spark, sf_dir):
    """DELETE WHERE as a pure transformation with a per-linestatus
    audit (rows scanned / deleted / kept) — the gate record a
    write-audit-publish wants before swapping the live table
    (tableops.delete_where)."""
    _, audit = TO.delete_where(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_returnflag") == "R",
        audit_keys=["l_linestatus"],
    )
    return audit


def _tbl_wap_publish(spark, sf_dir):
    """Write-audit-publish: stage positive-value events as parquet,
    audit (row floor + NOT NULL) against the staged files, atomically
    rename to the publish path, report the checks from the PUBLISHED
    copy (tableops.write_audit_publish)."""
    base = _scratch_dir("wap_")
    df = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    return TO.write_audit_publish(
        df, base, not_null_cols=["event_id"], min_rows=1
    )


def _regex_count_sql(col: str, pat: str) -> str:
    return f"len(regexp_extract_all({col}, '{pat}'))"


_R5_TXT_ORACLES = {
    "txt_code_detect": (
        "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN"
        f"  text || '{_CODE_SUFFIX}' ELSE text END AS text"
        "  FROM documents)"
        " SELECT doc_id,"
        f" CAST({_regex_count_sql('text', '[{{}}]')} AS INT) AS n_braces,"
        .replace("{{}}", "{}") +
        f" CAST({_regex_count_sql('text', ';')} AS INT) AS n_semicolons,"
        f" CAST({_regex_count_sql('text', chr(92) + 'b(function|return|import|def|class|var|const)' + chr(92) + 'b')} AS INT)"
        "  AS n_code_keywords,"
        f" round({_regex_count_sql('text', '[{{}}();=<>[' + chr(92) + ']]')}"
        .replace("{{}}", "{}") +
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4)"
        "  AS symbol_ratio,"
        f" CASE WHEN {_regex_count_sql('text', '[{{}}]')} > 0".replace("{{}}", "{}") +
        f" AND {_regex_count_sql('text', chr(92) + 'b(function|return|import|def|class|var|const)' + chr(92) + 'b')} > 0"
        "  THEN 1 ELSE 0 END AS is_code"
        " FROM d"
    ),
    "txt_markdown_strip": (
        "WITH d AS (SELECT doc_id,"
        "  '# ' || source || chr(10) || text || ' [more](http://'"
        "  || source || '.example.com/x) **' || lang || '**' AS text"
        "  FROM documents)"
        " SELECT doc_id,"
        f" CAST({_regex_count_sql('text', chr(92) + '[[^' + chr(92) + ']]*' + chr(92) + ']' + chr(92) + '([^)]*' + chr(92) + ')')} AS INT) AS n_links,"
        f" CAST({_regex_count_sql('text', '(^|' + chr(92) + 'n)#+ ')} AS INT)"
        "  AS n_headings,"
        " CAST(length(text) AS INT) AS md_len,"
        " CAST(length(regexp_replace(regexp_replace(regexp_replace(text,"
        f"  '{chr(92)}[([^{chr(92)}]]*){chr(92)}]{chr(92)}([^)]*{chr(92)})', '{chr(92)}{chr(92)}1', 'g'),"
        f"  '(^|{chr(92)}n)#+ +', '{chr(92)}{chr(92)}1', 'g'),"
        f"  '({chr(92)}*{chr(92)}*|__|```)', '', 'g')) AS INT)"
        "  AS stripped_len"
        " FROM d"
    ),
    "txt_unicode_profile": (
        "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,"
        f" round({_regex_count_sql('text', '[ -~]')}"
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS ascii_ratio,"
        f" round({_regex_count_sql('text', '[0-9]')}"
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS digit_ratio,"
        f" round({_regex_count_sql('text', '[A-Z]')}"
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS upper_ratio,"
        " round(len(regexp_extract_all(text,"
        "  '[.,!?;:''\"()-]'))"
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio,"
        # explicit class, not \s: Java \s includes VT, RE2 \s does not
        f" round({_regex_count_sql('text', '[ ' + chr(92) + 't' + chr(92) + 'n' + chr(92) + 'f' + chr(92) + 'r]')}"
        "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS space_ratio"
        " FROM documents"
    ),
    "mm_png_header": (
        "SELECT doc_id AS asset_id, 1 AS header_ok,"
        " CAST(1 + doc_id % 64 AS BIGINT) AS width,"
        " CAST(1 + (doc_id * 7) % 48 AS BIGINT) AS height,"
        " CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type"
        " FROM documents"
    ),
    "tbl_delete_where": (
        "SELECT l_linestatus, count(*) AS rows_scanned,"
        " CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
        "  AS BIGINT) AS rows_deleted,"
        " CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)"
        "  AS BIGINT) AS rows_kept"
        " FROM lineitem GROUP BY 1"
    ),
    "tbl_wap_publish": (
        "SELECT 'row_floor' AS check_name, 1 AS passed"
        " UNION ALL SELECT 'not_null_event_id', 1"
        " UNION ALL SELECT 'published_rows',"
        "  CAST(count(*) AS INT) FROM events WHERE value > 0"
    ),
}


def _containment_oracle() -> str:
    p = D.MINHASH_PRIME
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents),
trunc_src AS (SELECT doc_id, {_TOKS_SQL} AS t FROM docs
  WHERE doc_id % 5 = 0),
truncated AS (SELECT doc_id + 1000000 AS doc_id,
  array_to_string(list_slice(t, 1,
    greatest(CAST(len(t) // 2 AS INT), 1)), ' ') AS text
  FROM trunc_src),
alldocs AS (SELECT * FROM docs UNION ALL SELECT * FROM truncated),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
  list_distinct(list_transform(shingles,
    s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
blocks AS (SELECT DISTINCT doc_id,
  unnest(list_slice(list_sort(hashes), 1, 8)) AS blk FROM hs),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM blocks l JOIN blocks r ON l.blk = r.blk
  AND l.doc_id < r.doc_id),
scored AS (SELECT id_a, id_b,
  CAST(len(list_intersect(ha.hashes, hb.hashes)) AS BIGINT) AS n_common,
  round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)
    / least(len(ha.hashes), len(hb.hashes)), 4) AS containment
  FROM cand JOIN hs ha ON ha.doc_id = id_a
  JOIN hs hb ON hb.doc_id = id_b)
SELECT id_a, id_b, n_common, containment FROM scored
WHERE containment >= 0.8
"""


# ---------------------------------------------------------------------------
# round-5 additions: sampling + asof tolerance + sim + geo
# ---------------------------------------------------------------------------

def _smp_min_per_group(spark, sf_dir):
    """Coverage-floor sampling: ~10% of documents per source but
    never fewer than 20 — the rare-domain guarantee, md5-rank
    deterministic (relational.min_per_group_sample); verified by the
    per-source kept-count and kept-id checksum."""
    kept = R.min_per_group_sample(
        _t(spark, sf_dir, "documents"), "source", "doc_id",
        min_keep=20, frac_pct=10,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def _smp_horvitz_thompson(spark, sf_dir):
    """Size-stratified PPS sampling (3x inclusion above a fixed
    balance threshold) with the Horvitz–Thompson reweighted
    estimator, per market segment — estimated vs true totals in one
    pass (relational.horvitz_thompson_totals)."""
    return R.horvitz_thompson_totals(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment"], "c_acctbal", "c_acctbal", "c_custkey",
        size_threshold=4500.0, base_pct=10,
    )


def _join_asof_tolerance(spark, sf_dir):
    """As-of join WITH tolerance: each click matched to the nearest
    prior view of the same user only if within 10 minutes — the
    pandas merge_asof(tolerance=...) contract on the union+window
    single-shuffle plan (rangejoin.asof_join tolerance arm);
    DuckDB ASOF JOIN oracle."""
    ev = _t(spark, sf_dir, "events")
    # equal-(user, ts) view rows would be an arbitrary pick on both
    # sides (Spark window tie vs DuckDB ASOF pick) — collapse them
    # deterministically to the max view_id first
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        clicks, views, ["user_id"], "ts", ["view_id"],
        tolerance="10 minutes",
    )
    return out.select(
        "event_id",
        F.col("ts").cast("long").alias("click_epoch"),
        F.col("asof_view_id").cast("long").alias("asof_view_id"),
    )


def _sim_pair_stats(spark, sf_dir):
    """Embedding-space cosine geometry over a deterministic md5 pair
    sample (2 partners per vector): 0.1-wide cosine histogram with
    per-bucket mean — the ANN/dedup threshold-tuning diagnostic
    (similarity.pair_cosine_histogram)."""
    return S.pair_cosine_histogram(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_pairs_per_vec=2,
    )


def _geo_grid_density(spark, sf_dir):
    """Spatial hotspot ranking: deterministic synthetic lat/lon per
    customer, 10-degree grid binning, top-20 cells by (count desc,
    cell) rank cutoff (geo.grid_density)."""
    from eggv_spark.operators.geo import grid_density

    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return grid_density(pts, "lat", "lon", cell_deg=10.0, top_n=20)


_R5_TAIL_ORACLES = {
    "smp_min_per_group": (
        "WITH r AS (SELECT source, doc_id,"
        "  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        "   AS BIGINT) AS h,"
        "  row_number() OVER (PARTITION BY source"
        "   ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS"
        "    VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rk"
        "  FROM documents)"
        " SELECT source, count(*) AS n_kept,"
        " CAST(sum(doc_id) AS BIGINT) AS id_sum"
        " FROM r WHERE rk <= 20 OR h % 100 < 10 GROUP BY 1"
    ),
    "smp_horvitz_thompson": (
        "WITH r AS (SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS x,"
        "  CASE WHEN c_acctbal > 4500.0 THEN 30 ELSE 10 END AS pct,"
        "  CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)),"
        "   1, 8)) AS BIGINT) % 100 AS u FROM customer)"
        " SELECT c_mktsegment, count(*) AS n_total,"
        " CAST(sum(CASE WHEN u < pct THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_sampled,"
        " round(sum(x), 2) AS true_total,"
        " round(sum(CASE WHEN u < pct THEN x / (pct / 100.0)"
        "  ELSE 0.0 END), 2) AS ht_total,"
        " round(sum(CASE WHEN u < pct THEN 1.0 / (pct / 100.0)"
        "  ELSE 0.0 END), 2) AS ht_count"
        " FROM r GROUP BY 1"
    ),
    "join_asof_tolerance": (
        "WITH v AS (SELECT user_id, ts, max(event_id) AS view_id"
        "  FROM events WHERE event_type = 'view' GROUP BY 1, 2),"
        " c AS (SELECT event_id, user_id, ts FROM events"
        "  WHERE event_type = 'click')"
        " SELECT c.event_id,"
        " CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,"
        " CASE WHEN v.ts >= c.ts - INTERVAL 10 MINUTE THEN v.view_id END"
        "  AS asof_view_id"
        " FROM c ASOF LEFT JOIN v"
        " ON c.user_id = v.user_id AND v.ts <= c.ts"
    ),
    "geo_grid_density": (
        "WITH pts AS (SELECT"
        "  (c_custkey * 37 % 18000) / 100.0 - 90.0 AS lat,"
        "  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon"
        "  FROM customer),"
        " cells AS (SELECT CAST(floor((lat + 90.0) / 10.0) AS BIGINT)"
        "   * 4096 + CAST(floor((lon + 180.0) / 10.0) AS BIGINT)"
        "   AS cell_id, count(*) AS n_points FROM pts GROUP BY 1),"
        " r AS (SELECT cell_id, n_points, CAST(row_number() OVER ("
        "  ORDER BY n_points DESC, cell_id) AS INT) AS rank FROM cells)"
        " SELECT rank, cell_id, n_points,"
        " round(floor(cell_id / 4096) * 10.0 - 90.0, 4) AS lat_lo,"
        " round((cell_id % 4096) * 10.0 - 180.0, 4) AS lon_lo"
        " FROM r WHERE rank <= 20"
    ),
}


def _pair_stats_oracle() -> str:
    return """
WITH n AS (SELECT count(*) AS n FROM embeddings),
pr0 AS (SELECT e.vec_id AS ida, j.j FROM embeddings e
  CROSS JOIN (VALUES (0), (1)) j(j)),
pr AS (SELECT DISTINCT ida,
  (ida + 1 + (CAST(concat('0x', substr(md5(CAST(ida AS VARCHAR)
    || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % (n.n - 1)))
  % n.n AS idb
  FROM pr0, n),
pairs AS (SELECT pr.ida, pr.idb,
  CAST(a.embedding AS DOUBLE[]) AS va,
  CAST(b.embedding AS DOUBLE[]) AS vb
  FROM pr JOIN embeddings a ON a.vec_id = pr.ida
  JOIN embeddings b ON b.vec_id = pr.idb
  WHERE pr.idb <> pr.ida),
scored AS (SELECT round(list_dot_product(va, vb)
  / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
  6) AS c FROM pairs)
SELECT CAST(least(greatest(floor(c * 10), -10), 9) AS INT)
  AS cos_bucket, count(*) AS n_pairs, round(avg(c), 4) AS mean_cos
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# round-5 wave 2: k-sample tests + temporal + chunk dedup (round-7 queue)
# ---------------------------------------------------------------------------

def _agg_anova(spark, sf_dir):
    """One-way ANOVA F of event value across the five event types —
    per-group moments to k rows, grand mean inside the scalar reduce
    (aggregates.anova_oneway)."""
    return AG.anova_oneway(_t(spark, sf_dir, "events"), "event_type", "value")


def _agg_kruskal(spark, sf_dir):
    """Kruskal–Wallis H (tie-corrected) of event value across event
    types — the distribution-free ANOVA, with the closed-form even-
    dof chi2 tail (k=5 -> dof 4) (aggregates.kruskal_wallis)."""
    return AG.kruskal_wallis(_t(spark, sf_dir, "events"), "event_type", "value")


def _agg_levene(spark, sf_dir):
    """Levene's W (mean-centered) for variance equality across event
    types — |x - mean_g| then ANOVA on the deviations
    (aggregates.levene_test)."""
    return AG.levene_test(_t(spark, sf_dir, "events"), "event_type", "value")


def _agg_median_test(spark, sf_dir):
    """Mood's median test across event types — rank-based pooled
    median (never percentile interpolation), above/below counts,
    2xk chi-square (aggregates.median_test)."""
    return AG.median_test(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


def _evt_burstiness(spark, sf_dir):
    """Goh–Barabási burstiness + CV + Fano factor of inter-event
    gaps per event type — integer epoch-second gaps, one lag window
    + one moments pass (events.burstiness_stats)."""
    from eggv_spark.operators.events import burstiness_stats

    return burstiness_stats(_t(spark, sf_dir, "events"))


def _evt_periodogram(spark, sf_dir):
    """Discrete periodogram (8 integer frequencies) of the daily
    event-count series per type — seasonality detection as paired
    cos/sin conditional aggregates, one map-side pass over the daily
    rollup (events.periodogram)."""
    from eggv_spark.operators.events import periodogram

    return periodogram(_t(spark, sf_dir, "events"))


def _dt_gap_islands(spark, sf_dir):
    """Gaps-and-islands over each customer's distinct order months
    (island id = month index - row_number), rolled to a histogram of
    consecutive-month streak lengths (events.gap_islands_histogram)."""
    from eggv_spark.operators.events import gap_islands_histogram

    return gap_islands_histogram(_t(spark, sf_dir, "orders"))


def _ddp_chunk_dedup(spark, sf_dir):
    """Content-defined chunking (hash-boundary chunks, insertion-
    robust) + per-source chunk duplication profile — the chunk-level
    dedup feasibility measurement (dedupe.content_defined_chunks /
    chunk_dedup_stats)."""
    return D.chunk_dedup_stats(_t(spark, sf_dir, "documents"))


def _txt_novelty_idf(spark, sf_dir):
    """Per-document novelty as mean idf of distinct tokens — the
    model-free boilerplate-vs-rare-vocabulary curation signal
    (text_analysis.novelty_idf)."""
    return T.novelty_idf(_t(spark, sf_dir, "documents"))


def _txt_bigram_pmi(spark, sf_dir):
    """Top-50 collocations by pointwise mutual information over
    adjacent token pairs (count >= 5, rank cutoff)
    (text_analysis.bigram_pmi)."""
    return T.bigram_pmi(_t(spark, sf_dir, "documents"))


def _mm_scene_cuts(spark, sf_dir):
    """Scene-cut detection on REAL-decoded Y4M frame luma means: the
    decode runs once in the Arrow-batched sampler, the cut logic is
    a pure lag window over per-frame stats
    (multimodal.detect_scene_cuts)."""
    from eggv_spark.operators import multimodal as M

    vids = M.synthesize_y4m_videos(_t(spark, sf_dir, "documents"))
    frames = M.sample_video_frames(vids, n_frames=4, fake_decode=False)
    return M.detect_scene_cuts(frames, threshold=5.0)


_CHI2_EVEN_TAIL_SQL = (
    "round(least(exp(-{x} / 2.0) * list_sum(list_transform("
    " generate_series(0, {m} - 1),"
    " i -> CASE WHEN i = 0 THEN 1.0 WHEN {x} = 0 THEN 0.0"
    "  ELSE exp(i * ln({x} / 2.0) - lgamma(i + 1.0)) END)), 1.0), 6)"
)

_R5W2_ORACLES = {
    "agg_anova": (
        "WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,"
        "  var_samp(value) AS v FROM events WHERE value IS NOT NULL"
        "  AND event_type IS NOT NULL GROUP BY 1),"
        " a AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,"
        "  sum(n * m) / sum(n) AS gm, sum(n * m * m) AS snm2,"
        "  sum((n - 1) * v) AS ssw FROM g)"
        " SELECT k, n, CAST(k - 1 AS BIGINT) AS df_between,"
        " CAST(n - k AS BIGINT) AS df_within,"
        " round(snm2 - n * gm * gm, 4) AS ss_between,"
        " round(ssw, 4) AS ss_within,"
        " round(((snm2 - n * gm * gm) / (k - 1)) / (ssw / (n - k)), 4)"
        "  AS f_stat FROM a"
    ),
    "agg_kruskal": (
        "WITH r AS (SELECT event_type AS g, value AS x,"
        "  rank() OVER (ORDER BY value)"
        "   + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS rk"
        "  FROM events WHERE value IS NOT NULL AND event_type IS NOT"
        "  NULL),"
        " pg AS (SELECT g, count(*) AS n, sum(rk) AS rs FROM r"
        "  GROUP BY 1),"
        " t AS (SELECT sum(pow(tc, 3) - tc) AS tie3 FROM (SELECT"
        "  count(*) AS tc FROM r GROUP BY x)),"
        " a AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,"
        "  sum(rs * rs / n) AS sr2 FROM pg),"
        " h AS (SELECT k, n, round((12.0 / (n * (n + 1.0)) * sr2"
        "  - 3.0 * (n + 1.0)) / (1.0 - tie3 / (pow(n, 3) - n)), 6)"
        "  AS kw_h FROM a, t)"
        " SELECT k, n, kw_h,"
        " CASE WHEN (k - 1) % 2 = 0 AND kw_h IS NOT NULL THEN "
        + _CHI2_EVEN_TAIL_SQL.format(x="kw_h", m="CAST((k - 1) / 2 AS INT)")
        + " END AS p_value FROM h"
    ),
    "agg_levene": (
        "WITH mu AS (SELECT event_type, avg(value) AS gm FROM events"
        "  WHERE value IS NOT NULL AND event_type IS NOT NULL"
        "  GROUP BY 1),"
        " z AS (SELECT e.event_type AS g, abs(e.value - mu.gm) AS x"
        "  FROM events e JOIN mu USING (event_type)"
        "  WHERE e.value IS NOT NULL),"
        " g AS (SELECT g, count(*) AS n, avg(x) AS m, var_samp(x) AS v"
        "  FROM z GROUP BY 1),"
        " a AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,"
        "  sum(n * m) / sum(n) AS gm, sum(n * m * m) AS snm2,"
        "  sum((n - 1) * v) AS ssw FROM g)"
        " SELECT k, n, CAST(k - 1 AS BIGINT) AS df_between,"
        " CAST(n - k AS BIGINT) AS df_within,"
        " round(((snm2 - n * gm * gm) / (k - 1)) / (ssw / (n - k)), 4)"
        "  AS levene_w FROM a"
    ),
    "agg_median_test": (
        "WITH r AS (SELECT event_type AS g, value AS x,"
        "  row_number() OVER (ORDER BY value, event_id) AS rn,"
        "  count(*) OVER () AS n FROM events WHERE value IS NOT NULL"
        "  AND event_type IS NOT NULL),"
        " med AS (SELECT x AS m FROM r WHERE rn = ceil(n / 2.0)),"
        " pg AS (SELECT g,"
        "  CAST(sum(CASE WHEN x > m THEN 1 ELSE 0 END) AS BIGINT) AS a,"
        "  CAST(sum(CASE WHEN x < m THEN 1 ELSE 0 END) AS BIGINT) AS b"
        "  FROM r, med WHERE x <> m GROUP BY 1),"
        " tot AS (SELECT sum(a) AS ta, sum(b) AS tb, count(*) AS k"
        "  FROM pg)"
        " SELECT k, CAST(ta + tb AS BIGINT) AS n_used,"
        " round(sum(pow(a - (a + b) * ta / (ta + tb), 2)"
        "   / ((a + b) * ta / (ta + tb))"
        "  + pow(b - (a + b) * tb / (ta + tb), 2)"
        "   / ((a + b) * tb / (ta + tb))), 4) AS chi2,"
        " CAST(k - 1 AS BIGINT) AS dof"
        " FROM pg, tot GROUP BY k, ta, tb"
    ),
    "evt_burstiness": (
        "WITH gaps AS (SELECT event_type AS t,"
        "  CAST(floor(epoch(ts)) AS BIGINT)"
        "   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER ("
        "   PARTITION BY event_type ORDER BY ts) AS gap FROM events)"
        " SELECT t AS event_type, count(gap) AS n_gaps,"
        " round(avg(gap), 4) AS mean_gap_s,"
        " round((stddev_samp(gap) - avg(gap))"
        "  / (stddev_samp(gap) + avg(gap)), 6) AS burstiness,"
        " round(stddev_samp(gap) / avg(gap), 6) AS cv,"
        " round(var_samp(gap) / avg(gap), 4) AS fano"
        " FROM gaps WHERE gap IS NOT NULL GROUP BY t"
    ),
    "evt_periodogram": (
        # days-since-epoch index (mirrors events.periodogram): a
        # day-of-month index would alias across month boundaries
        "WITH daily AS (SELECT event_type AS t,"
        "  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        "   AS INT) AS d, CAST(count(*) AS DOUBLE) AS y FROM events"
        "  GROUP BY 1, 2),"
        " span AS (SELECT t, max(d) - min(d) + 1 AS sp, min(d) AS d0,"
        "  count(*) AS n_days FROM daily GROUP BY 1),"
        " px AS (SELECT daily.t, n_days, k.k,"
        "  sum(y * cos(6.283185307179586 * k.k * (d - d0)"
        "   / CAST(sp AS DOUBLE))) AS c,"
        "  sum(y * sin(6.283185307179586 * k.k * (d - d0)"
        "   / CAST(sp AS DOUBLE))) AS s"
        "  FROM daily JOIN span USING (t), generate_series(1, 8) k(k)"
        "  GROUP BY 1, 2, 3)"
        " SELECT t AS event_type, CAST(n_days AS BIGINT) AS n_days,"
        " CAST(k AS INT) AS freq, round(c * c + s * s, 2) AS power"
        " FROM px"
    ),
    "dt_gap_islands": (
        "WITH months AS (SELECT DISTINCT o_custkey AS c,"
        "  (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1"
        "   AS m FROM orders),"
        " isl AS (SELECT c, m - row_number() OVER (PARTITION BY c"
        "  ORDER BY m) AS island FROM months),"
        " lens AS (SELECT c, island, count(*) AS island_length"
        "  FROM isl GROUP BY 1, 2)"
        " SELECT island_length, count(*) AS n_islands,"
        " count(DISTINCT c) AS n_customers"
        " FROM lens GROUP BY 1"
    ),
    "txt_novelty_idf": (
        f"WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),"
        " pairs AS (SELECT doc_id, unnest(list_distinct(t)) AS tok"
        "  FROM toks),"
        " nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),"
        " dfreq AS (SELECT tok, count(*) AS df FROM pairs GROUP BY 1)"
        " SELECT doc_id, count(*) AS n_distinct_tokens,"
        " round(avg(ln(n / df)), 4) AS novelty_idf"
        " FROM pairs JOIN dfreq USING (tok), nd GROUP BY doc_id"
    ),
    "txt_bigram_pmi": (
        f"WITH toks AS (SELECT {{toks}} AS t FROM documents),"
        " uni AS (SELECT unnest(t) AS w FROM toks),"
        " uc AS (SELECT w, CAST(count(*) AS DOUBLE) AS cw FROM uni"
        "  GROUP BY 1),"
        " nu AS (SELECT sum(cw) AS n FROM uc),"
        " bg AS (SELECT unnest(list_transform("
        "  generate_series(1, greatest(len(t) - 1, 0)),"
        "  i -> t[i] || ' ' || t[i + 1])) AS b FROM toks),"
        # nbi sums ALL bigram occurrences (before the min-count
        # filter) — mirrors bigram_pmi's p(ab) denominator
        " bca AS (SELECT b, CAST(count(*) AS DOUBLE) AS cb FROM bg"
        "  GROUP BY 1),"
        " nb AS (SELECT sum(cb) AS nbi FROM bca),"
        " bc AS (SELECT * FROM bca WHERE cb >= 5),"
        " scored AS (SELECT b AS bigram, CAST(cb AS BIGINT) AS n_bigram,"
        "  round(ln((cb / nbi) / ((ca.cw / nu.n) * (cbb.cw / nu.n))), 4)"
        "   AS pmi"
        "  FROM bc JOIN uc ca ON ca.w = string_split(bc.b, ' ')[1]"
        "  JOIN uc cbb ON cbb.w = string_split(bc.b, ' ')[2], nu, nb)"
        " SELECT bigram, n_bigram, pmi, CAST(rn AS INT) AS rank FROM ("
        "  SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram)"
        "   AS rn FROM scored) WHERE rn <= 50"
    ),
    "mm_scene_cuts": (
        # luma means from the generative Y4M formula (Y plane = bytes
        # i < 16 of frame f of doc d), then lag-window cut detection
        "WITH px AS (SELECT d.doc_id, f, i,"
        "  (d.doc_id * 7 + f * 11 + i * 13) % 256 AS v"
        "  FROM documents d, range(0, 4) tf(f), range(0, 16) ti(i)),"
        " fm AS (SELECT doc_id, f, avg(v) AS my FROM px GROUP BY 1, 2),"
        " dl AS (SELECT doc_id, f,"
        "  abs(my - lag(my) OVER (PARTITION BY doc_id ORDER BY f))"
        "   AS delta FROM fm)"
        " SELECT doc_id AS asset_id, count(*) AS n_frames,"
        " CAST(sum(CASE WHEN delta > 5.0 THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_cuts,"
        " CAST(min(CASE WHEN delta > 5.0 THEN f END) AS INT)"
        "  AS first_cut_idx"
        " FROM dl GROUP BY 1"
    ),
}


def _chunk_dedup_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
tk AS (SELECT doc_id, source, t[i] AS tok, i
  FROM toks, unnest(generate_series(1, len(t))) u(i)),
fl AS (SELECT doc_id, source, tok, i,
  CASE WHEN {_BASEHASH_SQL.format(x='tok')} % 16 = 0 THEN 1 ELSE 0 END
   AS flag FROM tk),
ch AS (SELECT doc_id, source, tok, i,
  sum(flag) OVER (PARTITION BY doc_id ORDER BY i) - flag AS chunk
  FROM fl),
chunks AS (SELECT doc_id, source, chunk,
  md5(string_agg(tok, ' ' ORDER BY i)) AS h FROM ch GROUP BY 1, 2, 3)
SELECT source, count(*) AS n_chunks,
 count(DISTINCT h) AS n_unique,
 round(1.0 - count(DISTINCT h) / CAST(count(*) AS DOUBLE), 6)
  AS dup_frac
FROM chunks GROUP BY source
"""


# ---------------------------------------------------------------------------
# round-5 wave 3: blocked/tail statistics + technical windows + clustering
# ---------------------------------------------------------------------------

def _daily_priority_revenue(spark, sf_dir):
    """Shared series: exact-cents daily order revenue (in $M) per
    priority — the cents route avoids round-half engine ties (see
    win_rolling_skew)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01")
            ).alias("day_idx"),
        )
        .agg(
            (F.round(F.sum("o_totalprice") * 100).cast("long") / 1e8)
            .alias("y")
        )
    )


def _agg_friedman(spark, sf_dir):
    """Friedman test (k event types over 30 day-blocks of mean event
    value) — within-block average ranks, chi2(k-1) even-dof tail
    (aggregates.friedman_test)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.dayofmonth("ts").cast("int").alias("day"), "event_type"
        )
        .agg(F.round(F.avg("value"), 6).alias("y"))
    )
    return AG.friedman_test(daily, "day", "event_type", "y")


def _agg_powerlaw(spark, sf_dir):
    """Clauset–Shalizi–Newman power-law tail MLE on order value
    (x_min = 200000): alpha and its asymptotic SE in one pass
    (aggregates.powerlaw_mle)."""
    return AG.powerlaw_mle(
        _t(spark, sf_dir, "orders"), "o_totalprice", 200000.0
    )


def _win_bollinger(spark, sf_dir):
    """Bollinger bands (20-day trailing mean ± 2σ + breach flag) on
    the exact-cents daily revenue series per priority
    (aggregates.with_bollinger)."""
    return AG.with_bollinger(
        _daily_priority_revenue(spark, sf_dir),
        ["o_orderpriority"], "day_idx", "y", window_rows=20,
    )


def _win_rsi(spark, sf_dir):
    """14-period RSI (SMA variant) on the exact-cents daily revenue
    series per priority — loss-free windows pin to 100 instead of
    dividing by zero (aggregates.with_rsi)."""
    return AG.with_rsi(
        _daily_priority_revenue(spark, sf_dir),
        ["o_orderpriority"], "day_idx", "y", period=14,
    )


def _evt_markov_entropy(spark, sf_dir):
    """Entropy rate of the first-order user-journey Markov chain +
    its ln(k)-normalized form — one scalar for journey
    predictability (events.markov_entropy_rate)."""
    from eggv_spark.operators.events import markov_entropy_rate

    return markov_entropy_rate(_t(spark, sf_dir, "events"))


def _txt_hapax(spark, sf_dir):
    """Vocabulary-growth profile per source: vocab size, hapax
    legomena count/fraction, type-token ratio — the templated-text
    detector (text_analysis.hapax_stats)."""
    return T.hapax_stats(_t(spark, sf_dir, "documents"))


def _geo_hotspot_clusters(spark, sf_dir):
    """Grid-based density clustering: dense 5° cells (adaptive
    threshold: max(3, 1.25x the occupancy mean), so the grid cannot
    percolate into one megacluster as SF grows) connected by
    8-neighborhood adjacency, components resolved with the dedup
    family's large-star/small-star — DBSCAN-at-resolution by
    composition (geo.hotspot_clusters)."""
    from eggv_spark.operators.geo import hotspot_clusters

    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return hotspot_clusters(
        pts, "lat", "lon", cell_deg=5.0, min_points=3, adaptive=True
    )


_DAILY_REV_SQL = (
    "daily AS (SELECT o_orderpriority,"
    " CAST(datediff('day', TIMESTAMP '1992-01-01',"
    "  date_trunc('day', o_orderdate)) AS INT) AS day_idx,"
    " CAST(round(sum(o_totalprice) * 100) AS BIGINT) / 1e8 AS y"
    " FROM orders GROUP BY 1, 2)"
)

_R5W3_ORACLES = {
    "agg_friedman": (
        "WITH daily AS (SELECT CAST(day(ts) AS INT) AS d, event_type,"
        "  round(avg(value), 6) AS y FROM events GROUP BY 1, 2),"
        " r AS (SELECT event_type, d,"
        "  rank() OVER (PARTITION BY d ORDER BY y)"
        "   + (count(*) OVER (PARTITION BY d, y) - 1) / 2.0 AS rk"
        "  FROM daily WHERE y IS NOT NULL),"
        " pt AS (SELECT event_type, sum(rk) AS rs, count(*) AS bc"
        "  FROM r GROUP BY 1),"
        " a AS (SELECT count(*) AS k, max(bc) AS b,"
        "  sum(rs * rs) AS sr2 FROM pt),"
        " q AS (SELECT k, b, round(12.0 / (b * k * (k + 1.0)) * sr2"
        "  - 3.0 * b * (k + 1.0), 6) AS friedman_q FROM a)"
        " SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS b,"
        " friedman_q,"
        " CASE WHEN (k - 1) % 2 = 0 AND friedman_q IS NOT NULL THEN "
        + _CHI2_EVEN_TAIL_SQL.format(
            x="friedman_q", m="CAST((k - 1) / 2 AS INT)"
        )
        + " END AS p_value FROM q"
    ),
    "agg_powerlaw": (
        "SELECT count(*) AS n_tail, 200000.0 AS x_min,"
        " round(1.0 + count(*) / sum(ln(o_totalprice / 200000.0)), 6)"
        "  AS alpha,"
        " round((count(*) / sum(ln(o_totalprice / 200000.0)))"
        "  / sqrt(count(*)), 6) AS alpha_se"
        " FROM orders WHERE o_totalprice >= 200000.0"
    ),
    "win_bollinger": (
        "WITH " + _DAILY_REV_SQL + ","
        " s AS (SELECT o_orderpriority, day_idx, y,"
        "  count(y) OVER w AS n, avg(y) OVER w AS m,"
        "  stddev_samp(y) OVER w AS sd FROM daily"
        "  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_idx"
        "   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))"
        " SELECT o_orderpriority, day_idx, y,"
        " CASE WHEN n = 20 THEN round(m, 4) END AS bb_mid,"
        " CASE WHEN n = 20 THEN round(m + 2.0 * sd, 4) END AS bb_upper,"
        " CASE WHEN n = 20 THEN round(m - 2.0 * sd, 4) END AS bb_lower,"
        " CASE WHEN n = 20 THEN CASE WHEN y > m + 2.0 * sd THEN 1"
        "  WHEN y < m - 2.0 * sd THEN -1 ELSE 0 END END AS bb_breach"
        " FROM s"
    ),
    "win_rsi": (
        "WITH " + _DAILY_REV_SQL + ","
        " d AS (SELECT o_orderpriority, day_idx, y,"
        "  y - lag(y) OVER (PARTITION BY o_orderpriority"
        "   ORDER BY day_idx) AS delta FROM daily),"
        " f AS (SELECT o_orderpriority, day_idx, y,"
        "  count(delta) OVER w AS n,"
        "  avg(CASE WHEN delta > 0 THEN delta ELSE 0.0 END) OVER w"
        "   AS gain,"
        "  avg(CASE WHEN delta < 0 THEN -delta ELSE 0.0 END) OVER w"
        "   AS loss FROM d"
        "  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_idx"
        "   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))"
        " SELECT o_orderpriority, day_idx, y,"
        " CASE WHEN n = 14 THEN CASE WHEN loss = 0 THEN 100.0"
        "  ELSE round(100.0 - 100.0 / (1.0 + gain / loss), 4) END END"
        "  AS rsi FROM f"
    ),
    "evt_markov_entropy": (
        "WITH pairs AS (SELECT event_type AS f,"
        "  lead(event_type) OVER (PARTITION BY user_id"
        "   ORDER BY ts, event_id) AS t FROM events),"
        " c AS (SELECT f, t, count(*) AS n FROM pairs"
        "  WHERE t IS NOT NULL GROUP BY 1, 2),"
        " m AS (SELECT f, t, n, sum(n) OVER (PARTITION BY f) AS rt,"
        "  sum(n) OVER () AS tot FROM c),"
        " a AS (SELECT CAST(max(tot) AS BIGINT) AS n_transitions,"
        "  count(DISTINCT f) AS n_states,"
        "  round(sum((rt / tot) * (n / rt) * -ln(n / rt)), 6)"
        "   AS entropy_rate_nats FROM m)"
        " SELECT n_transitions, n_states, entropy_rate_nats,"
        " round(entropy_rate_nats / ln(n_states), 6)"
        "  AS normalized_entropy FROM a"
    ),
    "txt_hapax": (
        "WITH toks AS (SELECT source, unnest({toks}) AS tok"
        "  FROM documents),"
        " pt AS (SELECT source, tok, count(*) AS n FROM toks"
        "  GROUP BY 1, 2)"
        " SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,"
        " count(*) AS vocab_size,"
        " CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_hapax,"
        " round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)"
        "  / CAST(count(*) AS DOUBLE), 6) AS hapax_frac,"
        " round(count(*) / CAST(sum(n) AS DOUBLE), 6)"
        "  AS type_token_ratio"
        " FROM pt GROUP BY source"
    ),
    "geo_hotspot_clusters": (
        "WITH RECURSIVE pts AS (SELECT"
        "  (c_custkey * 37 % 18000) / 100.0 - 90.0 AS lat,"
        "  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon"
        "  FROM customer),"
        " occ AS (SELECT CAST(floor((lat + 90.0) / 5.0) AS BIGINT)"
        "   * 4096 + CAST(floor((lon + 180.0) / 5.0) AS BIGINT)"
        "   AS cell_id, count(*) AS n_points FROM pts GROUP BY 1),"
        " thr AS (SELECT greatest(3, CAST(ceil(1.25 * avg(n_points))"
        "   AS INT)) AS t FROM occ),"
        " dense AS (SELECT cell_id, n_points FROM occ, thr"
        "  WHERE n_points >= thr.t),"
        " ed AS (SELECT l.cell_id AS a, r.cell_id AS b"
        "  FROM dense l JOIN dense r ON r.cell_id - l.cell_id IN"
        "  (1, 4095, 4096, 4097)),"
        " sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),"
        " reach(node, r) AS ("
        "  SELECT a, b FROM sym"
        "  UNION"
        "  SELECT reach.node, sym.b FROM reach"
        "   JOIN sym ON reach.r = sym.a),"
        " comp AS (SELECT node, least(node, min(r)) AS component"
        "  FROM reach GROUP BY node),"
        " labeled AS (SELECT d.cell_id, d.n_points,"
        "  coalesce(c.component, d.cell_id) AS cluster_id"
        "  FROM dense d LEFT JOIN comp c ON c.node = d.cell_id)"
        " SELECT cluster_id, count(*) AS n_cells,"
        " CAST(sum(n_points) AS BIGINT) AS n_points"
        " FROM labeled GROUP BY 1"
    ),
}


# ---------------------------------------------------------------------------
# round-5 wave 4: ML evaluation + agreement + Python DataSource
# ---------------------------------------------------------------------------

def _agg_pr_auc(spark, sf_dir):
    """Average precision (area under the PR curve) of event value as
    a purchase-likelihood score — the imbalance-honest companion to
    agg_auc's ROC, identical rank order in both engines via the
    event_id tiebreak (aggregates.average_precision)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_y", (F.col("event_type") == "purchase").cast("int")
    )
    return AG.average_precision(ev, "value", "_y", "event_id")


def _agg_lift_chart(spark, sf_dir):
    """Decile lift/gain chart for the same purchase-likelihood score
    — per-decile response rate, lift vs base rate, cumulative gain,
    with the integer-exact decile assignment
    (aggregates.lift_chart)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_y", (F.col("event_type") == "purchase").cast("int")
    )
    return AG.lift_chart(ev, "value", "_y", "event_id")


def _agg_kappa(spark, sf_dir):
    """Cohen's kappa between a threshold labeler (value > 50) and a
    deterministic md5 second rater — chance-corrected agreement in
    one pass (aggregates.cohen_kappa)."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rater_a = F.col("value") > 50
    rater_b = (
        F.pmod(base_hash(F.col("event_id").cast("string")), F.lit(100)) < 40
    )
    return AG.cohen_kappa(ev, rater_a, rater_b)


def _agg_mcnemar(spark, sf_dir):
    """McNemar's paired test: per user, active in the first half of
    the month vs the second — only discordant users inform the
    statistic, continuity-corrected chi2 (aggregates.mcnemar_test)."""
    ev = _t(spark, sf_dir, "events")
    return AG.mcnemar_test(
        ev, "user_id",
        F.dayofmonth("ts") <= 15,
        F.dayofmonth("ts") > 15,
    )


def _src_gvf_datasource(spark, sf_dir):
    """GVF via the PySpark 4 Python DataSource API
    (``spark.read.format("gvf")``): a deterministic two-file GVF
    corpus synthesized from the nation table (25 rows — the
    driver-side write is the fixture generator, not the operator),
    read back through the registered format with one InputPartition
    per file, parsed rows re-derived by the oracle from the same
    formulas (sources/gvf_datasource.py)."""
    import os

    from eggv_spark.sources.gvf_datasource import register_gvf_datasource

    register_gvf_datasource(spark)
    rows = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect()
    )
    base = _scratch_dir("gvfds_")
    files = {0: [], 1: []}
    for r in sorted(rows, key=lambda r: r["n_nationkey"]):
        k = int(r["n_nationkey"])
        line = (
            f"chr{k % 4}\tsynth\tSNV\t{100 + k * 10}\t{105 + k * 10}"
            f"\t.\t+\t.\tID=rs{k};Region={int(r['n_regionkey'])}"
        )
        files[k % 2].append(line)
    for part, lines in files.items():
        with open(os.path.join(base, f"part{part}.gvf"), "w") as fh:
            fh.write("##gvf-version 1.10\n")
            fh.write("\n".join(lines) + "\n")
    df = spark.read.format("gvf").load(base)
    return df.select(
        "seqid", "type", "start", "end",
        strip_prefix_cast_long(
            regexp_extract_null(F.col("attr"), r"ID=(rs\d+)", 1), "rs"
        ).alias("nationkey"),
    )


_R5W4_ORACLES = {
    "agg_pr_auc": (
        "WITH r AS (SELECT CASE WHEN event_type = 'purchase' THEN 1"
        "  ELSE 0 END AS y,"
        "  row_number() OVER (ORDER BY value DESC, event_id) AS rn"
        "  FROM events WHERE value IS NOT NULL"
        "  AND event_type IS NOT NULL),"
        " p AS (SELECT y, sum(y) OVER (ORDER BY rn"
        "  ROWS UNBOUNDED PRECEDING) / CAST(rn AS DOUBLE) AS prec"
        "  FROM r)"
        " SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,"
        " round(sum(CASE WHEN y = 1 THEN prec END) / sum(y), 6)"
        "  AS avg_precision FROM p"
    ),
    "agg_lift_chart": (
        "WITH r AS (SELECT CASE WHEN event_type = 'purchase' THEN 1"
        "  ELSE 0 END AS y,"
        "  row_number() OVER (ORDER BY value DESC, event_id) AS rn,"
        "  count(*) OVER () AS n"
        "  FROM events WHERE value IS NOT NULL"
        "  AND event_type IS NOT NULL),"
        " d AS (SELECT CAST(floor((rn * 10 - 1) / n) + 1 AS INT)"
        "   AS decile, count(*) AS n_rows,"
        "  CAST(sum(y) AS BIGINT) AS n_pos FROM r GROUP BY 1),"
        " t AS (SELECT decile, n_rows, n_pos,"
        "  CAST(sum(n_pos) OVER () AS DOUBLE) AS tp,"
        "  CAST(sum(n_rows) OVER () AS DOUBLE) AS tn,"
        "  CAST(sum(n_pos) OVER (ORDER BY decile"
        "   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cp FROM d)"
        " SELECT decile, n_rows, n_pos,"
        " round(n_pos / CAST(n_rows AS DOUBLE), 6) AS response_rate,"
        " round((n_pos / CAST(n_rows AS DOUBLE)) / (tp / tn), 4)"
        "  AS lift,"
        " round(cp / tp, 6) AS cum_gain FROM t"
    ),
    "agg_kappa": (
        "WITH r AS (SELECT"
        "  CASE WHEN value > 50 THEN 1 ELSE 0 END AS a,"
        "  CASE WHEN CAST(concat('0x', substr(md5(CAST(event_id AS"
        "   VARCHAR)), 1, 8)) AS BIGINT) % 100 < 40 THEN 1 ELSE 0 END"
        "   AS b FROM events WHERE value IS NOT NULL),"
        " m AS (SELECT count(*) AS n,"
        "  avg(CASE WHEN a = b THEN 1.0 ELSE 0.0 END) AS po,"
        "  avg(CAST(a AS DOUBLE)) AS pa, avg(CAST(b AS DOUBLE)) AS pb"
        "  FROM r)"
        " SELECT n, round(po, 6) AS p_observed,"
        " round(pa * pb + (1 - pa) * (1 - pb), 6) AS p_expected,"
        " round((po - (pa * pb + (1 - pa) * (1 - pb)))"
        "  / (1 - (pa * pb + (1 - pa) * (1 - pb))), 6) AS kappa"
        " FROM m"
    ),
    "agg_mcnemar": (
        "WITH u AS (SELECT user_id,"
        "  max(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS a,"
        "  max(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS b"
        "  FROM events GROUP BY 1),"
        " m AS (SELECT count(*) AS n_units,"
        "  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS b_only_first,"
        "  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS c_only_second FROM u)"
        " SELECT n_units, b_only_first, c_only_second,"
        " round(pow(abs(b_only_first - c_only_second) - 1, 2)"
        "  / CAST(b_only_first + c_only_second AS DOUBLE), 4)"
        "  AS mcnemar_chi2 FROM m"
    ),
    "src_gvf_datasource": (
        "SELECT 'chr' || CAST(n_nationkey % 4 AS VARCHAR) AS seqid,"
        " 'SNV' AS type,"
        " CAST(100 + n_nationkey * 10 AS BIGINT) AS start,"
        " CAST(105 + n_nationkey * 10 AS BIGINT) AS \"end\","
        " CAST(n_nationkey AS BIGINT) AS nationkey"
        " FROM nation"
    ),
}


# ---------------------------------------------------------------------------
# round-7 additions: the twelve staged operators (round-6 session)
# + the scale-safe rolling-corr headline.  Oracle SQL lifted from the
# pre-validated drafts in tests/test_round6_staged_oracles.py.
# ---------------------------------------------------------------------------

def _c4_line_filters(spark, sf_dir):
    """C4-style line filtering (text_analysis.c4_line_filters).  The
    synthetic documents.text is single-line and punctuation-free, so
    line structure is SYNTHESIZED in-plan (both engines run the same
    formula): five lines of six tokens each — terminal '.', no
    terminal punct, terminal '!', a javascript-marker line on every
    5th doc (else terminal '.'), terminal '?' — exercising the
    terminal-punctuation, min-words, and boilerplate-marker gates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")

    def seg(start):
        return F.concat_ws(" ", F.slice(tk, start, 6))

    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(seg(1), F.lit(".")),
            seg(7),
            F.concat(seg(13), F.lit("!")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("click here to enable javascript now."),
            ).otherwise(F.concat(seg(19), F.lit("."))),
            F.concat(seg(25), F.lit("?")),
        ).alias("text"),
    )
    return T.c4_line_filters(synth)


def _vocab_jsd(spark, sf_dir):
    """Unigram Jensen-Shannon divergence between the src0 and src1
    corpus slices (text_analysis.vocab_jsd) — the binning-free drift
    monitor next to PSI."""
    return T.vocab_jsd(
        _t(spark, sf_dir, "documents"), "source", "text", "src0", "src1"
    )


def _bpe_train_merges(spark, sf_dir):
    """First 6 BPE merge steps trained on the documents corpus
    (text_analysis.bpe_train_merges) — vocabulary-sized pair counts,
    broadcast argmax, array-fold merge; no driver-side collect."""
    return T.bpe_train_merges(_t(spark, sf_dir, "documents"), n_merges=6)


def _embedding_drift(spark, sf_dir):
    """Centroid cosine/L2 drift between the label-0 and label-1
    embedding slices (similarity.embedding_drift)."""
    return S.embedding_drift(
        _t(spark, sf_dir, "embeddings"), "label", "embedding", 0, 1
    )


def _epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-3 shuffle of the orders keys into 8 shards
    (relational.epoch_shuffle): portable md5 draw, no global sort."""
    return R.epoch_shuffle(
        _t(spark, sf_dir, "orders").select("o_orderkey"),
        ["o_orderkey"], epoch=3, n_shards=8,
    )


def _srm_check(spark, sf_dir):
    """Sample-ratio-mismatch gate on the md5 50/50 user split
    (events.srm_check) — the same portable assignment as evt_ab_test,
    checked for allocation health before the readout is trusted."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import srm_check

    ev = _t(spark, sf_dir, "events").select(
        F.when(
            base_hash(F.col("user_id").cast("string")) % 2 == 0, "A"
        ).otherwise("B").alias("variant"),
        F.col("user_id").alias("unit"),
    )
    return srm_check(ev, "variant", "unit", {"A": 0.5, "B": 0.5})


def _multiplicative_means(spark, sf_dir):
    """Geometric/harmonic means of lineitem quantity per returnflag
    (aggregates.multiplicative_means) — map-side-combinable moment
    folds, no sorting."""
    return AG.multiplicative_means(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )


def _join_cardinality_estimate(spark, sf_dir):
    """Pre-flight exact cardinality audit of lineitem ⋈ part on
    partkey (tableops.join_cardinality_estimate): total output size +
    the 10 heaviest keys, from two key histograms."""
    return TO.join_cardinality_estimate(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        "l_partkey", "p_partkey",
    )


def _prefix_dim_recall(spark, sf_dir):
    """Matryoshka serving-dimension evaluation
    (similarity.prefix_dim_recall): recall@5 of 8- and 16-dim prefix
    truncations against the exact 64-dim top-5, 20 fixed queries
    (vec_id < 20 — a pushed-down predicate scan, no sort; the
    synthetic ids are dense from 0), plus the full-dimension baseline
    row."""
    return S.prefix_dim_recall(
        _t(spark, sf_dir, "embeddings"), dims_list=[8, 16], k=5,
        n_queries=20, query_pred=F.col("vec_id") < 20,
    )


def _label_chi2_terms(spark, sf_dir):
    """Top-5 chi-square discriminative terms per source label over
    document frequencies (text_analysis.label_chi2_terms),
    min_doc_freq=10."""
    return T.label_chi2_terms(
        _t(spark, sf_dir, "documents"), label_col="source",
        text_col="text", top_n=5, min_doc_freq=10,
    )


def _uplift_by_segment(spark, sf_dir):
    """Per-segment A/B uplift readout (events.uplift_by_segment):
    md5 50/50 user split, high-value-purchase conversion, segments =
    user_id mod 4 — per-segment rates/lift/z plus the pooled __ALL__
    row from one plan."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import uplift_by_segment

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string"))
        .alias("seg"),
        F.col("user_id").alias("unit"),
        F.when(
            base_hash(F.col("user_id").cast("string")) % 2 == 0, "A"
        ).otherwise("B").alias("variant"),
        (
            (F.col("event_type") == "purchase") & (F.col("value") > 450)
        ).cast("int").alias("converted"),
    )
    return uplift_by_segment(ev, "unit", "variant", "converted", "seg")


def _schema_drift_audit(spark, sf_dir):
    """Column-level drift audit between two synthesized customer
    snapshots (tableops.schema_drift_audit): old carries c_acctbal,
    new drops it, adds c_mktsegment, halves the rows, and nulls
    c_name on every 4th key — added/dropped columns and the null-rate
    jump are the silent-producer-breakage signals this surfaces."""
    cust = _t(spark, sf_dir, "customer")
    old = cust.select("c_custkey", "c_name", "c_acctbal")
    new = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 4 == 0, F.lit(None).cast("string")
        ).otherwise(F.col("c_name")).alias("c_name"),
        "c_mktsegment",
    )
    return TO.schema_drift_audit(old, new)


def _bpe_oracle_step_sql(i: int) -> str:
    """One BPE merge step as a DuckDB CTE pair (see
    tests/test_round6_staged_oracles.py for the pipe-delimited
    double-space encoding that keeps the string replace greedy and
    boundary-unambiguous)."""
    return f"""
pairs{i} AS (
  SELECT u.p[1] AS a, u.p[2] AS b, sum(w.f) AS cnt
  FROM words{i - 1} w,
       unnest(list_zip(w.syms[1:len(w.syms)-1], w.syms[2:len(w.syms)]))
         AS u(p)
  WHERE len(w.syms) >= 2
  GROUP BY u.p[1], u.p[2]
),
best{i} AS (
  SELECT a, b, cnt FROM pairs{i} ORDER BY cnt DESC, a, b LIMIT 1
),
words{i} AS (
  SELECT list_transform(
           string_split(
             replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                     '|' || bb.a || bb.b || '|'), '  '),
           s -> trim(s, '|')) AS syms,
         replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                 '|' || bb.a || bb.b || '|') AS seq,
         w.f AS f
  FROM words{i - 1} w, best{i} bb
)"""


def _bpe_oracle_sql(n_steps: int) -> str:
    sql = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS w FROM documents
),
words0 AS (
  SELECT string_split(w, '') AS syms,
         '|' || array_to_string(string_split(w, ''), '|  |') || '|'
           AS seq,
         count(*) AS f
  FROM toks GROUP BY w
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _bpe_oracle_step_sql(i)
    sql += "\nSELECT * FROM (" + " UNION ALL BY NAME ".join(
        f"SELECT {i} AS step, a AS pair_a, b AS pair_b,"
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM best{i}"
        for i in range(1, n_steps + 1)
    ) + ") ORDER BY step"
    return sql


def _prefix_recall_block_sql(d: int, k: int) -> str:
    """Per-dims recall block over the shared exact/queries CTEs."""
    return f"""
SELECT CAST({d} AS INT) AS dims, count(*) AS n_queries,
       round(avg(recall), 4) AS mean_recall
FROM (
  SELECT e.query_id,
         count(a.neighbor_id) / CAST({k} AS DOUBLE) AS recall
  FROM exact e
  LEFT JOIN (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(
                      list_dot_product(q.embedding[1:{d}],
                                       c.embedding[1:{d}])
                      / (sqrt(list_dot_product(q.embedding[1:{d}],
                                               q.embedding[1:{d}]))
                         * sqrt(list_dot_product(c.embedding[1:{d}],
                                                 c.embedding[1:{d}]))),
                      4) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM emb c CROSS JOIN queries q
    WHERE c.vec_id <> q.vec_id
    QUALIFY rank <= {k}
  ) a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)"""


def _prefix_recall_oracle(dims_list, k, n_queries) -> str:
    blocks = " UNION ALL ".join(
        _prefix_recall_block_sql(d, k) for d in dims_list
    )
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
             FROM embeddings),
queries AS (SELECT vec_id, embedding FROM emb
            WHERE vec_id < {n_queries}),
exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.embedding, c.embedding)
                    / (sqrt(list_dot_product(q.embedding, q.embedding))
                       * sqrt(list_dot_product(c.embedding,
                                               c.embedding))), 4) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM emb c CROSS JOIN queries q
  WHERE c.vec_id <> q.vec_id
  QUALIFY rank <= {k}
)
{blocks}
UNION ALL
SELECT CAST((SELECT max(len(embedding)) FROM emb) AS INT) AS dims,
       (SELECT count(DISTINCT query_id) FROM exact) AS n_queries,
       CAST(1.0 AS DOUBLE) AS mean_recall
"""


_AB_VARIANT_SQL = (
    "CASE WHEN CAST(concat('0x',"
    " substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 2 = 0 THEN 'A' ELSE 'B' END"
)


def _r7_oracles() -> dict[str, str]:
    """Oracle SQL for the round-7 registrations (pre-validated
    engine-vs-DuckDB in tests/test_round6_staged_oracles.py; the
    fixture tables/parameters here mirror the registry queries)."""
    # coalesce(...,''): DuckDB array_to_string([]) is NULL (concat_ws
    # would drop the line) where Spark concat_ws of an empty slice is
    # '' (line kept) — the empty-string wrap aligns the engines
    c4 = r"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
d AS (SELECT doc_id, concat_ws(chr(10),
   coalesce(array_to_string(t[1:6], ' '), '') || '.',
   coalesce(array_to_string(t[7:12], ' '), ''),
   coalesce(array_to_string(t[13:18], ' '), '') || '!',
   CASE WHEN doc_id % 5 = 0 THEN 'click here to enable javascript now.'
        ELSE coalesce(array_to_string(t[19:24], ' '), '') || '.' END,
   coalesce(array_to_string(t[25:30], ' '), '') || '?') AS text FROM tk),
s AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d),
k AS (SELECT doc_id, lines, list_filter(lines, l ->
        regexp_matches(trim(l), '[.!?"’”]$')
        AND len(string_split_regex(trim(l), '\s+')) >= 3
        AND NOT contains(lower(trim(l)), '{')
        AND NOT contains(lower(trim(l)), 'lorem ipsum')
        AND NOT contains(lower(trim(l)), 'javascript')) AS kept FROM s)
SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept,
       len(kept) >= 3 AS page_ok,
       array_to_string(kept, chr(10)) AS clean_text
FROM k
"""
    jsd_term = (
        "CASE WHEN ca > 0 THEN 0.5 * (ca/na)"
        " * ln((ca/na) / ((ca/na + cb/nb)/2)) ELSE 0 END"
        " + CASE WHEN cb > 0 THEN 0.5 * (cb/nb)"
        " * ln((cb/nb) / ((ca/na + cb/nb)/2)) ELSE 0 END"
    )
    vocab_jsd = f"""
WITH toks AS (
  SELECT source AS g, unnest({_TOKS_SQL}) AS tok
  FROM documents WHERE source IN ('src0', 'src1')
), counts AS (
  SELECT tok,
         sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
  FROM toks GROUP BY tok
), tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts)
SELECT CAST(any_value(na) AS BIGINT) AS n_tokens_a,
       CAST(any_value(nb) AS BIGINT) AS n_tokens_b,
       count(*) AS vocab_union,
       CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
       CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
       round(sum({jsd_term}), 6) AS jsd_nats,
       round(sum({jsd_term}) / 0.6931471805599453, 6) AS jsd_normalized
FROM counts, tot
"""
    emb_drift = """
WITH e AS (SELECT label AS g, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings WHERE label IN (0, 1)),
pairs AS (
  SELECT g, u.p[2] AS d, u.p[1] AS x
  FROM e, unnest(list_zip(vec, range(1, len(vec) + 1))) AS u(p)
), per_dim AS (
  SELECT g, d, avg(x) AS m, count(*) AS n FROM pairs GROUP BY g, d
), cents AS (
  SELECT g, list(m ORDER BY d) AS c, max(n) AS nvecs
  FROM per_dim GROUP BY g
), j AS (
  SELECT a.c AS ca, a.nvecs AS n_a, b.c AS cb, b.nvecs AS n_b
  FROM (SELECT * FROM cents WHERE g = 0) a,
       (SELECT * FROM cents WHERE g = 1) b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(len(ca) AS INT) AS dims,
       round(list_dot_product(ca, cb)
             / (sqrt(list_dot_product(ca, ca))
                * sqrt(list_dot_product(cb, cb))), 6) AS centroid_cosine,
       round(sqrt(list_dot_product(
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]),
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]))), 6)
         AS centroid_l2
FROM j
"""
    epoch_shuffle = """
WITH drawn AS (
  SELECT o_orderkey,
         md5('3' || '|' || CAST(o_orderkey AS VARCHAR)) AS draw
  FROM orders
), sharded AS (
  SELECT o_orderkey, draw,
         CAST(CAST('0x' || substr(draw, 1, 8) AS BIGINT) % 8 AS INT)
           AS shard
  FROM drawn
)
SELECT o_orderkey, shard,
       CAST(row_number() OVER (
         PARTITION BY shard ORDER BY draw, o_orderkey) AS INT)
         AS shard_pos
FROM sharded
"""
    srm = f"""
WITH v AS (SELECT {_AB_VARIANT_SQL} AS variant, user_id AS unit
           FROM events),
per AS (
  SELECT variant, count(DISTINCT unit) AS n_units FROM v GROUP BY variant
), tot AS (SELECT sum(n_units) AS n FROM per)
SELECT count(*) AS k, CAST(sum(n_units) AS BIGINT) AS n_units,
       round(sum(pow(n_units - 0.5 * (SELECT n FROM tot), 2)
                 / (0.5 * (SELECT n FROM tot))), 4) AS srm_chi2,
       count(*) - 1 AS dof
FROM per
"""
    mult_means = """
SELECT l_returnflag, count(l_quantity) AS n,
       count(CASE WHEN l_quantity > 0 THEN l_quantity END) AS n_positive,
       round(avg(l_quantity), 6) AS mean,
       round(exp(avg(CASE WHEN l_quantity > 0 THEN ln(l_quantity) END)),
             6) AS gmean,
       round(count(CASE WHEN l_quantity > 0 THEN l_quantity END)
             / sum(CASE WHEN l_quantity > 0
                        THEN 1.0/l_quantity END), 6) AS hmean
FROM lineitem GROUP BY l_returnflag
"""
    join_card = """
WITH la AS (SELECT l_partkey AS key, count(*) AS ca
            FROM lineitem GROUP BY l_partkey),
     rb AS (SELECT p_partkey AS key, count(*) AS cb
            FROM part GROUP BY p_partkey),
     j2 AS (SELECT coalesce(la.key, rb.key) AS key,
                   coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb,
                   coalesce(ca, 0) * coalesce(cb, 0) AS outn
            FROM la FULL OUTER JOIN rb ON la.key = rb.key),
     total AS (
       SELECT CAST(0 AS INT) AS rank, '__TOTAL__' AS key,
              CAST(sum(outn) AS BIGINT) AS est_rows,
              CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched_keys,
              CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_left_only_keys,
              CAST(sum(CASE WHEN ca = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_right_only_keys
       FROM j2),
     heavy AS (
       SELECT CAST(row_number() OVER (ORDER BY outn DESC, key) AS INT)
                AS rank,
              CAST(key AS VARCHAR) AS key,
              CAST(outn AS BIGINT) AS est_rows,
              CAST(NULL AS BIGINT) AS n_matched_keys,
              CAST(NULL AS BIGINT) AS n_left_only_keys,
              CAST(NULL AS BIGINT) AS n_right_only_keys
       FROM j2 WHERE outn > 0 QUALIFY rank <= 10)
SELECT * FROM total UNION ALL BY NAME SELECT * FROM heavy
"""
    label_chi2 = f"""
WITH docs AS (
  SELECT source AS l, list_distinct({_TOKS_SQL}) AS toks FROM documents
), pairs AS (
  SELECT l, unnest(toks) AS t FROM docs
), n_docs AS (SELECT count(*) AS n FROM docs),
per_label AS (SELECT l, count(*) AS nl FROM docs GROUP BY l),
per_term AS (SELECT t, count(*) AS dt FROM pairs GROUP BY t),
cell AS (SELECT l, t, count(*) AS a FROM pairs GROUP BY l, t),
j AS (
  SELECT c.l, c.t, c.a, pt.dt, pl.nl, nd.n
  FROM cell c
  JOIN per_term pt ON c.t = pt.t
  JOIN per_label pl ON c.l = pl.l
  CROSS JOIN n_docs nd
  WHERE pt.dt >= 10
), scored AS (
  SELECT l AS source, t AS term, a AS label_doc_freq,
         dt AS corpus_doc_freq,
         round(
           CASE WHEN (a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                     * (a + (nl - a)) * ((dt - a) + (n - dt - nl + a)) = 0
                THEN NULL
                ELSE n * pow(a * (n - dt - nl + a)
                             - (dt - a) * (nl - a), 2)
                     / ((a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                        * (a + (nl - a))
                        * ((dt - a) + (n - dt - nl + a)))
           END, 4) AS chi2
  FROM j
)
SELECT source, term, label_doc_freq, corpus_doc_freq, chi2,
       CAST(row_number() OVER (PARTITION BY source
              ORDER BY chi2 DESC NULLS LAST, term) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""
    uplift = f"""
WITH ev AS (
  SELECT concat('s', CAST(user_id % 4 AS VARCHAR)) AS seg,
         user_id AS unit, {_AB_VARIANT_SQL} AS variant,
         CASE WHEN event_type = 'purchase' AND value > 450
              THEN 1 ELSE 0 END AS converted
  FROM events
), per_unit AS (
  SELECT seg AS s, unit AS u, variant AS v, max(converted) AS y
  FROM ev GROUP BY seg, unit, variant
), seg AS (
  SELECT s,
         CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN v = 'A' THEN y ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN v = 'B' THEN y ELSE 0 END) AS BIGINT) AS c_b
  FROM per_unit GROUP BY s
), total AS (
  SELECT '__ALL__' AS s, CAST(sum(n_a) AS BIGINT) AS n_a,
         CAST(sum(n_b) AS BIGINT) AS n_b,
         CAST(sum(c_a) AS BIGINT) AS c_a,
         CAST(sum(c_b) AS BIGINT) AS c_b
  FROM seg
), combined AS (
  SELECT * FROM seg UNION ALL BY NAME SELECT * FROM total
)
SELECT s AS seg, n_a, n_b,
       round(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
       round(c_b / CAST(n_b AS DOUBLE)
             - c_a / CAST(n_a AS DOUBLE), 6) AS lift,
       round(
         CASE WHEN sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0/n_a + 1.0/n_b)) = 0 THEN NULL
              ELSE (c_b / CAST(n_b AS DOUBLE)
                    - c_a / CAST(n_a AS DOUBLE))
                   / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                          * (1 - (c_a + c_b)
                               / CAST(n_a + n_b AS DOUBLE))
                          * (1.0/n_a + 1.0/n_b))
         END, 4) AS z_stat
FROM combined
"""

    def _drift_block(table: str, cols: list[str]) -> str:
        return " UNION ALL ".join(
            f"SELECT '{c}' AS col,"
            f" round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" / CAST(count(*) AS DOUBLE), 6) AS nr,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS nd FROM {table}"
            for c in cols
        )

    schema_drift = f"""
WITH o AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
n AS (SELECT c_custkey,
             CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END
               AS c_name,
             c_mktsegment
      FROM customer WHERE c_custkey % 2 = 0),
po AS ({_drift_block("o", ["c_custkey", "c_name", "c_acctbal"])}),
pn AS ({_drift_block("n", ["c_custkey", "c_name", "c_mktsegment"])})
SELECT coalesce(po.col, pn.col) AS "column",
       po.nr IS NOT NULL AS in_old,
       pn.nr IS NOT NULL AS in_new,
       po.nr AS null_rate_old, pn.nr AS null_rate_new,
       round(pn.nr - po.nr, 6) AS null_rate_drift,
       po.nd AS n_distinct_old, pn.nd AS n_distinct_new
FROM po FULL OUTER JOIN pn ON po.col = pn.col
"""
    return {
        "c4_line_filters": c4,
        "vocab_jsd": vocab_jsd,
        "bpe_train_merges": _bpe_oracle_sql(6),
        "embedding_drift": emb_drift,
        "epoch_shuffle": epoch_shuffle,
        "srm_check": srm,
        "multiplicative_means": mult_means,
        "join_cardinality_estimate": join_card,
        "prefix_dim_recall": _prefix_recall_oracle([8, 16], 5, 20),
        "label_chi2_terms": label_chi2,
        "uplift_by_segment": uplift,
        "schema_drift_audit": schema_drift,
    }


# ---------------------------------------------------------------------------
# round-8 registrations (the ROUND8_QUEUE.md thirteen: staged, property-
# tested and oracle-validated in tests/test_round7_staged_oracles.py,
# registered into the round-8 verification window)
# ---------------------------------------------------------------------------

def _cuped_adjusted_lift(spark, sf_dir):
    """CUPED variance-reduced A/B readout (events.cuped_adjusted_lift):
    md5 50/50 user split (the same portable assignment as evt_ab_test /
    srm_check), pre-period covariate = view-event value, post-period
    outcome = purchase-event value, summed per unit inside the
    operator."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import cuped_adjusted_lift

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("unit"),
        F.when(
            base_hash(F.col("user_id").cast("string")) % 2 == 0, "A"
        ).otherwise("B").alias("variant"),
        F.when(F.col("event_type") == "view", F.col("value"))
        .otherwise(0.0).alias("pre"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(0.0).alias("post"),
    )
    return cuped_adjusted_lift(ev, "unit", "variant", "pre", "post")


def _active_user_counts(spark, sf_dir):
    """DAU/WAU/MAU trailing-window actives per day over the events
    stream (events.active_user_counts): user-day dedup first, then
    explode(sequence)+equi — a pure equi shape, never a range join."""
    from eggv_spark.operators.events import active_user_counts

    return active_user_counts(
        _t(spark, sf_dir, "events"), "user_id", "ts"
    )


def _funnel_paths(spark, sf_dir):
    """Top-15 six-step user journey paths over the events stream
    (events.funnel_paths): one user-grained sort_array fold, one
    map-side-combinable path count, TakeOrdered top-N."""
    from eggv_spark.operators.events import funnel_paths

    return funnel_paths(
        _t(spark, sf_dir, "events"), max_steps=6, top_n=15
    )


def _hhi_concentration(spark, sf_dir):
    """Revenue concentration per order priority across customers
    (aggregates.hhi_concentration): the contributor grain is the
    (priority, custkey) revenue pre-aggregation, per the operator's
    contract."""
    contrib = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(F.sum("o_totalprice").cast("double").alias("rev"))
    )
    return AG.hhi_concentration(contrib, ["o_orderpriority"], "rev")


def _mcc_confusion(spark, sf_dir):
    """Binary confusion readout + Matthews correlation
    (aggregates.mcc_confusion): label = high-value event (value > 250),
    pred = deterministic md5 heuristic — exact integer cells, so the
    ratios are engine-identical."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") > 250).cast("int").alias("label"),
        (base_hash(F.col("event_id").cast("string")) % 2 == 0)
        .cast("int").alias("pred"),
    )
    return AG.mcc_confusion(ev, "label", "pred")


def _brier_decomposition(spark, sf_dir):
    """Murphy three-way Brier decomposition over 10 probability bins
    (aggregates.brier_decomposition): p = deterministic md5-derived
    probability in [0, 1), y = purchase flag."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events").select(
        (
            (base_hash(F.col("event_id").cast("string")) % 1000)
            / 1000.0
        ).alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return AG.brier_decomposition(ev, "p", "y", n_bins=10)


def _pps_weight_cents():
    """Customer sampling weight: acctbal in integer cents, clamped to
    a POSITIVE minimum (acctbal can be <= 0; PPS weights must be
    positive integers so the cumulative sum is exact)."""
    return F.greatest(
        F.round(F.col("c_acctbal") * 100, 0).cast("long"),
        F.lit(1).cast("long"),
    )


def _pps_systematic_sample(spark, sf_dir):
    """PPS systematic sample of 40 customers weighted by account
    balance (relational.pps_systematic_sample): md5 traversal order,
    integer cumulative weights, div-based crossing test — zero RNG
    state, engine-exact."""
    return R.pps_systematic_sample(
        _t(spark, sf_dir, "customer"), ["c_custkey"],
        _pps_weight_cents(), n_samples=40,
    )


def _pps_stratified_sample(spark, sf_dir):
    """Stratified PPS sample (12 per market segment) — the 100 TB
    headline form: |strata| independent cumulative-weight streams
    instead of one global total order
    (relational.pps_stratified_sample)."""
    return R.pps_stratified_sample(
        _t(spark, sf_dir, "customer"), ["c_mktsegment"], ["c_custkey"],
        _pps_weight_cents(), n_per_stratum=12,
    )


def _compaction_plan(spark, sf_dir):
    """Small-file compaction planner (tableops.compaction_plan) over a
    file listing synthesized from orders (path = orderkey mod 500,
    size = group row count x 1000 bytes): first-fit-decreasing bins of
    ~128 KB from one metadata-sized window."""
    files = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 500).alias("_g"))
        .agg(F.count("*").alias("_cnt"))
        .select(
            F.concat(F.lit("part-"), F.col("_g").cast("string"))
            .alias("path"),
            (F.col("_cnt") * 1000).alias("size_bytes"),
        )
    )
    return TO.compaction_plan(files, target_bytes=128_000)


def _graph_modularity(spark, sf_dir):
    """Newman modularity of a nationkey-derived partition (node mod 8)
    over the same rank-thresholded trade graph graph_wcc uses
    (graph.modularity): exact integer tallies, per-community Q
    contributions plus the global '__ALL__' row."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comm = nodes.select(
        "node", (F.col("node") % 8).cast("string").alias("community")
    )
    return G.modularity(edges, comm)


def _perplexity_bins(spark, sf_dir):
    """CCNet-style quality binning of the documents corpus into three
    equal-probability buckets by corpus-unigram LM score
    (text_analysis.perplexity_bins): percentile cutoffs broadcast as
    scalars, assignment by pure comparison."""
    return T.perplexity_bins(_t(spark, sf_dir, "documents"), n_bins=3)


def _bpe_apply_merges(spark, sf_dir):
    """Tokenizer application: train 6 BPE merges on the documents
    corpus and apply them back, reporting per-doc BPE token counts
    (text_analysis.bpe_apply_merges) — the train/apply pair composed
    in one query; the merge loop runs ONCE on the vocabulary-sized
    word table (bpe_train_with_sizes carries the word string through
    the train fold, so the apply side reuses the final fold state
    instead of re-running the loop from the merge table — measured
    3.69 s -> 2.34 s at sf0.1, identical output), the corpus
    shuffles once."""
    docs = _t(spark, sf_dir, "documents")
    merges, word_sizes = T.bpe_train_with_sizes(docs, n_merges=6)
    return T.bpe_apply_merges(docs, merges, 6, word_sizes=word_sizes)


def _image_patches(spark, sf_dir):
    """ViT-style 4x4 patch means over real 8x8 binary-PPM assets
    synthesized from documents (multimodal.image_patches): stdlib P6
    decode inside Arrow-batched mapInPandas, dyadic means — exactly
    reproducible in SQL from the pixel formula."""
    from eggv_spark.operators.multimodal import (
        image_patches,
        synthesize_ppm_images,
    )

    assets = synthesize_ppm_images(
        _t(spark, sf_dir, "documents"), width=8, height=8
    )
    return image_patches(assets, patch=4)


def _bpe_apply_oracle_step_sql(i: int) -> str:
    """One BPE merge step as DuckDB CTEs for the APPLY oracle — the
    training chain of ``_bpe_oracle_step_sql`` extended to carry the
    word string ``w`` through every step, so the final per-word symbol
    count can join back to the doc-grained token stream."""
    return f"""
pairs{i} AS (
  SELECT u.p[1] AS a, u.p[2] AS b, sum(w.f) AS cnt
  FROM words{i - 1} w,
       unnest(list_zip(w.syms[1:len(w.syms)-1], w.syms[2:len(w.syms)]))
         AS u(p)
  WHERE len(w.syms) >= 2
  GROUP BY u.p[1], u.p[2]
),
best{i} AS (
  SELECT a, b FROM pairs{i} ORDER BY cnt DESC, a, b LIMIT 1
),
words{i} AS (
  SELECT w.w AS w,
         list_transform(
           string_split(
             replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                     '|' || bb.a || bb.b || '|'), '  '),
           s -> trim(s, '|')) AS syms,
         replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                 '|' || bb.a || bb.b || '|') AS seq,
         w.f AS f
  FROM words{i - 1} w, best{i} bb
)"""


def _bpe_apply_oracle_sql(n_steps: int) -> str:
    sql = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
),
words0 AS (
  SELECT w, string_split(w, '') AS syms,
         '|' || array_to_string(string_split(w, ''), '|  |') || '|'
           AS seq,
         count(*) AS f
  FROM toks GROUP BY w
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _bpe_apply_oracle_step_sql(i)
    sql += f"""
SELECT doc_id, count(*) AS n_words,
       CAST(sum(len(words{n_steps}.syms)) AS BIGINT) AS n_bpe_tokens
FROM toks JOIN words{n_steps} USING (w)
GROUP BY doc_id
"""
    return sql


def _perplexity_bins_oracle(n_bins: int) -> str:
    """CCNet quality-bin oracle: unigram-LM doc scores (4dp), then
    DISCRETE order-statistic cutoffs selected from the score
    histogram (cutoff i = smallest score whose cumulative count
    reaches ceil(n*i/k)) and >=-assignment — purely ORDINAL, so any
    engine computing the same score multiset bins identically (the
    interpolated-percentile form flipped a 121-doc tie mass at
    sf0.1; see the operator docstring).  Ties at a cutoff go to the
    better bin, 1 = head."""
    cut_sel = ", ".join(
        f"min(CASE WHEN cumc >= (n * {i} + {n_bins - 1}) // {n_bins}"
        f" THEN s END) AS c{i - 1}"
        for i in range(1, n_bins)
    )
    bin_expr = " + ".join(
        f"CAST(avg_logprob >= c{i} AS INT)" for i in range(n_bins - 1)
    )
    return f"""
WITH terms AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term
               FROM documents),
counts AS (SELECT term, count(*) AS n_term FROM terms GROUP BY term),
tot AS (SELECT sum(n_term) AS n_total FROM counts),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln(n_term / n_total)), 4) AS avg_logprob
  FROM terms JOIN counts USING (term), tot GROUP BY doc_id
), hist AS (
  SELECT avg_logprob AS s, count(*) AS c FROM scored GROUP BY avg_logprob
), cum AS (
  SELECT s, sum(c) OVER (ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM hist
), nn AS (SELECT sum(c) AS n FROM hist),
cuts AS (SELECT {cut_sel} FROM cum, nn),
binned AS (
  SELECT {n_bins + 1} - (1 + {bin_expr}) AS bin,
         avg_logprob, n_tokens
  FROM scored, cuts
)
SELECT bin, count(*) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM binned GROUP BY bin
"""


_PPS_WEIGHT_SQL = "greatest(CAST(round(c_acctbal * 100) AS BIGINT), 1)"

# the rank-thresholded trade graph shared with the graph_wcc oracle
_TRADE_TOPK_SQL = (
    "trade AS MATERIALIZED ("
    " SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS weight"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " WHERE c_nationkey <> s_nationkey"
    " GROUP BY src, dst),"
    " topk AS MATERIALIZED (SELECT src, dst FROM ("
    "  SELECT src, dst, row_number() OVER ("
    "   ORDER BY weight DESC, src, dst) AS rn FROM trade)"
    "  WHERE rn <= 100)"
)


def _r8_oracles() -> dict[str, str]:
    """Oracle SQL for the round-8 registrations (the thirteen
    ROUND8_QUEUE.md operators; every template pre-validated
    engine-vs-DuckDB in tests/test_round7_staged_oracles.py with the
    registry fixtures substituted here)."""
    cuped = f"""
WITH ev AS (
  SELECT user_id AS unit, {_AB_VARIANT_SQL} AS variant,
         CASE WHEN event_type = 'view' THEN value ELSE 0 END AS pre,
         CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
           AS post
  FROM events
), per_unit AS (
  SELECT unit AS u, variant AS v, sum(pre) AS x, sum(post) AS y
  FROM ev GROUP BY unit, variant
), mo AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM per_unit
), th AS (
  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         sx / n AS xbar
  FROM mo
), adj AS (
  SELECT v, y, y - th.theta * (x - th.xbar) AS y_adj,
         th.theta AS theta
  FROM per_unit, th
)
SELECT CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       round(any_value(theta), 6) AS theta,
       round(sum(CASE WHEN v = 'B' THEN y ELSE 0 END)
               / sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
             - sum(CASE WHEN v = 'A' THEN y ELSE 0 END)
               / sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END), 6)
         AS lift_raw,
       round(sum(CASE WHEN v = 'B' THEN y_adj ELSE 0 END)
               / sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
             - sum(CASE WHEN v = 'A' THEN y_adj ELSE 0 END)
               / sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END), 6)
         AS lift_adjusted,
       round(1.0 - var_samp(y_adj) / var_samp(y), 6) AS var_reduction
FROM adj
"""
    active_users = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
), spine AS (
  SELECT unnest(generate_series(
    (SELECT min(d) FROM ud), (SELECT max(d) FROM ud),
    INTERVAL 1 DAY)) AS day
),
j AS (
  SELECT ud.u, ud.d, CAST(spine.day AS DATE) AS day
  FROM ud JOIN spine
    ON ud.d <= spine.day AND ud.d > spine.day - INTERVAL 28 DAY
),
dau AS (SELECT day, count(DISTINCT u) AS dau FROM j
        WHERE d = day GROUP BY day),
wau AS (SELECT day, count(DISTINCT u) AS wau FROM j
        WHERE d > day - INTERVAL 7 DAY GROUP BY day),
mau AS (SELECT day, count(DISTINCT u) AS mau FROM j GROUP BY day)
SELECT mau.day AS day, coalesce(dau.dau, 0) AS dau,
       coalesce(wau.wau, 0) AS wau, mau,
       round(coalesce(dau.dau, 0) / CAST(mau AS DOUBLE), 4)
         AS dau_mau_ratio
FROM mau LEFT JOIN dau ON mau.day = dau.day
         LEFT JOIN wau ON mau.day = wau.day
"""
    funnel = """
WITH stepped AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), per_user AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM stepped WHERE rn <= 6 GROUP BY user_id
), counts AS (
  SELECT path, count(*) AS n_users FROM per_user GROUP BY path
)
SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path) AS INT)
         AS rank,
       path, n_users
FROM counts QUALIFY rank <= 15
"""
    hhi = """
WITH c AS (
  SELECT o_orderpriority AS g, o_custkey,
         CAST(sum(o_totalprice) AS DOUBLE) AS v
  FROM orders GROUP BY o_orderpriority, o_custkey
), t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_contributors,
         sum(v) AS tot, max(v) AS mx
  FROM c GROUP BY g
)
SELECT c.g AS o_orderpriority,
       any_value(t.n_contributors) AS n_contributors,
       round(sum((c.v / t.tot) * (c.v / t.tot)), 6) AS hhi,
       round(1.0 / round(sum((c.v / t.tot) * (c.v / t.tot)), 6), 4)
         AS effective_n,
       round(any_value(t.mx / t.tot), 6) AS top_share
FROM c JOIN t ON c.g = t.g
GROUP BY c.g
"""
    mcc = f"""
WITH t AS (
  SELECT CASE WHEN value > 250 THEN 1 ELSE 0 END AS label,
         CASE WHEN {_BASEHASH_SQL.format(x="CAST(event_id AS VARCHAR)")}
              % 2 = 0 THEN 1 ELSE 0 END AS pred
  FROM events
), cells AS (
  SELECT CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
         CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
         CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
         CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS tn
  FROM t
)
SELECT tp, fp, fn, tn,
  round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6) AS precision,
  round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall,
  round(2 * tp / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1,
  round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
  round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        / nullif(sqrt((CAST(tp AS DOUBLE) + fp)
                      * (CAST(tp AS DOUBLE) + fn)
                      * (CAST(tn AS DOUBLE) + fp)
                      * (CAST(tn AS DOUBLE) + fn)), 0), 6) AS mcc
FROM cells
"""
    brier = f"""
WITH t AS (
  SELECT ({_BASEHASH_SQL.format(x="CAST(event_id AS VARCHAR)")}
          % 1000) / 1000.0 AS p,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), b AS (
  SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM t
), per_bin AS (
  SELECT bin, count(*) AS nk, avg(p) AS pk, avg(y) AS yk
  FROM b GROUP BY bin
), g AS (
  SELECT count(*) AS n, avg(y) AS ybar,
         avg((p - y) * (p - y)) AS bs
  FROM b
)
SELECT CAST(any_value(g.n) AS BIGINT) AS n,
       count(*) AS n_bins_used,
       round(any_value(g.bs), 6) AS brier,
       round(sum(nk * (pk - yk) * (pk - yk)) / any_value(g.n), 6)
         AS reliability,
       round(sum(nk * (yk - g.ybar) * (yk - g.ybar)) / any_value(g.n), 6)
         AS resolution,
       round(any_value(g.ybar * (1 - g.ybar)), 6) AS uncertainty
FROM per_bin, g
"""
    pps_sys = f"""
WITH h AS (
  SELECT c_custkey, {_PPS_WEIGHT_SQL} AS w,
         {_BASEHASH_SQL.format(x="CAST(c_custkey AS VARCHAR)")} AS hk
  FROM customer
), cum AS (
  SELECT c_custkey, w,
         sum(w) OVER (ORDER BY hk, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
), tot AS (SELECT max(cumw) AS tw FROM cum)
SELECT c_custkey, w AS weight_cents,
       CAST(cumw AS BIGINT) AS cum_weight_cents
FROM cum, tot
WHERE cumw * 40 // tw > (cumw - w) * 40 // tw
"""
    pps_strat = f"""
WITH h AS (
  SELECT c_mktsegment, c_custkey, {_PPS_WEIGHT_SQL} AS w,
         {_BASEHASH_SQL.format(x="CAST(c_custkey AS VARCHAR)")} AS hk
  FROM customer
), cum AS (
  SELECT c_mktsegment, c_custkey, w,
         sum(w) OVER (PARTITION BY c_mktsegment ORDER BY hk, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
), tot AS (
  SELECT c_mktsegment, max(cumw) AS tw FROM cum GROUP BY c_mktsegment
)
SELECT cum.c_mktsegment, c_custkey, w AS weight_cents,
       CAST(cumw AS BIGINT) AS cum_weight_cents
FROM cum JOIN tot
  ON cum.c_mktsegment IS NOT DISTINCT FROM tot.c_mktsegment
WHERE cumw * 12 // tw > (cumw - w) * 12 // tw
"""
    compaction = """
WITH f AS (
  SELECT 'part-' || CAST(o_orderkey % 500 AS VARCHAR) AS path,
         count(*) * 1000 AS size_bytes
  FROM orders GROUP BY o_orderkey % 500
), s AS (
  SELECT path, CAST(size_bytes AS BIGINT) AS size_bytes,
         sum(size_bytes) OVER (
           ORDER BY size_bytes DESC, path
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - size_bytes AS cum_before
  FROM f
), a AS (
  SELECT path, size_bytes,
         CAST(cum_before // 128000 AS INT) AS bin
  FROM s
)
SELECT bin, count(*) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       round(sum(size_bytes) / CAST(128000 AS DOUBLE), 4) AS fill_ratio,
       CAST(min(size_bytes) AS BIGINT) AS min_file_bytes,
       CAST(max(size_bytes) AS BIGINT) AS max_file_bytes
FROM a GROUP BY bin
"""
    modularity = f"""
WITH {_TRADE_TOPK_SQL},
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM topk
    UNION ALL SELECT dst AS node FROM topk
  )
), comm AS MATERIALIZED (
  SELECT node, CAST(node % 8 AS VARCHAR) AS community FROM nodes
), e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM topk WHERE src <> dst
), tagged AS MATERIALIZED (
  SELECT ca.community AS ca, cb.community AS cb
  FROM e JOIN comm ca ON e.a = ca.node JOIN comm cb ON e.b = cb.node
), m AS (SELECT count(*) AS m FROM tagged),
intra AS (
  SELECT ca AS community, count(*) AS intra_edges
  FROM tagged WHERE ca = cb GROUP BY ca
), deg AS (
  SELECT community, count(*) AS degree_sum FROM (
    SELECT ca AS community FROM tagged
    UNION ALL SELECT cb AS community FROM tagged
  ) GROUP BY community
), per_c AS (
  SELECT CAST(deg.community AS VARCHAR) AS community,
         CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
         CAST(deg.degree_sum AS BIGINT) AS degree_sum,
         round(coalesce(intra.intra_edges, 0) / CAST(m.m AS DOUBLE)
               - (deg.degree_sum / (2.0 * m.m))
                 * (deg.degree_sum / (2.0 * m.m)), 6) AS q_contribution
  FROM deg LEFT JOIN intra ON deg.community = intra.community, m
)
SELECT community, intra_edges, degree_sum, q_contribution FROM per_c
UNION ALL
SELECT '__ALL__' AS community,
       CAST(sum(intra_edges) AS BIGINT) AS intra_edges,
       CAST(sum(degree_sum) AS BIGINT) AS degree_sum,
       round(sum(q_contribution), 6) AS q_contribution
FROM per_c
"""
    image_patches = """
WITH grid AS (
  SELECT d.doc_id AS asset_id, pr.pr AS patch_row, pc.pc AS patch_col
  FROM documents d, (SELECT unnest(range(0, 2)) AS pr) pr,
       (SELECT unnest(range(0, 2)) AS pc) pc
)
SELECT asset_id, CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 0) * 13) % 256
              AS DOUBLE))) / 16 AS mean_r,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 1) * 13) % 256
              AS DOUBLE))) / 16 AS mean_g,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 2) * 13) % 256
              AS DOUBLE))) / 16 AS mean_b
FROM grid
"""
    return {
        "cuped_adjusted_lift": cuped,
        "active_user_counts": active_users,
        "funnel_paths": funnel,
        "hhi_concentration": hhi,
        "mcc_confusion": mcc,
        "brier_decomposition": brier,
        "pps_systematic_sample": pps_sys,
        "pps_stratified_sample": pps_strat,
        "compaction_plan": compaction,
        "graph_modularity": modularity,
        "perplexity_bins": _perplexity_bins_oracle(3),
        "bpe_apply_merges": _bpe_apply_oracle_sql(6),
        "image_patches": image_patches,
        "composite_tokenizer_pipeline": _tokenizer_pipeline_oracle_sql(
            6, budget=2000, seq=256
        ),
    }


def _composite_tokenizer_pipeline(spark, sf_dir):
    """The tokenizer-side training-data pipeline as ONE plan: train 6
    BPE merges on the documents corpus, count per-doc BPE tokens against
    the finished word map, greedily fill each source's 2000-token
    budget with its best-compressing documents, and pack the selected
    stream into 256-token training sequences
    (text_analysis.tokenizer_pipeline) — apply -> select -> pack with
    exactly two corpus shuffles (the pack offsets are arithmetic on
    the budget window's running sum; asserted in tests/test_plans.py).
    Mirrors composite_training_mixture's shape on the tokenizer axis
    (VERDICT r07 item 6)."""
    docs = _t(spark, sf_dir, "documents")
    # single merge loop: the train fold carries the word string, so
    # the word→n_symbols map falls out of the final fold state (see
    # _bpe_apply_merges); the merge table itself is not consumed
    # downstream here, only the sizes map is.
    _merges, word_sizes = T.bpe_train_with_sizes(docs, n_merges=6)
    return T.tokenizer_pipeline(
        docs, word_sizes, budget_tokens=2000, seq_tokens=256
    )


def _tokenizer_pipeline_oracle_sql(
    n_steps: int, budget: int, seq: int
) -> str:
    """DuckDB twin of the tokenizer composite: the w-carrying BPE
    apply chain, then the same score/select/pack arithmetic."""
    sql = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_TOKS_SQL}) AS w FROM documents
),
words0 AS (
  SELECT w, string_split(w, '') AS syms,
         '|' || array_to_string(string_split(w, ''), '|  |') || '|'
           AS seq,
         count(*) AS f
  FROM toks GROUP BY w
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _bpe_apply_oracle_step_sql(i)
    sql += f"""
, per_doc AS (
  SELECT doc_id, source, count(*) AS n_words,
         CAST(sum(len(words{n_steps}.syms)) AS BIGINT) AS n_bpe_tokens
  FROM toks JOIN words{n_steps} USING (w)
  GROUP BY doc_id, source
), scored AS (
  SELECT doc_id, source, n_words, n_bpe_tokens,
         round(n_bpe_tokens / CAST(n_words AS DOUBLE), 4)
           AS bpe_per_word
  FROM per_doc
), cum AS (
  SELECT *, sum(n_bpe_tokens) OVER (
    PARTITION BY source ORDER BY bpe_per_word, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM scored
)
SELECT source, doc_id, n_words, n_bpe_tokens, bpe_per_word,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_bpe_tokens) // {seq} AS INT) AS seq_bin
FROM cum WHERE cum_tokens <= {budget}
"""
    return sql


# ---------------------------------------------------------------------------
# round-8 registrations, second wave: the five round-8-staged operators
# (ROUND9_QUEUE.md, pulled forward into the round-8 window once their
# oracles validated) plus the dsir -> pps_stratified composite
# ---------------------------------------------------------------------------


def _logistic_regression_gd(spark, sf_dir):
    """Quality-classifier fit run in-plan (ml.logistic_regression_gd):
    3 full-batch GD steps of binary logistic regression over the
    64-dim embeddings table, label binarized as (label < 5) — the
    table's label is 10-class, and the operator raises in-plan on
    non-binary labels.  One corpus pass per step; the only shuffle per
    step carries 64 dimension rows."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") < 5).cast("int").alias("label")
    )
    return ML.logistic_regression_gd(
        emb, "embedding", "label", n_steps=3, lr=0.4, dim=64
    )


def _pca_power_iteration(spark, sf_dir):
    """Top principal component of the embeddings table by 4 power
    iterations on the (never materialized) covariance operator
    (ml.pca_power_iteration): eigenvalue, total variance, explained
    share, and the heaviest loading dimension."""
    return ML.pca_power_iteration(
        _t(spark, sf_dir, "embeddings"), "embedding", n_steps=4, dim=64
    )


def _readability_scores(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability per document
    (text_analysis.readability_scores): exact sentence/word/vowel-group
    counts from one shuffle-free projection of regexp counts."""
    return T.readability_scores(_t(spark, sf_dir, "documents"))


def _contamination_report(spark, sf_dir):
    """Benchmark-contamination audit (text_analysis
    .contamination_report): distinct 3- and 5-gram overlap between the
    eval slice (source='src1') and the rest of the corpus, plus the
    count of eval docs carrying at least one overlapped n-gram."""
    return T.contamination_report(
        _t(spark, sf_dir, "documents"),
        F.col("source") == "src1",
        ngram_sizes=(3, 5),
    )


def _dsir_log_weights(spark, sf_dir):
    """DSIR importance weights (text_analysis.dsir_log_weights):
    hashed-bigram log-likelihood ratio of every raw document against
    the target slice (source='src1'), 4096 buckets, add-1 smoothing —
    the resample-the-crawl selection signal."""
    return T.dsir_log_weights(
        _t(spark, sf_dir, "documents"),
        F.col("source") == "src1",
        n_buckets=4096,
    )


def _composite_importance_mixture(spark, sf_dir):
    """The DSIR selection axis composed end-to-end (ROUND9_QUEUE.md
    suggestion): score every raw document by its hashed-bigram
    importance log-weight against the target slice, convert the 4dp
    log-weight to a positive integer PPS weight (1e4-scaled, clamped
    >= 1 so anti-target docs keep a minimal draw probability), and
    fill an 8-unit per-source budget by stratified PPS systematic
    sampling — score -> weight -> per-stratum fill as ONE plan, the
    importance-resampling mirror of composite_training_mixture.

    Scale shape: the DSIR side is two bucket counts + a broadcast
    4096-row ratio table; the PPS side is |sources| independent
    cumulative-weight streams; the only corpus-sized shuffles are the
    per-doc score aggregation, the doc-key equi-join attaching source,
    and the per-source window."""
    docs = _t(spark, sf_dir, "documents")
    weights = T.dsir_log_weights(
        docs, F.col("source") == "src1", n_buckets=4096
    )
    scored = docs.select("doc_id", "source").join(weights, "doc_id")
    w = F.greatest(
        F.round(F.col("dsir_logweight") * 10000).cast("long"), F.lit(1)
    )
    return R.pps_stratified_sample(
        scored, ["source"], ["doc_id"], w, n_per_stratum=8
    )


def _logistic_oracle_step_sql(i: int, dim: int, lr: float) -> str:
    """One logistic-GD step as DuckDB CTEs (validated in
    tests/test_round8_staged_oracles.py).  The multi-referenced CTEs
    are MATERIALIZED: DuckDB inlines CTEs referenced more than once,
    which re-executes the whole upstream chain per reference — the
    graph_modularity lesson, exponential in the step count here."""
    return f"""
p{i} AS MATERIALIZED (
  SELECT x, y,
         1.0 / (1.0 + exp(-(list_dot_product(x, w{i - 1}.w) + w{i - 1}.b)))
           AS p
  FROM data, w{i - 1}
),
g{i} AS (
  SELECT u.d AS d, avg((p - y) * x[u.d]) AS g
  FROM p{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
),
gl{i} AS (SELECT list(g ORDER BY d) AS gs FROM g{i}),
gb{i} AS (SELECT avg(p - y) AS gb FROM p{i}),
w{i} AS MATERIALIZED (
  SELECT list_transform(list_zip(w{i - 1}.w, gl{i}.gs),
                        z -> z[1] - {lr!r} * z[2]) AS w,
         w{i - 1}.b - {lr!r} * gb{i}.gb AS b
  FROM w{i - 1}, gl{i}, gb{i}
)"""


def _logistic_oracle_sql(dim: int, n_steps: int, lr: float) -> str:
    """DuckDB twin of _logistic_regression_gd: the unrolled list-math
    CTE chain over the embeddings table, label binarized identically
    in the data CTE."""
    sql = f"""
WITH data AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x,
         CAST(CAST(label < 5 AS INT) AS DOUBLE) AS y
  FROM embeddings
),
w0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}), d -> 0.0) AS w, 0.0 AS b
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _logistic_oracle_step_sql(i, dim, lr)
    sql += f"""
, final AS (
  SELECT y,
         1.0 / (1.0 + exp(-(list_dot_product(x, w{n_steps}.w)
                            + w{n_steps}.b))) AS p,
         w{n_steps}.w AS w, w{n_steps}.b AS b
  FROM data, w{n_steps}
)
SELECT count(*) AS n,
       round(avg(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0
                      ELSE 0.0 END), 4) AS accuracy,
       round(avg(-(y * ln(least(greatest(p, 1e-12), 1.0 - 1e-12))
                   + (1.0 - y)
                     * ln(1.0 - least(greatest(p, 1e-12),
                                      1.0 - 1e-12)))), 6) AS logloss,
       round(sqrt(list_dot_product(any_value(w), any_value(w))), 6)
         AS w_norm,
       round(any_value(b), 6) AS bias
FROM final
"""
    return sql


def _pca_oracle_step_sql(i: int, dim: int) -> str:
    return f"""
s{i} AS (
  SELECT c, list_dot_product(c, v{i - 1}.v) AS s FROM cdata, v{i - 1}
),
uu{i} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM s{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
v{i} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v,
         sqrt(list_dot_product(u, u)) AS lam
  FROM uu{i}
)"""


def _pca_oracle_sql(dim: int, n_steps: int) -> str:
    """DuckDB twin of _pca_power_iteration (validated in
    tests/test_round8_staged_oracles.py); top_loading_dim is 0-based
    Spark-side, so the 1-based DuckDB dimension spine subtracts 1, and
    the argmax tie-breaks by SMALLEST dim on both engines."""
    sql = f"""
WITH data AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
mu AS (
  SELECT list(m ORDER BY d) AS mu FROM (
    SELECT u.d AS d, avg(x[u.d]) AS m
    FROM data, (SELECT unnest(range(1, {dim + 1})) AS d) u
    GROUP BY u.d
  )
),
cdata AS MATERIALIZED (
  SELECT list_transform(list_zip(x, mu.mu), z -> z[1] - z[2]) AS c
  FROM data, mu
),
v0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS v,
         0.0 AS lam
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _pca_oracle_step_sql(i, dim)
    sql += f"""
, tv AS (
  SELECT count(*) AS n,
         sum(list_dot_product(c, c)) / count(*) AS total_var
  FROM cdata
),
top AS (
  SELECT CAST(d AS INT) AS top_loading_dim FROM (
    SELECT u.d AS d, abs(v{n_steps}.v[u.d]) AS a
    FROM v{n_steps}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
)
SELECT tv.n AS n, round(v{n_steps}.lam, 6) AS top_eigenvalue,
       round(tv.total_var, 6) AS total_variance,
       round(v{n_steps}.lam / tv.total_var, 4) AS explained_share,
       top.top_loading_dim - 1 AS top_loading_dim
FROM tv, v{n_steps}, top
"""
    return sql


_READABILITY_ORACLE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS t,
         list_filter(regexp_split_to_array(text, '[.!?]+'),
                     s -> trim(s) <> '') AS sents
  FROM documents
), counts AS (
  SELECT doc_id,
         greatest(len(sents), 1) AS n_sentences,
         greatest(len(t), 1) AS n_words,
         greatest(list_sum(list_transform(t, w ->
           greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 1)
           AS n_syllables
  FROM toks
)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
             - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
         AS flesch,
       round(0.39 * (n_words / CAST(n_sentences AS DOUBLE))
             + 11.8 * (n_syllables / CAST(n_words AS DOUBLE))
             - 15.59, 4) AS fk_grade
FROM counts
"""


def _contamination_oracle_sql(sizes=(3, 5)) -> str:
    """DuckDB twin of _contamination_report (validated in
    tests/test_round8_staged_oracles.py): per n-gram size, the
    distinct-gram and affected-doc overlap between the eval slice and
    the train remainder.  The gram CTEs are MATERIALIZED — each is
    referenced five times."""
    blocks = []
    for n in sizes:
        blocks.append(f"""
SELECT {n} AS ngram_size,
  (SELECT count(DISTINCT g) FROM grams{n} WHERE is_eval) AS n_eval_ngrams,
  (SELECT count(*) FROM
     (SELECT DISTINCT g FROM grams{n} WHERE is_eval)
     WHERE g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    AS n_overlap,
  round((SELECT count(*) FROM
     (SELECT DISTINCT g FROM grams{n} WHERE is_eval)
     WHERE g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    / CAST((SELECT count(DISTINCT g) FROM grams{n} WHERE is_eval)
      AS DOUBLE), 6) AS overlap_share,
  (SELECT count(DISTINCT doc_id) FROM grams{n} WHERE is_eval)
    AS n_eval_docs,
  (SELECT count(DISTINCT doc_id) FROM grams{n}
    WHERE is_eval
      AND g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    AS n_docs_hit,
  round((SELECT count(DISTINCT doc_id) FROM grams{n}
    WHERE is_eval
      AND g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    / CAST((SELECT count(DISTINCT doc_id) FROM grams{n} WHERE is_eval)
      AS DOUBLE), 6) AS docs_hit_share""")
    gram_ctes = ",".join(
        f"""
grams{n} AS MATERIALIZED (
  SELECT DISTINCT doc_id, is_eval,
         array_to_string(t[i:i + {n - 1}], ' ') AS g
  FROM tk, unnest(range(1, greatest(len(t) - {n - 1}, 0) + 1)) AS s(i)
)"""
        for n in sizes
    )
    return (
        f"WITH tk AS MATERIALIZED (SELECT doc_id,"
        f" source = 'src1' AS is_eval, {_TOKS_SQL} AS t FROM documents),"
        + gram_ctes
        + " ".join(
            b if i == 0 else " UNION ALL " + b
            for i, b in enumerate(blocks)
        )
    )


def _dsir_feature_ctes_sql(n_buckets: int, a: float) -> str:
    """The shared DSIR chain (validated in
    tests/test_round8_staged_oracles.py): hashed-bigram features, the
    two bucket-count distributions, the dense smoothed log-ratio
    spine, and the per-raw-doc score."""
    return f"""
tk AS (
  SELECT doc_id, source = 'src1' AS is_target, {_TOKS_SQL} AS t
  FROM documents
),
fb AS MATERIALIZED (
  SELECT doc_id, is_target,
         CAST({_BASEHASH_SQL.format(
             x="array_to_string(t[i:i + 1], ' ')"
         )} % {n_buckets} AS INT) AS b
  FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS s(i)
),
tgt AS (SELECT b, count(*) AS ct FROM fb WHERE is_target GROUP BY b),
rawc AS (SELECT b, count(*) AS cr FROM fb WHERE NOT is_target GROUP BY b),
tot AS (
  SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt,
         (SELECT coalesce(sum(cr), 0) FROM rawc) AS nr
),
spine AS (SELECT CAST(unnest(range(0, {n_buckets})) AS INT) AS b),
ratios AS (
  SELECT spine.b AS b,
         ln((coalesce(ct, 0) + {a!r}) / (nt + {a!r} * {n_buckets}))
         - ln((coalesce(cr, 0) + {a!r}) / (nr + {a!r} * {n_buckets}))
           AS lr
  FROM spine LEFT JOIN tgt ON spine.b = tgt.b
             LEFT JOIN rawc ON spine.b = rawc.b, tot
),
scored AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_features,
         round(sum(lr), 4) AS dsir_logweight
  FROM fb JOIN ratios ON fb.b = ratios.b
  WHERE NOT is_target GROUP BY doc_id
)"""


def _dsir_oracle_sql(n_buckets: int, a: float) -> str:
    return (
        "WITH " + _dsir_feature_ctes_sql(n_buckets, a)
        + "\nSELECT doc_id, n_features, dsir_logweight FROM scored"
    )


def _importance_mixture_oracle_sql(
    n_buckets: int, a: float, n_per_stratum: int
) -> str:
    """DuckDB twin of _composite_importance_mixture: the DSIR chain,
    the 1e4-scaled clamped integer weight, and the per-source PPS
    systematic crossing test (same hash order and div arithmetic as
    the pps_stratified_sample oracle)."""
    return f"""
WITH {_dsir_feature_ctes_sql(n_buckets, a)},
h AS (
  SELECT d.source AS source, s.doc_id AS doc_id,
         greatest(CAST(round(s.dsir_logweight * 10000) AS BIGINT), 1)
           AS w,
         {_BASEHASH_SQL.format(x="CAST(s.doc_id AS VARCHAR)")} AS hk
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
cum AS (
  SELECT source, doc_id, w,
         sum(w) OVER (PARTITION BY source ORDER BY hk, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
),
tots AS (SELECT source, max(cumw) AS tw FROM cum GROUP BY source)
SELECT cum.source, doc_id, w AS weight_cents,
       CAST(cumw AS BIGINT) AS cum_weight_cents
FROM cum JOIN tots ON cum.source IS NOT DISTINCT FROM tots.source
WHERE cumw * {n_per_stratum} // tw > (cumw - w) * {n_per_stratum} // tw
"""


def _r9_oracles() -> dict[str, str]:
    """Oracles for the second round-8 registration wave (the five
    operators staged earlier this round plus the DSIR composite)."""
    return {
        "logistic_regression_gd": _logistic_oracle_sql(64, 3, 0.4),
        "pca_power_iteration": _pca_oracle_sql(64, 4),
        "readability_scores": _READABILITY_ORACLE_SQL,
        "contamination_report": _contamination_oracle_sql((3, 5)),
        "dsir_log_weights": _dsir_oracle_sql(4096, 1.0),
        "composite_importance_mixture": _importance_mixture_oracle_sql(
            4096, 1.0, 8
        ),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, third wave: BM25 retrieval, Kneser-Ney LM,
# energy distance, channel histograms, and the hashed-BoW classifier
# composite (staged + oracle-validated in tests/test_round9_staged*.py)
# ---------------------------------------------------------------------------

_BM25_QUERY = ("vector", "merge", "stream")


def _bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (text_analysis.bm25_topk): rank the
    documents corpus against a fixed 3-term query, top-50 by the
    4dp-rounded score (engine-deterministic cut).  The explode keeps
    only query-term hits; df and the corpus scalars broadcast."""
    return T.bm25_topk(
        _t(spark, sf_dir, "documents"), list(_BM25_QUERY), k=50
    )


def _kneser_ney_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring of every document
    (text_analysis.kneser_ney_logprob): absolute discounting with the
    continuation-probability backoff, all model tables derived from
    the corpus itself; the bigram table joins on the pair key, the
    unigram-sized context/continuation tables broadcast."""
    return T.kneser_ney_logprob(_t(spark, sf_dir, "documents"))


def _energy_distance(spark, sf_dir):
    """Two-sample energy distance between view and purchase order
    values (aggregates.energy_distance): the sorted-pairwise identity
    over the distinct-value histogram — integer-cents exact, no
    pairwise expansion."""
    ev = _t(spark, sf_dir, "events")
    return AG.energy_distance(
        ev,
        "event_type",
        F.round(F.col("value") * 100).cast("long"),
        "view",
        "purchase",
    )


def _image_channel_hist(spark, sf_dir):
    """Per-channel 4-bin pixel histograms over real 8x8 P6 assets
    synthesized from documents (multimodal.image_channel_hist):
    stdlib decode in Arrow mapInPandas, integer bin edges — exactly
    reproducible in SQL from the pixel formula."""
    from eggv_spark.operators.multimodal import (
        image_channel_hist,
        synthesize_ppm_images,
    )

    assets = synthesize_ppm_images(
        _t(spark, sf_dir, "documents"), width=8, height=8
    )
    return image_channel_hist(assets, n_bins=4)


def _composite_hashed_classifier(spark, sf_dir):
    """The fasttext-style quality-gate training loop as ONE plan:
    hash every document's bag of words into 16 normalized features
    (no vocabulary build, no shuffle) and fit a binary logistic
    classifier for the src1 slice by 2 full-batch GD steps
    (text_analysis.with_hashed_features -> ml.logistic_regression_gd)
    — featurize -> fit entirely where the data lives.  Scale shape:
    featurization rides the scan; each GD step is one corpus pass
    whose shuffle carries 16 dimension rows."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.with_hashed_features(docs, n_buckets=16).select(
        F.transform(
            "feature_vec",
            lambda v: v.cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
        ).alias("x"),
        (F.col("source") == "src1").cast("int").alias("label"),
    )
    return ML.logistic_regression_gd(
        feats, "x", "label", n_steps=2, lr=0.5, dim=16
    )


def _bm25_oracle_sql(query_terms, k: int, k1=1.2, b=0.75) -> str:
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
         list_filter({_TOKS_SQL}, t -> t IN ({terms})) AS qt
  FROM documents
),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks),
tf AS MATERIALIZED (
  SELECT doc_id, dl, t.t AS term, count(*) AS tf
  FROM toks, unnest(qt) AS t(t)
  GROUP BY doc_id, dl, t.t
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, count(*) AS n_terms_hit,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
         ), 4) AS bm25
  FROM tf JOIN dfreq USING (term), corpus
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


def _kn_oracle_sql(d=0.75) -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_id, u.p[1] AS prev, u.p[2] AS cur
  FROM toks,
       unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
  WHERE len(t) >= 2
),
big AS MATERIALIZED (
  SELECT prev, cur, count(*) AS n_big FROM pairs GROUP BY prev, cur
),
ctx AS (
  SELECT prev, sum(n_big) AS n_prev, count(*) AS n_types_after
  FROM big GROUP BY prev
),
cont AS (SELECT cur, count(*) AS n_types_before FROM big GROUP BY cur),
tot AS (SELECT count(*) AS n_bigram_types FROM big)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln(
         (n_big - {d}) / n_prev
         + {d} * n_types_after / n_prev
           * (n_types_before / CAST(n_bigram_types AS DOUBLE))
       )), 4) AS avg_kn_logprob
FROM pairs JOIN big USING (prev, cur)
     JOIN ctx USING (prev) JOIN cont USING (cur), tot
GROUP BY doc_id
"""


def _energy_oracle_sql(
    group_col: str, val_cents_sql: str, group_a: str, group_b: str,
    table: str = "events",
) -> str:
    return f"""
WITH s AS (
  SELECT CAST({val_cents_sql} AS BIGINT) AS v,
         CAST({group_col} = '{group_a}' AS BIGINT) AS is_a
  FROM {table} WHERE {group_col} IN ('{group_a}', '{group_b}')
),
per_v AS (SELECT v, sum(is_a) AS ca, count(*) - sum(is_a) AS cb
          FROM s GROUP BY v),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM per_v),
cum AS (
  SELECT v, ca, cb, na, nb,
         sum(ca) OVER w AS pa, sum(cb) OVER w AS pb,
         sum(ca + cb) OVER w AS pall
  FROM per_v, tot
  WINDOW w AS (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
folded AS (
  SELECT na, nb,
         sum(CAST(v AS HUGEINT) * ca * (2 * pa - ca - na)) AS ta,
         sum(CAST(v AS HUGEINT) * cb * (2 * pb - cb - nb)) AS tb,
         sum(CAST(v AS HUGEINT) * (ca + cb)
             * (2 * pall - (ca + cb) - (na + nb))) AS tall
  FROM cum GROUP BY na, nb
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(CAST(tall - ta - tb AS DOUBLE) / (na * nb), 6)
         AS mean_cross_cents,
       round(2.0 * CAST(ta AS DOUBLE) / (na * na), 6)
         AS mean_within_a_cents,
       round(2.0 * CAST(tb AS DOUBLE) / (nb * nb), 6)
         AS mean_within_b_cents,
       round(2.0 * CAST(tall - ta - tb AS DOUBLE) / (na * nb)
             - 2.0 * CAST(ta AS DOUBLE) / (na * na)
             - 2.0 * CAST(tb AS DOUBLE) / (nb * nb), 6)
         AS energy_distance_cents
FROM folded
"""


def _image_hist_oracle_sql(width: int, height: int, n_bins: int) -> str:
    """Formula-recomputed channel histogram for synthesize_ppm_images
    assets (byte i of doc d is (d*7 + i*13) % 256, channel = i % 3);
    the bin grid left-joins the counts so empty bins emit 0."""
    n_px = width * height
    bin_w = 256 // n_bins
    return f"""
WITH px AS (
  SELECT d.doc_id AS asset_id, ch.ch AS ch, p.p AS p,
         (d.doc_id * 7 + (p.p * 3 + ch.ch) * 13) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, 3)) AS ch) ch,
       (SELECT unnest(range(0, {n_px})) AS p) p
),
grid AS (
  SELECT d.doc_id AS asset_id, ch.ch AS ch, b.b AS b
  FROM documents d,
       (SELECT unnest(range(0, 3)) AS ch) ch,
       (SELECT unnest(range(0, {n_bins})) AS b) b
)
SELECT g.asset_id,
       CASE g.ch WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       CAST(g.b AS INT) AS bin,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_px
FROM grid g LEFT JOIN (
  SELECT asset_id, ch, v // {bin_w} AS b, count(*) AS n
  FROM px GROUP BY asset_id, ch, v // {bin_w}
) c ON g.asset_id = c.asset_id AND g.ch = c.ch AND g.b = c.b
"""


def _hashed_classifier_oracle_sql(dim: int, n_steps: int, lr: float) -> str:
    """The round-8 logistic CTE chain fed from a hashed-BoW feature
    CTE instead of the embeddings table (composite oracle)."""
    bucket = _BASEHASH_SQL.format(x="s")
    data_cte = f"""
WITH data AS MATERIALIZED (
  SELECT list_transform(generate_series(0, {dim - 1}), i ->
           len(list_filter(t, s -> {bucket} % {dim} = i))
           / CAST(greatest(len(t), 1) AS DOUBLE)) AS x,
         CAST(CAST(is_t AS INT) AS DOUBLE) AS y
  FROM (SELECT {_TOKS_SQL} AS t, source = 'src1' AS is_t
        FROM documents)
),
w0 AS MATERIALIZED"""
    base = _logistic_oracle_sql(dim, n_steps, lr)
    _head, tail = base.split("),\nw0 AS MATERIALIZED", 1)
    return data_cte + tail


def _r9b_oracles() -> dict[str, str]:
    """Oracles for the third round-8 registration wave."""
    return {
        "bm25_topk": _bm25_oracle_sql(_BM25_QUERY, 50),
        "kneser_ney_logprob": _kn_oracle_sql(),
        "energy_distance": _energy_oracle_sql(
            "event_type", "round(value * 100)", "view", "purchase"
        ),
        "image_channel_hist": _image_hist_oracle_sql(8, 8, 4),
        "composite_hashed_classifier": _hashed_classifier_oracle_sql(
            16, 2, 0.5
        ),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, fourth wave: Naive Bayes, Wasserstein-1D,
# token entropy, n-gram diversity, audio silence (staged +
# oracle-validated in tests/test_round9b_staged*.py)
# ---------------------------------------------------------------------------


def _naive_bayes_fit(spark, sf_dir):
    """Multinomial Naive Bayes source classifier fit + resubstitution
    readout in-plan (ml.naive_bayes_fit): per-class priors/recall plus
    the '__ALL__' accuracy row; dense doc x class scoring grid so
    floor-only classes stay in the argmax."""
    return ML.naive_bayes_fit(_t(spark, sf_dir, "documents"))


def _wasserstein_1d(spark, sf_dir):
    """1-D Wasserstein distance between view and purchase order
    values (aggregates.wasserstein_1d): integer-cents transport cost
    from one cumulative window over the distinct-value histogram."""
    ev = _t(spark, sf_dir, "events")
    return AG.wasserstein_1d(
        ev,
        "event_type",
        F.round(F.col("value") * 100).cast("long"),
        "view",
        "purchase",
    )


def _token_entropy(spark, sf_dir):
    """Per-document token-distribution entropy + Pielou evenness
    (text_analysis.token_entropy): the in-row repetitiveness signal,
    shuffle-free."""
    return T.token_entropy(_t(spark, sf_dir, "documents"))


def _ngram_diversity(spark, sf_dir):
    """Distinct-n diversity per source (text_analysis.ngram_diversity,
    sizes 1/2/3): the generation-diversity audit — distinct n-grams
    over total n-grams per corpus slice."""
    return T.ngram_diversity(
        _t(spark, sf_dir, "documents"), "source", sizes=(1, 2, 3)
    )


def _audio_silence_report(spark, sf_dir):
    """Silence audit over real 16-bit PCM WAVs synthesized from
    documents (multimodal.audio_silence_report): silent-sample count,
    ratio, and lead/trail trim points — exact integers reproducible
    from the synthesis formula."""
    from eggv_spark.operators.multimodal import (
        audio_silence_report,
        synthesize_wav_audio,
    )

    assets = synthesize_wav_audio(
        _t(spark, sf_dir, "documents"), n_samples=64
    )
    return audio_silence_report(assets, threshold=512)


def _naive_bayes_oracle_sql(label_col: str = "source") -> str:
    """Dense-grid NB oracle (validated in
    tests/test_round9b_staged_oracles.py): matched term mass joins
    class_term on the token, unmatched mass falls to the class floor,
    prediction by row_number over (6dp score DESC, label DESC) — the
    max-struct largest-label tie rule."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {label_col} AS y, unnest({_TOKS_SQL}) AS w
  FROM documents
),
doc_tf AS MATERIALIZED (
  SELECT doc_id, y, w, count(*) AS tf FROM toks GROUP BY doc_id, y, w
),
class_term AS MATERIALIZED (
  SELECT y AS c, w, sum(tf) AS ct FROM doc_tf GROUP BY y, w
),
vocab AS (SELECT count(DISTINCT w) AS v FROM class_term),
class_tot AS (SELECT c, sum(ct) AS tot FROM class_term GROUP BY c),
priors AS MATERIALIZED (
  SELECT {label_col} AS c, count(*) AS nc FROM documents GROUP BY c
),
ntot AS (SELECT sum(nc) AS n FROM priors),
classes AS MATERIALIZED (
  SELECT ct2.c AS c, ct2.tot AS tot, vocab.v AS v, p.nc AS nc,
         ln(1.0 / (ct2.tot + vocab.v)) AS floor_lp,
         ln(p.nc / CAST(ntot.n AS DOUBLE)) AS lprior
  FROM class_tot ct2 JOIN priors p ON ct2.c = p.c, vocab, ntot
),
doc_totals AS MATERIALIZED (
  SELECT doc_id, sum(tf) AS doc_tf FROM doc_tf GROUP BY doc_id
),
matched AS MATERIALIZED (
  SELECT d.doc_id AS doc_id, t.c AS c,
         sum(d.tf * ln((t.ct + 1.0) / (cl.tot + cl.v))) AS m_sum,
         sum(d.tf) AS m_tf
  FROM doc_tf d JOIN class_term t ON d.w = t.w
       JOIN classes cl ON t.c = cl.c
  GROUP BY d.doc_id, t.c
),
scored AS MATERIALIZED (
  SELECT dt.doc_id AS doc_id, cl.c AS c,
         round(cl.lprior + coalesce(m.m_sum, 0.0)
               + (dt.doc_tf - coalesce(m.m_tf, 0)) * cl.floor_lp,
               6) AS score
  FROM doc_totals dt CROSS JOIN classes cl
  LEFT JOIN matched m ON dt.doc_id = m.doc_id AND cl.c = m.c
),
pred AS MATERIALIZED (
  SELECT doc_id, c AS pred FROM (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, c DESC) AS rn
    FROM scored
  ) WHERE rn = 1
),
truth AS MATERIALIZED (
  SELECT d.{label_col} AS y, p.pred AS pred
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
),
per_class AS (
  SELECT y AS label, count(*) AS n_docs,
         round(count(*) / CAST(ntot.n AS DOUBLE), 4) AS prior,
         round(sum(CAST(pred = y AS INT)) / CAST(count(*) AS DOUBLE), 4)
           AS recall
  FROM truth, ntot GROUP BY y, ntot.n
)
SELECT label, CAST(n_docs AS BIGINT) AS n_docs, prior, recall
FROM per_class
UNION ALL
SELECT '__ALL__', CAST(count(*) AS BIGINT), 1.0,
       round(avg(CAST(pred = y AS INT)), 4)
FROM truth
"""


def _wasserstein_oracle_sql(
    group_col: str, val_cents_sql: str, group_a: str, group_b: str,
    table: str = "events",
) -> str:
    return f"""
WITH s AS (
  SELECT CAST({val_cents_sql} AS BIGINT) AS v,
         CAST({group_col} = '{group_a}' AS BIGINT) AS is_a
  FROM {table} WHERE {group_col} IN ('{group_a}', '{group_b}')
),
per_v AS (SELECT v, sum(is_a) AS ca, count(*) - sum(is_a) AS cb
          FROM s GROUP BY v),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM per_v),
steps AS (
  SELECT na, nb,
         sum(ca) OVER cw AS pa, sum(cb) OVER cw AS pb,
         lead(v) OVER (ORDER BY v) - v AS dv
  FROM per_v, tot
  WINDOW cw AS (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(CAST(sum(abs(CAST(pa AS HUGEINT) * nb
                          - CAST(pb AS HUGEINT) * na) * dv) AS DOUBLE)
             / (na * nb), 6) AS wasserstein_cents
FROM steps WHERE dv IS NOT NULL GROUP BY na, nb
"""


_TOKEN_ENTROPY_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t, list_distinct({_TOKS_SQL}) AS d
  FROM documents
),
scored AS (
  SELECT doc_id, len(t) AS n_tokens, len(d) AS n_distinct,
         -list_sum(list_transform(d, w ->
            (len(list_filter(t, x -> x = w)) / CAST(len(t) AS DOUBLE))
            * ln(len(list_filter(t, x -> x = w))
                 / CAST(len(t) AS DOUBLE)))) AS h
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(h, 4) AS entropy,
       CASE WHEN n_distinct = 1 THEN 0.0
            ELSE round(h / ln(n_distinct), 4) END AS evenness
FROM scored
"""


def _ngram_diversity_oracle_sql(by_col: str, sizes) -> str:
    blocks = []
    for n in sizes:
        blocks.append(f"""
SELECT {by_col}, {n} AS ngram_size,
       CAST(sum(c) AS BIGINT) AS total_ngrams,
       CAST(count(*) AS BIGINT) AS distinct_ngrams,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS diversity
FROM (
  SELECT {by_col}, g, count(*) AS c FROM (
    SELECT {by_col},
           array_to_string(t[i:i + {n - 1}], ' ') AS g
    FROM (SELECT {by_col}, {_TOKS_SQL} AS t FROM documents),
         unnest(range(1, greatest(len(t) - {n - 1}, 0) + 1)) AS s(i)
  ) GROUP BY {by_col}, g
) GROUP BY {by_col}""")
    return " UNION ALL ".join(blocks)


def _audio_silence_oracle_sql(n_samples: int, threshold: int) -> str:
    """Formula-recomputed silence report for synthesize_wav_audio
    assets (sample i of doc d is ((d*31 + i*17) % 4096) - 2048)."""
    return f"""
WITH samp AS (
  SELECT d.doc_id AS asset_id, i.i AS i,
         (d.doc_id * 31 + i.i * 17) % 4096 - 2048 AS v
  FROM documents d, (SELECT unnest(range(0, {n_samples})) AS i) i
),
flags AS (
  SELECT asset_id, i, CAST(abs(v) < {threshold} AS INT) AS silent
  FROM samp
)
SELECT asset_id, CAST({n_samples} AS BIGINT) AS n_samples,
       CAST(sum(silent) AS BIGINT) AS n_silent,
       floor(sum(silent) / CAST({n_samples} AS DOUBLE) * 10000 + 0.5)
         / 10000 AS silence_ratio,
       CAST(coalesce(min(CASE WHEN silent = 0 THEN i END),
                     {n_samples}) AS BIGINT) AS lead_silence,
       CAST(coalesce({n_samples} - 1
                     - max(CASE WHEN silent = 0 THEN i END),
                     {n_samples}) AS BIGINT) AS trail_silence
FROM flags GROUP BY asset_id
"""


def _r9c_oracles() -> dict[str, str]:
    """Oracles for the fourth round-8 registration wave."""
    return {
        "naive_bayes_fit": _naive_bayes_oracle_sql("source"),
        "wasserstein_1d": _wasserstein_oracle_sql(
            "event_type", "round(value * 100)", "view", "purchase"
        ),
        "token_entropy": _TOKEN_ENTROPY_ORACLE_SQL,
        "ngram_diversity": _ngram_diversity_oracle_sql(
            "source", (1, 2, 3)
        ),
        "audio_silence_report": _audio_silence_oracle_sql(64, 512),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, fifth wave: Lloyd k-means, isotonic
# calibration, daily-count ACF, image intensity entropy, embedding
# coherence + the coherence-gate composite (staged + oracle-validated
# in tests/test_round9c_staged*.py)
# ---------------------------------------------------------------------------

_COHERENCE_THR = 0.5


def _kmeans_lloyd(spark, sf_dir):
    """Multi-step Lloyd k-means over embeddings (ml.kmeans_lloyd,
    k=4, 3 assign/update rounds, dim=16): the iterative-feedback fit —
    DECIMAL(38,18)-exact centroid updates, 6dp-rounded argmin, first-k
    deterministic seed; per-cluster membership/inertia/norm readout."""
    return ML.kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"), k=4, n_steps=3, dim=16
    )


def _isotonic_calibration(spark, sf_dir):
    """PAV isotonic fit of return probability on the discount bin
    (ml.isotonic_calibration): minimax on exact integer prefix sums
    over the 11-bin aggregate — the monotone calibration curve."""
    li = _t(spark, sf_dir, "lineitem")
    return ML.isotonic_calibration(
        li,
        F.round(F.col("l_discount") * 100).cast("long"),
        (F.col("l_returnflag") == "R").cast("long"),
    )


def _acf_lags(spark, sf_dir):
    """Daily event-count autocorrelation at lags 1..7
    (events.acf_lags): zero-filled day spine, biased estimator — the
    time-domain seasonality readout next to evt_periodogram."""
    from eggv_spark.operators.events import acf_lags

    return acf_lags(_t(spark, sf_dir, "events"), "ts", n_lags=7)


def _image_entropy(spark, sf_dir):
    """Intensity-entropy audit over real P6 rasters synthesized from
    documents (multimodal.image_entropy_report): per-image Shannon
    entropy / distinct intensities / modal share, sorted-fold pinned,
    half-up 4dp."""
    from eggv_spark.operators.multimodal import (
        image_entropy_report,
        synthesize_ppm_images,
    )

    return image_entropy_report(
        synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )


def _embedding_coherence(spark, sf_dir):
    """Per-label coherence summary (similarity.embedding_coherence):
    each vector's cosine to its OWN label centroid —
    DECIMAL(38,18)-exact centroids so the n_low threshold count is
    reproducible across engines and partitionings."""
    return S.embedding_coherence(
        _t(spark, sf_dir, "embeddings"),
        dim=16,
        low_threshold=_COHERENCE_THR,
    )


def _composite_coherence_gate(spark, sf_dir):
    """Coherence-gate composite: score every vector against its label
    centroid (similarity.centroid_cosine), keep cosine >= 0.5, and
    report per-label kept/total/share plus the keepers' mean cosine —
    the mislabel-drop curation pass as ONE plan (centroid build +
    broadcast join + one grouped readout)."""
    thr = _COHERENCE_THR
    scored = S.centroid_cosine(_t(spark, sf_dir, "embeddings"), dim=16)
    return scored.groupBy(F.col("_lbl").alias("label")).agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("_cos") >= thr).cast("long")).alias("n_kept"),
        F.round(
            F.sum((F.col("_cos") >= thr).cast("long")) / F.count("*"), 4
        ).alias("kept_share"),
        F.round(
            F.avg(F.when(F.col("_cos") >= thr, F.col("_cos"))), 4
        ).alias("avg_cos_kept"),
    )


def _kmeans_lloyd_oracle_sql(k: int, n_steps: int, dim: int) -> str:
    """Unrolled Lloyd rounds as AS-MATERIALIZED CTE chains (the
    iterative-fit rule), mirroring both determinism pins: round(sqd,6)
    argmin ordered (sqd, cid), DECIMAL(38,18)-exact centroid sums.
    Validated in tests/test_round9c_staged_oracles.py."""
    dist = (
        "round(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i]))), 6)"
    ).format(d=dim)
    parts = [
        f"""
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    for s in range(n_steps):
        parts.append(f"""
d{s} AS MATERIALIZED (
  SELECT vec_id, v, cid, {dist} AS sqd FROM v CROSS JOIN c{s}
),
a{s} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sqd, cid) AS rk
    FROM d{s}) WHERE rk = 1
),
m{s} AS MATERIALIZED (
  SELECT cid, i,
         CAST(sum(CAST(v[i] AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
  FROM a{s}, generate_series(1, {dim}) t(i) GROUP BY cid, i
),
c{s + 1} AS MATERIALIZED (
  SELECT p.cid AS cid, coalesce(n.cv, p.cv) AS cv
  FROM c{s} p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS cv FROM m{s} GROUP BY cid
  ) n ON p.cid = n.cid
)""")
    final = f"""
df AS MATERIALIZED (
  SELECT vec_id, cid, {dist} AS sqd FROM v CROSS JOIN c{n_steps}
),
af AS MATERIALIZED (
  SELECT vec_id, cid, sqd FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sqd, cid) AS rk
    FROM df) WHERE rk = 1
),
mem AS (
  SELECT cid, count(*) AS n_points, round(sum(sqd), 2) AS inertia
  FROM af GROUP BY cid
)
SELECT CAST(c.cid AS INT) AS cluster_id,
       CAST(coalesce(mem.n_points, 0) AS BIGINT) AS n_points,
       coalesce(mem.inertia, 0.0) AS inertia,
       round(sqrt(list_sum(list_transform(c.cv, x -> x * x))), 4)
         AS centroid_norm
FROM c{n_steps} c LEFT JOIN mem ON c.cid = mem.cid
"""
    return "WITH " + ",".join(parts) + "," + final


def _isotonic_oracle_sql(bin_sql: str, label_sql: str, table: str) -> str:
    """Minimax PAV lattice on exact integer prefix sums: every range
    mean is one int/int double division — bit-identical cross-engine,
    so the min/max selection agrees exactly."""
    return f"""
WITH bins AS MATERIALIZED (
  SELECT CAST({bin_sql} AS BIGINT) AS b, count(*) AS n,
         sum(CAST({label_sql} AS BIGINT)) AS pos
  FROM {table} GROUP BY 1
),
pre AS MATERIALIZED (
  SELECT b, n, pos, sum(n) OVER w AS cn, sum(pos) OVER w AS cp
  FROM bins
  WINDOW w AS (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ranges AS MATERIALIZED (
  SELECT lo.b AS i, hi.b AS j,
         (hi.cp - lo.cp + lo.pos)
           / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS a
  FROM pre lo JOIN pre hi ON lo.b <= hi.b
),
iso AS (
  SELECT b, max(mn) AS iso FROM (
    SELECT p.b AS b, r.i AS i, min(r.a) AS mn
    FROM ranges r JOIN pre p ON r.i <= p.b AND p.b <= r.j
    GROUP BY p.b, r.i
  ) GROUP BY b
)
SELECT pre.b AS bin, pre.n AS n,
       round(pre.pos / CAST(pre.n AS DOUBLE), 6) AS pos_rate,
       round(iso.iso, 6) AS iso_rate
FROM pre JOIN iso ON pre.b = iso.b
"""


def _acf_oracle_sql(n_lags: int, table: str = "events") -> str:
    """Zero-filled day spine joined to itself with DATE + INTEGER
    arithmetic (DuckDB lead() cannot take a variable offset)."""
    return f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM {table} GROUP BY 1
),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
    AS day
  FROM span
),
series AS MATERIALIZED (
  SELECT spine.day AS day, coalesce(daily.c, 0) AS x
  FROM spine LEFT JOIN daily ON spine.day = daily.day
),
mu AS (
  SELECT sum(x) / CAST(count(*) AS DOUBLE) AS mu,
         CAST(sum(x * x) AS DOUBLE)
           - CAST(sum(x) AS DOUBLE) * sum(x) / count(*) AS den
  FROM series
),
lags AS (SELECT unnest(range(1, {n_lags} + 1)) AS l),
pairs AS MATERIALIZED (
  SELECT lg.l AS l, a.x AS x, b.x AS xl
  FROM series a JOIN lags lg ON TRUE
       JOIN series b ON b.day = a.day + CAST(lg.l AS INTEGER)
)
SELECT CAST(l AS INT) AS lag, count(*) AS n_pairs,
       CASE WHEN any_value(mu.den) = 0 THEN NULL
            ELSE round(sum((x - mu.mu) * (xl - mu.mu))
                       / any_value(mu.den), 6) END AS acf
FROM pairs, mu GROUP BY l
"""


def _image_entropy_oracle_sql(n_bytes: int) -> str:
    """Formula-recomputed entropy report for synthesize_ppm_images
    assets (pixel byte i of doc d is (d*7 + i*13) % 256); the fold
    runs over list(c ORDER BY v) — the same sorted sequential order
    as the Python decode loop — before the shared half-up 4dp."""
    return f"""
WITH px AS MATERIALIZED (
  SELECT d.doc_id AS asset_id, (d.doc_id * 7 + i.i * 13) % 256 AS v
  FROM documents d, (SELECT unnest(range(0, {n_bytes})) AS i) i
),
hist AS MATERIALIZED (
  SELECT asset_id, v, count(*) AS c FROM px GROUP BY asset_id, v
),
folded AS (
  SELECT asset_id, list(c ORDER BY v) AS h, sum(c) AS n,
         count(*) AS nd, max(c) AS mx
  FROM hist GROUP BY asset_id
)
SELECT asset_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(nd AS BIGINT) AS n_distinct,
       floor(-list_sum(list_transform(h, c ->
           (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))))
           * 10000 + 0.5) / 10000 AS entropy,
       floor(mx / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS max_share
FROM folded
"""


def _coherence_scored_cte(dim: int) -> str:
    """Shared scored-vectors CTE: DECIMAL(38,18)-exact label centroids
    + sequential-fold cosine — bit-identical doubles cross-engine."""
    return f"""
v AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dims AS MATERIALIZED (
  SELECT label, i,
         CAST(sum(CAST(v[i] AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
  FROM v, generate_series(1, {dim}) t(i) GROUP BY label, i
),
cent AS MATERIALIZED (
  SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
),
scored AS MATERIALIZED (
  SELECT v.vec_id AS vec_id, v.label AS label,
         list_sum(list_transform(generate_series(1, {dim}),
                  i -> v.v[i] * cent.c[i]))
         / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
            * sqrt(list_sum(list_transform(cent.c, x -> x * x)))) AS cos
  FROM v JOIN cent ON v.label = cent.label
)"""


def _coherence_oracle_sql(dim: int, thr: float) -> str:
    return (
        "WITH " + _coherence_scored_cte(dim) + f"""
SELECT label, count(*) AS n, round(avg(cos), 4) AS avg_cos,
       round(min(cos), 4) AS min_cos,
       CAST(sum(CAST(cos < {thr} AS BIGINT)) AS BIGINT) AS n_low
FROM scored GROUP BY label
"""
    )


def _coherence_gate_oracle_sql(dim: int, thr: float) -> str:
    return (
        "WITH " + _coherence_scored_cte(dim) + f"""
SELECT label, count(*) AS n_total,
       CAST(sum(CAST(cos >= {thr} AS BIGINT)) AS BIGINT) AS n_kept,
       round(sum(CAST(cos >= {thr} AS BIGINT))
             / CAST(count(*) AS DOUBLE), 4) AS kept_share,
       round(avg(CASE WHEN cos >= {thr} THEN cos END), 4)
         AS avg_cos_kept
FROM scored GROUP BY label
"""
    )


def _r9d_oracles() -> dict[str, str]:
    """Oracles for the fifth round-8 registration wave."""
    return {
        "kmeans_lloyd": _kmeans_lloyd_oracle_sql(k=4, n_steps=3, dim=16),
        "isotonic_calibration": _isotonic_oracle_sql(
            "round(l_discount * 100)", "l_returnflag = 'R'", "lineitem"
        ),
        "acf_lags": _acf_oracle_sql(7),
        "image_entropy": _image_entropy_oracle_sql(48),
        "embedding_coherence": _coherence_oracle_sql(16, _COHERENCE_THR),
        "composite_coherence_gate": _coherence_gate_oracle_sql(
            16, _COHERENCE_THR
        ),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, sixth wave: decision stump, integer-exact
# HITS, MMR diversified retrieval, RAKE keywords (staged +
# oracle-validated in tests/test_round9d_staged*.py)
# ---------------------------------------------------------------------------

_STUMP_THRESHOLDS = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3)


def _decision_stump(spark, sf_dir):
    """Best single-split weak learner over embedding dims
    (ml.decision_stump_fit): fixed data-independent threshold grid,
    exact integer split errors, min-struct argmin over
    (n_errors, dim, threshold_index); labels binarized in-plan."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") >= 5).cast("long").alias("label")
    )
    return ML.decision_stump_fit(
        emb, dim=16, thresholds=_STUMP_THRESHOLDS
    )


def _graph_hits(spark, sf_dir):
    """HITS hubs/authorities over the nation trade graph
    (graph.hits_scores): two integer-exact DECIMAL(38,0) rounds —
    no per-round float normalization — with ONE max-normalization at
    the end; the bipartite-influence companion to graph_pagerank."""
    return G.hits_scores(_trade_edges(spark, sf_dir), n_rounds=2)


def _mmr_diversify(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified top-5 for query
    vector 0 (similarity.mmr_diversify): one corpus pass scores
    relevance, TakeOrdered cuts the 20-candidate pool, and the greedy
    loop runs on the bounded pool with 6dp-rounded scores — the
    post-ANN de-redundancy step of a RAG retrieval stack."""
    return S.mmr_diversify(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, dim=16, n_candidates=20, k=5, lam=0.7,
    )


def _rake_keywords(spark, sf_dir):
    """RAKE keyword extraction over the documents corpus
    (text_analysis.rake_keywords, top 15): stopword-separator phrase
    runs, degree/frequency word scores, TakeOrdered phrase ranking
    with the 4dp + phrase tiebreak."""
    return T.rake_keywords(_t(spark, sf_dir, "documents"), top_k=15)


def _stump_oracle_sql(dim: int, thresholds: tuple) -> str:
    """Grid-stump replica: thresholds enter as CAST(... AS DOUBLE)
    literals (a bare -0.3 is DECIMAL(2,1) in DuckDB), lpos/lneg avoid
    the ln() name clash.  Validated in
    tests/test_round9d_staged_oracles.py."""
    vals = ", ".join(
        f"({ti}, CAST({t!r} AS DOUBLE))" for ti, t in enumerate(thresholds)
    )
    return f"""
WITH vv AS MATERIALIZED (
  SELECT CAST(label >= 5 AS BIGINT) AS y,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
pts AS MATERIALIZED (
  SELECT y, i AS d, v[i] AS x FROM vv, generate_series(1, {dim}) t(i)
),
thr(ti, t) AS (VALUES {vals}),
cand AS MATERIALIZED (
  SELECT d, ti, t, count(*) AS n,
         sum(y * CAST(x <= t AS BIGINT)) AS lpos,
         sum((1 - y) * CAST(x <= t AS BIGINT)) AS lneg,
         sum(y) AS pos
  FROM pts CROSS JOIN thr GROUP BY d, ti, t
),
scored AS (
  SELECT d, ti, t, n,
         least(lneg + (pos - lpos), lpos + (n - pos - lneg)) AS err,
         CASE WHEN lneg + (pos - lpos) <= lpos + (n - pos - lneg)
              THEN 'left_pos' ELSE 'right_pos' END AS pol
  FROM cand
)
SELECT CAST(d AS INT) AS dim, t AS threshold, pol AS polarity,
       CAST(n AS BIGINT) AS n, CAST(err AS BIGINT) AS n_errors,
       round(err / CAST(n AS DOUBLE), 6) AS error_rate
FROM scored ORDER BY err, d, ti LIMIT 1
"""


_TRADE_EDGES_SQL_CTE = """
e AS MATERIALIZED (
  SELECT c.c_nationkey AS s, su.s_nationkey AS d,
         CAST(count(*) AS HUGEINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier su ON l.l_suppkey = su.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT s AS v FROM e UNION ALL SELECT d AS v FROM e
  )
)"""


def _hits_oracle_sql(n_rounds: int) -> str:
    """Unrolled integer HITS: HUGEINT (exact 128-bit) mirrors Spark's
    DECIMAL(38,0) under the (Σw)^(2·rounds) < 1e38 bound, one final
    max-normalization."""
    parts = [_TRADE_EDGES_SQL_CTE + """,
h0 AS (SELECT v, CAST(1 AS HUGEINT) AS h FROM nodes)"""]
    for r in range(n_rounds):
        parts.append(f"""
a{r + 1} AS MATERIALIZED (
  SELECT n.v AS v, coalesce(x.a, 0) AS a FROM nodes n LEFT JOIN (
    SELECT e.d AS v, sum(e.w * h{r}.h) AS a
    FROM e JOIN h{r} ON e.s = h{r}.v GROUP BY e.d
  ) x ON n.v = x.v
),
h{r + 1} AS MATERIALIZED (
  SELECT n.v AS v, coalesce(x.h, 0) AS h FROM nodes n LEFT JOIN (
    SELECT e.s AS v, sum(e.w * a{r + 1}.a) AS h
    FROM e JOIN a{r + 1} ON e.d = a{r + 1}.v GROUP BY e.s
  ) x ON n.v = x.v
)""")
    last = n_rounds
    final = f"""
SELECT CAST(a{last}.v AS INT) AS node,
       round(CAST(a{last}.a AS DOUBLE)
             / CAST((SELECT max(a) FROM a{last}) AS DOUBLE), 6)
         AS authority,
       round(CAST(h{last}.h AS DOUBLE)
             / CAST((SELECT max(h) FROM h{last}) AS DOUBLE), 6) AS hub
FROM a{last} JOIN h{last} ON a{last}.v = h{last}.v
"""
    return "WITH " + ",".join(parts) + final


_COS_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}),"
    " i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _mmr_oracle_sql(
    query_id: int, dim: int, n_candidates: int, k: int, lam: float
) -> str:
    """Unrolled greedy MMR.  The redundancy multiplier interpolates
    as repr(1.0 - lam): 1.0 - 0.7 is 0.30000000000000004 in binary
    and writing 0.3 would diverge at the 6dp rounding boundary."""
    lam_r = repr(float(lam))
    pen_r = repr(1.0 - lam)
    parts = [f"""
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),
cand AS MATERIALIZED (
  SELECT vec_id, rel, v FROM (
    SELECT vec_id, v,
           round({_COS_SQL.format(dim=dim, a='v', b='qv')}, 6) AS rel
    FROM v, q WHERE vec_id <> {query_id}
  ) ORDER BY rel DESC, vec_id LIMIT {n_candidates}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round({_COS_SQL.format(dim=dim, a='a.v', b='b.v')}, 6) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT 1 AS "rank", vec_id AS id, rel AS relevance, rel AS mmr_score
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
),
sel1 AS (SELECT id FROM s1)"""]
    for step in range(2, k + 1):
        parts.append(f"""
p{step} AS MATERIALIZED (
  SELECT c.vec_id AS id, c.rel AS rel,
         round({lam_r} * c.rel - {pen_r} * (
           SELECT max(p.sim) FROM pairs p
           WHERE p.ia = c.vec_id
             AND p.ib IN (SELECT id FROM sel{step - 1})
         ), 6) AS score
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT id FROM sel{step - 1})
),
s{step} AS MATERIALIZED (
  SELECT {step} AS "rank", id, rel AS relevance, score AS mmr_score
  FROM p{step} ORDER BY score DESC, id LIMIT 1
),
sel{step} AS (
  SELECT id FROM sel{step - 1} UNION ALL SELECT id FROM s{step}
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{s}" for s in range(1, k + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + union


def _rake_oracle_sql(top_k: int, stopwords: tuple) -> str:
    """Separator-encoding RAKE replica: stopword -> '|' -> split ->
    trim -> drop empties round-trips identically through Spark
    split(regex) and DuckDB string_split."""
    stop_list = ", ".join(f"'{w}'" for w in stopwords)
    return f"""
WITH phr AS MATERIALIZED (
  SELECT trim(p) AS phrase FROM (
    SELECT unnest(string_split(array_to_string(
      list_transform({_TOKS_SQL},
        t -> CASE WHEN t IN ({stop_list}) THEN '|' ELSE t END),
      ' '), '|')) AS p
    FROM documents
  ) WHERE trim(p) <> ''
),
pw AS MATERIALIZED (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w,
         len(string_split(phrase, ' ')) AS plen
  FROM phr
),
word_stats AS MATERIALIZED (
  SELECT w, sum(plen) / CAST(count(*) AS DOUBLE) AS score
  FROM pw GROUP BY w
),
phrase_scores AS MATERIALIZED (
  SELECT pw.phrase AS phrase, sum(ws.score) AS raw
  FROM pw JOIN word_stats ws ON pw.w = ws.w
  GROUP BY pw.phrase
),
counts AS (
  SELECT phrase, count(*) AS n_occurrences FROM phr GROUP BY phrase
)
SELECT ps.phrase AS phrase,
       CAST(c.n_occurrences AS BIGINT) AS n_occurrences,
       round(ps.raw / c.n_occurrences, 4) AS rake_score
FROM phrase_scores ps JOIN counts c ON ps.phrase = c.phrase
ORDER BY rake_score DESC, phrase LIMIT {top_k}
"""


def _r9e_oracles() -> dict[str, str]:
    """Oracles for the sixth round-8 registration wave."""
    from eggv_spark.operators.text_analysis import RAKE_STOPWORDS

    return {
        "decision_stump": _stump_oracle_sql(16, _STUMP_THRESHOLDS),
        "graph_hits": _hits_oracle_sql(2),
        "mmr_diversify": _mmr_oracle_sql(0, 16, 20, 5, 0.7),
        "rake_keywords": _rake_oracle_sql(15, RAKE_STOPWORDS),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, seventh wave: JL sign-projection distortion
# audit + the RAG context-assembly composite (staged +
# oracle-validated in tests/test_round9e_staged*.py)
# ---------------------------------------------------------------------------

_RAG_BUDGET_TOKENS = 180


def _sim_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss compression QA
    (similarity.random_projection_distortion): project 16-dim
    embeddings to 8 dims through the deterministic md5 ±1/√8 matrix
    and report pairwise-distance distortion over consecutive-id
    probe pairs — the measure-before-you-compress audit."""
    return S.random_projection_distortion(
        _t(spark, sf_dir, "embeddings"), in_dim=16, out_dim=8
    )


def _composite_rag_pipeline(spark, sf_dir):
    """RAG context assembly as ONE plan: MMR-diversified top-5 for
    query vector 0 (similarity.mmr_diversify) -> join the documents
    by id (5-row broadcast against the pruned doc scan) -> greedy
    token-budget fill in selection order (window cumsum over 5 rows,
    budget 180) — the retrieve->diversify->pack shape a RAG serving
    stack runs per query."""
    picks = S.mmr_diversify(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, dim=16, n_candidates=20, k=5, lam=0.7,
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(T.tokens_col("text")).cast("long").alias("n_tokens"),
    )
    joined = F.broadcast(picks).join(
        docs, picks["id"] == docs["doc_id"]
    )
    w = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        joined.select(
            "rank", "doc_id", "relevance", "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _RAG_BUDGET_TOKENS)
    )


def _random_projection_oracle_sql(in_dim: int, out_dim: int) -> str:
    """Matrix-literal JL replica: the ±1 rows and the 1/√k scale
    interpolate as repr() literals (bit-identical parses); each fold
    in generate_series order matches the Spark sequential fold."""
    from eggv_spark.operators.similarity import jl_sign

    scale = repr(1.0 / (out_dim ** 0.5))
    rows = ", ".join(
        "["
        + ", ".join(repr(jl_sign(j, d)) for d in range(in_dim))
        + "]"
        for j in range(out_dim)
    )
    return f"""
WITH m(r) AS (SELECT [{rows}]),
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{in_dim}], x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
proj AS MATERIALIZED (
  SELECT vec_id, x,
         list_transform(m.r, row ->
           list_sum(list_transform(generate_series(1, {in_dim}),
             i -> row[i] * x[i])) * {scale}) AS y
  FROM v, m
),
pairs AS MATERIALIZED (
  SELECT sqrt(list_sum(list_transform(generate_series(1, {in_dim}),
           i -> (a.x[i] - b.x[i]) * (a.x[i] - b.x[i])))) AS dorig,
         sqrt(list_sum(list_transform(generate_series(1, {out_dim}),
           i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])))) AS dproj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
)
SELECT count(*) AS n_pairs,
       round(avg(dproj / dorig), 4) AS avg_ratio,
       round(min(dproj / dorig), 4) AS min_ratio,
       round(max(dproj / dorig), 4) AS max_ratio,
       round(avg(abs(dproj / dorig - 1.0)), 4) AS avg_abs_distortion
FROM pairs WHERE dorig > 0
"""


def _rag_pipeline_oracle_sql(budget: int) -> str:
    """MMR picks (the validated _mmr_oracle_sql as a derived table)
    joined to documents, greedy budget fill by selection order."""
    mmr = _mmr_oracle_sql(0, 16, 20, 5, 0.7)
    return f"""
SELECT p."rank" AS "rank", d.doc_id AS doc_id,
       p.relevance AS relevance,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(sum(len({_TOKS_SQL}))
            OVER (ORDER BY p."rank") AS BIGINT) AS cum_tokens
FROM ({mmr}) p JOIN documents d ON p.id = d.doc_id
QUALIFY cum_tokens <= {budget}
"""


def _r9f_oracles() -> dict[str, str]:
    """Oracles for the seventh round-8 registration wave."""
    return {
        "sim_random_projection": _random_projection_oracle_sql(16, 8),
        "composite_rag_pipeline": _rag_pipeline_oracle_sql(
            _RAG_BUDGET_TOKENS
        ),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, eighth wave: difference-in-differences + the
# IVF-kNN classification eval composite (staged + oracle-validated in
# tests/test_round9g_staged.py)
# ---------------------------------------------------------------------------


def _did_estimator(spark, sf_dir):
    """Difference-in-differences readout (events.did_estimator):
    treated = md5 50/50 user split (the portable assignment every
    experiment query shares), post = day-of-month > 15, outcome =
    per-(unit, period) summed purchase value.  One unit-grain
    aggregation, one 1-row conditional-cell aggregate."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import did_estimator

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("unit"),
        (base_hash(F.col("user_id").cast("string")) % 2 == 0)
        .alias("is_treat"),
        (F.dayofmonth("ts") > 15).alias("is_post"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(0.0).alias("y"),
    )
    return did_estimator(ev, "unit", "is_treat", "is_post", "y")


def _composite_knn_eval(spark, sf_dir):
    """k-NN classification eval on the ANN index as ONE plan: IVF
    top-5 neighbors for every 50th vector (the sim_ivf_topk probe),
    neighbor labels joined (broadcast), majority vote with the
    smallest-label tie rule, per-label accuracy + the '__ALL__' row —
    "are the embedding labels learnable from neighborhood structure",
    the eval a curation pass runs before trusting label-conditioned
    sampling."""
    emb = _t(spark, sf_dir, "embeddings")
    nn = S.ivf_topk(
        emb, emb.filter("vec_id % 50 = 0"), k=5, n_probe=10
    )
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("_nl"),
                )
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "_nl")
        .agg(F.count("*").alias("_c"))
    )
    pred = votes.groupBy("query_id").agg(
        (
            -F.max(F.struct(F.col("_c"), (-F.col("_nl")).alias("_neg")))[
                "_neg"
            ]
        ).alias("_pred")
    )
    truth = pred.join(
        F.broadcast(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("_y"),
            )
        ),
        "query_id",
    )
    per_label = (
        truth.groupBy(F.col("_y").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum((F.col("_pred") == F.col("_y")).cast("long"))
            .alias("n_correct"),
        )
        .select(
            "label", "n_queries", "n_correct",
            F.round(F.col("n_correct") / F.col("n_queries"), 4)
            .alias("accuracy"),
        )
    )
    overall = truth.agg(
        F.lit(-1).cast(per_label.schema["label"].dataType)
        .alias("label"),
        F.count("*").alias("n_queries"),
        F.sum((F.col("_pred") == F.col("_y")).cast("long"))
        .alias("n_correct"),
        F.round(
            F.avg((F.col("_pred") == F.col("_y")).cast("double")), 4
        ).alias("accuracy"),
    )
    return per_label.unionByName(overall)


def _did_oracle_sql() -> str:
    """Cell moments replica: same md5 split, same day>15 period, one
    unit-grain aggregate then conditional cell sums."""
    return """
WITH pu AS MATERIALIZED (
  SELECT user_id AS u,
         (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 2) = 0 AS t,
         day(ts) > 15 AS p,
         sum(CASE WHEN event_type = 'purchase' THEN value
                  ELSE 0.0 END) AS y
  FROM events GROUP BY 1, 2, 3
),
cells AS (
  SELECT
    sum(CAST(t AND p AS BIGINT)) AS n_tp,
    sum(CASE WHEN t AND p THEN y ELSE 0.0 END) AS s_tp,
    sum(CASE WHEN t AND p THEN y * y ELSE 0.0 END) AS ss_tp,
    sum(CAST(t AND NOT p AS BIGINT)) AS n_tq,
    sum(CASE WHEN t AND NOT p THEN y ELSE 0.0 END) AS s_tq,
    sum(CASE WHEN t AND NOT p THEN y * y ELSE 0.0 END) AS ss_tq,
    sum(CAST(NOT t AND p AS BIGINT)) AS n_cp,
    sum(CASE WHEN NOT t AND p THEN y ELSE 0.0 END) AS s_cp,
    sum(CASE WHEN NOT t AND p THEN y * y ELSE 0.0 END) AS ss_cp,
    sum(CAST(NOT t AND NOT p AS BIGINT)) AS n_cq,
    sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0.0 END) AS s_cq,
    sum(CASE WHEN NOT t AND NOT p THEN y * y ELSE 0.0 END) AS ss_cq
  FROM pu
)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post,
       round(s_tp / n_tp, 6) AS mean_treat_post,
       CAST(n_tq AS BIGINT) AS n_treat_pre,
       round(s_tq / n_tq, 6) AS mean_treat_pre,
       CAST(n_cp AS BIGINT) AS n_ctrl_post,
       round(s_cp / n_cp, 6) AS mean_ctrl_post,
       CAST(n_cq AS BIGINT) AS n_ctrl_pre,
       round(s_cq / n_cq, 6) AS mean_ctrl_pre,
       round((s_tp / n_tp - s_tq / n_tq)
             - (s_cp / n_cp - s_cq / n_cq), 6) AS did,
       round(sqrt(
         (ss_tp - s_tp * s_tp / n_tp) / (n_tp - 1) / n_tp
         + (ss_tq - s_tq * s_tq / n_tq) / (n_tq - 1) / n_tq
         + (ss_cp - s_cp * s_cp / n_cp) / (n_cp - 1) / n_cp
         + (ss_cq - s_cq * s_cq / n_cq) / (n_cq - 1) / n_cq), 6)
         AS se,
       round(((s_tp / n_tp - s_tq / n_tq)
              - (s_cp / n_cp - s_cq / n_cq))
             / sqrt(
         (ss_tp - s_tp * s_tp / n_tp) / (n_tp - 1) / n_tp
         + (ss_tq - s_tq * s_tq / n_tq) / (n_tq - 1) / n_tq
         + (ss_cp - s_cp * s_cp / n_cp) / (n_cp - 1) / n_cp
         + (ss_cq - s_cq * s_cq / n_cq) / (n_cq - 1) / n_cq), 4)
         AS t_stat
FROM cells
"""


def _knn_eval_oracle_sql() -> str:
    """The validated IVF oracle as a derived table, then neighbor-label
    majority vote (row_number over count DESC, label ASC — the
    smallest-label tie rule) and per-label accuracy."""
    return f"""
WITH ivf AS ({_ivf_topk_oracle()}),
votes AS MATERIALIZED (
  SELECT i.query_id AS query_id, e.label AS nl, count(*) AS c
  FROM ivf i JOIN embeddings e ON i.neighbor_id = e.vec_id
  GROUP BY 1, 2
),
pred AS MATERIALIZED (
  SELECT query_id, nl AS pred FROM (
    SELECT query_id, nl,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, nl ASC) AS rn
    FROM votes
  ) WHERE rn = 1
),
truth AS MATERIALIZED (
  SELECT e.label AS y, p.pred AS pred
  FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
)
SELECT CAST(y AS INT) AS label, count(*) AS n_queries,
       CAST(sum(CAST(pred = y AS INT)) AS BIGINT) AS n_correct,
       round(sum(CAST(pred = y AS INT))
             / CAST(count(*) AS DOUBLE), 4) AS accuracy
FROM truth GROUP BY y
UNION ALL
SELECT -1, count(*),
       CAST(sum(CAST(pred = y AS INT)) AS BIGINT),
       round(avg(CAST(pred = y AS INT)), 4)
FROM truth
"""


def _r9g_oracles() -> dict[str, str]:
    """Oracles for the eighth round-8 registration wave."""
    return {
        "did_estimator": _did_oracle_sql(),
        "composite_knn_eval": _knn_eval_oracle_sql(),
    }


# ---------------------------------------------------------------------------
# round-8 registrations, ninth wave: top-2 PCA by deflation (staged +
# oracle-validated in tests/test_round9h_staged.py)
# ---------------------------------------------------------------------------


def _pca_top2_deflation(spark, sf_dir):
    """Spectral-gap probe (ml.pca_top2_deflation): top-2 eigenpairs by
    power iteration + deflation over the full 64-dim embeddings —
    λ₂/λ₁ is the rank-collapse signal a single-component PCA can't
    see; includes the v₁ᵀv₂ orthogonality self-audit."""
    return ML.pca_top2_deflation(
        _t(spark, sf_dir, "embeddings"), n_steps=4, dim=64
    )


def _pca2_oracle_sql(n_steps: int, dim: int) -> str:
    parts = [f"""
data AS MATERIALIZED (
  SELECT list_transform(embedding[1:{dim}],
                        x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
mu AS (
  SELECT list(m ORDER BY d) AS mu FROM (
    SELECT u.d AS d, avg(x[u.d]) AS m
    FROM data, (SELECT unnest(range(1, {dim + 1})) AS d) u
    GROUP BY u.d
  )
),
cdata AS MATERIALIZED (
  SELECT list_transform(list_zip(x, mu.mu), z -> z[1] - z[2]) AS c
  FROM data, mu
),
v0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS v, 0.0 AS lam
)"""]
    for i in range(1, n_steps + 1):
        parts.append(f"""
s{i} AS (
  SELECT c, list_dot_product(c, v{i - 1}.v) AS s FROM cdata, v{i - 1}
),
uu{i} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM s{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
v{i} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v,
         sqrt(list_dot_product(u, u)) AS lam
  FROM uu{i}
)""")
    parts.append(f"""
w0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS w, 0.0 AS lam2
)""")
    vN = f"v{n_steps}"
    for j in range(1, n_steps + 1):
        parts.append(f"""
t{j} AS (
  SELECT c, list_dot_product(c, w{j - 1}.w) AS s FROM cdata, w{j - 1}
),
cw{j} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM t{j}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
wd{j} AS (
  SELECT list_transform(list_zip(cw{j}.u, {vN}.v),
           z -> z[1] - {vN}.lam
                * list_dot_product({vN}.v, w{j - 1}.w) * z[2]) AS u
  FROM cw{j}, {vN}, w{j - 1}
),
w{j} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS w,
         sqrt(list_dot_product(u, u)) AS lam2
  FROM wd{j}
)""")
    wN = f"w{n_steps}"
    parts.append(f"""
nn AS (SELECT count(*) AS n FROM cdata),
td1 AS (
  SELECT CAST(d AS INT) - 1 AS top_dim_1 FROM (
    SELECT u.d AS d, abs({vN}.v[u.d]) AS a
    FROM {vN}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
),
td2 AS (
  SELECT CAST(d AS INT) - 1 AS top_dim_2 FROM (
    SELECT u.d AS d, abs({wN}.w[u.d]) AS a
    FROM {wN}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
)
SELECT nn.n AS n, round({vN}.lam, 6) AS eigenvalue_1,
       round({wN}.lam2, 6) AS eigenvalue_2,
       round({wN}.lam2 / {vN}.lam, 4) AS spectral_ratio,
       round(list_dot_product({vN}.v, {wN}.w), 4) AS orthogonality,
       td1.top_dim_1 AS top_dim_1, td2.top_dim_2 AS top_dim_2
FROM nn, {vN}, {wN}, td1, td2""")
    return "WITH " + ",".join(parts)


def _r9h_oracles() -> dict[str, str]:
    """Oracle for the ninth round-8 registration wave."""
    return {"pca_top2_deflation": _pca2_oracle_sql(4, 64)}


# ---------------------------------------------------------------------------
# round-8 registrations, tenth wave: rank-sum test, LOO target
# encoding, propensity matching, Monroe log-odds, ColBERT-style
# MaxSim re-rank (staged + oracle-validated in
# tests/test_round9i_staged.py)
# ---------------------------------------------------------------------------


def _agg_mann_whitney(spark, sf_dir):
    """Two-sample Mann–Whitney rank-sum readout
    (aggregates.mann_whitney_u): arms = the portable md5 user split
    every experiment query shares (arm A = hash%2 == 0, encoded as
    group 0), metric = event value.  One global-rank window + one
    tie aggregate."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events").select(
        (base_hash(F.col("user_id").cast("string")) % 2).alias("arm"),
        "value",
    )
    return AG.mann_whitney_u(ev, "arm", "value")


def _fe_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of order priority against order
    value (ml.target_encode_loo): the row-grain frame never
    shuffles — category stats broadcast back.  Sums run in exact
    DECIMAL cents upstream of the division (the wasserstein_cents
    discipline), so 6dp encodings are engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    return ML.target_encode_loo(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        id_cols=("o_orderkey",),
        smoothing=20.0,
        sum_decimals=2,
    )


def _psm_att(spark, sf_dir):
    """Propensity-matched ATT over unit-grain event aggregates
    (ml.psm_att): units = users, treatment = the md5 split,
    covariates = activity volume (n_events, Σvalue), outcome =
    purchase spend.  The matching kernel is the sorted-merge 1-NN
    asof shape — no treated × control product."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.ml import psm_att

    users = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("sum_value"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("value"),
                    )
                ),
                F.lit(0.0),
            ).alias("spend"),
        )
        .select(
            "user_id",
            (base_hash(F.col("user_id").cast("string")) % 2 == 0)
            .alias("is_treat"),
            "spend", "n_events", "sum_value",
        )
    )
    return psm_att(
        users, "user_id", "is_treat", "spend",
        ["n_events", "sum_value"], caliper=0.05,
    )


def _txt_log_odds(spark, sf_dir):
    """Monroe weighted log-odds with informative Dirichlet prior
    (text_analysis.log_odds_ratio): which tokens distinguish English
    documents from the rest — top-25 each side by z, rank cutoffs."""
    return T.log_odds_ratio(
        _t(spark, sf_dir, "documents"),
        group_col="lang", group_a="en",
        alpha0=500.0, top_n=25,
    )


def _sim_maxsim_rerank(spark, sf_dir):
    """Two-stage late-interaction retrieval
    (similarity.maxsim_rerank): SimHash hamming prunes to 20
    candidates per query doc, token-level MaxSim re-ranks to top-3.
    Every number is integer-exact (±1 md5-parity token vectors)."""
    return S.maxsim_rerank(
        _t(spark, sf_dir, "documents"),
        every_n=40, n_candidates=20, k=3, rep_tokens=8, dim=16,
    )


_MANN_WHITNEY_SQL = """
WITH s AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS is_a,
         value AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), r AS (
  SELECT is_a,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS rk
  FROM s
), t AS (
  SELECT sum(tc * tc * tc - tc) AS tie3
  FROM (SELECT count(*) AS tc FROM s GROUP BY v)
), g AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nb,
         sum(CASE WHEN is_a = 1 THEN rk END) AS ra
  FROM r
)
SELECT na AS n_a, nb AS n_b,
       round(ra - na * (na + 1) / 2.0, 1) AS u_a,
       round(CAST(na AS DOUBLE) * nb - (ra - na * (na + 1) / 2.0), 1)
         AS u_b,
       round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0
                    * ((na + nb + 1)
                       - tie3 / (CAST(na + nb AS DOUBLE)
                                 * (na + nb - 1)))), 4) AS z_stat
FROM g, t"""


_TARGET_ENCODING_SQL = """
WITH pc AS (
  SELECT o_orderpriority AS cat, count(o_totalprice) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS s
  FROM orders GROUP BY 1
), pr AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
           / count(o_totalprice) AS prior
  FROM orders
)
SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
       round(CASE WHEN o.o_totalprice IS NOT NULL
             THEN (pc.s - o.o_totalprice + 20.0 * pr.prior)
                  / (pc.n - 1 + 20.0)
             ELSE (pc.s + 20.0 * pr.prior) / (pc.n + 20.0) END,
             6) AS encoded
FROM orders o JOIN pc ON o.o_orderpriority IS NOT DISTINCT FROM pc.cat
CROSS JOIN pr"""


_PSM_ATT_SQL = """
WITH u AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 = 0 AS is_treat,
         count(*) AS n_events,
         coalesce(sum(value), 0.0) AS sum_value,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS spend
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), m AS (
  SELECT avg(n_events) AS m0, stddev_pop(n_events) AS sd0,
         avg(sum_value) AS m1, stddev_pop(sum_value) AS sd1
  FROM u
), p AS (
  SELECT user_id, is_treat, spend,
         round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS p
  FROM (
    SELECT u.*,
           (coalesce((n_events - m0) / nullif(sd0, 0), 0)
            + coalesce((sum_value - m1) / nullif(sd1, 0), 0)) / 2.0 AS z
    FROM u, m
  )
), w AS (
  SELECT is_treat, spend, p,
         last_value(CASE WHEN NOT is_treat
                         THEN struct_pack(p := p, y := spend) END
                    IGNORE NULLS)
           OVER (ORDER BY p, user_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pc,
         first_value(CASE WHEN NOT is_treat
                          THEN struct_pack(p := p, y := spend) END
                     IGNORE NULLS)
           OVER (ORDER BY p, user_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS nc
  FROM p
), cand AS (
  SELECT spend,
         CASE WHEN pc IS NOT NULL
                   AND (nc IS NULL OR (p - pc.p) <= (nc.p - p))
              THEN pc ELSE nc END AS mt,
         CASE WHEN pc IS NOT NULL
                   AND (nc IS NULL OR (p - pc.p) <= (nc.p - p))
              THEN p - pc.p ELSE nc.p - p END AS dist
  FROM w WHERE is_treat
), matched AS (
  SELECT spend,
         CASE WHEN mt IS NOT NULL AND dist <= 0.05 THEN mt.y END AS yc
  FROM cand
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_treat,
         CAST(count(yc) AS BIGINT) AS n_matched,
         avg(spend - yc) AS att, stddev_samp(spend - yc) AS sd
  FROM matched
), nctl AS (
  SELECT CAST(count(*) AS BIGINT) AS n_control FROM u WHERE NOT is_treat
)
SELECT n_treat, n_control, n_matched, round(att, 6) AS att,
       round(sd / sqrt(n_matched), 6) AS se,
       round(att / (sd / sqrt(n_matched)), 4) AS t_stat
FROM s, nctl"""


_LOG_ODDS_SQL = """
WITH tk AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS w
  FROM documents WHERE lang IS NOT NULL
), c AS (
  SELECT w, sum(a) AS ya, count(*) - sum(a) AS yb FROM tk GROUP BY w
), tot AS (
  SELECT sum(ya) AS na, sum(yb) AS nb FROM c
), z AS (
  SELECT w AS token, CAST(ya AS BIGINT) AS count_a,
         CAST(yb AS BIGINT) AS count_b,
         round((ln((ya + al) / (na + 500.0 - ya - al))
                - ln((yb + al) / (nb + 500.0 - yb - al)))
               / sqrt(1.0 / (ya + al) + 1.0 / (yb + al)), 4) AS z_score
  FROM (SELECT c.*, tot.na, tot.nb,
               500.0 * (ya + yb) / (na + nb) AS al
        FROM c, tot)
), ra AS (
  SELECT token, count_a, count_b, z_score,
         CAST(row_number() OVER (ORDER BY z_score DESC, token)
              AS BIGINT) AS rank, 'a' AS side
  FROM z QUALIFY rank <= 25
), rb AS (
  SELECT token, count_a, count_b, z_score,
         CAST(row_number() OVER (ORDER BY z_score ASC, token)
              AS BIGINT) AS rank, 'b' AS side
  FROM z QUALIFY rank <= 25
)
SELECT * FROM ra UNION ALL SELECT * FROM rb"""


def _maxsim_oracle_sql(
    every_n: int = 40,
    n_candidates: int = 20,
    k: int = 3,
    rep_tokens: int = 8,
    dim: int = 16,
) -> str:
    """DuckDB replica of similarity.maxsim_rerank: same rep-token
    selection, md5-parity sign vectors, packed SimHash signature,
    hamming top-N prune, and token-level MaxSim re-rank."""
    return f"""
WITH reps AS (
  SELECT doc_id AS id,
         list_sort(list_distinct(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           t -> t <> '')))[1:{rep_tokens}] AS reps
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) > 0
), tok AS (
  SELECT id, unnest(reps) AS tok FROM reps
), vocab AS (
  SELECT tok,
         list_transform(range({dim}), i -> CASE
           WHEN CAST('0x' || substr(md5(tok || '#' || i), 1, 1)
                AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS sv
  FROM (SELECT DISTINCT tok FROM tok)
), bit_sums AS (
  SELECT t.id, p.pos, sum(v.sv[p.pos + 1]) AS s
  FROM tok t JOIN vocab v USING (tok)
  CROSS JOIN (SELECT unnest(range({dim})) AS pos) p
  GROUP BY t.id, p.pos
), sigs AS (
  SELECT id,
         sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << pos
             ELSE 0 END) AS sig
  FROM bit_sums GROUP BY id
), ham AS (
  SELECT q.id AS query_id, c.id AS neighbor_id,
         bit_count(xor(q.sig, c.sig)) AS h
  FROM sigs q JOIN sigs c ON c.id <> q.id
  WHERE q.id % {every_n} = 0
), cands AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY h, neighbor_id) AS rn
  FROM ham QUALIFY rn <= {n_candidates}
), pair_best AS (
  SELECT cd.query_id, cd.neighbor_id, qt.tok AS qtok,
         max(list_sum(list_transform(range({dim}),
               i -> qv.sv[i + 1] * cv.sv[i + 1])) / {dim}.0) AS best
  FROM cands cd
  JOIN tok qt ON qt.id = cd.query_id
  JOIN tok ct ON ct.id = cd.neighbor_id
  JOIN vocab qv ON qv.tok = qt.tok
  JOIN vocab cv ON cv.tok = ct.tok
  GROUP BY cd.query_id, cd.neighbor_id, qt.tok
), scored AS (
  SELECT query_id, neighbor_id, round(sum(best), 4) AS maxsim
  FROM pair_best GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, maxsim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY maxsim DESC, neighbor_id)
            AS INT) AS rank
FROM scored QUALIFY rank <= {k}"""


def _r9i_oracles() -> dict[str, str]:
    """Oracles for the tenth round-8 registration wave."""
    return {
        "agg_mann_whitney": _MANN_WHITNEY_SQL,
        "fe_target_encoding": _TARGET_ENCODING_SQL,
        "psm_att": _PSM_ATT_SQL,
        "txt_log_odds": _LOG_ODDS_SQL,
        "sim_maxsim_rerank": _maxsim_oracle_sql(40, 20, 3, 8, 16),
    }


# ---------------------------------------------------------------------------
# round-8 stagings, eleventh wave (registered BEHIND the full window —
# these claim the round-9 window first): greedy k-center coreset,
# TextRank keywords, Bloom-filter sizing audit, Wald SPRT, IPS
# off-policy value (staged + oracle-validated in
# tests/test_round9j_staged.py)
# ---------------------------------------------------------------------------


def _sim_kcenter_coreset(spark, sf_dir):
    """Greedy k-center over the embedding table
    (similarity.kcenter_coreset): 5 centers, deterministic
    farthest-point traversal, per-step coverage radius (the k-center
    objective) as a built-in self-audit — non-increasing by
    construction."""
    return S.kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), k=5, dim=64
    )


def _txt_textrank(spark, sf_dir):
    """TextRank keywords on the word co-occurrence graph
    (text_analysis.textrank_keywords): adjacency over
    stopword-filtered tokens, 3 weighted-PageRank iterations via the
    shared graph.pagerank operator, top-20 rank cutoff."""
    return T.textrank_keywords(
        _t(spark, sf_dir, "documents"), top_n=20, iterations=3
    )


def _tbl_bloom_probe(spark, sf_dir):
    """Bloom-filter sizing audit (tableops.bloom_filter_audit):
    filter built over delinquent customers (c_acctbal < 0), probed
    with every ordering customer — measured vs load-factor expected
    FP rate, all integer counts."""
    cust = _t(spark, sf_dir, "customer").filter("c_acctbal < 0")
    orders = _t(spark, sf_dir, "orders")
    return TO.bloom_filter_audit(
        cust, orders, "c_custkey", "o_custkey",
        m_bits=16384, n_hashes=4,
    )


def _evt_sprt(spark, sf_dir):
    """Wald SPRT per experiment arm (events.sprt_test): the md5 user
    split, conversion = purchase events, H0 p=0.18 vs H1 p=0.22 at
    alpha 0.05 / beta 0.2, walk ordered by (ts, event_id)."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import sprt_test

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select(
        (base_hash(F.col("user_id").cast("string")) % 2).alias("arm"),
        (F.col("event_type") == "purchase").alias("converted"),
        "ts", "event_id",
    )
    return sprt_test(
        ev, "arm", "converted", ["ts", "event_id"],
        p0=0.18, p1=0.22, alpha=0.05, beta=0.2,
    )


def _evt_ips_value(spark, sf_dir):
    """Off-policy IPS/SNIPS value of a md5-personalized target policy
    (events.ips_policy_value) against the logged event stream, with
    a declared per-action logging-propensity table and weight clip
    10."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import ips_policy_value

    prop = (
        F.when(F.col("event_type") == "view", 0.25)
        .when(F.col("event_type") == "click", 0.25)
        .when(F.col("event_type") == "signup", 0.20)
        .when(F.col("event_type") == "error", 0.15)
        .when(F.col("event_type") == "purchase", 0.15)
        .otherwise(0.05)
    )
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("action"),
        (F.col("value") / 100.0).alias("reward"),
        prop.alias("logging_propensity"),
        F.when(
            base_hash(F.col("user_id").cast("string")) % 2 == 0,
            F.lit("purchase"),
        ).otherwise(F.lit("click")).alias("target_action"),
    )
    return ips_policy_value(
        ev, "action", "reward", "logging_propensity",
        "target_action", clip=10.0,
    )


def _kcenter_oracle_sql(k: int = 5, dim: int = 64) -> str:
    """DuckDB replica of similarity.kcenter_coreset: unrolled greedy
    steps, 6dp-rounded squared L2, max-struct argmax as ORDER BY md
    DESC, id LIMIT 1 — reused CTEs MATERIALIZED (the unrolled-
    iterative lesson)."""
    dist = (
        "round(list_sum(list_transform(list_zip(p.v, {c}.cv),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))), 6)"
    )
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id AS id,"
        f" embedding[1:{dim}] AS v FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT id AS cid, v AS cv FROM pts"
        " WHERE id = (SELECT min(id) FROM pts))",
        "d1 AS MATERIALIZED (SELECT p.id, p.v, "
        + dist.format(c="c1")
        + " AS md FROM pts p, c1)",
    ]
    selects = [
        "SELECT 1 AS step, c1.cid AS center_id,"
        " (SELECT max(md) FROM d1) AS coverage_radius FROM c1"
    ]
    for s in range(2, k + 1):
        prev = s - 1
        parts.append(
            f"c{s} AS MATERIALIZED (SELECT id AS cid, v AS cv"
            f" FROM d{prev} ORDER BY md DESC, id ASC LIMIT 1)"
        )
        parts.append(
            f"d{s} AS MATERIALIZED (SELECT p.id, p.v,"
            f" least(p.md, " + dist.format(c=f"c{s}")
            + f") AS md FROM d{prev} p, c{s})"
        )
        selects.append(
            f"SELECT {s} AS step, c{s}.cid AS center_id,"
            f" (SELECT max(md) FROM d{s}) AS coverage_radius FROM c{s}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


_TEXTRANK_STOP_SQL = (
    "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with']"
)


def _textrank_oracle_sql(iterations: int = 3, top_n: int = 20) -> str:
    """DuckDB replica of text_analysis.textrank_keywords: the word
    co-occurrence graph (adjacency after stopword filtering, both
    directions) + the unrolled weighted-PageRank chain from the
    graph_pagerank oracle, then the top-N rank cutoff."""
    parts = [
        "tk AS MATERIALIZED (SELECT list_filter(list_filter("
        " regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " t -> t <> ''), t -> NOT list_contains("
        + _TEXTRANK_STOP_SQL + ", t)) AS ts FROM documents)",
        "dir AS MATERIALIZED (SELECT ts[i + 1] AS a, ts[i + 2] AS b"
        " FROM tk, LATERAL (SELECT unnest(range(len(ts) - 1)) AS i)"
        " WHERE ts[i + 1] <> ts[i + 2])",
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, count(*) AS w"
        " FROM (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)"
        " GROUP BY 1, 2)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n"
        " FROM nodes)",
        "p AS MATERIALIZED (SELECT src, dst, w * 1.0 /"
        " sum(w) OVER (PARTITION BY src) AS p FROM e)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS pr"
        " FROM nodes, nn)",
    ]
    for i in range(iterations):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS m"
            f" FROM r{i} WHERE node NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT p.dst AS node,"
            f" sum(r.pr * p.p) AS contrib FROM p JOIN r{i} r"
            f" ON p.src = r.node GROUP BY p.dst)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT nd.node, 0.15 / nn.n"
            f" + 0.85 * (coalesce(c{i}.contrib, 0.0) + m{i}.m / nn.n)"
            f" AS pr FROM nodes nd CROSS JOIN nn CROSS JOIN m{i}"
            f" LEFT JOIN c{i} ON nd.node = c{i}.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node AS token, round(pr, 6) AS rank_score,"
        f" CAST(row_number() OVER (ORDER BY round(pr, 6) DESC, node)"
        f" AS INT) AS position FROM r{iterations}"
        f" QUALIFY position <= {top_n}"
    )


_BLOOM_SQL = """
WITH bk AS MATERIALIZED (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
  WHERE c_acctbal < 0 AND c_custkey IS NOT NULL
), bp AS MATERIALIZED (
  SELECT k, unnest(list_transform(range(4), j ->
    CAST('0x' || substr(md5(k || '#' || CAST(j AS VARCHAR)), 1, 8)
         AS BIGINT) % 16384)) AS pos
  FROM bk
), fb AS MATERIALIZED (SELECT DISTINCT pos FROM bp),
pk AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
  WHERE o_custkey IS NOT NULL
), pp AS MATERIALIZED (
  SELECT k, unnest(list_transform(range(4), j ->
    CAST('0x' || substr(md5(k || '#' || CAST(j AS VARCHAR)), 1, 8)
         AS BIGINT) % 16384)) AS pos
  FROM pk
), hits AS MATERIALIZED (
  SELECT pp.k, sum(CASE WHEN f.setb IS NULL THEN 0 ELSE 1 END) = 4
    AS bloom_pos
  FROM pp LEFT JOIN (SELECT pos, 1 AS setb FROM fb) f USING (pos)
  GROUP BY pp.k
), truth AS MATERIALIZED (
  SELECT h.bloom_pos, b.k IS NOT NULL AS member
  FROM hits h LEFT JOIN bk b ON h.k = b.k
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
         CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_positive,
         CAST(sum(CASE WHEN bloom_pos AND member THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_positive,
         CAST(sum(CASE WHEN bloom_pos AND NOT member THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_positive,
         CAST(sum(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neg
  FROM truth
), nb AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM fb),
nk AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM bk)
SELECT n_build_keys, n_probe_keys,
       16384 AS m_bits, 4 AS n_hashes, bits_set,
       round(bits_set / 16384.0, 6) AS fill_ratio,
       n_bloom_positive, n_true_positive, n_false_positive,
       round(CAST(n_false_positive AS DOUBLE) / n_neg, 6) AS fp_rate,
       round((bits_set / 16384.0) * (bits_set / 16384.0)
             * (bits_set / 16384.0) * (bits_set / 16384.0), 6)
         AS expected_fp_rate
FROM s, nb, nk"""


_SPRT_SQL = """
WITH s AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
         ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), w AS (
  SELECT arm,
         count(*) OVER (PARTITION BY arm ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS t,
         sum(x) OVER (PARTITION BY arm ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS n1
  FROM s
), llr AS (
  SELECT arm, t, n1,
         n1 * ln(0.22 / 0.18) + (t - n1) * ln(0.78 / 0.82) AS llr
  FROM w
), cross_first AS (
  SELECT arm, min(t) AS t_dec
  FROM llr
  WHERE llr >= ln(0.8 / 0.05) OR llr <= ln(0.2 / 0.95)
  GROUP BY arm
), finals AS (
  SELECT arm, max(t) AS n_total FROM llr GROUP BY arm
), fin AS (
  SELECT f.arm, f.n_total,
         (SELECT n1 FROM llr WHERE llr.arm = f.arm
          AND llr.t = f.n_total) AS conversions,
         c.t_dec,
         (SELECT l.llr FROM llr l WHERE l.arm = f.arm
          AND l.t = c.t_dec) AS llr_dec,
         (SELECT l.llr FROM llr l WHERE l.arm = f.arm
          AND l.t = f.n_total) AS llr_fin
  FROM finals f LEFT JOIN cross_first c ON f.arm = c.arm
)
SELECT arm, CAST(n_total AS BIGINT) AS n_total,
       CAST(conversions AS BIGINT) AS conversions,
       CASE WHEN llr_dec >= ln(0.8 / 0.05) THEN 'accept_h1'
            WHEN llr_dec <= ln(0.2 / 0.95) THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CAST(t_dec AS BIGINT) AS n_at_decision,
       round(llr_dec, 6) AS llr_at_decision,
       round(llr_fin, 6) AS llr_final,
       round(ln(0.8 / 0.05), 6) AS boundary_h1,
       round(ln(0.2 / 0.95), 6) AS boundary_h0
FROM fin"""


_IPS_SQL = """
WITH e AS (
  SELECT event_type AS action, value / 100.0 AS reward,
         CASE event_type WHEN 'view' THEN 0.25 WHEN 'click' THEN 0.25
              WHEN 'signup' THEN 0.20 WHEN 'error' THEN 0.15
              WHEN 'purchase' THEN 0.15 ELSE 0.05 END AS prop,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                         1, 8) AS BIGINT) % 2 = 0
              THEN 'purchase' ELSE 'click' END AS target
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), wts AS (
  SELECT CASE WHEN action = target THEN 1.0 / prop ELSE 0.0 END AS w,
         reward AS r
  FROM e
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         sum(w * r) AS wr, sum(w) AS sw, sum(w * w) AS sw2,
         sum(least(w, 10.0) * r) AS cwr
  FROM wts
)
SELECT n, n_matched,
       round(wr / n, 6) AS ips_value,
       round(wr / sw, 6) AS snips_value,
       round(cwr / n, 6) AS clipped_ips,
       round(sw * sw / sw2, 2) AS ess
FROM a"""


def _r9j_oracles() -> dict[str, str]:
    """Oracles for the eleventh round-8 staging wave."""
    return {
        "sim_kcenter_coreset": _kcenter_oracle_sql(5, 64),
        "txt_textrank": _textrank_oracle_sql(3, 20),
        "tbl_bloom_probe": _BLOOM_SQL,
        "evt_sprt": _SPRT_SQL,
        "evt_ips_value": _IPS_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 stagings, twelfth wave (registered BEHIND the window, claims
# the round-9 window after wave 11): gradient-boosted stumps,
# personalized PageRank, Deming regression, group k-fold, image
# near-dup pairs (staged + oracle-validated in
# tests/test_round9k_staged.py)
# ---------------------------------------------------------------------------


def _gbrt_stumps(spark, sf_dir):
    """Gradient-boosted regression stumps on the embedding table
    (ml.gbrt_stumps): 3 residual-fitting rounds over a 16-dim ×
    7-threshold literal grid, target = the integer label — the
    smallest real boosting loop, decimal-exact feedback."""
    return ML.gbrt_stumps(
        _t(spark, sf_dir, "embeddings"),
        target_col="label", n_rounds=3, dim=16,
    )


def _graph_ppr(spark, sf_dir):
    """Personalized PageRank from nation 0 on the trade graph
    (graph.personalized_pagerank): restart-to-seed walk, 3
    iterations — 'which nations are close to nation 0 under
    multi-hop trade flow'."""
    ranks = G.personalized_pagerank(
        _trade_edges(spark, sf_dir), seeds=[0], iterations=3
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _agg_deming(spark, sf_dir):
    """Per-returnflag Deming (orthogonal) regression — the genuine
    errors-in-variables shape: two noisy MEASUREMENTS of the same
    underlying quantity (x = qty + discount-scaled noise, y = 2·qty
    + tax-scaled noise), where OLS attenuates the slope toward zero
    and Deming recovers ≈2.  O(1)-magnitude moments, so 6dp rounding
    sits far above float partial-sum noise (the reason the fixture
    is NOT price-on-quantity: near-zero correlation explodes the
    slope to 1e5+ magnitudes where no fixed rounding is portable)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_quantity") + F.col("l_discount") * 10.0).alias("m1"),
        (F.col("l_quantity") * 2.0 + F.col("l_tax") * 10.0).alias("m2"),
    )
    return AG.deming_regression(
        li, x_col="m1", y_col="m2", delta=1.0, keys=["l_returnflag"]
    )


def _smp_group_kfold(spark, sf_dir):
    """Group-aware 5-fold split of events by user
    (relational.group_kfold_assign): every user's rows land in ONE
    fold (leakage-safe CV), md5 assignment, per-fold balance
    summary."""
    return R.group_kfold_assign(
        _t(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
        ),
        group_col="user_id", k=5,
    )


def _mm_image_neardup(spark, sf_dir):
    """Image near-duplicate pairs over REAL-decoded PPM aHashes
    (multimodal.image_ahash -> image_neardup_pairs): 4 bit-bands of
    the 16-bit hash generate candidates by equi-join (pigeonhole:
    4 bands > 3 max hamming, exact recall), XOR+bit_count verifies —
    the image twin of the MinHash band join."""
    from eggv_spark.operators import multimodal as M

    hashed = M.image_ahash(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )
    return M.image_neardup_pairs(
        hashed, hash_bits=16, n_bands=4, max_hamming=3
    )


def _gbrt_oracle_sql(
    n_rounds: int = 3,
    dim: int = 16,
    thresholds: tuple = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3),
) -> str:
    """DuckDB replica of ml.gbrt_stumps: unrolled residual-boosting
    rounds; every row-sum in DECIMAL (residuals 12dp, squares 16dp),
    all scoring math in DOUBLE on those exact sums, leaf values
    rounded 6dp before the residual update — the same determinism
    contract as the Spark side, so values match bit-for-bit."""
    ths = ", ".join(str(float(t)) for t in thresholds)
    parts = [
        f"grid AS MATERIALIZED (SELECT ti, ths[ti + 1] AS t FROM"
        f" (SELECT [{ths}] AS ths),"
        f" LATERAL (SELECT unnest(range({len(thresholds)})) AS ti))",
        f"base AS MATERIALIZED (SELECT"
        f" CAST(embedding[1:{dim}] AS DOUBLE[]) AS x,"
        f" CAST(label AS DOUBLE) AS y FROM embeddings)",
        "tot0 AS (SELECT count(*) AS n,"
        " round(CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE)"
        " / count(*), 6) AS mu0 FROM base)",
        "r0 AS MATERIALIZED (SELECT x, y - tot0.mu0 AS r"
        " FROM base, tot0)",
        "s0 AS (SELECT round(CAST(sum(CAST(r * r AS DECIMAL(38,16)))"
        " AS DOUBLE), 6) AS sse FROM r0)",
    ]
    selects = [
        "SELECT 0 AS round, 0 AS dim, CAST(NULL AS DOUBLE) AS threshold,"
        " tot0.mu0 AS left_value, tot0.mu0 AS right_value,"
        " CAST(NULL AS DOUBLE) AS gain, s0.sse AS train_sse"
        " FROM tot0, s0"
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(
            f"cand{i} AS MATERIALIZED (SELECT dd.d, g.ti, g.t,"
            f" count(*) AS n,"
            f" sum(CAST(r AS DECIMAL(38,12))) AS s,"
            f" sum(CASE WHEN x[dd.d + 1] <= g.t THEN 1 ELSE 0 END)"
            f" AS nl,"
            f" sum(CAST(CASE WHEN x[dd.d + 1] <= g.t THEN r"
            f" ELSE 0.0 END AS DECIMAL(38,12))) AS sl"
            f" FROM r{p}, (SELECT unnest(range({dim})) AS d) dd,"
            f" grid g GROUP BY dd.d, g.ti, g.t)"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT d, ti, t, n, nl,"
            f" CASE WHEN nl > 0 THEN round(CAST(sl AS DOUBLE) / nl, 6)"
            f" ELSE 0.0 END AS ml,"
            f" CASE WHEN n - nl > 0 THEN round((CAST(s AS DOUBLE)"
            f" - CAST(sl AS DOUBLE)) / (n - nl), 6) ELSE 0.0 END AS mr,"
            f" CASE WHEN nl > 0 AND n - nl > 0 THEN"
            f" CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl"
            f" + (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE))"
            f" * (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - nl)"
            f" - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n"
            f" ELSE -1.0 END AS g"
            f" FROM cand{i} ORDER BY g DESC, d ASC, ti ASC LIMIT 1)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT x,"
            f" r - CASE WHEN x[b{i}.d + 1] <= b{i}.t THEN b{i}.ml"
            f" ELSE b{i}.mr END AS r FROM r{p}, b{i})"
        )
        parts.append(
            f"s{i} AS (SELECT round(CAST(sum(CAST(r * r"
            f" AS DECIMAL(38,16))) AS DOUBLE), 6) AS sse FROM r{i})"
        )
        selects.append(
            f"SELECT {i} AS round, CAST(b{i}.d + 1 AS INT) AS dim,"
            f" b{i}.t AS threshold, b{i}.ml AS left_value,"
            f" b{i}.mr AS right_value, round(b{i}.g, 6) AS gain,"
            f" s{i}.sse AS train_sse FROM b{i}, s{i}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


def _ppr_oracle_sql(iterations: int = 3) -> str:
    """DuckDB replica of graph.personalized_pagerank on the trade
    graph, seed = {0}: the unrolled pagerank chain with the teleport
    AND dangling mass restarting to the seed indicator."""
    parts = [
        "e AS MATERIALIZED (SELECT CAST(c_nationkey AS INT) AS src,"
        " CAST(s_nationkey AS INT) AS dst, count(*) AS w"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN supplier ON l_suppkey = s_suppkey GROUP BY src, dst)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "p AS MATERIALIZED (SELECT src, dst, w * 1.0 /"
        " sum(w) OVER (PARTITION BY src) AS p FROM e)",
        "sd AS MATERIALIZED (SELECT node,"
        " CASE WHEN node = 0 THEN 1.0 ELSE 0.0 END AS s FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, s AS pr FROM sd)",
    ]
    for i in range(iterations):
        parts.append(
            f"m{i} AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r{i}"
            f" WHERE node NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT p.dst AS node,"
            f" sum(r.pr * p.p) AS contrib FROM p JOIN r{i} r"
            f" ON p.src = r.node GROUP BY p.dst)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT sd.node,"
            f" 0.15 * sd.s + 0.85 * (coalesce(c{i}.contrib, 0.0)"
            f" + m{i}.m * sd.s) AS pr"
            f" FROM sd CROSS JOIN m{i}"
            f" LEFT JOIN c{i} ON sd.node = c{i}.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, round(pr, 6) AS rank FROM r{iterations}"
    )


_DEMING_SQL = """
WITH m AS (
  SELECT l_returnflag,
         l_quantity + l_discount * 10.0 AS x,
         l_quantity * 2.0 + l_tax * 10.0 AS y
  FROM lineitem
), g AS (
  SELECT l_returnflag, count(*) AS n,
         avg(x) AS mx, avg(y) AS my,
         var_samp(x) AS sxx, var_samp(y) AS syy,
         covar_samp(x, y) AS sxy
  FROM m
  WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY 1
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       round((syy - sxx + sqrt((syy - sxx) * (syy - sxx)
              + 4.0 * sxy * sxy)) / (2.0 * sxy), 6) AS slope,
       round(my - (syy - sxx + sqrt((syy - sxx) * (syy - sxx)
              + 4.0 * sxy * sxy)) / (2.0 * sxy) * mx, 6) AS intercept,
       round(sxy / sqrt(sxx * syy), 4) AS pearson_r
FROM g"""


_GROUP_KFOLD_SQL = """
WITH pg AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 5 AS fold,
         user_id, count(*) AS rows_
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), pf AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(rows_) AS BIGINT) AS n_rows
  FROM pg GROUP BY 1
), t AS (
  SELECT sum(n_groups) AS tg, sum(n_rows) AS tr FROM pf
)
SELECT CAST(fold AS INT) AS fold, n_groups, n_rows,
       round(n_rows / CAST(tr AS DOUBLE), 6) AS row_frac,
       round(n_groups / CAST(tg AS DOUBLE), 6) AS group_frac
FROM pf, t"""


_IMAGE_NEARDUP_SQL = """
WITH px AS (
  SELECT doc_id, i,
         ((doc_id*7 + (i*3)*13) % 256)
         + ((doc_id*7 + (i*3+1)*13) % 256)
         + ((doc_id*7 + (i*3+2)*13) % 256) AS s
  FROM documents, unnest(generate_series(0, 15)) AS t(i)
), a AS (
  SELECT doc_id, sum(s) AS total, count(*) AS n FROM px GROUP BY 1
), b AS (
  SELECT px.doc_id,
         CASE WHEN px.s * a.n >= a.total THEN 1 ELSE 0 END
           << (15 - px.i) AS bit
  FROM px JOIN a USING (doc_id)
), h AS (
  SELECT doc_id AS id, CAST(sum(bit) AS BIGINT) AS ahash
  FROM b GROUP BY 1
), dh AS (
  SELECT ahash, min(id) AS rep, CAST(count(*) AS BIGINT) AS n
  FROM h GROUP BY 1
), bands AS (
  SELECT ahash, rep, n, bi AS band,
         (ahash >> (bi * 4)) & 15 AS val
  FROM dh, LATERAL (SELECT unnest(range(4)) AS bi)
), cand AS (
  SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
         l.n AS n_images_a, r.n AS n_images_b,
         l.ahash AS ha, r.ahash AS hb
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.val = r.val AND l.rep < r.rep
)
SELECT rep_a, rep_b, n_images_a, n_images_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3"""


def _r9k_oracles() -> dict[str, str]:
    """Oracles for the twelfth round-8 staging wave."""
    return {
        "gbrt_stumps": _gbrt_oracle_sql(3, 16),
        "graph_ppr": _ppr_oracle_sql(3),
        "agg_deming": _DEMING_SQL,
        "smp_group_kfold": _GROUP_KFOLD_SQL,
        "mm_image_neardup": _IMAGE_NEARDUP_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 stagings, thirteenth wave (registered BEHIND the window,
# claims the round-9 window after waves 11-12): event study, AR(1)
# half-life, audio fingerprint dedup, contrastive triplets, zone-map
# skipping audit (staged + oracle-validated in
# tests/test_round9l_staged.py)
# ---------------------------------------------------------------------------


def _evt_event_study(spark, sf_dir):
    """Event-study effect path (events.event_study): adoption = each
    user's first signup day (never-signed-up users are the
    controls), outcome = daily purchase value on active days,
    calendar-matched diff-in-means per relative period ±5."""
    from eggv_spark.operators.events import event_study

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    panel = ev.groupBy(
        F.col("user_id").alias("u"),
        F.to_date("ts").alias("d"),
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                )
            ),
            F.lit(0.0),
        ).alias("y")
    )
    adopt = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.min(F.to_date("ts")).alias("a"))
    )
    return event_study(
        panel.join(adopt, "u", "left"), "u", "d", "a", "y", max_lag=5
    )


def _evt_ar1_halflife(spark, sf_dir):
    """Mean-reversion half-life of each event type's daily value
    series (events.ar1_halflife): lag-1 correlation of the
    day-ordered daily sums, halflife = -ln2/ln(rho)."""
    from eggv_spark.operators.events import ar1_halflife

    return ar1_halflife(
        _t(spark, sf_dir, "events").select(
            "event_type", F.to_date("ts").alias("day"), "value"
        ),
        "event_type", "day", "value",
    )


def _mm_audio_fingerprint(spark, sf_dir):
    """Audio near-dup pairs over REAL-decoded PCM energy-delta
    fingerprints (multimodal.audio_fingerprint -> the hash-generic
    band join): the audio leg of the one bucket-then-verify dedup
    kernel (MinHash for text, aHash for images, this for audio)."""
    from eggv_spark.operators import multimodal as M

    fp = M.audio_fingerprint(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents"))
    )
    return M.image_neardup_pairs(
        fp, hash_col="fingerprint",
        hash_bits=16, n_bands=4, max_hamming=3,
    )


def _composite_contrastive_pairs(spark, sf_dir):
    """Contrastive TRAINING TRIPLETS as one plan — the artifact a
    similarity-model fine-tune actually consumes: anchors/positives
    from the MinHash near-dup pipeline on the dup-injected corpus,
    negatives from the far hash bucket (bucket(anchor)+B/2 mod B,
    smallest id — deterministic, bucket-local, NO global sort), with
    an anti-join guard so a negative can never be a known near-dup
    of its anchor.  Triplets whose negative collides with the pair
    itself are dropped (documented contract; the far-bucket rule
    makes collisions structurally rare)."""
    from eggv_spark.operators.dedupe import base_hash

    n_buckets = 64
    docs = _docs_with_dups(spark, sf_dir)
    pos = D.minhash_neardup_pairs(docs, threshold=0.7)
    bucket_min = F.broadcast(
        docs.groupBy(
            (base_hash(F.col("doc_id").cast("string")) % n_buckets)
            .alias("_b")
        ).agg(F.min("doc_id").alias("negative_id"))
    )
    trip = (
        pos.select(
            F.col("id_a").alias("anchor_id"),
            F.col("id_b").alias("positive_id"),
            "jaccard",
            (
                (base_hash(F.col("id_a").cast("string")) % n_buckets
                 + n_buckets // 2) % n_buckets
            ).alias("_tb"),
        )
        .join(bucket_min, F.col("_tb") == F.col("_b"))
        .drop("_b", "_tb")
        .filter(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("negative_id") != F.col("positive_id"))
        )
    )
    guard = pos.select(
        F.least("id_a", "id_b").alias("_ga"),
        F.greatest("id_a", "id_b").alias("_gb"),
    )
    return trip.join(
        guard,
        (F.least("anchor_id", "negative_id") == F.col("_ga"))
        & (F.greatest("anchor_id", "negative_id") == F.col("_gb")),
        "left_anti",
    ).select("anchor_id", "positive_id", "negative_id", "jaccard")


def _tbl_zonemap_skip(spark, sf_dir):
    """Zone-map file-skipping audit (tableops.zonemap_skip_audit):
    synthetic manifest from orders (file = o_orderkey % 200, min/max
    o_totalprice + row count per file), predicate = totalprice in
    [150000, 200000] — how much IO the stats would save."""
    stats = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 200).alias("file_id"))
        .agg(
            F.min("o_totalprice").alias("min_val"),
            F.max("o_totalprice").alias("max_val"),
            F.count("*").alias("n_rows"),
        )
    )
    return TO.zonemap_skip_audit(stats, 150000.0, 200000.0)


_EVENT_STUDY_SQL = """
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d, event_type, value
  FROM events WHERE user_id IS NOT NULL
), panel AS (
  SELECT u, d,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS y
  FROM ev GROUP BY u, d
), adopt AS (
  SELECT u, min(d) AS a FROM ev WHERE event_type = 'signup' GROUP BY u
), base AS (
  SELECT p.u, p.d, adopt.a, p.y
  FROM panel p LEFT JOIN adopt ON p.u = adopt.u
), treated AS (
  SELECT datediff('day', a, d) AS tau, d,
         count(*) AS n, avg(y) AS my
  FROM base WHERE a IS NOT NULL
    AND datediff('day', a, d) BETWEEN -5 AND 5
  GROUP BY 1, 2
), ctrl AS (
  SELECT d, avg(y) AS mc FROM base WHERE a IS NULL GROUP BY d
), j AS (
  SELECT t.tau, t.n, t.my, c.mc
  FROM treated t LEFT JOIN ctrl c ON t.d = c.d
)
SELECT CAST(tau AS INT) AS rel_period,
       CAST(sum(n) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN mc IS NULL THEN n ELSE 0 END) AS BIGINT)
         AS n_unmatched,
       round(sum(CASE WHEN mc IS NOT NULL THEN n * (my - mc)
                 ELSE 0.0 END)
             / sum(CASE WHEN mc IS NOT NULL THEN n ELSE 0 END), 6)
         AS effect
FROM j GROUP BY tau"""


_AR1_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, sum(value) AS x
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY d) AS xp
  FROM daily
), g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         round(corr(x, xp), 4) AS rho
  FROM lagged WHERE xp IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_pairs, rho,
       CASE WHEN rho > 0 AND rho < 1
            THEN round(-ln(2.0) / ln(rho), 4) END AS halflife
FROM g"""


_AUDIO_FP_SQL = """
WITH en AS (
  SELECT doc_id, w,
         sum(abs(((doc_id * 31 + i * 17) % 4096) - 2048)) AS e
  FROM documents,
       LATERAL (SELECT unnest(range(64)) AS i),
       LATERAL (SELECT i // 4 AS w)
  GROUP BY doc_id, w
), fp AS (
  SELECT a.doc_id AS id,
         CAST(sum(CASE WHEN b.e > a.e THEN 1 ELSE 0 END
                  << (15 - a.w)) AS BIGINT) AS h
  FROM en a JOIN en b
    ON a.doc_id = b.doc_id AND b.w = (a.w + 1) % 16
  GROUP BY a.doc_id
), dh AS (
  SELECT h AS ahash, min(id) AS rep, CAST(count(*) AS BIGINT) AS n
  FROM fp GROUP BY 1
), bands AS (
  SELECT ahash, rep, n, bi AS band,
         (ahash >> (bi * 4)) & 15 AS val
  FROM dh, LATERAL (SELECT unnest(range(4)) AS bi)
), cand AS (
  SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
         l.n AS n_images_a, r.n AS n_images_b,
         l.ahash AS ha, r.ahash AS hb
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.val = r.val AND l.rep < r.rep
)
SELECT rep_a, rep_b, n_images_a, n_images_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3"""


def _contrastive_oracle_sql() -> str:
    """Oracle for the contrastive-triplet composite: the validated
    MinHash near-dup oracle as a derived table (the composite_knn_eval
    pattern) + the far-bucket negative rule + the anti-join guard."""
    return f"""
WITH pos AS ({_minhash_oracle()}),
corpus AS ({_DUPDOCS_SQL}),
bm AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 64 AS b,
         min(doc_id) AS negative_id
  FROM corpus GROUP BY 1
), trip AS (
  SELECT p.id_a AS anchor_id, p.id_b AS positive_id, p.jaccard,
         bm.negative_id
  FROM pos p JOIN bm
    ON bm.b = (CAST('0x' || substr(md5(CAST(p.id_a AS VARCHAR)), 1, 8)
               AS BIGINT) % 64 + 32) % 64
  WHERE bm.negative_id <> p.id_a AND bm.negative_id <> p.id_b
)
SELECT anchor_id, positive_id, negative_id, jaccard
FROM trip t
WHERE NOT EXISTS (
  SELECT 1 FROM pos g
  WHERE least(t.anchor_id, t.negative_id) = least(g.id_a, g.id_b)
    AND greatest(t.anchor_id, t.negative_id) = greatest(g.id_a, g.id_b)
)"""


_ZONEMAP_SQL = """
WITH stats AS (
  SELECT o_orderkey % 200 AS file_id,
         min(o_totalprice) AS min_val, max(o_totalprice) AS max_val,
         count(*) AS n_rows
  FROM orders GROUP BY 1
), s AS (
  SELECT *, (max_val < 150000.0 OR min_val > 200000.0) AS skipped
  FROM stats
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
         AS n_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_skipped,
       round(sum(CASE WHEN skipped THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS skip_ratio,
       round(sum(CASE WHEN skipped THEN n_rows ELSE 0 END)
             / CAST(sum(n_rows) AS DOUBLE), 6) AS row_skip_ratio
FROM s"""


def _r9l_oracles() -> dict[str, str]:
    """Oracles for the thirteenth round-8 staging wave."""
    return {
        "evt_event_study": _EVENT_STUDY_SQL,
        "evt_ar1_halflife": _AR1_SQL,
        "mm_audio_fingerprint": _AUDIO_FP_SQL,
        "composite_contrastive_pairs": _contrastive_oracle_sql(),
        "tbl_zonemap_skip": _ZONEMAP_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 stagings, fourteenth wave (registered BEHIND the window,
# claims the round-9 window after waves 11-13): minhash recall eval,
# raking weights, instruction-data scorer (staged + oracle-validated
# in tests/test_round9m_staged.py)
# ---------------------------------------------------------------------------


def _ddp_minhash_eval(spark, sf_dir):
    """Recall eval of the MinHash near-dup pipeline against the
    PLANTED ground truth (every 10th doc duplicated at +1,000,000 —
    known by construction, the dedup twin of sim_recall_eval): how
    many planted pairs the banded LSH recovered, plus the extra
    verified near-dups it found beyond the plant.  The QA a dedup
    config change (bands, shingle size, threshold) must pass before
    rollout."""
    docs = _docs_with_dups(spark, sf_dir)
    pred = D.minhash_neardup_pairs(docs, threshold=0.7)
    truth = (
        _t(spark, sf_dir, "documents")
        .filter("doc_id % 10 = 0")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
    )
    hits = pred.join(truth, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    stats = pred.agg(F.count("*").alias("n_pred")).crossJoin(
        F.broadcast(hits.agg(F.count("*").alias("n_recovered")))
    ).crossJoin(F.broadcast(n_truth))
    return stats.select(
        "n_truth", "n_pred", "n_recovered",
        (F.col("n_pred") - F.col("n_recovered")).alias("n_extra"),
        F.round(
            F.try_divide(F.col("n_recovered"), F.col("n_truth")), 4
        ).alias("recall"),
    )


_RAKING_TARGETS_1 = {
    "AUTOMOBILE": 0.2, "BUILDING": 0.2, "FURNITURE": 0.2,
    "HOUSEHOLD": 0.2, "MACHINERY": 0.2,
}
_RAKING_TARGETS_2 = {0: 0.2, 1: 0.2, 2: 0.2, 3: 0.2, 4: 0.2}


def _smp_raking_weights(spark, sf_dir):
    """Raking / IPF weight calibration (relational.raking_weights):
    calibrate customer weights to UNIFORM margins over market
    segment × nation bucket simultaneously — the mixture-hitting
    weighting a domain × language recipe needs, 3 iterations at the
    25-cell grain."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_nationkey") % 5).cast("int").alias("nation_bucket"),
    )
    return R.raking_weights(
        cust, "c_mktsegment", "nation_bucket",
        _RAKING_TARGETS_1, _RAKING_TARGETS_2, iterations=3,
    )


def _txt_instruction_score(spark, sf_dir):
    """Instruction-data mining heuristics over documents
    (text_analysis.instruction_score): imperative/interrogative/
    enumeration/request cues as literal sets, 2dp-exact score."""
    return T.instruction_score(_t(spark, sf_dir, "documents"))


def _minhash_eval_oracle_sql() -> str:
    """Oracle for the minhash recall eval: the validated near-dup
    oracle as a derived table + the planted-pair arithmetic."""
    return f"""
WITH pos AS ({_minhash_oracle()}),
truth AS (
  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
  FROM documents WHERE doc_id % 10 = 0
), rec AS (
  SELECT count(*) AS n_recovered
  FROM pos JOIN truth USING (id_a, id_b)
), np AS (SELECT count(*) AS n_pred FROM pos),
nt AS (SELECT count(*) AS n_truth FROM truth)
SELECT CAST(nt.n_truth AS BIGINT) AS n_truth,
       CAST(np.n_pred AS BIGINT) AS n_pred,
       CAST(rec.n_recovered AS BIGINT) AS n_recovered,
       CAST(np.n_pred - rec.n_recovered AS BIGINT) AS n_extra,
       round(CAST(rec.n_recovered AS DOUBLE) / nt.n_truth, 4)
         AS recall
FROM np, rec, nt"""


def _raking_oracle_sql(iterations: int = 3) -> str:
    """Oracle for raking_weights: cell-grain IPF unrolled, factors
    rounded at 8dp before each multiplication (matching the
    operator's determinism contract)."""
    parts = [
        "cells0 AS MATERIALIZED (SELECT c_mktsegment AS d1,"
        " CAST(c_nationkey % 5 AS INT) AS d2, count(*) AS n,"
        " CAST(count(*) AS DOUBLE) AS w"
        " FROM customer GROUP BY 1, 2)",
        "tot AS (SELECT sum(n) AS t FROM cells0)",
    ]
    cur = "cells0"
    step = 0
    for _ in range(iterations):
        for dim in ("d1", "d2"):
            step += 1
            parts.append(
                f"m{step} AS (SELECT {dim}, sum(w) AS mw"
                f" FROM {cur} GROUP BY 1)"
            )
            parts.append(
                f"cells{step} AS MATERIALIZED (SELECT c.d1, c.d2,"
                f" c.n, c.w * round(0.2 * tot.t / m{step}.mw, 8) AS w"
                f" FROM {cur} c JOIN m{step} USING ({dim}), tot)"
            )
            cur = f"cells{step}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT d1 AS c_mktsegment, d2 AS nation_bucket,"
        f" CAST(n AS BIGINT) AS n_rows, round(w, 6) AS weight_sum,"
        f" round(w / n, 6) AS row_weight FROM {cur}"
    )


_INSTRUCTION_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         coalesce(list_contains(
           ['write', 'explain', 'describe', 'list', 'summarize',
            'translate', 'create', 'give', 'make', 'find'],
           toks[1]), false) AS imperative_start,
         (coalesce(list_contains(
            ['what', 'how', 'why', 'when', 'where', 'which', 'who'],
            toks[1]), false)
          OR contains(text, '?')) AS is_question,
         regexp_matches(text, '(^|\\n)\\s*([0-9]+[.)]|[-*] )')
           AS has_enumeration,
         contains(lower(text), 'please') AS has_request
  FROM t
)
SELECT doc_id, imperative_start, is_question, has_enumeration,
       has_request,
       round(CAST(imperative_start AS INT) * 0.35
             + CAST(is_question AS INT) * 0.35
             + CAST(has_enumeration AS INT) * 0.2
             + CAST(has_request AS INT) * 0.1, 2) AS instruction_score
FROM f"""


def _r9m_oracles() -> dict[str, str]:
    """Oracles for the fourteenth round-8 staging wave."""
    return {
        "ddp_minhash_eval": _minhash_eval_oracle_sql(),
        "smp_raking_weights": _raking_oracle_sql(3),
        "txt_instruction_score": _INSTRUCTION_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 fifteenth wave: integer-exact perceptron, Kendall tau-b,
# CUSUM control chart, harmonic centrality, vacuum audit
# ---------------------------------------------------------------------------


def _perceptron_fit(spark, sf_dir):
    """Batch perceptron (ml.perceptron_fit) on millis-quantized
    embeddings: x = floor(e_d * 1000) over the first 8 dims, label
    +1/-1 by the sign of the quantized first dim, 3 epochs.  Every
    weight/bias/count is an exact BIGINT — the bit-reproducible
    member of the linear-fit family."""
    emb = _t(spark, sf_dir, "embeddings")
    x = F.transform(
        F.slice(F.col("embedding").cast("array<double>"), 1, 8),
        lambda e: F.floor(e * 1000).cast("bigint"),
    )
    data = emb.select(x.alias("x")).select(
        "x",
        F.when(F.element_at("x", 1) >= 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("y"),
    )
    return ML.perceptron_fit(data, "x", "y", n_epochs=3, dim=8)


def _agg_kendall_tau(spark, sf_dir):
    """Kendall tau-b (aggregates.kendall_tau) between segment size and
    total balance at the (nation, mktsegment) grain — 125 rows, so the
    documented pre-aggregated-grain contract holds and the pair cross
    join broadcasts.  Balances quantize to integer cents per row
    before summing (exact comparisons, no float ties)."""
    grain = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            .alias("bal_cents"),
        )
    )
    return AG.kendall_tau(grain, "n_cust", "bal_cents")


def _evt_cusum(spark, sf_dir):
    """Two-sided CUSUM drift chart (events.cusum_chart) over the daily
    mean-centered event-value series: per-event increments are
    (value - 250) quantized to cents, so the chart accumulates only
    deviation from the nominal level, target 0, slack 0, alarm at
    500.00 units of accumulated drift."""
    from eggv_spark.operators.events import cusum_chart

    ev = _t(spark, sf_dir, "events").select(
        "ts", (F.col("value") - 250).alias("value")
    )
    return cusum_chart(
        ev, "ts", "value",
        target_cents=0, slack_cents=0, threshold_cents=50000,
    )


def _graph_harmonic(spark, sf_dir):
    """Hop-limited harmonic centrality (graph.harmonic_centrality,
    3 directed hops) over the same top-100 rank-thresholded trade
    graph graph_wcc / graph_modularity use: integer per-hop reach
    counts, fixed-order 1/d assembly."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.harmonic_centrality(edges, max_hops=3)


def _tbl_vacuum_plan(spark, sf_dir):
    """Vacuum planning audit (tableops.vacuum_audit) over a versioned
    file layout synthesized from orders (700 path groups x 3
    versions; modified = the group-version's max order date; the
    current snapshot references only version 2): live /
    orphan_retained / orphan_delete reclaim report at 365-day
    retention, "now" = the table's max order date carried as a
    column."""
    orders = _t(spark, sf_dir, "orders")
    files = (
        orders.groupBy(
            (F.col("o_orderkey") % 700).alias("_g"),
            (F.col("o_orderkey") % 3).alias("_v"),
        )
        .agg(
            F.count("*").alias("_cnt"),
            F.max(F.to_date("o_orderdate")).alias("modified_day"),
        )
        .select(
            F.concat(
                F.lit("part-"), F.col("_g").cast("string"),
                F.lit("-v"), F.col("_v").cast("string"),
            ).alias("path"),
            (F.col("_cnt") * 500).alias("size_bytes"),
            "modified_day",
            "_v",
        )
    )
    now = orders.agg(F.max(F.to_date("o_orderdate")).alias("now_day"))
    listing = files.crossJoin(F.broadcast(now))
    manifest = files.filter(F.col("_v") == 2).select("path")
    return TO.vacuum_audit(listing, manifest, retention_days=365)


_KENDALL_SQL = """
WITH g AS MATERIALIZED (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS y
  FROM customer GROUP BY 1, 2
), p AS (
  SELECT CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                         OR (a.x > b.x AND a.y > b.y)
                  THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                         OR (a.x > b.x AND a.y < b.y)
                  THEN 1 ELSE 0 END) AS BIGINT) AS d2
  FROM g a CROSS JOIN g b
), tx AS (
  SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT count(*) AS t FROM g GROUP BY x)
), ty AS (
  SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT count(*) AS t FROM g GROUP BY y)
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g)
SELECT n, CAST(c2 / 2 AS BIGINT) AS concordant,
       CAST(d2 / 2 AS BIGINT) AS discordant,
       n1 AS tie_pairs_x, n2 AS tie_pairs_y,
       round((c2 / 2.0 - d2 / 2.0)
             / sqrt(CAST((n * (n - 1) / 2 - n1) AS DOUBLE)
                    * CAST((n * (n - 1) / 2 - n2) AS DOUBLE)), 6)
         AS tau_b
FROM p, tx, ty, nn"""


_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round((value - 250) * 100) AS BIGINT))
              AS BIGINT) AS x_cents
  FROM events GROUP BY 1
), pre AS (
  SELECT day, x_cents,
         sum(x_cents) OVER w AS p_pos,
         sum(-x_cents) OVER w AS p_neg
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), s AS (
  SELECT day, x_cents,
         CAST(p_pos - least(CAST(0 AS BIGINT), min(p_pos) OVER w)
              AS BIGINT) AS s_pos,
         CAST(p_neg - least(CAST(0 AS BIGINT), min(p_neg) OVER w)
              AS BIGINT) AS s_neg
  FROM pre
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT day, x_cents, s_pos, s_neg,
       (s_pos > 50000 OR s_neg > 50000) AS alarm
FROM s"""


def _harmonic_oracle_sql(max_hops: int = 3) -> str:
    """Unrolled multi-source BFS over the thresholded trade graph:
    frontier h = (frontier h-1 join edges) EXCEPT everything already
    reached; integer per-hop counts; fixed-order harmonic assembly."""
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    counts = " UNION ALL ".join(
        f"SELECT src, {h} AS h, count(*) AS nh FROM f{h} GROUP BY src"
        for h in range(1, max_hops + 1)
    )
    harmonic = " + ".join(
        f"sum(CASE WHEN h = {h} THEN nh ELSE 0 END) / {float(h)!r}"
        for h in range(1, max_hops + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
cnt AS ({counts}),
agg AS (
  SELECT src, CAST(sum(nh) AS BIGINT) AS n_reached,
         round({harmonic}, 6) AS harmonic
  FROM cnt GROUP BY src
)
SELECT CAST(n.v AS INT) AS node,
       coalesce(a.n_reached, 0) AS n_reached,
       coalesce(a.harmonic, 0.0) AS harmonic
FROM nodes n LEFT JOIN agg a ON n.v = a.src"""
    )


_VACUUM_SQL = """
WITH files AS MATERIALIZED (
  SELECT 'part-' || CAST(o_orderkey % 700 AS VARCHAR)
           || '-v' || CAST(o_orderkey % 3 AS VARCHAR) AS path,
         CAST(count(*) * 500 AS BIGINT) AS size_bytes,
         max(CAST(o_orderdate AS DATE)) AS modified_day,
         o_orderkey % 3 AS v
  FROM orders GROUP BY o_orderkey % 700, o_orderkey % 3
), now_d AS (SELECT max(CAST(o_orderdate AS DATE)) AS now_day
             FROM orders),
cls AS (
  SELECT CASE WHEN f.v = 2 THEN 'live'
              WHEN date_diff('day', f.modified_day, n.now_day) >= 365
                THEN 'orphan_delete'
              ELSE 'orphan_retained' END AS status,
         f.size_bytes,
         date_diff('day', f.modified_day, n.now_day) AS age
  FROM files f, now_d n
)
SELECT status, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
       CAST(min(age) AS BIGINT) AS min_age_days,
       CAST(max(age) AS BIGINT) AS max_age_days
FROM cls GROUP BY status"""


def _perceptron_oracle_sql(n_epochs: int = 3, dim: int = 8) -> str:
    """Unrolled batch perceptron: per-dim misclassified sums at the
    (epoch, dim) grain, list-assembled weights, every quantity BIGINT
    (DuckDB integer sums are exact, cast back from HUGEINT)."""
    parts = [
        f"""d AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {dim}),
           i -> CAST(floor(CAST(embedding AS DOUBLE[])[i] * 1000)
                     AS BIGINT)) AS x
  FROM embeddings
)""",
        """d2 AS MATERIALIZED (
  SELECT x, CASE WHEN x[1] >= 0 THEN CAST(1 AS BIGINT)
            ELSE CAST(-1 AS BIGINT) END AS y FROM d
)""",
        f"""w0 AS (SELECT list_transform(generate_series(1, {dim}),
  i -> CAST(0 AS BIGINT)) AS w, CAST(0 AS BIGINT) AS b)""",
    ]
    for e in range(1, n_epochs + 1):
        parts.append(
            f"""s{e} AS MATERIALIZED (
  SELECT x, y,
    (y * (list_sum(list_transform(generate_series(1, {dim}),
          i -> x[i] * w[i])) + b) <= 0) AS mis
  FROM d2, w{e - 1})"""
        )
        parts.append(
            f"""g{e} AS MATERIALIZED (
  SELECT i, CAST(sum(CASE WHEN mis THEN y * x[i] ELSE 0 END)
                 AS BIGINT) AS g
  FROM s{e}, generate_series(1, {dim}) t(i) GROUP BY i)"""
        )
        parts.append(
            f"""w{e} AS (
  SELECT list_transform(generate_series(1, {dim}),
           i -> w[i] + gv.dw[i]) AS w,
         b + db.v AS b
  FROM w{e - 1},
       (SELECT list(g ORDER BY i) AS dw FROM g{e}) gv,
       (SELECT CAST(sum(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT)
          AS v FROM s{e}) db)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
f AS (
  SELECT (y * (list_sum(list_transform(generate_series(1, {dim}),
           i -> x[i] * w[i])) + b) <= 0) AS mis, w, b
  FROM d2, w{n_epochs})
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       round(1.0 - avg(CASE WHEN mis THEN 1.0 ELSE 0.0 END), 4)
         AS accuracy,
       any_value(b) AS bias,
       CAST(any_value(list_sum(list_transform(w, t -> abs(t))))
            AS BIGINT) AS w_l1,
       CAST(any_value(list_max(list_transform(w, t -> abs(t))))
            AS BIGINT) AS w_abs_max
FROM f"""
    )


def _r9n_oracles() -> dict[str, str]:
    """Oracles for the fifteenth round-8 staging wave."""
    return {
        "perceptron_fit": _perceptron_oracle_sql(3, 8),
        "agg_kendall_tau": _KENDALL_SQL,
        "evt_cusum": _CUSUM_SQL,
        "graph_harmonic": _harmonic_oracle_sql(3),
        "tbl_vacuum_plan": _VACUUM_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 sixteenth wave: Nelson-Aalen hazard, assortativity,
# Cochran-Armitage trend, file overlap depth, filtered ANN
# ---------------------------------------------------------------------------


def _evt_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of time-to-conversion
    (events.nelson_aalen) over the same signup -> purchase risk table
    km_survival uses: H(t) = sum d/n, Var = sum d/n^2, ordered-window
    prefix sums over the unique day grain (fold order total, 6dp)."""
    from eggv_spark.operators.events import nelson_aalen

    return nelson_aalen(_t(spark, sf_dir, "events"))


def _graph_assortativity(spark, sf_dir):
    """Directed degree assortativity (graph.assortativity) of the
    top-100 rank-thresholded trade graph: Pearson r of (src
    out-degree, dst in-degree) across edges, assembled from six
    exact integer sums."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.assortativity(edges)


def _agg_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test (aggregates.cochran_armitage):
    does the order-failure rate (o_orderstatus = 'F') trend with
    priority order?  Score = the priority's leading digit (1-URGENT
    .. 5-LOW — a genuine ordinal), exact integer sums, 6dp z."""
    orders = _t(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        (F.col("o_orderstatus") == "F").alias("failed"),
    )
    return AG.cochran_armitage(orders, "prio", "failed")


def _tbl_file_overlap_depth(spark, sf_dir):
    """Clustering-depth sweep (tableops.file_overlap_depth) over 300
    file ranges synthesized from orders (min/max total-price cents
    per o_orderkey%300 group — heavily overlapping, i.e. an
    unclustered layout): +1/-1 boundary deltas, one cumulative
    window, exact integer depths."""
    files = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 300).alias("_g"))
        .agg(
            F.min(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("min_key"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("max_key"),
        )
        .select(
            F.concat(F.lit("part-"), F.col("_g").cast("string"))
            .alias("path"),
            "min_key", "max_key",
        )
    )
    return TO.file_overlap_depth(files)


def _sim_filtered_ivf_topk(spark, sf_dir):
    """Metadata-FILTERED ANN — the production "vector search with a
    WHERE clause" shape: restrict the corpus to label <= 4 (half the
    classes) and run the same IVF probe as sim_ivf_topk.  Because
    the centroids are fixed literals, per-vector cell assignment is
    row-independent, so pushing the filter below the index build is
    EXACTLY pre-filtered IVF (filter the postings, then probe) —
    predicate pushdown reaches the parquet scan, the index is built
    over only the matching half, and recall semantics are exact
    post-filter."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb.filter(F.col("label") <= 4),
        emb.filter("vec_id % 50 = 0"),
        k=5, n_probe=10,
    )


_NELSON_AALEN_SQL = (
    "WITH tmax AS (SELECT max(ts) AS tm FROM events),"
    " pu AS (SELECT user_id,"
    "  min(CASE WHEN event_type = 'signup' THEN ts END) AS t0"
    "  FROM events GROUP BY 1),"
    " ft AS (SELECT e.user_id, min(e.ts) AS tp FROM events e"
    "  JOIN pu ON e.user_id = pu.user_id"
    "  WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL"
    "  AND e.ts >= pu.t0 GROUP BY 1),"
    " dur AS (SELECT CASE WHEN ft.tp IS NOT NULL THEN"
    "   datediff('day', CAST(pu.t0 AS DATE), CAST(ft.tp AS DATE))"
    "  ELSE datediff('day', CAST(pu.t0 AS DATE), CAST(tmax.tm AS DATE))"
    "  END AS day,"
    "  CASE WHEN ft.tp IS NOT NULL THEN 1 ELSE 0 END AS ev"
    "  FROM pu LEFT JOIN ft USING (user_id), tmax"
    "  WHERE pu.t0 IS NOT NULL),"
    " pd AS (SELECT day, sum(ev) AS d_events, count(*) AS total"
    "  FROM dur GROUP BY 1),"
    " st AS (SELECT day, d_events, sum(total) OVER (ORDER BY day DESC"
    "  ROWS UNBOUNDED PRECEDING) AS n_at_risk FROM pd)"
    " SELECT day, CAST(d_events AS BIGINT) AS d_events,"
    " CAST(n_at_risk AS BIGINT) AS n_at_risk,"
    " round(sum(CAST(d_events AS DOUBLE) / n_at_risk)"
    "  OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard,"
    " round(sum(CAST(d_events AS DOUBLE)"
    "   / (CAST(n_at_risk AS DOUBLE) * n_at_risk))"
    "  OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS hazard_var"
    " FROM st"
)


_ASSORTATIVITY_SQL = f"""
WITH {_TRADE_TOPK_SQL},
od AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS od
       FROM topk GROUP BY src),
idg AS (SELECT dst AS n, CAST(count(*) AS BIGINT) AS id
        FROM topk GROUP BY dst),
t AS (SELECT od.od AS x, idg.id AS y
      FROM topk e JOIN od ON e.src = od.n JOIN idg ON e.dst = idg.n),
s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM t)
SELECT m AS n_edges,
       round(CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * (m * syy - sy * sy)), 6) AS r
FROM s"""


_COCHRAN_ARMITAGE_SQL = """
WITH b AS (
  SELECT CAST(left(o_orderpriority, 1) AS BIGINT) AS t,
         CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS y
  FROM orders
), lev AS (
  SELECT t, CAST(sum(y) AS BIGINT) AS r, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY t
), s AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(r) AS BIGINT) AS n_success,
         CAST(count(*) AS BIGINT) AS n_levels,
         CAST(sum(t * r) AS BIGINT) AS str,
         CAST(sum(t * n) AS BIGINT) AS stn,
         CAST(sum(t * t * n) AS BIGINT) AS sttn
  FROM lev
)
SELECT n, n_success, n_levels,
       round(str - CAST(n_success AS DOUBLE) / n * stn, 6) AS t_stat,
       round((str - CAST(n_success AS DOUBLE) / n * stn)
             / sqrt(CAST(n_success AS DOUBLE) / n
                    * (1.0 - CAST(n_success AS DOUBLE) / n)
                    * (sttn - CAST(stn AS DOUBLE) * stn / n)), 6)
         AS z
FROM s"""


_OVERLAP_DEPTH_SQL = """
WITH files AS MATERIALIZED (
  SELECT o_orderkey % 300 AS g,
         CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS mn,
         CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS mx
  FROM orders GROUP BY 1
), pts AS (
  SELECT mn AS boundary, CAST(1 AS BIGINT) AS d,
         CAST(1 AS BIGINT) AS st, CAST(0 AS BIGINT) AS en FROM files
  UNION ALL
  SELECT mx + 1, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
         CAST(1 AS BIGINT) FROM files
), pp AS (
  SELECT boundary, CAST(sum(d) AS BIGINT) AS dd,
         CAST(sum(st) AS BIGINT) AS n_starting,
         CAST(sum(en) AS BIGINT) AS n_ending
  FROM pts GROUP BY boundary
)
SELECT boundary,
       CAST(sum(dd) OVER (ORDER BY boundary ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS depth,
       n_starting, n_ending
FROM pp"""


def _filtered_ivf_oracle() -> str:
    """The sim_ivf_topk oracle with the corpus restricted to
    label <= 4 (queries stay unfiltered): cell assignment is
    row-independent (fixed centroid literals), so pre-filtering the
    postings is exact."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe, k = 64, 16, 10, 5
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
cellcos AS (SELECT vec_id, label, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(cv, cv))), 6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, label, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE label <= 4 AND crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells
           WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
scored AS (SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k}"""


def _r9o_oracles() -> dict[str, str]:
    """Oracles for the sixteenth round-8 staging wave."""
    return {
        "evt_nelson_aalen": _NELSON_AALEN_SQL,
        "graph_assortativity": _ASSORTATIVITY_SQL,
        "agg_cochran_armitage": _COCHRAN_ARMITAGE_SQL,
        "tbl_file_overlap_depth": _OVERLAP_DEPTH_SQL,
        "sim_filtered_ivf_topk": _filtered_ivf_oracle(),
    }


# ---------------------------------------------------------------------------
# round-8 seventeenth wave: log-rank test, dedup funnel, IVF cell
# stats, Fleiss kappa
# ---------------------------------------------------------------------------


def _evt_logrank(spark, sf_dir):
    """Two-group log-rank test (events.logrank_test) on
    time-to-conversion, users split 50/50 by the portable md5 hash
    (the same assignment as evt_ab_test / cuped): O/E/V accumulated
    as ordered prefix sums over the union day spine, read off the
    max-day row."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import logrank_test

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant",
        F.when(base_hash(F.col("user_id").cast("string")) % 2 == 0, "A")
        .otherwise("B"),
    )
    return logrank_test(ev)


def _composite_dedup_funnel(spark, sf_dir):
    """The dedup pipeline as a FUNNEL readout — the one-row survivor
    accounting a corpus-curation dashboard leads with: input docs
    (plants included) -> exact-unique survivors (md5 content hash,
    min-id keeper) -> verified near-dup pairs among the survivors
    (the full banded-MinHash chain over the exact-dedup OUTPUT — the
    production staging order: exact first, it is 100x cheaper) ->
    docs implicated in a near-dup pair.  One plan: the exact stage's
    keeper semi-join feeds the LSH stage directly."""
    docs = _docs_with_dups(spark, sf_dir)
    keepers = D.exact_dedupe(docs)
    survivors = docs.join(
        keepers.select(F.col("keeper_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    pairs = D.minhash_neardup_pairs(survivors, threshold=0.7)
    n_input = docs.agg(F.count("*").alias("n_input"))
    n_unique = keepers.agg(F.count("*").alias("n_exact_unique"))
    n_pairs = pairs.agg(F.count("*").alias("n_neardup_pairs"))
    n_docs_in_pairs = (
        pairs.select(F.col("id_a").alias("d"))
        .union(pairs.select(F.col("id_b").alias("d")))
        .agg(F.count_distinct("d").alias("n_docs_in_pairs"))
    )
    return (
        n_input.crossJoin(F.broadcast(n_unique))
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_docs_in_pairs))
        .select(
            "n_input", "n_exact_unique",
            (F.col("n_input") - F.col("n_exact_unique"))
            .alias("n_exact_removed"),
            "n_neardup_pairs", "n_docs_in_pairs",
        )
    )


def _sim_ivf_cell_stats(spark, sf_dir):
    """IVF index health (similarity.ivf_cell_stats): per-cell
    occupancy with empty cells kept as zero rows, plus the global
    imbalance factor n_cells*max/total — the probe-latency-skew
    predictor a centroid-refresh decision reads."""
    return S.ivf_cell_stats(_t(spark, sf_dir, "embeddings"))


def _agg_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (aggregates.fleiss_kappa) across three
    deterministic raters of the events stream (threshold labeler +
    two md5 judges — the multi-model-judge labeling QA): binary
    categories, exact integer count sums, 6dp kappa."""
    from eggv_spark.operators.dedupe import base_hash

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    r1 = (F.col("value") > 50).cast("bigint")
    r2 = (
        F.pmod(base_hash(F.col("event_id").cast("string")), F.lit(100)) < 40
    ).cast("bigint")
    r3 = (
        F.pmod(
            base_hash(F.concat(F.col("event_id").cast("string"), F.lit("r3"))),
            F.lit(100),
        )
        < 60
    ).cast("bigint")
    items = ev.select(
        (r1 + r2 + r3).alias("c_yes"),
        (F.lit(3) - r1 - r2 - r3).alias("c_no"),
    )
    return AG.fleiss_kappa(items, ["c_yes", "c_no"])


_LOGRANK_SQL = f"""
WITH tmax AS (SELECT max(ts) AS tm FROM events),
pu AS (SELECT user_id,
  min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
  FROM events GROUP BY 1),
uv AS (SELECT user_id, {_AB_VARIANT_SQL} AS variant
       FROM (SELECT DISTINCT user_id FROM events)),
ft AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
  JOIN pu ON e.user_id = pu.user_id
  WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL
  AND e.ts >= pu.t0 GROUP BY 1),
dur AS (SELECT CASE WHEN ft.tp IS NOT NULL THEN
   datediff('day', CAST(pu.t0 AS DATE), CAST(ft.tp AS DATE))
  ELSE datediff('day', CAST(pu.t0 AS DATE), CAST(tmax.tm AS DATE))
  END AS day,
  CASE WHEN ft.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
  (uv.variant = 'A') AS is_a
  FROM pu LEFT JOIN ft USING (user_id)
       JOIN uv USING (user_id), tmax
  WHERE pu.t0 IS NOT NULL),
pd AS (SELECT day,
  CAST(sum(CASE WHEN is_a THEN ev ELSE 0 END) AS BIGINT) AS d_a,
  CAST(sum(CASE WHEN is_a THEN 0 ELSE ev END) AS BIGINT) AS d_b,
  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS t_b
  FROM dur GROUP BY 1),
st AS (SELECT day, d_a, d_b,
  CAST(sum(t_a) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS n_a,
  CAST(sum(t_b) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS n_b
  FROM pd),
cum AS (SELECT day,
  CAST(sum(d_a) OVER w AS BIGINT) AS observed_a,
  sum((d_a + d_b) * n_a / (n_a + n_b)) OVER w AS e,
  sum(CASE WHEN n_a + n_b > 1 THEN
    (d_a + d_b) * (n_a / CAST(n_a + n_b AS DOUBLE))
    * (CAST(n_b AS DOUBLE) / (n_a + n_b))
    * ((n_a + n_b) - (d_a + d_b)) / ((n_a + n_b) - 1)
    ELSE 0.0 END) OVER w AS v,
  max(n_a) OVER w AS n_users_a,
  max(n_b) OVER w AS n_users_b
  FROM st
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
SELECT CAST(n_users_a AS BIGINT) AS n_users_a,
       CAST(n_users_b AS BIGINT) AS n_users_b,
       observed_a,
       round(e, 6) AS expected_a,
       round(v, 6) AS variance,
       round((observed_a - e) / sqrt(v), 6) AS z,
       round(((observed_a - e) / sqrt(v))
             * ((observed_a - e) / sqrt(v)), 6) AS chi2
FROM cum WHERE day = (SELECT max(day) FROM cum)"""


def _dedup_funnel_oracle_sql() -> str:
    """Funnel oracle: the exact-hash keeper set as a derived table,
    the VALIDATED minhash chain re-run over the survivors."""
    survivors_sql = f"""
SELECT a.doc_id, a.text FROM ({_DUPDOCS_SQL}) a
JOIN (SELECT min(doc_id) AS doc_id FROM ({_DUPDOCS_SQL})
      GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) k
  ON a.doc_id = k.doc_id"""
    return f"""
WITH pos AS ({_minhash_oracle(survivors_sql)}),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_input
       FROM ({_DUPDOCS_SQL})),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_unique FROM
       (SELECT min(doc_id) FROM ({_DUPDOCS_SQL})
        GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs FROM pos),
nd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_docs_in_pairs
       FROM (SELECT id_a AS d FROM pos
             UNION ALL SELECT id_b AS d FROM pos))
SELECT n_input, n_exact_unique,
       n_input - n_exact_unique AS n_exact_removed,
       n_neardup_pairs, n_docs_in_pairs
FROM ni, nu, np, nd"""


def _ivf_cell_stats_oracle() -> str:
    """Per-cell occupancy + imbalance over the same deterministic
    assignment CTE as the IVF probe oracle, empty cells kept via the
    generate_series spine."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids = 64, 16
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(cv, cv))), 6) AS ccos
    FROM v CROSS JOIN cent),
assign AS (SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos) WHERE crank = 1),
pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assign
       GROUP BY cell),
spine AS (SELECT CAST(g AS INT) AS cell
          FROM generate_series(0, {n_centroids - 1}) t(g)),
filled AS (SELECT s.cell, coalesce(pc.n, 0) AS n_vectors
           FROM spine s LEFT JOIN pc ON s.cell = pc.cell),
g AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS tot,
             CAST(max(n_vectors) AS BIGINT) AS mx FROM filled)
SELECT cell, CAST(n_vectors AS BIGINT) AS n_vectors,
       round(CAST(n_vectors AS DOUBLE) / tot, 6) AS share,
       round(CAST({n_centroids} * mx AS DOUBLE) / tot, 6)
         AS imbalance_factor
FROM filled, g"""


_FLEISS_SQL = f"""
WITH r AS (
  SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END
         + CASE WHEN {_BASEHASH_SQL.format(x="CAST(event_id AS VARCHAR)")}
                % 100 < 40 THEN 1 ELSE 0 END
         + CASE WHEN {_BASEHASH_SQL.format(
             x="concat(CAST(event_id AS VARCHAR), 'r3')")}
                % 100 < 60 THEN 1 ELSE 0 END AS c_yes
  FROM events WHERE value IS NOT NULL
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(c_yes * c_yes + (3 - c_yes) * (3 - c_yes))
              AS BIGINT) AS ssq,
         CAST(sum(c_yes) AS BIGINT) AS s_yes,
         CAST(sum(3 - c_yes) AS BIGINT) AS s_no
  FROM r
)
SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
       round(CAST(ssq - n_items * 3 AS DOUBLE)
             / (n_items * 3 * 2), 6) AS p_bar,
       round((CAST(s_yes AS DOUBLE) / (n_items * 3))
             * (CAST(s_yes AS DOUBLE) / (n_items * 3))
             + (CAST(s_no AS DOUBLE) / (n_items * 3))
             * (CAST(s_no AS DOUBLE) / (n_items * 3)), 6) AS p_e,
       round((CAST(ssq - n_items * 3 AS DOUBLE) / (n_items * 3 * 2)
              - ((CAST(s_yes AS DOUBLE) / (n_items * 3))
                 * (CAST(s_yes AS DOUBLE) / (n_items * 3))
                 + (CAST(s_no AS DOUBLE) / (n_items * 3))
                 * (CAST(s_no AS DOUBLE) / (n_items * 3))))
             / (1.0 - ((CAST(s_yes AS DOUBLE) / (n_items * 3))
                 * (CAST(s_yes AS DOUBLE) / (n_items * 3))
                 + (CAST(s_no AS DOUBLE) / (n_items * 3))
                 * (CAST(s_no AS DOUBLE) / (n_items * 3)))), 6)
         AS kappa
FROM s"""


def _r9p_oracles() -> dict[str, str]:
    """Oracles for the seventeenth round-8 staging wave."""
    return {
        "evt_logrank": _LOGRANK_SQL,
        "composite_dedup_funnel": _dedup_funnel_oracle_sql(),
        "sim_ivf_cell_stats": _ivf_cell_stats_oracle(),
        "agg_fleiss_kappa": _FLEISS_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 eighteenth wave: CMH test, reciprocity, local clustering,
# PQ distortion audit, Qini curve
# ---------------------------------------------------------------------------


def _agg_cmh_test(spark, sf_dir):
    """Cochran-Mantel-Haenszel stratified association
    (aggregates.cmh_test): exposure = md5 customer split, outcome =
    order failure, stratified by priority — the Simpson's-paradox-
    safe pooled 2x2, E/V pooled as ordered prefix sums."""
    from eggv_spark.operators.dedupe import base_hash

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        (base_hash(F.col("o_custkey").cast("string")) % 2 == 0)
        .alias("exposed"),
        (F.col("o_orderstatus") == "F").alias("failed"),
    )
    return AG.cmh_test(orders, "stratum", "exposed", "failed")


def _graph_reciprocity(spark, sf_dir):
    """Directed reciprocity (graph.reciprocity) of the top-100
    rank-thresholded trade graph: distinct pass + swapped-pair
    left-semi self-join, exact integer counts."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.reciprocity(edges)


def _graph_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient
    (graph.local_clustering) on the thresholded trade graph:
    wedge-join + closing-edge probe kept as rows, 3-corner explode
    credit, exact integer degrees/triangles."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.local_clustering(edges)


def _sim_pq_distortion(spark, sf_dir):
    """PQ reconstruction-error audit (similarity.pq_distortion):
    per-subspace mean/max of the encoder's own argmin squared
    distance — the codebook-refresh budget allocator."""
    return S.pq_distortion(_t(spark, sf_dir, "embeddings"))


def _evt_qini_curve(spark, sf_dir):
    """Qini uplift curve (events.qini_curve): md5 50/50 treatment,
    high-value-purchase conversion (the evt_ab_test outcome), score
    deciles from an independent md5 hash (integer-div bucket
    assignment — engine-exact), cumulative incremental conversions
    per prefix."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import qini_curve

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 450),
                1,
            ).otherwise(0)
        ).alias("_conv")
    ).select(
        (
            F.pmod(
                base_hash(
                    F.concat(F.col("user_id").cast("string"), F.lit("score"))
                ),
                F.lit(100),
            )
            / F.lit(10)
        ).cast("int").alias("bucket"),
        (base_hash(F.col("user_id").cast("string")) % 2 == 0)
        .alias("treated"),
        (F.col("_conv") == 1).alias("converted"),
    )
    return qini_curve(units)


_CMH_SQL = f"""
WITH b AS (
  SELECT o_orderpriority AS k,
         ({_BASEHASH_SQL.format(x="CAST(o_custkey AS VARCHAR)")} % 2 = 0)
           AS e,
         (o_orderstatus = 'F') AS y
  FROM orders
), pk AS (
  SELECT k,
         CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY k
), cum AS (
  SELECT k,
         CAST(count(*) OVER w AS BIGINT) AS n_strata,
         CAST(sum(a) OVER w AS BIGINT) AS observed,
         sum(r1 * c1 / n) OVER w AS e_cum,
         sum(CASE WHEN n > 1 THEN
               CAST(r1 * (n - r1) AS DOUBLE) * (c1 * (n - c1))
               / (n * n * (n - 1))
             ELSE 0.0 END) OVER w AS v_cum
  FROM pk
  WINDOW w AS (ORDER BY k ROWS UNBOUNDED PRECEDING)
)
SELECT n_strata, observed,
       round(e_cum, 6) AS expected,
       round(v_cum, 6) AS variance,
       round((observed - e_cum) * (observed - e_cum) / v_cum, 6)
         AS chi2
FROM cum WHERE k = (SELECT max(k) FROM pk)"""


_RECIPROCITY_SQL = f"""
WITH {_TRADE_TOPK_SQL},
e AS (SELECT DISTINCT src AS a, dst AS b FROM topk WHERE src <> dst),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocated
      FROM e WHERE EXISTS (SELECT 1 FROM e e2
                           WHERE e2.a = e.b AND e2.b = e.a)),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_reciprocated,
       round(CAST(n_reciprocated AS DOUBLE) / n_edges, 6)
         AS reciprocity
FROM t, r"""


_LOCAL_CLUSTERING_SQL = f"""
WITH {_TRADE_TOPK_SQL},
canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM topk WHERE src <> dst),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon)
  GROUP BY node),
tri AS MATERIALIZED (
  SELECT l.a AS x, l.b AS y, r.b AS z
  FROM canon l JOIN canon r ON l.b = r.a
  WHERE EXISTS (SELECT 1 FROM canon c
                WHERE c.a = l.a AND c.b = r.b)),
credits AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri) GROUP BY node)
SELECT CAST(d.node AS INT) AS node, d.degree,
       coalesce(c.triangles, 0) AS triangles,
       CASE WHEN d.degree < 2 THEN 0.0
            ELSE round(coalesce(c.triangles, 0)
                       / (d.degree * (d.degree - 1) / 2.0), 6)
       END AS lcc
FROM deg d LEFT JOIN credits c ON d.node = c.node"""


def _pq_distortion_oracle() -> str:
    """Per-subspace min-distance stats over the same codebook
    literals and 6dp per-pair rounding as the PQ encode oracle."""
    from eggv_spark.operators.similarity import _pq_codebook

    dim, m, k = 64, 8, 16
    sub_dim = dim // m
    rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cb(sub, c, cv) AS (VALUES {rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sd AS (SELECT vec_id, sub,
    min(round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cv[i])
             * (v[sub * {sub_dim} + i] - cv[i]))), 6)) AS d
    FROM v CROSS JOIN cb GROUP BY vec_id, sub)
SELECT CAST(sub AS INT) AS sub,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(d), 4) AS mean_sqdist,
       round(max(d), 6) AS max_sqdist
FROM sd GROUP BY sub"""


_QINI_SQL = f"""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 450
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), units AS (
  SELECT CAST({_BASEHASH_SQL.format(
      x="concat(CAST(user_id AS VARCHAR), 'score')")} % 100 // 10
      AS INT) AS b,
    ({_BASEHASH_SQL.format(x="CAST(user_id AS VARCHAR)")} % 2 = 0)
      AS t,
    (conv = 1) AS y
  FROM u
), pb AS (
  SELECT b,
    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS nc,
    CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS BIGINT) AS ct,
    CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS BIGINT) AS cc
  FROM units GROUP BY b
), cum AS (
  SELECT CAST(b AS INT) AS bucket,
    CAST(sum(nt) OVER w AS BIGINT) AS n_treated_cum,
    CAST(sum(nc) OVER w AS BIGINT) AS n_control_cum,
    CAST(sum(ct) OVER w AS BIGINT) AS conv_treated_cum,
    CAST(sum(cc) OVER w AS BIGINT) AS conv_control_cum
  FROM pb
  WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)
)
SELECT bucket, n_treated_cum, n_control_cum, conv_treated_cum,
       conv_control_cum,
       round(conv_treated_cum - conv_control_cum
             * (CAST(n_treated_cum AS DOUBLE) / n_control_cum), 6)
         AS qini
FROM cum"""


def _r9q_oracles() -> dict[str, str]:
    """Oracles for the eighteenth round-8 staging wave."""
    return {
        "agg_cmh_test": _CMH_SQL,
        "graph_reciprocity": _RECIPROCITY_SQL,
        "graph_local_clustering": _LOCAL_CLUSTERING_SQL,
        "sim_pq_distortion": _pq_distortion_oracle(),
        "evt_qini_curve": _QINI_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 nineteenth wave: LSH band stats, G-test, SMD balance,
# Wilson CI, seasonal-naive backtest
# ---------------------------------------------------------------------------


def _ddp_lsh_band_stats(spark, sf_dir):
    """LSH bucket-size profile (dedupe.lsh_band_stats) over the
    planted-dups corpus — the quadratic-blowup early warning: per
    band, bucket counts, max bucket, and the implied candidate-pair
    load, computed arithmetically (no pair join materialized)."""
    return D.lsh_band_stats(_docs_with_dups(spark, sf_dir))


def _agg_g_test(spark, sf_dir):
    """Likelihood-ratio G-test (aggregates.g_test) of priority ×
    status independence on orders: exact integer cells/margins,
    cell terms pooled as ordered prefix sums."""
    return AG.g_test(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


def _agg_smd_balance(spark, sf_dir):
    """Covariate balance check (aggregates.smd_balance) for the md5
    customer split on orders: price cents, epoch order day, priority
    digit — integer-quantized per the operator contract; a hash
    split should balance (|SMD| small), making this the negative
    control a causal pipeline must pass."""
    from eggv_spark.operators.dedupe import base_hash

    orders = _t(spark, sf_dir, "orders").select(
        (base_hash(F.col("o_custkey").cast("string")) % 2 == 0)
        .alias("treated"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("price_cents"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).cast("bigint").alias("order_epoch_day"),
        F.substring("o_orderpriority", 1, 1).cast("bigint")
        .alias("prio_digit"),
    )
    return AG.smd_balance(
        orders, "treated",
        ["price_cents", "order_epoch_day", "prio_digit"],
    )


def _agg_wilson_ci(spark, sf_dir):
    """Wilson score interval (aggregates.wilson_ci) for the order
    failure rate per priority — the boundary-safe proportion CI,
    exactly reproducible from (n, s)."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderstatus") == "F").alias("failed"),
    )
    return AG.wilson_ci(orders, "prio", "failed")


def _evt_seasonal_naive_error(spark, sf_dir):
    """Seasonal-naive MAE/MAPE backtest (events.seasonal_naive_error,
    season=7) over the daily cents series — the baseline every
    forecaster must beat and the model-free drift tripwire."""
    from eggv_spark.operators.events import seasonal_naive_error

    return seasonal_naive_error(_t(spark, sf_dir, "events"))


def _lsh_band_stats_oracle() -> str:
    """Bucket-size stats over the same shingle/signature/band CTEs
    as the validated minhash oracle."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
buckets AS (SELECT band, band_key, CAST(count(*) AS BIGINT) AS s
            FROM bands GROUP BY band, band_key)
SELECT CAST(band AS INT) AS band,
       CAST(sum(s) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(s) AS BIGINT) AS max_bucket_size,
       CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs,
       round(CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS singleton_frac
FROM buckets GROUP BY band"""


_G_TEST_SQL = """
WITH b AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c FROM orders
), cells AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY r, c
), rm AS (SELECT r, CAST(count(*) AS BIGINT) AS rn FROM b GROUP BY r),
cm AS (SELECT c, CAST(count(*) AS BIGINT) AS cn FROM b GROUP BY c),
g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT c) AS BIGINT) AS n_cols FROM b),
cum AS (
  SELECT cells.r, cells.c, g.n, g.n_rows, g.n_cols,
         sum(CASE WHEN o > 0 THEN
               2.0 * o * ln(o / (rm.rn * cm.cn / g.n))
             ELSE 0.0 END)
           OVER (ORDER BY cells.r, cells.c
                 ROWS UNBOUNDED PRECEDING) AS gs
  FROM cells JOIN rm USING (r) JOIN cm USING (c), g
)
SELECT n, n_rows, n_cols,
       (n_rows - 1) * (n_cols - 1) AS dof,
       round(gs, 6) AS g_stat
FROM cum ORDER BY r DESC, c DESC LIMIT 1"""


_SMD_SQL = f"""
WITH base AS (
  SELECT ({_BASEHASH_SQL.format(x="CAST(o_custkey AS VARCHAR)")} % 2 = 0)
           AS t,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         CAST(datediff('day', DATE '1970-01-01',
              CAST(o_orderdate AS DATE)) AS BIGINT) AS order_epoch_day,
         CAST(left(o_orderpriority, 1) AS BIGINT) AS prio_digit
  FROM orders
), melted AS (
  SELECT t, 'price_cents' AS cov, price_cents AS v FROM base
  UNION ALL
  SELECT t, 'order_epoch_day', order_epoch_day FROM base
  UNION ALL
  SELECT t, 'prio_digit', prio_digit FROM base
), per AS (
  SELECT cov,
    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_control,
    CAST(sum(CASE WHEN t THEN v ELSE 0 END) AS BIGINT) AS st,
    CAST(sum(CASE WHEN t THEN 0 ELSE v END) AS BIGINT) AS sc,
    sum(CASE WHEN t THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qt,
    sum(CASE WHEN t THEN 0 ELSE CAST(v AS HUGEINT) * v END) AS qc
  FROM melted GROUP BY cov
)
SELECT cov AS covariate, n_treated, n_control,
       round(st / n_treated, 6) AS mean_treated,
       round(sc / n_control, 6) AS mean_control,
       round((st / n_treated - sc / n_control)
             / sqrt(((CAST(qt AS DOUBLE)
                      - CAST(st AS DOUBLE) * st / n_treated)
                     / (n_treated - 1)
                     + (CAST(qc AS DOUBLE)
                        - CAST(sc AS DOUBLE) * sc / n_control)
                     / (n_control - 1)) / 2.0), 6) AS smd
FROM per"""


_WILSON_SQL = """
WITH per AS (
  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM orders GROUP BY 1
)
SELECT grp AS "group", n, s AS successes,
       round(s / n, 6) AS p_hat,
       round((s / n + (1.96 * 1.96) / (2.0 * n)) / (1.0 + (1.96 * 1.96) / n)
             - 1.96 * sqrt((s / n) * (1.0 - s / n) / n
                           + (1.96 * 1.96) / (4.0 * n * n))
               / (1.0 + (1.96 * 1.96) / n), 6) AS ci_low,
       round((s / n + (1.96 * 1.96) / (2.0 * n)) / (1.0 + (1.96 * 1.96) / n)
             + 1.96 * sqrt((s / n) * (1.0 - s / n) / n
                           + (1.96 * 1.96) / (4.0 * n * n))
               / (1.0 + (1.96 * 1.96) / n), 6) AS ci_high
FROM per"""


_SEASONAL_NAIVE_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS x_cents
  FROM events GROUP BY 1
), scored AS (
  SELECT day, x_cents,
         lag(x_cents, 7) OVER (ORDER BY day) AS pred
  FROM daily
), cum AS (
  SELECT day,
    CAST(count(*) OVER w AS BIGINT) AS n_days,
    CAST(count(pred) OVER w AS BIGINT) AS n_scored,
    CAST(sum(CASE WHEN pred IS NOT NULL THEN abs(x_cents - pred)
             ELSE 0 END) OVER w AS BIGINT) AS total_abs_err_cents,
    sum(CASE WHEN pred IS NOT NULL THEN
          CAST(abs(x_cents - pred) AS DOUBLE)
          / CAST(abs(x_cents) AS DOUBLE) END) OVER w AS ape_sum
  FROM scored
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
)
SELECT n_days, n_scored, total_abs_err_cents,
       round(CAST(total_abs_err_cents AS DOUBLE) / n_scored / 100.0,
             4) AS mae,
       round(ape_sum / n_scored, 6) AS mape
FROM cum ORDER BY day DESC LIMIT 1"""


def _r9r_oracles() -> dict[str, str]:
    """Oracles for the nineteenth round-8 staging wave."""
    return {
        "ddp_lsh_band_stats": _lsh_band_stats_oracle(),
        "agg_g_test": _G_TEST_SQL,
        "agg_smd_balance": _SMD_SQL,
        "agg_wilson_ci": _WILSON_SQL,
        "evt_seasonal_naive_error": _SEASONAL_NAIVE_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 twentieth wave: SCC, MH odds ratio, WOE encoding,
# streaming CUSUM
# ---------------------------------------------------------------------------


def _graph_scc(spark, sf_dir):
    """Hop-bounded strongly connected components (graph.scc,
    max_hops=4) on the thresholded trade graph: frontier closure +
    ONE swapped self-join for mutual reachability, min-label ids,
    component sizes.  Output columns are bounded_scc_id /
    bounded_scc_size — the bound is part of the contract (round-8
    advice): mutual reach within 4 hops is not transitive, so the
    labels are an exact SCC partition only when every component's
    diameter fits the bound."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.scc(edges, max_hops=4)


def _agg_mh_odds_ratio(spark, sf_dir):
    """Mantel-Haenszel common odds ratio (aggregates.mh_odds_ratio)
    on the same stratified fixture as agg_cmh_test — the effect size
    to cmh_test's significance."""
    from eggv_spark.operators.dedupe import base_hash

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        (base_hash(F.col("o_custkey").cast("string")) % 2 == 0)
        .alias("exposed"),
        (F.col("o_orderstatus") == "F").alias("failed"),
    )
    return AG.mh_odds_ratio(orders, "stratum", "exposed", "failed")


def _fe_woe_encoding(spark, sf_dir):
    """Weight-of-evidence + information value per market segment for
    the high-balance label (aggregates.woe_encoding, Laplace 0.5):
    the risk-model categorical encoder, integer counts + one 1-row
    totals broadcast."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 5000).alias("rich")
    )
    return AG.woe_encoding(cust, "c_mktsegment", "rich")


def _stream_cusum(spark, sf_dir):
    """Stateful streaming CUSUM per user (applyInPandasWithState,
    two BIGINT scalars of state): integer recursion held directly;
    availableNow replay must equal the batch prefix-minimum window
    SQL — which is the oracle."""
    from eggv_spark.streaming import events_stream as ES

    return ES.run_available_now(
        ES.streaming_cusum(ES.read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


def _scc_oracle_sql(max_hops: int = 4) -> str:
    """Unrolled closure + swapped mutual join + min-label + sizes."""
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    return (
        "WITH " + ",\n".join(parts)
        + f""",
reach AS MATERIALIZED ({reach_union}),
mutual AS (SELECT r.src, r.cur FROM reach r
           WHERE EXISTS (SELECT 1 FROM reach s
                         WHERE s.src = r.cur AND s.cur = r.src)),
labels AS (SELECT src, min(cur) AS scc_id FROM mutual GROUP BY src),
sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
          FROM labels GROUP BY scc_id)
SELECT CAST(l.src AS INT) AS node,
       CAST(l.scc_id AS INT) AS bounded_scc_id,
       s.scc_size AS bounded_scc_size
FROM labels l JOIN sizes s USING (scc_id)"""
    )


_MH_OR_SQL = f"""
WITH b AS (
  SELECT o_orderpriority AS k,
         ({_BASEHASH_SQL.format(x="CAST(o_custkey AS VARCHAR)")} % 2 = 0)
           AS e,
         (o_orderstatus = 'F') AS y
  FROM orders
), pk AS (
  SELECT k,
    CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS bb,
    CAST(sum(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
      AS d,
    CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY k
), cum AS (
  SELECT k,
    CAST(count(*) OVER w AS BIGINT) AS n_strata,
    sum(a * d / n) OVER w AS sad,
    sum(bb * c / n) OVER w AS sbc
  FROM pk
  WINDOW w AS (ORDER BY k ROWS UNBOUNDED PRECEDING)
)
SELECT n_strata, round(sad, 6) AS sum_ad_n, round(sbc, 6) AS sum_bc_n,
       round(sad / sbc, 6) AS or_mh,
       round(ln(sad / sbc), 6) AS log_or_mh
FROM cum WHERE k = (SELECT max(k) FROM pk)"""


_WOE_SQL = """
WITH per AS (
  SELECT c_mktsegment AS category, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events
  FROM customer GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn,
         CAST(sum(n_events) AS BIGINT) AS te,
         CAST(count(*) AS BIGINT) AS k
  FROM per
)
SELECT category, n, n_events,
       round(ln(((n_events + 0.5) / (te + 0.5 * k))
                / ((n - n_events + 0.5) / (tn - te + 0.5 * k))), 6)
         AS woe,
       round(((n_events + 0.5) / (te + 0.5 * k)
              - (n - n_events + 0.5) / (tn - te + 0.5 * k))
             * ln(((n_events + 0.5) / (te + 0.5 * k))
                  / ((n - n_events + 0.5) / (tn - te + 0.5 * k))), 6)
         AS iv
FROM per, tot"""


_STREAM_CUSUM_SQL = """
WITH x AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS x_cents
  FROM events
), p AS (
  SELECT event_id, user_id, ts, x_cents,
         sum(x_cents - 16000) OVER w AS p_pos,
         sum(16000 - x_cents) OVER w AS p_neg
  FROM x
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
), s AS (
  SELECT event_id, user_id, x_cents,
         CAST(p_pos - least(CAST(0 AS BIGINT), min(p_pos) OVER w)
              AS BIGINT) AS s_pos,
         CAST(p_neg - least(CAST(0 AS BIGINT), min(p_neg) OVER w)
              AS BIGINT) AS s_neg
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, x_cents, s_pos, s_neg,
       (s_pos > 100000 OR s_neg > 100000) AS alarm
FROM s"""


def _r9s_oracles() -> dict[str, str]:
    """Oracles for the twentieth round-8 staging wave."""
    return {
        "graph_scc": _scc_oracle_sql(4),
        "agg_mh_odds_ratio": _MH_OR_SQL,
        "fe_woe_encoding": _WOE_SQL,
        "stream_cusum": _STREAM_CUSUM_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 twenty-first wave: duplicated-sentence audit, partial
# correlation, peak detection, ANN health gate
# ---------------------------------------------------------------------------


def _txt_dup_sentence_filter(spark, sf_dir):
    """Repeated-sentence audit (text_analysis.dup_sentence_filter,
    min_count=2) over the planted-dups corpus — every plant's
    sentences occur in >=2 docs by construction, so the C4-style
    boilerplate signal is exercised end to end; counts group on the
    sentence md5, never shuffling text."""
    return T.dup_sentence_filter(_docs_with_dups(spark, sf_dir))


def _agg_partial_corr(spark, sf_dir):
    """First-order partial correlation (aggregates.partial_corr):
    price vs order date with priority partialled out, from exact
    integer-quantized moment sums (DECIMAL(38,0) second moments)."""
    orders = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("price_cents"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).cast("bigint").alias("order_epoch_day"),
        F.substring("o_orderpriority", 1, 1).cast("bigint")
        .alias("prio_digit"),
    )
    return AG.partial_corr(
        orders, "price_cents", "order_epoch_day", "prio_digit"
    )


def _evt_peaks(spark, sf_dir):
    """Local-peak detection (events.peaks) on the daily cents series:
    strict-exceeds-both-neighbors, one lag + one lead, exact
    integers, one-step prominence."""
    from eggv_spark.operators.events import peaks

    return peaks(_t(spark, sf_dir, "events"))


def _composite_ann_health(spark, sf_dir):
    """The ANN index go/no-go gate as ONE row — the three validated
    gauges composed: mean recall@5 of the IVF probe vs brute force
    (query side), the cell imbalance factor (index side), and the
    mean PQ distortion (compression side), plus the boolean verdict
    a refresh pipeline branches on.  Each sub-gauge reuses its
    already-validated plan; the composite is three 1-row folds
    crossJoined."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    rec = S.ann_recall(
        S.brute_force_topk(emb, q, k=5),
        S.ivf_topk(emb, q, k=5, n_probe=10),
        k=5,
    ).agg(F.round(F.avg("recall_at_5"), 4).alias("mean_recall_at_5"))
    imb = S.ivf_cell_stats(emb).agg(
        F.max("imbalance_factor").alias("imbalance_factor")
    )
    dist = S.pq_distortion(emb).agg(
        F.round(F.avg("mean_sqdist"), 4).alias("mean_pq_sqdist")
    )
    return (
        rec.crossJoin(F.broadcast(imb))
        .crossJoin(F.broadcast(dist))
        .select(
            "mean_recall_at_5", "imbalance_factor", "mean_pq_sqdist",
            (
                (F.col("mean_recall_at_5") >= 0.5)
                & (F.col("imbalance_factor") <= 4.0)
            ).alias("healthy"),
        )
    )


def _dup_sentence_oracle_sql() -> str:
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
sent AS (SELECT doc_id,
  list_filter(regexp_split_to_array(text, '[.!?]+\\s+'),
              s -> len(trim(s)) > 0) AS ss FROM alldocs),
srows AS (SELECT doc_id, CAST(len(ss[i]) AS INT) AS n_chars,
          md5(lower(trim(ss[i]))) AS h
          FROM sent, lateral unnest(generate_series(1, len(ss))) t(i)),
corpus AS (SELECT h, count(DISTINCT doc_id) AS docs
           FROM srows GROUP BY h),
tagged AS (SELECT doc_id, n_chars, (docs >= 2) AS dup
           FROM srows JOIN corpus USING (h))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_sentences,
       round(sum(CASE WHEN dup THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS dup_frac,
       CAST(sum(CASE WHEN dup THEN n_chars ELSE 0 END) AS BIGINT)
         AS dup_chars
FROM tagged GROUP BY doc_id"""


_PARTIAL_CORR_SQL = """
WITH b AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
         CAST(datediff('day', DATE '1970-01-01',
              CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
         CAST(left(o_orderpriority, 1) AS BIGINT) AS z
  FROM orders
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(z AS HUGEINT) * z) AS szz,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * z) AS sxz,
         sum(CAST(y AS HUGEINT) * z) AS syz
  FROM b
), r AS (
  SELECT n,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * sy)
    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * sx)
           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * sy)) AS rxy,
    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
     - CAST(sx AS DOUBLE) * sz)
    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * sx)
           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
              - CAST(sz AS DOUBLE) * sz)) AS rxz,
    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
     - CAST(sy AS DOUBLE) * sz)
    / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * sy)
           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
              - CAST(sz AS DOUBLE) * sz)) AS ryz
  FROM s
)
SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
       round(ryz, 6) AS r_yz,
       round((rxy - rxz * ryz)
             / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
         AS partial_r
FROM r"""


_PEAKS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS x_cents
  FROM events GROUP BY 1
), nb AS (
  SELECT day, x_cents,
         lag(x_cents) OVER (ORDER BY day) AS prev,
         lead(x_cents) OVER (ORDER BY day) AS nxt
  FROM daily
)
SELECT day, x_cents,
       (prev IS NOT NULL AND nxt IS NOT NULL
        AND x_cents > prev AND x_cents > nxt) AS is_peak,
       CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                 AND x_cents > prev AND x_cents > nxt
            THEN x_cents - greatest(prev, nxt) END AS prominence
FROM nb"""


def _ann_health_oracle_sql() -> str:
    return f"""
WITH bf AS ({_cosine_topk_oracle()}),
ivf AS ({_ivf_topk_oracle()}),
rec AS (
  SELECT round(avg(r), 4) AS mean_recall_at_5 FROM (
    SELECT round(count(i.neighbor_id) / 5.0, 4) AS r
    FROM bf b LEFT JOIN ivf i
      ON b.query_id = i.query_id
      AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id)
),
cells AS ({_ivf_cell_stats_oracle()}),
imb AS (SELECT max(imbalance_factor) AS imbalance_factor FROM cells),
pq AS ({_pq_distortion_oracle()}),
dist AS (SELECT round(avg(mean_sqdist), 4) AS mean_pq_sqdist FROM pq)
SELECT mean_recall_at_5, imbalance_factor, mean_pq_sqdist,
       (mean_recall_at_5 >= 0.5 AND imbalance_factor <= 4.0)
         AS healthy
FROM rec, imb, dist"""


def _r9t_oracles() -> dict[str, str]:
    """Oracles for the twenty-first round-8 staging wave."""
    return {
        "txt_dup_sentence_filter": _dup_sentence_oracle_sql(),
        "agg_partial_corr": _PARTIAL_CORR_SQL,
        "evt_peaks": _PEAKS_SQL,
        "composite_ann_health": _ann_health_oracle_sql(),
    }


# ---------------------------------------------------------------------------
# round-8 twenty-second wave: path-length census, dedup savings
# report, growth accounting
# ---------------------------------------------------------------------------


def _graph_path_stats(spark, sf_dir):
    """Hop-bounded path-length census (graph.path_length_stats,
    4 hops) over the thresholded trade graph: reachable-pair count,
    reach fraction, mean distance, in-bound diameter — exact per-hop
    integers, fixed-order assembly."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.path_length_stats(edges, max_hops=4)


def _ddp_dedup_savings(spark, sf_dir):
    """The dedup BUSINESS CASE as one row: whitespace-token totals
    before and after exact dedup on the planted corpus — tokens a
    training run would re-consume, tokens dedup reclaims, and the
    saved fraction.  Token counting shares the corpus tokenizer
    (word_tokens_col); the keeper set is exact_dedupe's min-id
    keeper semi-join — both already-validated kernels, composed."""
    from eggv_spark.operators.text_analysis import word_tokens_col

    docs = _docs_with_dups(spark, sf_dir).select(
        "doc_id", F.size(word_tokens_col("text")).cast("bigint")
        .alias("_ntok"),
        "text",
    )
    keepers = D.exact_dedupe(docs)
    kept = docs.join(
        keepers.select(F.col("keeper_id").alias("doc_id")),
        "doc_id", "left_semi",
    )
    before = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("tokens_total"),
    )
    after = kept.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("_ntok").alias("tokens_kept"),
    )
    return before.crossJoin(F.broadcast(after)).select(
        "n_docs", "n_docs_kept", "tokens_total", "tokens_kept",
        (F.col("tokens_total") - F.col("tokens_kept"))
        .alias("tokens_saved"),
        F.round(
            F.try_divide(
                F.col("tokens_total") - F.col("tokens_kept"),
                F.col("tokens_total"),
            ),
            6,
        ).alias("saved_frac"),
    )


def _evt_growth_accounting(spark, sf_dir):
    """Growth accounting (events.growth_accounting, 7-day churn gap):
    per day, the active count decomposed into new / retained /
    resurrected — one user-day dedup, one lag per user, one day
    rollup, exact integers."""
    from eggv_spark.operators.events import growth_accounting

    return growth_accounting(_t(spark, sf_dir, "events"))


def _path_stats_oracle_sql(max_hops: int = 4) -> str:
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    counts = ", ".join(
        f"(SELECT count(*) FROM f{h}) AS n{h}"
        for h in range(1, max_hops + 1)
    )
    total = " + ".join(f"n{h}" for h in range(1, max_hops + 1))
    weighted = " + ".join(
        f"n{h} * {h}" for h in range(1, max_hops + 1)
    )
    diam = "greatest(" + ", ".join(
        f"CASE WHEN n{h} > 0 THEN {h} ELSE 0 END"
        for h in range(1, max_hops + 1)
    ) + ")"
    return (
        "WITH " + ",\n".join(parts)
        + f""",
c AS (SELECT (SELECT count(*) FROM nodes) AS n_nodes, {counts})
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST({total} AS BIGINT) AS n_pairs_reachable,
       round(CAST({total} AS DOUBLE) / (n_nodes * (n_nodes - 1)), 6)
         AS reach_frac,
       round(CAST({weighted} AS DOUBLE) / ({total}), 6) AS mean_dist,
       CAST({diam} AS INT) AS diameter
FROM c"""
    )


def _dedup_savings_oracle_sql() -> str:
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
tok AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS ntok,
        text FROM alldocs),
keep AS (SELECT min(doc_id) AS doc_id FROM alldocs
         GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))),
before AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens_total FROM tok),
after AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
          CAST(sum(ntok) AS BIGINT) AS tokens_kept
          FROM tok JOIN keep USING (doc_id))
SELECT n_docs, n_docs_kept, tokens_total, tokens_kept,
       tokens_total - tokens_kept AS tokens_saved,
       round(CAST(tokens_total - tokens_kept AS DOUBLE)
             / tokens_total, 6) AS saved_frac
FROM before, after"""


_GROWTH_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
), tagged AS (
  SELECT day,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN datediff('day', prev, day) > 7 THEN 'resurrected'
              ELSE 'retained' END AS state
  FROM (SELECT u, day, lag(day) OVER (PARTITION BY u ORDER BY day)
          AS prev FROM ud)
)
SELECT day, CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained,
       CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected
FROM tagged GROUP BY day"""


def _r9u_oracles() -> dict[str, str]:
    """Oracles for the twenty-second round-8 staging wave."""
    return {
        "graph_path_stats": _path_stats_oracle_sql(4),
        "ddp_dedup_savings": _dedup_savings_oracle_sql(),
        "evt_growth_accounting": _GROWTH_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 twenty-third wave: hybrid RRF retrieval, DOW-conditioned
# anomalies, feature-hash collision audit
# ---------------------------------------------------------------------------


def _sim_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval (similarity.rrf_fusion): the lexical
    token-Jaccard top-20 (query batch broadcast, corpus streams
    once) fused with the IVF vector top-20 by reciprocal-rank
    fusion, final top-10 — the standard two-tower + BM25-ish serving
    shape; doc_id and vec_id share the 0..N id domain, so both
    systems rank the same corpus."""
    lex = S.lexical_jaccard_topk(
        _t(spark, sf_dir, "documents"), every_n=50, k=20
    )
    emb = _t(spark, sf_dir, "embeddings")
    vec = S.ivf_topk(
        emb, emb.filter("vec_id % 50 = 0"), k=20, n_probe=10
    )
    return S.rrf_fusion(lex, vec, k=10)


def _evt_dow_anomaly(spark, sf_dir):
    """Day-of-week-conditioned anomaly flags (events.dow_anomaly):
    each day's cents total z-scored leave-one-out against its own
    weekday cohort — the weekly rhythm conditioned away."""
    from eggv_spark.operators.events import dow_anomaly

    return dow_anomaly(_t(spark, sf_dir, "events"))


def _txt_hash_collision_audit(spark, sf_dir):
    """Feature-hashing collision audit (text_analysis.
    hash_collision_audit, 1024 buckets): distinct-vocab bucket
    occupancy with the SAME portable hash the hashed-features op
    uses — the widen-the-dimension tripwire."""
    return T.hash_collision_audit(_t(spark, sf_dir, "documents"))


def _rrf_fusion_oracle_sql() -> str:
    """Lexical Jaccard top-20 + IVF top-20 (k-parameterized validated
    oracle) fused with reciprocal ranks."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
), toks_ne AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
q AS (SELECT doc_id AS query_id, t AS qt FROM toks_ne
      WHERE doc_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.doc_id AS neighbor_id,
         round(CAST(len(list_intersect(c.t, q.qt)) AS DOUBLE)
               / len(list_distinct(list_concat(c.t, q.qt))), 4)
           AS jaccard
  FROM toks_ne c CROSS JOIN q WHERE c.doc_id <> q.query_id
),
lex AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY jaccard DESC, neighbor_id ASC) AS r
  FROM scored QUALIFY r <= 20
),
vec AS (
  SELECT query_id, neighbor_id, rank AS r
  FROM ({_ivf_topk_oracle(20)})
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.neighbor_id, v.neighbor_id) AS neighbor_id,
         coalesce(1.0 / (60 + l.r), 0.0)
         + coalesce(1.0 / (60 + v.r), 0.0) AS s
  FROM lex l FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id
)
SELECT query_id, neighbor_id, round(s, 6) AS rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY s DESC, neighbor_id ASC) AS INT) AS rank
FROM fused
QUALIFY rank <= 10"""


_DOW_ANOMALY_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS x_cents
  FROM events GROUP BY 1
), d2 AS (
  SELECT day, x_cents,
         CAST(dayofweek(day) + 1 AS INT) AS dow
  FROM daily
), g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS gn,
         CAST(sum(x_cents) AS BIGINT) AS gs,
         sum(CAST(x_cents AS HUGEINT) * x_cents) AS gq
  FROM d2 GROUP BY dow
), t AS (
  SELECT d2.day, d2.dow, d2.x_cents, g.gn, g.gs, g.gq,
         g.gs - d2.x_cents AS ls
  FROM d2 JOIN g USING (dow)
), z AS (
  SELECT day, dow, x_cents, gn, ls,
         CASE WHEN gn - 1 > 1 THEN
           (CAST(gq AS DOUBLE)
            - CAST(x_cents AS DOUBLE) * x_cents
            - CAST(ls AS DOUBLE) * ls / (gn - 1)) / (gn - 2)
         END AS lv,
         (x_cents - CAST(ls AS DOUBLE) / (gn - 1)) AS dev
  FROM t WHERE true
)
SELECT day, dow, x_cents,
       round(CASE WHEN gn - 1 > 1 AND lv > 0
                  THEN dev / sqrt(lv) END, 4) AS z_loo,
       CASE WHEN gn - 1 > 1 AND lv = 0
            THEN x_cents * (gn - 1) <> ls
            ELSE coalesce(abs(round(CASE WHEN gn - 1 > 1 AND lv > 0
                 THEN dev / sqrt(lv) END, 4)) > 2.0, false)
       END AS is_anomaly
FROM z"""


_HASH_COLLISION_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT unnest({_TOKS_SQL}) AS t FROM documents
), b AS (
  SELECT {_BASEHASH_SQL.format(x="t")} % 1024 AS bkt FROM vocab
), pb AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bkt
)
SELECT CAST(sum(n) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS n_buckets_used,
       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
         AS n_colliding_terms,
       round(sum(CASE WHEN n > 1 THEN n ELSE 0 END)
             / CAST(sum(n) AS DOUBLE), 6) AS collision_frac,
       CAST(max(n) AS BIGINT) AS max_bucket_terms
FROM pb"""


def _r9v_oracles() -> dict[str, str]:
    """Oracles for the twenty-third round-8 staging wave."""
    return {
        "sim_rrf_fusion": _rrf_fusion_oracle_sql(),
        "evt_dow_anomaly": _DOW_ANOMALY_SQL,
        "txt_hash_collision_audit": _HASH_COLLISION_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 twenty-fourth wave: streaming growth states
# ---------------------------------------------------------------------------


def _stream_growth_states(spark, sf_dir):
    """Stateful streaming growth accounting
    (streaming.events_stream.streaming_growth_states): per (user,
    active day), new/retained/resurrected decided online with ONE
    int of state per user; availableNow replay must equal the batch
    lag-over-user window SQL — which is the oracle."""
    from eggv_spark.streaming import events_stream as ES

    return ES.run_available_now(
        ES.streaming_growth_states(ES.read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


_STREAM_GROWTH_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
           AS day_epoch
  FROM events
)
SELECT user_id, CAST(day_epoch AS BIGINT) AS day_epoch,
       CASE WHEN prev IS NULL THEN 'new'
            WHEN day_epoch - prev > 7 THEN 'resurrected'
            ELSE 'retained' END AS state
FROM (SELECT user_id, day_epoch,
        lag(day_epoch) OVER (PARTITION BY user_id ORDER BY day_epoch)
          AS prev
      FROM ud)"""


def _r9w_oracles() -> dict[str, str]:
    """Oracles for the twenty-fourth round-8 staging wave."""
    return {"stream_growth_states": _STREAM_GROWTH_SQL}


# ---------------------------------------------------------------------------
# round-8 twenty-fifth wave: quantile treatment effects, quality-vs-
# duplication cross-audit
# ---------------------------------------------------------------------------


def _evt_qte(spark, sf_dir):
    """Quantile treatment effects (events.quantile_treatment_effects)
    on per-user purchase spend (integer cents), md5 50/50 split:
    type-1 order statistics per arm at 5 quantiles — every reported
    number an exact integer, no interpolation scheme to diverge."""
    from eggv_spark.operators.dedupe import base_hash
    from eggv_spark.operators.events import quantile_treatment_effects

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("outcome_cents")
    ).select(
        (base_hash(F.col("user_id").cast("string")) % 2 == 0)
        .alias("treated"),
        "outcome_cents",
    )
    return quantile_treatment_effects(units)


def _composite_quality_vs_dup(spark, sf_dir):
    """Quality × duplication cross-audit as one 2x2 row: are
    duplicated documents lower quality?  Quality keep flag from the
    validated quality_filter chain; duplication membership = content
    hash shared by >= 2 docs (the exact-dedup hash).  Counts are
    exact integers; the association is the Haldane-corrected odds
    ratio (+0.5 per cell so empty cells stay finite), 6dp — the
    number that justifies (or refutes) 'dedup doubles as a quality
    filter' for THIS corpus."""
    docs = _docs_with_dups(spark, sf_dir)
    quality = T.quality_filter(docs).select("doc_id", "keep")
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    hashed = docs.select("doc_id", F.md5(normalized).alias("_h"))
    counts = hashed.groupBy("_h").agg(F.count("*").alias("_nc"))
    flags = (
        hashed.join(counts, "_h")
        .select("doc_id", (F.col("_nc") >= 2).alias("_dup"))
        .join(quality, "doc_id")
    )
    cells = flags.agg(
        F.sum((F.col("keep") & F.col("_dup")).cast("bigint"))
        .alias("n_keep_dup"),
        F.sum((F.col("keep") & ~F.col("_dup")).cast("bigint"))
        .alias("n_keep_uniq"),
        F.sum((~F.col("keep") & F.col("_dup")).cast("bigint"))
        .alias("n_drop_dup"),
        F.sum((~F.col("keep") & ~F.col("_dup")).cast("bigint"))
        .alias("n_drop_uniq"),
    )
    orr = (
        (F.col("n_keep_uniq") + 0.5) * (F.col("n_drop_dup") + 0.5)
    ) / ((F.col("n_keep_dup") + 0.5) * (F.col("n_drop_uniq") + 0.5))
    return cells.select(
        "n_keep_dup", "n_keep_uniq", "n_drop_dup", "n_drop_uniq",
        F.round(orr, 6).alias("uniq_quality_odds_ratio"),
        F.round(F.log(orr), 6).alias("log_or"),
    )


_QTE_SQL = f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS v
  FROM events GROUP BY user_id
), units AS (
  SELECT ({_BASEHASH_SQL.format(x="CAST(user_id AS VARCHAR)")} % 2 = 0)
           AS t, v
  FROM u
), ranked AS (
  SELECT t, v,
         row_number() OVER (PARTITION BY t ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY t) AS n
  FROM units
), spine(p, p_num, p_den) AS (
  SELECT CAST(x AS DOUBLE), CAST(nu AS BIGINT), CAST(de AS BIGINT)
  FROM (VALUES (0.1, 1, 10), (0.25, 1, 4), (0.5, 1, 2),
               (0.75, 3, 4), (0.9, 9, 10)) t(x, nu, de)),
picked AS (
  SELECT spine.p, ranked.t, ranked.v, ranked.n
  FROM ranked JOIN spine
    ON (ranked.rn - 1) * spine.p_den < spine.p_num * ranked.n
   AND spine.p_num * ranked.n <= ranked.rn * spine.p_den
)
SELECT p,
       CAST(max(CASE WHEN t THEN n END) AS BIGINT) AS n_treated,
       CAST(max(CASE WHEN NOT t THEN n END) AS BIGINT) AS n_control,
       CAST(max(CASE WHEN t THEN v END) AS BIGINT) AS q_treated,
       CAST(max(CASE WHEN NOT t THEN v END) AS BIGINT) AS q_control,
       CAST(max(CASE WHEN t THEN v END)
            - max(CASE WHEN NOT t THEN v END) AS BIGINT) AS qte
FROM picked GROUP BY p"""


_QUALITY_VS_DUP_SQL = f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),
wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c
       FROM w GROUP BY doc_id, word),
wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd
         FROM wc GROUP BY doc_id),
stop AS (SELECT doc_id,
  len(list_filter(t, x -> list_contains(
    ['the','a','of','and','to','in','is','on','for','with'], x)))
    AS n_stop, len(t) AS n FROM toks),
q AS (SELECT s.doc_id,
  (round((s.n - coalesce(w.nd, 0))
         / CAST(greatest(s.n, 1) AS DOUBLE), 4) <= 0.75
   AND CAST(s.n AS INT) >= 10
   AND round(s.n_stop / CAST(greatest(s.n, 1) AS DOUBLE), 4) >= 0.0)
    AS keep
  FROM stop s LEFT JOIN wagg w ON w.doc_id = s.doc_id),
h AS (SELECT doc_id,
      md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS hh
      FROM alldocs),
hc AS (SELECT hh, count(*) AS nc FROM h GROUP BY hh),
flags AS (SELECT h.doc_id, (hc.nc >= 2) AS dup, q.keep
          FROM h JOIN hc USING (hh) JOIN q USING (doc_id)),
cells AS (SELECT
  CAST(sum(CASE WHEN keep AND dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_keep_dup,
  CAST(sum(CASE WHEN keep AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_keep_uniq,
  CAST(sum(CASE WHEN NOT keep AND dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_drop_dup,
  CAST(sum(CASE WHEN NOT keep AND NOT dup THEN 1 ELSE 0 END)
       AS BIGINT) AS n_drop_uniq
  FROM flags)
SELECT n_keep_dup, n_keep_uniq, n_drop_dup, n_drop_uniq,
       round((n_keep_uniq + 0.5) * (n_drop_dup + 0.5)
             / ((n_keep_dup + 0.5) * (n_drop_uniq + 0.5)), 6)
         AS uniq_quality_odds_ratio,
       round(ln((n_keep_uniq + 0.5) * (n_drop_dup + 0.5)
                / ((n_keep_dup + 0.5) * (n_drop_uniq + 0.5))), 6)
         AS log_or
FROM cells"""


def _r9x_oracles() -> dict[str, str]:
    """Oracles for the twenty-fifth round-8 staging wave."""
    return {
        "evt_qte": _QTE_SQL,
        "composite_quality_vs_dup": _QUALITY_VS_DUP_SQL,
    }


# ---------------------------------------------------------------------------
# round-8 twenty-sixth wave: embedding quality gate, rare-category
# collapse
# ---------------------------------------------------------------------------


def _sim_vector_quality_audit(spark, sf_dir):
    """Embedding-column quality gate (similarity.vector_quality_audit):
    NULL / wrong-width / zero-norm counts plus the norm spread — the
    fail-fast checks an index build runs before spending cluster
    time; one shuffle-free pass."""
    return S.vector_quality_audit(_t(spark, sf_dir, "embeddings"))


def _fe_rare_category_collapse(spark, sf_dir):
    """Rare-category collapse audit (relational.rare_category_collapse,
    min_count=10) over part brands: the post-collapse category table
    an encoder would actually consume, with the __OTHER__ absorption
    accounting.  The fixed threshold deliberately flips behavior
    across scales (everything collapses at sf0.001, nothing at
    sf0.01+), so the dual-scale gate exercises BOTH branches."""
    return R.rare_category_collapse(
        _t(spark, sf_dir, "part"), "p_brand", min_count=10
    )


_VECTOR_QUALITY_SQL = """
WITH rows_ AS (
  SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
         CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
              THEN 1 ELSE 0 END AS wrong,
         CASE WHEN embedding IS NOT NULL AND len(embedding) = 64
              THEN sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x)))
         END AS nrm
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(is_null) AS BIGINT) AS n_null,
       CAST(sum(wrong) AS BIGINT) AS n_wrong_width,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(avg(nrm), 4) AS mean_norm
FROM rows_"""


_RARE_CATEGORY_SQL = """
WITH per AS (
  SELECT p_brand AS c, CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY p_brand
), mapped AS (
  SELECT CASE WHEN n >= 10 THEN c ELSE '__OTHER__' END AS category, n
  FROM per
)
SELECT category, CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_source_categories,
       (category = '__OTHER__') AS is_collapsed
FROM mapped GROUP BY category"""


def _r9y_oracles() -> dict[str, str]:
    """Oracles for the twenty-sixth round-8 staging wave."""
    return {
        "sim_vector_quality_audit": _VECTOR_QUALITY_SQL,
        "fe_rare_category_collapse": _RARE_CATEGORY_SQL,
    }
