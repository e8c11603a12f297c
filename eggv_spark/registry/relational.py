"""Relational entries: scans, projections, string/date/array scalars,
filters, joins, set operations, subqueries, windows and the
TPC-H-shaped OLAP queries.

The ``olap_q*`` entries are TPC-H analogs adapted to this schema.  The
test data has no partsupp table and no commit/receipt dates or phone
columns, so each keeps the reference query's PLAN shape (join-order
pressure, disjunctive pushdown, correlated min and agg, scalar
subquery, EXISTS semi-join, NOT-IN anti-join, CASE pivot, having
filter) over the columns that exist.  With agg_pricing_summary as q1
and composite_shipping_priority as q3, all 22 TPC-H query shapes have
an analog.
"""

from __future__ import annotations

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
from eggv_spark.operators import relational as R
from eggv_spark.operators import tableops as TO
from eggv_spark.operators.rangejoin import asof_join, range_join
from eggv_spark.registry._shared import register, _scratch_dir, _t


_FLAGSHIP_SQL = """
SELECT token, count(*) AS n
FROM (
    SELECT unnest(string_split(p.p_name, ' ')) AS token
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 25
)
GROUP BY token
"""


@register("flagship_token_pipeline", _FLAGSHIP_SQL)
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


@register("src_scan", "SELECT r_regionkey, r_name FROM region")
def _src_scan(spark, sf_dir):
    return R.project(_t(spark, sf_dir, "region"), ["r_regionkey", "r_name"])


@register(
    "prj_projection",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def _prj_projection(spark, sf_dir):
    return R.project(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_quantity"],
    )


@register(
    "prj_rename_cast",
    "SELECT o_orderkey AS order_id, CAST(o_custkey AS VARCHAR) AS custkey_str,"
    " o_orderpriority AS priority FROM orders",
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


@register(
    "str_prefix_concat",
    "SELECT n_nationkey, 'n_' || n_name AS prefixed FROM nation",
)
def _str_prefix_concat(spark, sf_dir):
    df = R.prefix_concat(_t(spark, sf_dir, "nation"), "n_name", "n_", "prefixed")
    return R.project(df, ["n_nationkey", "prefixed"])


@register(
    "str_regexp_extract",
    "SELECT event_id,"
    " CAST(nullif(regexp_extract(props, '\"k\": (\\d+)', 1), '') AS BIGINT) AS k_val,"
    " nullif(regexp_extract(props, '\"missing\": (\\d+)', 1), '') AS missing_val"
    " FROM events",
)
def _str_regexp_extract(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.select(
        "event_id",
        regexp_extract_null("props", r'"k": (\d+)').cast("long").alias("k_val"),
        regexp_extract_null("props", r'"missing": (\d+)').alias("missing_val"),
    )


@register(
    "str_strip_cast",
    "SELECT c_custkey,"
    " CAST(regexp_replace(c_name, '^Customer#', '') AS BIGINT) AS custkey_from_name"
    " FROM customer",
)
def _str_strip_cast(spark, sf_dir):
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        strip_prefix_cast_long("c_name", "Customer#").alias("custkey_from_name"),
    )


@register(
    "str_concat_ws",
    "SELECT p_partkey, p_brand || ',' || p_type AS brand_type FROM part",
)
def _str_concat_ws(spark, sf_dir):
    df = R.concat_with_sep(
        _t(spark, sf_dir, "part"), ["p_brand", "p_type"], ",", "brand_type"
    )
    return R.project(df, ["p_partkey", "brand_type"])


@register(
    "str_split_get",
    "SELECT p_partkey,"
    " list_extract(string_split(p_name, ' '), 1) AS adjective,"
    " list_extract(string_split(p_name, ' '), 2) AS noun,"
    " list_extract(string_split(p_name, ' '), 6) AS sixth_token"
    " FROM part",
)
def _str_split_get(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    df = R.split_get(df, "p_name", " ", 0, "adjective")
    df = R.split_get(df, "p_name", " ", 1, "noun")
    df = R.split_get(df, "p_name", " ", 5, "sixth_token")  # out of bounds -> null
    return R.project(df, ["p_partkey", "adjective", "noun", "sixth_token"])


@register(
    "exp_explode",
    "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part",
)
def _exp_explode(spark, sf_dir):
    df = R.explode_split(_t(spark, sf_dir, "part"), "p_name", " ", "token")
    return R.project(df, ["p_partkey", "token"])


@register(
    "nul_fill",
    "SELECT o_orderkey,"
    " coalesce(nullif(o_orderpriority, '5-LOW'), 'none') AS priority"
    " FROM orders",
)
def _nul_fill(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority")
    )
    return R.fill_null(df, {"priority": "none"})


@register(
    "nul_drop",
    "SELECT o_orderkey, o_orderpriority AS priority FROM orders"
    " WHERE nullif(o_orderpriority, '5-LOW') IS NOT NULL",
)
def _nul_drop(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority")
    )
    return R.drop_null_keys(df, ["priority"])


@register(
    "str_json_field",
    "SELECT event_id,"
    " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,"
    " json_extract_string(props, '$.missing') AS missing_val,"
    " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct"
    " FROM events",
)
def _str_json_field(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.select(
        "event_id",
        json_field("props", "$.k").cast("long").alias("k_val"),
        json_field("props", "$.missing").alias("missing_val"),
        json_struct("props", "k LONG").getField("k").alias("k_struct"),
    )


@register(
    "dt_date_parts",
    "SELECT o_orderkey,"
    " CAST(year(o_orderdate) AS INT) AS year,"
    " CAST(month(o_orderdate) AS INT) AS month,"
    " CAST(day(o_orderdate) AS INT) AS day,"
    " CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,"
    " CAST(weekofyear(o_orderdate) AS INT) AS week,"
    " CAST(quarter(o_orderdate) AS INT) AS quarter,"
    " CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)"
    "   AS INT) AS days_since_95"
    " FROM orders",
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


@register(
    "str_attr_map",
    "SELECT p_partkey, p_type AS type_val,"
    " CAST(p_size AS BIGINT) AS size_val,"
    " CAST(NULL AS VARCHAR) AS missing_val FROM part",
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


@register(
    "arr_vector_stats",
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
    " FROM e",
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


@register(
    "flt_eq",
    "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'O'",
)
def _flt_eq(spark, sf_dir):
    return R.project(
        R.filter_eq(_t(spark, sf_dir, "orders"), "o_orderstatus", "O"),
        ["o_orderkey", "o_custkey"],
    )


@register(
    "flt_isin",
    "SELECT o_orderkey, o_orderpriority FROM orders"
    " WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
)
def _flt_isin(spark, sf_dir):
    return R.project(
        R.filter_isin(
            _t(spark, sf_dir, "orders"), "o_orderpriority",
            ["1-URGENT", "2-HIGH"],
        ),
        ["o_orderkey", "o_orderpriority"],
    )


@register(
    "flt_neg_notnull",
    "SELECT o_orderkey, o_orderstatus,"
    " nullif(o_orderpriority, '5-LOW') AS priority FROM orders"
    " WHERE o_orderstatus NOT IN ('F')"
    " AND nullif(o_orderpriority, '5-LOW') IS NOT NULL",
)
def _flt_neg_notnull(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.nullif("o_orderpriority", F.lit("5-LOW")).alias("priority"),
    )
    return R.filter_not_in_and_notnull(df, "o_orderstatus", ["F"], "priority")


@register(
    "join_left_broadcast",
    "SELECT o_orderkey, c_name, c_mktsegment FROM orders"
    " LEFT JOIN customer ON o_custkey = c_custkey",
)
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


@register(
    "join_semi",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN ("
    " SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')",
)
def _join_semi(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return R.semi_join(customer, urgent, "c_custkey")


@register(
    "join_anti",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN ("
    " SELECT o_custkey FROM orders)",
)
def _join_anti(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return R.anti_join(customer, orders, "c_custkey")


@register(
    "rng_range_join",
    "SELECT c_custkey, s_suppkey FROM customer JOIN supplier"
    " ON CAST(c_acctbal AS DOUBLE) >= CAST(s_acctbal AS DOUBLE)"
    " AND CAST(c_acctbal AS DOUBLE) <= CAST(s_acctbal AS DOUBLE) + 1000.0",
)
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


@register(
    "join_asof",
    "WITH clicks AS ("
    "  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'"
    "), purchases AS ("
    "  SELECT user_id, ts, max(value) AS pval FROM events"
    "  WHERE event_type = 'purchase' GROUP BY user_id, ts"
    ") SELECT c.event_id, c.user_id,"
    " CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,"
    " round(CAST(p.pval AS DOUBLE), 4) AS asof_pval"
    " FROM clicks c ASOF LEFT JOIN purchases p"
    " ON c.user_id = p.user_id AND c.ts >= p.ts",
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


@register(
    "rng_interval_overlap",
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
    " AND mm.month_day <= li.receipt_day",
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


@register(
    "join_asof_fwd",
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
    " ON c.user_id = p.user_id AND c.ts <= p.ts",
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


@register(
    "set_union_distinct",
    "SELECT c_nationkey AS nationkey FROM customer"
    " UNION SELECT s_nationkey FROM supplier",
)
def _set_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.distinct_union([c, s])


@register(
    "set_intersect",
    "SELECT c_nationkey AS nationkey FROM customer"
    " INTERSECT SELECT s_nationkey FROM supplier",
)
def _set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.intersect_rows(c, s)


@register(
    "set_except",
    "SELECT c_nationkey AS nationkey FROM customer"
    " EXCEPT SELECT s_nationkey FROM supplier",
)
def _set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return R.except_rows(c, s)


@register(
    "srt_global_topk",
    "SELECT o_orderkey, o_totalprice FROM orders"
    " ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
)
def _srt_global_topk(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return R.sort_limit(
        df, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", "o_totalprice")


@register(
    "win_lag_lead",
    "SELECT o_custkey, o_orderkey,"
    " lag(o_totalprice) OVER w AS prev_value,"
    " lead(o_totalprice) OVER w AS next_value"
    " FROM orders WINDOW w AS ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)",
)
def _win_lag_lead(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    out = AG.with_lag_lead(
        df, "o_totalprice", ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return out.select("o_custkey", "o_orderkey", "prev_value", "next_value")


@register(
    "win_running_sum",
    "SELECT o_custkey, o_orderkey,"
    " round(sum(o_totalprice) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)"
    "  AS running_sum"
    " FROM orders",
)
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


@register(
    "win_moving_avg",
    "SELECT o_custkey, o_orderkey,"
    " round(avg(CAST(round(o_totalprice * 100) AS BIGINT)) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
    "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4)"
    "  AS moving_avg"
    " FROM orders",
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


@register(
    "win_topk_per_group",
    "SELECT o_custkey, o_orderkey, rank FROM ("
    "  SELECT o_custkey, o_orderkey, row_number() OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC"
    "  ) AS rank FROM orders"
    ") WHERE rank <= 3",
)
def _win_topk_per_group(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    top = R.top_k_per_group(
        df, ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3,
    )
    return top.select("o_custkey", "o_orderkey", "rank")


@register(
    "join_salted_skew",
    "SELECT o_orderkey, c_name FROM orders"
    " JOIN customer ON o_custkey = c_custkey",
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


@register(
    "win_range_frame",
    "WITH e AS (SELECT event_id, user_id,"
    "  CAST(round(value * 10000) AS BIGINT) AS units,"
    "  CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events)"
    " SELECT event_id, user_id,"
    " count(*) OVER w AS n_trailing_hour,"
    " sum(units) OVER w / 10000.0 AS sum_trailing_hour"
    " FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch"
    "  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)",
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


@register(
    "exp_posexplode",
    "WITH s AS (SELECT p_partkey, string_split(p_name, ' ') AS w"
    "  FROM part)"
    " SELECT p_partkey, CAST(i - 1 AS INT) AS pos, w[i] AS word"
    " FROM s, unnest(generate_series(1, len(w))) AS t(i)",
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


@register(
    "join_null_safe",
    "WITH o AS (SELECT o_orderkey,"
    "  CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END AS k"
    "  FROM orders),"
    " c AS (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL"
    "  ELSE c_custkey END AS k, c_name FROM customer)"
    " SELECT o_orderkey, c_name FROM o JOIN c"
    " ON o.k IS NOT DISTINCT FROM c.k",
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


@register(
    "join_full_outer",
    "WITH c AS (SELECT c_nationkey, count(*) AS n_cust"
    "  FROM customer GROUP BY c_nationkey),"
    " s AS (SELECT s_nationkey, count(*) AS n_supp"
    "  FROM supplier GROUP BY s_nationkey)"
    " SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,"
    " coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp"
    " FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey",
)
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


@register(
    "join_cross",
    "SELECT a.r_regionkey AS key_a, a.r_name AS name_a,"
    " b.r_regionkey AS key_b, b.r_name AS name_b"
    " FROM region a CROSS JOIN region b",
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


@register(
    "sub_exists",
    "SELECT c_custkey, c_name FROM customer c"
    " WHERE EXISTS (SELECT 1 FROM orders o"
    "  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)",
)
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


@register(
    "sub_in",
    "SELECT p_partkey, p_name FROM part"
    " WHERE p_partkey IN (SELECT l_partkey FROM lineitem"
    "  WHERE l_quantity >= 49)",
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


@register(
    "sub_scalar",
    "SELECT o_orderkey, o_custkey FROM orders"
    " WHERE o_custkey > (SELECT max(c_custkey) FROM customer) - 100",
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


@register(
    "win_ntile_rank",
    "SELECT c_custkey, c_mktsegment,"
    " CAST(ntile(4) OVER w AS INT) AS tile,"
    " round(percent_rank() OVER w, 4) AS pct_rank,"
    " round(cume_dist() OVER w, 4) AS cume_dist"
    " FROM customer"
    " WINDOW w AS (PARTITION BY c_mktsegment"
    "  ORDER BY c_acctbal, c_custkey)",
)
def _win_ntile_rank(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return AG.with_distribution_ranks(
        cust, ["c_mktsegment"], [F.col("c_acctbal"), F.col("c_custkey")], 4
    ).select("c_custkey", "c_mktsegment", "tile", "pct_rank", "cume_dist")


@register(
    "win_first_last",
    "SELECT o_orderkey, o_custkey,"
    " first_value(o_orderkey) OVER w AS first_order,"
    " last_value(o_orderkey) OVER w AS last_order"
    " FROM orders"
    " WINDOW w AS (PARTITION BY o_custkey"
    "  ORDER BY o_orderdate, o_orderkey"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
)
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


@register(
    "set_union_evolve",
    "SELECT o_orderkey, o_totalprice,"
    " CAST(NULL AS VARCHAR) AS o_orderstatus"
    " FROM orders WHERE o_orderkey % 2 = 0"
    " UNION ALL"
    " SELECT o_orderkey, o_totalprice, o_orderstatus"
    " FROM orders WHERE o_orderkey % 2 = 1",
)
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


@register(
    "flt_like_pushdown",
    "SELECT p_partkey, p_name, p_type FROM part"
    " WHERE p_name LIKE '%green%' OR p_type LIKE 'SMALL%'",
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


@register(
    "exp_map_explode",
    "SELECT o_orderkey, 'status' AS attr_key,"
    " o_orderstatus AS attr_value FROM orders"
    " UNION ALL"
    " SELECT o_orderkey, 'priority', o_orderpriority FROM orders",
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


@register(
    "set_symmetric_diff",
    "WITH c AS (SELECT c_nationkey AS nationkey FROM customer"
    "  WHERE c_custkey % 97 = 0),"
    " s AS (SELECT s_nationkey AS nationkey FROM supplier"
    "  WHERE s_suppkey % 11 = 0)"
    " SELECT nationkey, 'customer_only' AS side FROM ("
    "  SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)"
    " UNION ALL"
    " SELECT nationkey, 'supplier_only' FROM ("
    "  SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)",
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


@register(
    "join_fuzzy_name",
    "WITH probes AS (SELECT c_custkey AS probe_id,"
    "  c_name || 'X' AS probe_name FROM customer"
    "  WHERE c_custkey % 300 = 0)"
    " SELECT p.probe_id, p.probe_name, c.c_custkey, c.c_name,"
    " CAST(levenshtein(c.c_name, p.probe_name) AS INT)"
    "  AS edit_distance"
    " FROM customer c JOIN probes p"
    " ON levenshtein(c.c_name, p.probe_name) <= 2",
)
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


@register(
    "win_pct_change",
    "WITH m AS (SELECT o_orderpriority,"
    "  date_trunc('month', o_orderdate) AS month,"
    "  round(sum(o_totalprice), 2) AS revenue"
    " FROM orders GROUP BY 1, 2)"
    " SELECT o_orderpriority,"
    " CAST(CAST(month AS DATE) AS VARCHAR) AS month, revenue,"
    " round((revenue - lag(revenue) OVER w)"
    "  / lag(revenue) OVER w * 100, 4) + 0 AS pct_change"
    " FROM m WINDOW w AS (PARTITION BY o_orderpriority"
    "  ORDER BY month)",
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


@register(
    "dt_date_spine",
    "WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,"
    "  max(CAST(ts AS DATE)) AS hi FROM events),"
    " d AS (SELECT unnest(generate_series(b.lo, b.hi,"
    "  INTERVAL 1 DAY)) AS day FROM b)"
    " SELECT CAST(day AS DATE) AS day,"
    " CAST(year(day) AS INT) AS year,"
    " CAST(month(day) AS INT) AS month,"
    " CAST(dayofweek(day) + 1 AS INT) AS day_of_week,"
    " dayofweek(day) + 1 IN (1, 7) AS is_weekend"
    " FROM d",
)
def _dt_date_spine(spark, sf_dir):
    """Calendar-dimension generator over the events table's day
    range — bounds derived in-plan (1-row agg -> sequence explode),
    no driver round-trip."""
    from eggv_spark.sources.readers import date_spine

    bounds = _t(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    return date_spine(bounds, "lo", "hi")


@register(
    "win_decayed_sum",
    "SELECT user_id, event_id, CAST(floor(("
    + " + ".join(
        f"coalesce(lag(value, {d}) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id), 0)"
        f" * {0.5 ** d!r}"
        for d in range(8)
    )
    + ") * 10000 + 0.5) AS BIGINT) AS decayed_x1e4 FROM events",
)
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


@register(
    "win_winsorize",
    "WITH b AS (SELECT l_returnflag,"
    "  quantile_cont(l_extendedprice, 0.05) AS lo,"
    "  quantile_cont(l_extendedprice, 0.95) AS hi"
    " FROM lineitem GROUP BY l_returnflag)"
    " SELECT l_orderkey, l_linenumber, l_returnflag,"
    " round(greatest(least(l_extendedprice, hi), lo), 2)"
    "  AS price_winsorized"
    " FROM lineitem JOIN b USING (l_returnflag)",
)
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


@register(
    "olap_q5_local_supplier",
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
    " GROUP BY n_name",
)
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


@register(
    "olap_q6_forecast_revenue",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue"
    " FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01'"
    " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
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


@register(
    "olap_q7_volume_shipping",
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
    " GROUP BY supp_nation, cust_nation, yr",
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


@register(
    "olap_q8_market_share",
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
    " GROUP BY yr",
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


@register(
    "olap_q9_product_profit",
    "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,"
    " round(sum(l_extendedprice * (1 - l_discount)"
    "  - 0.8 * p_retailprice * l_quantity), 2) AS profit"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " JOIN orders ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " WHERE p_name LIKE '%red%'"
    " GROUP BY n_name, yr",
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


@register(
    "olap_q10_returned_items",
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
    " ORDER BY revenue DESC, c_custkey ASC LIMIT 20",
)
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


@register(
    "olap_q13_customer_distribution",
    "SELECT c_count, count(*) AS custdist FROM ("
    " SELECT c_custkey, count(o_orderkey) AS c_count"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    "  AND o_orderpriority <> '1-URGENT'"
    " GROUP BY c_custkey)"
    " GROUP BY c_count",
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


@register(
    "olap_q14_promo_effect",
    "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'"
    "   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
    "  / sum(l_extendedprice * (1 - l_discount)), 4)"
    "  AS promo_revenue_pct"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-03-01'"
    " AND l_shipdate < TIMESTAMP '1996-04-01'",
)
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


@register(
    "olap_q15_top_supplier",
    "WITH rev AS (SELECT l_suppkey,"
    "  round(sum(l_extendedprice * (1 - l_discount)), 2)"
    "   AS total_revenue"
    " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    "  AND l_shipdate < TIMESTAMP '1996-04-01'"
    " GROUP BY l_suppkey)"
    " SELECT s_suppkey, s_name, total_revenue"
    " FROM supplier JOIN rev ON s_suppkey = l_suppkey"
    " WHERE total_revenue = (SELECT max(total_revenue) FROM rev)",
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


@register(
    "olap_q17_small_quantity",
    "WITH bli AS (SELECT l_partkey, l_quantity, l_extendedprice"
    "  FROM lineitem JOIN part ON l_partkey = p_partkey"
    "  WHERE p_brand = 'Brand#23'),"
    " thr AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS cap"
    "  FROM bli GROUP BY l_partkey)"
    " SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly"
    " FROM bli JOIN thr USING (l_partkey) WHERE l_quantity < cap",
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


@register(
    "olap_q18_large_orders",
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
    " ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100",
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


@register(
    "olap_q19_disjunctive",
    "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)"
    "  AS revenue"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
    "   AND l_quantity BETWEEN 1 AND 11)"
    " OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30"
    "   AND l_quantity BETWEEN 10 AND 20)"
    " OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50"
    "   AND l_quantity BETWEEN 20 AND 30)",
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


@register(
    "olap_q22_idle_customers",
    "SELECT CAST(c_custkey % 10 AS INT) AS bucket,"
    " count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_bal"
    " FROM customer"
    " WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer"
    "   WHERE c_acctbal > 0)"
    " AND c_custkey NOT IN (SELECT o_custkey FROM orders"
    "   WHERE o_orderdate >= TIMESTAMP '2000-01-01')"
    " GROUP BY bucket",
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


@register(
    "win_ratio_to_report",
    "WITH r AS (SELECT CAST(s_nationkey AS INT) AS nationkey,"
    "  s_suppkey, sum(l_extendedprice * (1 - l_discount)) AS _rev"
    " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    " GROUP BY nationkey, s_suppkey)"
    " SELECT nationkey, s_suppkey, round(_rev, 2) AS revenue,"
    " round(_rev / sum(_rev) OVER (PARTITION BY nationkey), 6)"
    "  AS share"
    " FROM r",
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


@register(
    "win_rolling_corr",
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
    " FROM d",
)
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


@register(
    "win_rolling_corr_supplier",
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
    " FROM d",
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


@register(
    "join_bucketed",
    "SELECT c_mktsegment, count(*) AS n_orders,"
    " round(sum(o_totalprice), 2) AS total_price"
    " FROM orders JOIN customer ON o_custkey = c_custkey"
    " GROUP BY c_mktsegment",
)
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


@register(
    "win_cumulative_distinct",
    "WITH f AS (SELECT event_id, user_id, ts,"
    "  CASE WHEN row_number() OVER (PARTITION BY user_id,"
    "   event_type ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END"
    "   AS is_first FROM events)"
    " SELECT event_id, user_id,"
    " CAST(sum(is_first) OVER (PARTITION BY user_id"
    "  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING"
    "  AND CURRENT ROW) AS BIGINT) AS n_types_seen"
    " FROM f",
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


@register(
    "srt_pareto_frontier",
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
    " WHERE cm IS NULL OR size > cm",
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


@register(
    "join_qgram_fuzzy",
    r"WITH t AS (SELECT p_partkey AS k, p_name AS txt,"
    r" unnest(regexp_split_to_array(lower(p_name), '\s+')) AS tok"
    r" FROM part WHERE p_partkey % 10 = 0),"
    " cand AS (SELECT DISTINCT a.k AS left_key, b.k AS right_key,"
    "  a.txt AS left_text, b.txt AS right_text"
    " FROM t a JOIN t b ON a.tok = b.tok"
    "  AND abs(len(a.txt) - len(b.txt)) <= 2 AND a.k < b.k)"
    " SELECT left_key, right_key, left_text, right_text,"
    " CAST(levenshtein(left_text, right_text) AS INT) AS distance"
    " FROM cand WHERE levenshtein(left_text, right_text) <= 2",
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


@register(
    "win_rolling_median",
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
    " CAST(floor(mc + 0.5) AS BIGINT) AS median_cents FROM m2",
)
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


@register(
    "src_schema_evolution",
    "SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END"
    "  AS feed_era, count(*) AS n_rows,"
    " CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS n_null_price,"
    " round(sum(CASE WHEN o_orderkey % 2 = 1"
    "  THEN round(o_totalprice, 2) END), 2) AS sum_price"
    " FROM orders GROUP BY 1",
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


@register(
    "src_corrupt_records",
    "SELECT concat('decile_', CAST(o_custkey % 10 AS VARCHAR))"
    "  AS bucket, count(*) AS n_rows,"
    " round(sum(round(o_totalprice, 2)), 2) AS sum_price"
    " FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY 1"
    " UNION ALL"
    " SELECT '__CORRUPT__' AS bucket, count(*) AS n_rows,"
    " 0.0 AS sum_price FROM orders WHERE o_orderkey % 97 = 0",
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


@register(
    "src_format_roundtrip",
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
    "  max_ship_epoch FROM a",
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


@register(
    "dt_business_days",
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
    " FROM j GROUP BY sm",
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


@register(
    "olap_q2_min_cost_supplier",
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
    "  FROM elig e2 WHERE e2.p_partkey = elig.p_partkey)",
)
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


@register(
    "olap_q4_priority_check",
    "SELECT o_orderpriority, count(*) AS order_count"
    " FROM orders"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
    " AND o_orderdate < TIMESTAMP '1996-07-01'"
    " AND EXISTS (SELECT 1 FROM lineitem"
    "  WHERE l_orderkey = o_orderkey"
    "  AND l_shipdate > o_orderdate + INTERVAL 30 DAY)"
    " GROUP BY o_orderpriority",
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


@register(
    "olap_q11_important_stock",
    "WITH pv AS (SELECT l_partkey,"
    "  sum(l_extendedprice) AS part_value"
    " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' GROUP BY l_partkey)"
    " SELECT l_partkey AS p_partkey,"
    " round(part_value, 2) AS part_value"
    " FROM pv WHERE round(part_value, 2)"
    "  > (SELECT round(sum(part_value) * 0.001, 2) FROM pv)",
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


@register(
    "olap_q12_ship_delay",
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
    " GROUP BY delay_bucket",
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


@register(
    "olap_q16_supplier_counts",
    "SELECT p_brand, p_type, p_size,"
    " count(DISTINCT l_suppkey) AS supplier_cnt"
    " FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"
    " JOIN part ON l_partkey = p_partkey"
    " WHERE p_brand <> 'Brand#5'"
    " AND p_size IN (1, 9, 15, 22, 30, 42)"
    " AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier"
    "  WHERE s_acctbal < 0)"
    " GROUP BY p_brand, p_type, p_size",
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


@register(
    "olap_q20_part_promotion",
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
    "  HAVING sum(l_quantity) > 30)",
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


@register(
    "olap_q21_waiting_suppliers",
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
    " ORDER BY numwait DESC, s_suppkey ASC LIMIT 100",
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


@register(
    "win_drawdown",
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
    " FROM p GROUP BY user_id",
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


_EWMA_ALPHA, _EWMA_K = 0.3, 10


def _ewma_terms_sql() -> tuple[str, str]:
    nums, dens = [], []
    for j in range(_EWMA_K + 1):
        w = _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j
        expr = "y" if j == 0 else f"lag(y, {j}) OVER w"
        nums.append(f"coalesce({expr} * {w!r}, 0.0)")
        dens.append(f"CASE WHEN {expr} IS NOT NULL THEN {w!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


@register(
    "win_ewma",
    "WITH daily AS (SELECT event_type, CAST(day(ts) AS INT) AS day,"
    "  round(sum(value), 6) AS y FROM events GROUP BY 1, 2)"
    " SELECT event_type, day, y,"
    f" round(({_ewma_terms_sql()[0]}) / ({_ewma_terms_sql()[1]}), 6)"
    "  AS ewma"
    " FROM daily"
    " WINDOW w AS (PARTITION BY event_type ORDER BY day)",
)
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


@register(
    "win_rolling_skew",
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
    " FROM s",
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


@register(
    "join_asof_tolerance",
    "WITH v AS (SELECT user_id, ts, max(event_id) AS view_id"
    "  FROM events WHERE event_type = 'view' GROUP BY 1, 2),"
    " c AS (SELECT event_id, user_id, ts FROM events"
    "  WHERE event_type = 'click')"
    " SELECT c.event_id,"
    " CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,"
    " CASE WHEN v.ts >= c.ts - INTERVAL 10 MINUTE THEN v.view_id END"
    "  AS asof_view_id"
    " FROM c ASOF LEFT JOIN v"
    " ON c.user_id = v.user_id AND v.ts <= c.ts",
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


@register(
    "dt_gap_islands",
    "WITH months AS (SELECT DISTINCT o_custkey AS c,"
    "  (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1"
    "   AS m FROM orders),"
    " isl AS (SELECT c, m - row_number() OVER (PARTITION BY c"
    "  ORDER BY m) AS island FROM months),"
    " lens AS (SELECT c, island, count(*) AS island_length"
    "  FROM isl GROUP BY 1, 2)"
    " SELECT island_length, count(*) AS n_islands,"
    " count(DISTINCT c) AS n_customers"
    " FROM lens GROUP BY 1",
)
def _dt_gap_islands(spark, sf_dir):
    """Gaps-and-islands over each customer's distinct order months
    (island id = month index - row_number), rolled to a histogram of
    consecutive-month streak lengths (events.gap_islands_histogram)."""
    from eggv_spark.operators.events import gap_islands_histogram

    return gap_islands_histogram(_t(spark, sf_dir, "orders"))


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


_DAILY_REV_SQL = (
    "daily AS (SELECT o_orderpriority,"
    " CAST(datediff('day', TIMESTAMP '1992-01-01',"
    "  date_trunc('day', o_orderdate)) AS INT) AS day_idx,"
    " CAST(round(sum(o_totalprice) * 100) AS BIGINT) / 1e8 AS y"
    " FROM orders GROUP BY 1, 2)"
)


@register(
    "win_bollinger",
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
    " FROM s",
)
def _win_bollinger(spark, sf_dir):
    """Bollinger bands (20-day trailing mean ± 2σ + breach flag) on
    the exact-cents daily revenue series per priority
    (aggregates.with_bollinger)."""
    return AG.with_bollinger(
        _daily_priority_revenue(spark, sf_dir),
        ["o_orderpriority"], "day_idx", "y", window_rows=20,
    )


@register(
    "win_rsi",
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
    "  AS rsi FROM f",
)
def _win_rsi(spark, sf_dir):
    """14-period RSI (SMA variant) on the exact-cents daily revenue
    series per priority — loss-free windows pin to 100 instead of
    dividing by zero (aggregates.with_rsi)."""
    return AG.with_rsi(
        _daily_priority_revenue(spark, sf_dir),
        ["o_orderpriority"], "day_idx", "y", period=14,
    )


@register(
    "src_gvf_datasource",
    "SELECT 'chr' || CAST(n_nationkey % 4 AS VARCHAR) AS seqid,"
    " 'SNV' AS type,"
    " CAST(100 + n_nationkey * 10 AS BIGINT) AS start,"
    " CAST(105 + n_nationkey * 10 AS BIGINT) AS \"end\","
    " CAST(n_nationkey AS BIGINT) AS nationkey"
    " FROM nation",
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


_JOIN_CARD_SQL = """
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


@register("join_cardinality_estimate", _JOIN_CARD_SQL)
def _join_cardinality_estimate(spark, sf_dir):
    """Pre-flight exact cardinality audit of lineitem ⋈ part on
    partkey (tableops.join_cardinality_estimate): total output size +
    the 10 heaviest keys, from two key histograms."""
    return TO.join_cardinality_estimate(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        "l_partkey", "p_partkey",
    )
