"""Aggregate and statistics entries: grouped aggregates, sketches,
hypothesis tests, experiment statistics and sampling designs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.operators import aggregates as AG
from eggv_spark.operators import dedupe as D
from eggv_spark.operators import relational as R
from eggv_spark.operators import text_analysis as T
from eggv_spark.registry._shared import _BASEHASH_SQL, register, _t, _TOKS_SQL


@register(
    "agg_percentiles",
    "SELECT l_returnflag,"
    " round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,"
    " round(quantile_cont(l_extendedprice, 0.95), 2) AS p95"
    " FROM lineitem GROUP BY l_returnflag",
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


@register(
    "agg_pivot",
    "SELECT user_id,"
    " count(*) FILTER (event_type = 'click') AS click,"
    " count(*) FILTER (event_type = 'error') AS error,"
    " count(*) FILTER (event_type = 'purchase') AS purchase,"
    " count(*) FILTER (event_type = 'signup') AS signup,"
    " count(*) FILTER (event_type = 'view') AS view"
    " FROM events GROUP BY user_id",
)
def _agg_pivot(spark, sf_dir):
    return AG.pivot_counts(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


@register(
    "agg_rollup",
    "SELECT l_returnflag, l_linestatus,"
    " round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,"
    " CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)"
    "   AS grouping_level"
    " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
)
def _agg_rollup(spark, sf_dir):
    return AG.rollup_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 2), "n_rows": F.count("*")},
    )


@register(
    "agg_cube",
    "SELECT o_orderstatus, o_orderpriority,"
    " round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_rows,"
    " CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)"
    "   AS grouping_level"
    " FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)",
)
def _agg_cube(spark, sf_dir):
    return AG.cube_agg(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        {"sum_price": F.round(F.sum("o_totalprice"), 2), "n_rows": F.count("*")},
    )


@register(
    "agg_grouping_sets",
    "SELECT l_returnflag, l_linestatus,"
    " round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,"
    " CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)"
    "   AS grouping_level"
    " FROM lineitem"
    " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))",
)
def _agg_grouping_sets(spark, sf_dir):
    return AG.grouping_sets_agg(
        _t(spark, sf_dir, "lineitem"),
        [["l_returnflag"], ["l_linestatus"]],
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 2), "n_rows": F.count("*")},
    )


@register(
    "agg_distinct_counts",
    "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct"
    " FROM orders GROUP BY o_orderpriority",
)
def _agg_distinct_counts(spark, sf_dir):
    return AG.distinct_counts(
        _t(spark, sf_dir, "orders"), ["o_orderpriority"], "o_custkey"
    ).select("o_orderpriority", "n_distinct")


@register(
    "agg_pricing_summary",
    "SELECT l_returnflag, l_linestatus,"
    " round(sum(l_quantity), 2) AS sum_qty,"
    " round(sum(l_extendedprice), 2) AS sum_base,"
    " round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,"
    " round(avg(l_quantity), 4) AS avg_qty,"
    " count(*) AS n_rows"
    " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'"
    " GROUP BY l_returnflag, l_linestatus",
)
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


@register(
    "smp_stratified",
    "SELECT o_orderpriority, count(*) AS n_rows FROM orders"
    " WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),"
    "  1, 8)) AS BIGINT) % 100"
    " < (CASE o_orderpriority WHEN '1-URGENT' THEN 50"
    "    WHEN '2-HIGH' THEN 25 ELSE 5 END)"
    " GROUP BY o_orderpriority",
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


@register(
    "agg_corr",
    "SELECT l_returnflag,"
    " round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_xy,"
    " round(covar_samp(l_quantity, l_extendedprice), 4) + 0"
    "  AS covar_samp_xy,"
    " round(covar_pop(l_quantity, l_extendedprice), 4) + 0"
    "  AS covar_pop_xy,"
    " count(*) AS n_rows"
    " FROM lineitem GROUP BY l_returnflag",
)
def _agg_corr(spark, sf_dir):
    return AG.corr_cov_agg(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_quantity", "l_extendedprice",
    )


@register(
    "agg_stats_moments",
    "SELECT l_returnflag,"
    " round(stddev_samp(l_quantity), 4) AS x_stddev,"
    " round(var_samp(l_quantity), 4) AS x_var,"
    " round(corr(l_quantity, l_extendedprice), 4) + 0 AS xy_corr,"
    " round(covar_samp(l_quantity, l_extendedprice), 4) + 0"
    "  AS xy_covar,"
    " round(skewness(l_quantity), 4) + 0 AS x_skew"
    " FROM lineitem GROUP BY l_returnflag",
)
def _agg_stats_moments(spark, sf_dir):
    return AG.stats_agg(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_quantity", "l_extendedprice",
    )


@register(
    "agg_histogram",
    "SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 3000000"
    "  AS bucket, count(*) AS n_rows"
    " FROM orders GROUP BY 1",
)
def _agg_histogram(spark, sf_dir):
    return AG.histogram_fixed(
        _t(spark, sf_dir, "orders"), "o_totalprice", 3_000_000
    )


@register(
    "agg_argminmax",
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
    " FROM r GROUP BY c_nationkey",
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


@register(
    "smp_systematic",
    "SELECT l_returnflag, count(*) AS n_rows,"
    " round(sum(l_quantity), 2) AS sum_qty"
    " FROM lineitem WHERE l_orderkey % 100 < 5"
    " GROUP BY l_returnflag",
)
def _smp_systematic(spark, sf_dir):
    li = R.systematic_sample(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", 100, 5
    )
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_conditional",
    "SELECT l_returnflag,"
    " count(*) FILTER (WHERE l_quantity > 25) AS n_bigqty,"
    " round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice"
    "   ELSE 0.0 END), 2) AS disc_revenue,"
    " count(*) FILTER (WHERE l_linestatus = 'O') AS n_open_status"
    " FROM lineitem GROUP BY l_returnflag",
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


@register(
    "agg_string_agg",
    "SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations"
    " FROM nation JOIN region ON n_regionkey = r_regionkey"
    " GROUP BY r_name",
)
def _agg_string_agg(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    )
    return AG.string_agg_sorted(joined, ["r_name"], "n_name", out="nations")


@register(
    "agg_approx",
    # sketch queries, gradeable form: the oracle hashes the exact
    # twins; the tolerance booleans must come out TRUE on the
    # Spark side (sketch within tolerance of exact) to match.
    "SELECT l_returnflag,"
    " COUNT(DISTINCT l_orderkey) AS n_distinct_exact,"
    " round(quantile_cont(l_orderkey, 0.5), 4) AS p50_exact,"
    " round(quantile_cont(l_orderkey, 0.9), 4) AS p90_exact,"
    " TRUE AS distinct_ok, TRUE AS p50_ok, TRUE AS p90_ok"
    " FROM lineitem GROUP BY l_returnflag",
)
def _agg_approx(spark, sf_dir):
    """Sketch aggregates (HLL++, approx percentiles) in GRADEABLE
    form: the raw sketch outputs are not DuckDB-reproducible, so the
    output carries the EXACT twins (count_distinct
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


@register(
    "agg_gini",
    "WITH r AS (SELECT l_returnflag, l_quantity AS v,"
    "  row_number() OVER (PARTITION BY l_returnflag"
    "    ORDER BY l_quantity) AS rn FROM lineitem)"
    " SELECT l_returnflag,"
    " round(2.0 * sum(rn * v) / (count(*) * sum(v))"
    "   - (count(*) + 1.0) / count(*), 4) AS gini"
    " FROM r GROUP BY l_returnflag",
)
def _agg_gini(spark, sf_dir):
    """Per-group Gini, JVM window+agg form (not the pandas-UDAF form —
    same values, but a UDAF cannot partial-agg, so the SQL formulation
    is the one that ships at 100 TB; the UDAF
    variant survives as aggregates.gini_by_group, the custom-aggregate
    extension-point demo, equality-tested against this form)."""
    return AG.gini_by_group_sql(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )


@register(
    "smp_cap_per_group",
    "SELECT doc_id, source FROM ("
    " SELECT doc_id, source, row_number() OVER ("
    "  PARTITION BY source"
    "  ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    "   AS BIGINT), doc_id) AS rk"
    " FROM documents) WHERE rk <= 10",
)
def _smp_cap_per_group(spark, sf_dir):
    """Per-source document cap (domain balancing): at most 10 docs
    per source, chosen by engine-portable md5 hash rank — the
    standard anti-dominance mixer of web-scale training corpora."""
    return R.cap_per_group(
        _t(spark, sf_dir, "documents"), "source", "doc_id", 10
    ).select("doc_id", "source")


@register(
    "agg_mode",
    "SELECT o_orderstatus, o_orderpriority AS mode_value,"
    " c AS mode_count"
    " FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS c,"
    "  row_number() OVER (PARTITION BY o_orderstatus"
    "   ORDER BY count(*) DESC, o_orderpriority) AS rk"
    "  FROM orders GROUP BY 1, 2) WHERE rk = 1",
)
def _agg_mode(spark, sf_dir):
    """Deterministic per-group mode (most frequent order priority per
    order status, smallest value wins ties) — two combined hash
    aggregations, no window over raw rows."""
    return AG.mode_agg(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_orderpriority"
    )


@register(
    "agg_weighted_avg",
    "SELECT l_returnflag,"
    " round(sum(l_quantity * l_extendedprice) / sum(l_quantity), 4)"
    "  AS weighted_avg_price,"
    " round(avg(l_extendedprice), 4) AS plain_avg_price,"
    " round(sum(l_quantity), 2) AS total_qty"
    " FROM lineitem GROUP BY l_returnflag",
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


@register(
    "smp_mixture_weights",
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
    " FROM d, t",
)
def _smp_mixture_weights(spark, sf_dir):
    """Per-source token shares + uniform-target importance weights —
    the mixture design artifact reviewed before rebalancing."""
    scored = T.with_token_counts(_t(spark, sf_dir, "documents"))
    return T.mixture_weights(scored, "source", "n_tokens")


@register(
    "smp_train_eval_split",
    "WITH b AS (SELECT doc_id,"
    "  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),"
    "   1, 8)) AS BIGINT) % 100 AS bucket FROM documents),"
    " s AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'"
    "  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split"
    "  FROM b)"
    " SELECT split, count(*) AS n_docs,"
    " min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id"
    " FROM s GROUP BY split",
)
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


@register(
    "agg_histogram_eqdepth",
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
    " FROM c, cuts GROUP BY 1",
)
def _agg_histogram_eqdepth(spark, sf_dir):
    """Equi-depth histogram of order totals: percentile cut points
    from ONE mergeable aggregate (never a global ntile sort),
    broadcast back for codegen bucketing."""
    return AG.equi_depth_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", n_buckets=10
    )


@register(
    "agg_entropy",
    "WITH c AS (SELECT user_id, event_type, count(*) AS n"
    " FROM events GROUP BY 1, 2)"
    " SELECT user_id, CAST(sum(n) AS BIGINT) AS n_rows,"
    " count(*) AS n_distinct_values,"
    " round(log2(CAST(sum(n) AS DOUBLE))"
    "  - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 4)"
    "  AS entropy_bits"
    " FROM c GROUP BY user_id",
)
def _agg_entropy(spark, sf_dir):
    """Per-user Shannon entropy (bits) of the event-type
    distribution — two map-side-combinable hash aggregations."""
    return AG.entropy_agg(_t(spark, sf_dir, "events"), ["user_id"], "event_type")


@register(
    "smp_domain_mix",
    "WITH s AS (SELECT CAST(ceil(count(*) /"
    "   count(DISTINCT event_type)) AS BIGINT) AS cap FROM events),"
    " r AS (SELECT event_id, event_type,"
    "  row_number() OVER (PARTITION BY event_type ORDER BY"
    "   CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),"
    "    1, 8)) AS BIGINT), event_id) AS rn"
    "  FROM events)"
    " SELECT event_id, event_type FROM r, s WHERE rn <= cap",
)
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


@register(
    "smp_token_budget",
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
    " SELECT * FROM w WHERE cum_tokens <= 800",
)
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


@register(
    "smp_temperature_weights",
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
    " FROM p, z",
)
def _smp_temperature_weights(spark, sf_dir):
    """Temperature-scaled (p^alpha) sampling design per source: the
    multilingual rebalancing rule — natural share, alpha=0.5 target
    share, and the per-domain sampler multiplier."""
    scored = T.with_token_counts(_t(spark, sf_dir, "documents"))
    return T.temperature_weights(scored, "source", "n_tokens", alpha=0.5)


@register(
    "agg_chi2_cells",
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
    " FROM cells",
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


@register(
    "smp_apply_weights",
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
    " FROM n, lateral unnest(generate_series(1, n_copies)) t(ci)",
)
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


@register(
    "agg_mad",
    "WITH m AS (SELECT l_returnflag,"
    "  quantile_cont(l_extendedprice, 0.5) AS med"
    " FROM lineitem GROUP BY l_returnflag)"
    " SELECT l_returnflag, round(any_value(med), 4)"
    "  AS median_price,"
    " round(quantile_cont(abs(l_extendedprice - med), 0.5), 4)"
    "  AS mad_price"
    " FROM lineitem JOIN m USING (l_returnflag)"
    " GROUP BY l_returnflag",
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


@register(
    "agg_linreg",
    "SELECT l_returnflag, count(*) AS n_obs,"
    " round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,"
    " round(avg(l_extendedprice)"
    "  - regr_slope(l_extendedprice, l_quantity)"
    "   * avg(l_quantity), 2) AS intercept,"
    " round(pow(corr(l_extendedprice, l_quantity), 2), 6) AS r2"
    " FROM lineitem GROUP BY l_returnflag",
)
def _agg_linreg(spark, sf_dir):
    """Per-group OLS fit (slope/intercept/r²) from distributive
    moments — SQL's REGR_* family in one map-side-combined shuffle."""
    return AG.linreg_by_group(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        x="l_quantity", y="l_extendedprice",
    )


@register(
    "agg_ks_test",
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
    " FROM c GROUP BY n_a, n_b",
)
def _agg_ks_test(spark, sf_dir):
    """Two-sample KS statistic: do returned ('R') and accepted ('A')
    lineitems draw prices from the same distribution?
    (aggregates.ks_statistic — CDF compare over the value-distinct
    table)."""
    return AG.ks_statistic(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", "A",
    )


@register(
    "agg_cov_matrix",
    "SELECT l_returnflag, count(*) AS n_obs,"
    " round(var_samp(l_quantity), 4) AS var_qty,"
    " round(var_samp(l_extendedprice / 1000.0), 4) AS var_price_k,"
    " round(var_samp(l_discount), 4) AS var_disc,"
    " round(covar_samp(l_quantity, l_extendedprice / 1000.0), 4)"
    "  AS cov_qty_price_k,"
    " round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc,"
    " round(covar_samp(l_extendedprice / 1000.0, l_discount), 4)"
    "  AS cov_price_k_disc"
    " FROM lineitem GROUP BY l_returnflag",
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


@register(
    "smp_neg_sampling",
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
    " WHERE rk <= 4",
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


@register(
    "smp_weighted_reservoir",
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
    " WHERE rn <= 50",
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


@register(
    "smp_quantile_normalize",
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
    " FROM r JOIN q7 ON q7.i = CAST(round(r.pr * 1000) AS INT)",
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


@register(
    "agg_copurchase",
    "WITH items AS (SELECT DISTINCT l_orderkey AS b,"
    "  l_partkey AS item FROM lineitem),"
    " pairs AS (SELECT a.item AS item_a, b2.item AS item_b,"
    "  count(*) AS support FROM items a"
    "  JOIN items b2 ON a.b = b2.b AND a.item < b2.item"
    "  GROUP BY item_a, item_b)"
    " SELECT item_a, item_b, support FROM pairs"
    " ORDER BY support DESC, item_a ASC, item_b ASC LIMIT 100",
)
def _agg_copurchase(spark, sf_dir):
    """Market-basket co-occurrence: top-100 part pairs ordered in the
    same order (relational.copurchase_pairs) — within-basket pair
    expansion, never a corpus² product."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return R.copurchase_pairs(li, "l_orderkey", "l_partkey", top_n=100)


@register(
    "agg_hll_rollup",
    "SELECT source,"
    " COUNT(DISTINCT md5(text)) AS n_distinct_exact,"
    " TRUE AS est_ok"
    " FROM documents GROUP BY source"
    " UNION ALL"
    " SELECT '__ALL__' AS source,"
    " COUNT(DISTINCT md5(text)) AS n_distinct_exact,"
    " TRUE AS est_ok"
    " FROM documents",
)
def _agg_hll_rollup(spark, sf_dir):
    """Mergeable-sketch ROLLUP: per-source HyperLogLog sketches of
    distinct content hashes, unioned into a corpus-wide sketch WITHOUT
    rescanning the data — Spark's hll_sketch_agg/hll_union_agg, the
    datasketches path that makes distinct-count rollups one-pass and
    re-aggregatable at any grain.

    GRADEABLE FORM: the raw sketch estimate is merge-order-sensitive
    at small cardinality (497 vs 501 for the same 500-value set under
    two partition configs) and not DuckDB-reproducible, so the output
    carries an EXACT ``count_distinct`` twin column (what the oracle
    hashes)
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
    # null-safe key join + greatest(exact, 1) denominator: a NULL
    # source group must survive the twin join exactly
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


@register(
    "agg_benford",
    "WITH d AS (SELECT CAST(substring(regexp_replace("
    "  CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)"
    "  AS INT) AS digit FROM orders),"
    " pd AS (SELECT digit, count(*) AS n FROM d"
    "  WHERE digit IS NOT NULL GROUP BY digit)"
    " SELECT digit, n,"
    " round(n * 1.0 / sum(n) OVER (), 6) AS observed,"
    " round(log10(1 + 1.0 / digit), 6) AS expected"
    " FROM pd",
)
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


@register(
    "agg_assoc_rules",
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
    " ORDER BY lift DESC, item_a ASC, item_b ASC LIMIT 100",
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


@register(
    "agg_countmin",
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
    " GROUP BY l_partkey, exact_n",
)
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


@register(
    "agg_tukey_outliers",
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
    " GROUP BY l.l_returnflag",
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


@register(
    "agg_auc",
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
    " FROM g",
)
def _agg_auc(spark, sf_dir):
    """Per-day ROC AUC (is this event a purchase, scored by event
    value) via the tie-corrected Mann–Whitney rank identity — one
    window shuffle, rank sums exact in doubles
    (aggregates.roc_auc).

    ~10% of scores are deterministically NULLed (md5 of event_id,
    residue 0 mod 10; identical expression in the oracle) — the
    driver fixtures carry ZERO NULLs in events.value, so this puts
    roc_auc's
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


@register(
    "agg_welch",
    "WITH s AS (SELECT"
    "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),"
    "   1, 8)) AS BIGINT) % 2 AS arm,"
    # ~10% of metric values NULLed on the md5(event_id) % 10
    # residue, mirroring the Spark side: the fixtures carry no
    # NULLs in events.value, so this injection is what makes
    # the NULL-skipping count/avg/var_samp semantics below
    # actually reachable under the driver gate
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
    " FROM g",
)
def _agg_welch(spark, sf_dir):
    """Welch's unequal-variance t-test on event value between the two
    arms of a deterministic md5 user split — the continuous-metric A/B
    readout (companion to evt_ab_test's proportion z-test); one
    conditional-moment aggregation pass (aggregates.welch_ttest).

    ~10% of metric values are deterministically NULLed (md5 of
    event_id, residue 0 mod 10; identical expression in the oracle)
    because the driver fixtures carry ZERO NULLs in events.value at
    every SF — this puts welch_ttest's
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


@register(
    "agg_tost",
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
    " FROM g",
)
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


@register(
    "smp_balanced_classes",
    "WITH m AS (SELECT min(cnt) AS min_n FROM ("
    "  SELECT count(*) AS cnt FROM embeddings GROUP BY label)),"
    " r AS (SELECT vec_id, label, row_number() OVER ("
    "  PARTITION BY label ORDER BY"
    "  CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),"
    "   1, 8)) AS BIGINT) ASC, vec_id ASC) AS rk"
    "  FROM embeddings)"
    " SELECT vec_id, label FROM r, m WHERE rk <= min_n",
)
def _smp_balanced_classes(spark, sf_dir):
    """Class-balanced downsample of the embedding table: every label
    cut to the global minority-class size by portable md5 rank —
    deterministic across runs/engines/partitionings
    (relational.balanced_downsample)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return R.balanced_downsample(emb, "label", "vec_id")


@register(
    "smp_kfold",
    "SELECT CAST(CAST(concat('0x',"
    "  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)"
    "  % 5 AS INT) AS fold,"
    " count(*) AS n_rows,"
    " round(sum(c_acctbal), 2) AS total_acctbal"
    " FROM customer GROUP BY fold",
)
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


@register(
    "agg_theil",
    "WITH pos AS (SELECT l_returnflag, l_extendedprice AS x"
    "  FROM lineitem WHERE l_extendedprice > 0),"
    " mu AS (SELECT l_returnflag, avg(x) AS m,"
    "  count(*) AS n_pos FROM pos GROUP BY 1)"
    " SELECT mu.l_returnflag, n_pos,"
    " round(avg((x / m) * ln(x / m)), 6) AS theil_t"
    " FROM pos p JOIN mu ON p.l_returnflag = mu.l_returnflag"
    " GROUP BY mu.l_returnflag, n_pos",
)
def _agg_theil(spark, sf_dir):
    """Theil T inequality of line revenue per returnflag — the
    decomposable, sort-free complement to the Gini UDAF; two
    map-side-combined moment passes (aggregates.theil_index)."""
    return AG.theil_index(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )


@register(
    "agg_theilsen",
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
    " FROM r GROUP BY event_type, n_pairs, slope",
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


@register(
    "agg_mann_kendall",
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
    " FROM v",
)
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


@register("agg_power_analysis", _POWER_ORACLE())
def _agg_power_analysis(spark, sf_dir):
    """Experiment sample-size planning per event type: users-per-arm
    to detect a 1/2/5/10% relative lift in mean event value at
    alpha=0.05, power 0.8 — one map-combined moments pass, then pure
    scalar math over the tiny aggregate
    (aggregates.power_analysis_mean)."""
    return AG.power_analysis_mean(
        _t(spark, sf_dir, "events"), "value", keys=["event_type"]
    )


@register(
    "smp_neyman",
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
    " FROM rk JOIN q USING (s) WHERE rk.rn <= q.quota",
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


@register(
    "agg_bootstrap_ab",
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
    " FROM pt, ci",
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


@register(
    "agg_bootstrap_ci",
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
    " round(hi, 4) AS ci_hi FROM point, ci",
)
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


@register(
    "agg_psi",
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
    " FROM m, t",
)
def _agg_psi(spark, sf_dir):
    """Population-drift readout: PSI components of event value between
    the first and second half of the month (day <= 15 vs day > 15) —
    equal-width global bins, per-side map-combined counts, bins-sized
    merge (aggregates.population_stability)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    return AG.population_stability(a, b, "value", n_bins=10)


@register(
    "agg_calibration",
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
    " FROM b GROUP BY bin",
)
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


@register(
    "agg_spearman",
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
    " round(corr(rx, ry), 4) AS spearman FROM r GROUP BY l_returnflag",
)
def _agg_spearman(spark, sf_dir):
    """Spearman rank correlation of quantity vs price per returnflag —
    average-rank tie treatment, two analytic windows + one corr
    aggregation (aggregates.spearman_corr)."""
    return AG.spearman_corr(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_quantity", "l_extendedprice",
    )


@register(
    "agg_cramers_v",
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
    " FROM m",
)
def _agg_cramers_v(spark, sf_dir):
    """Chi-square + Cramér's V association between order status and
    priority — cell counts in one shuffle, marginals from windows
    over the tiny contingency frame (aggregates.cramers_v)."""
    return AG.cramers_v(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


@register(
    "agg_cohens_d",
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
    " FROM events GROUP BY event_type",
)
def _agg_cohens_d(spark, sf_dir):
    """Standardized effect size (pooled-SD Cohen's d) of event value
    between hash-split arms per event type — the magnitude companion
    to agg_welch (aggregates.cohens_d)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_arm", (F.col("user_id") % 2).cast("int")
    )
    return AG.cohens_d(ev, ["event_type"], "_arm", "value")


@register(
    "agg_mutual_info",
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
    " FROM tot, mi, ha, hb",
)
def _agg_mutual_info(spark, sf_dir):
    """Mutual information + marginal entropies + NMI between order
    status and priority — same cells-frame plan as Cramér's V
    (aggregates.mutual_information)."""
    return AG.mutual_information(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


@register(
    "agg_trimmed_mean",
    "WITH r AS (SELECT l_returnflag, l_extendedprice AS x,"
    " row_number() OVER (PARTITION BY l_returnflag"
    "  ORDER BY l_extendedprice, l_orderkey * 8 + l_linenumber) AS rn,"
    " count(*) OVER (PARTITION BY l_returnflag) AS n"
    " FROM lineitem WHERE l_extendedprice IS NOT NULL)"
    " SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,"
    " count(*) AS n_kept, round(avg(x), 4) AS trimmed_mean"
    " FROM r WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)"
    " GROUP BY l_returnflag",
)
def _agg_trimmed_mean(spark, sf_dir):
    """10% symmetric trimmed mean of extended price per returnflag —
    rank-based trim with a unique integer tiebreak so the kept value
    multiset is engine-identical (aggregates.trimmed_mean)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_tb", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    return AG.trimmed_mean(li, ["l_returnflag"], "l_extendedprice", "_tb")


@register(
    "agg_lorenz",
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
    " FROM d",
)
def _agg_lorenz(spark, sf_dir):
    """Lorenz curve at decile boundaries of order value per priority
    class — the distributional readout behind agg_gini; integer-exact
    decile assignment (aggregates.lorenz_deciles)."""
    return AG.lorenz_deciles(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"], "o_totalprice", "o_orderkey",
    )


_ECDF_PROBES = [1000.0, 10000.0, 30000.0, 60000.0, 90000.0]


@register(
    "agg_ecdf",
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
    ),
)
def _agg_ecdf(spark, sf_dir):
    """Empirical CDF of extended price at five fixed probes per
    returnflag — sort-free conditional aggregates, one map-side pass
    (aggregates.ecdf_at_points)."""
    return AG.ecdf_at_points(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_extendedprice", _ECDF_PROBES,
    )


@register(
    "agg_runs_test",
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
    " FROM runs GROUP BY event_type",
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


@register(
    "agg_permutation_fdr",
    "WITH " + _PERM_PV_SQL.replace("%%", "%") + ","
    " r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value,"
    "  event_type) AS INT) AS p_rank,"
    "  count(*) OVER () AS m FROM pv)"
    " SELECT event_type, n, d_obs AS diff_obs, p_value, p_rank,"
    " round(0.05 * p_rank / m, 6) AS bh_threshold,"
    " coalesce(CASE WHEN p_rank <= (SELECT max(p_rank) FROM r"
    "  WHERE p_value <= 0.05 * p_rank / m) THEN 1 ELSE 0 END, 0)"
    "  AS significant"
    " FROM r",
)
def _agg_permutation_fdr(spark, sf_dir):
    """Randomization-test p-values per event type + Benjamini–
    Hochberg step-up across the family — the multiple-testing-safe
    experiment readout (aggregates.permutation_test_diff +
    bh_adjust)."""
    return AG.bh_adjust(
        _perm_pvalues(spark, sf_dir), "p_value", "event_type", alpha=0.05
    )


@register(
    "agg_fisher_method",
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
    " FROM a",
)
def _agg_fisher_method(spark, sf_dir):
    """Fisher's combined-probability test over the per-event-type
    randomization p-values — closed-form even-dof chi-square tail,
    evaluated as the same finite series in both engines
    (aggregates.fisher_combine)."""
    return AG.fisher_combine(_perm_pvalues(spark, sf_dir), "p_value")


@register(
    "agg_ljung_box",
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
    " END AS p_value FROM q",
)
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


@register(
    "agg_ratio_ci",
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
    " FROM a",
)
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


@register(
    "agg_digit_histogram",
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
    " FROM b",
)
def _agg_digit_histogram(spark, sf_dir):
    """Order-of-magnitude (digit-count-of-cents) histogram of order
    value — integer/string bucket math that can never ulp-drift the
    way floor(log10) can, HDR-histogram style
    (aggregates.digit_histogram)."""
    return AG.digit_histogram(_t(spark, sf_dir, "orders"), [], "o_totalprice")


@register(
    "smp_min_per_group",
    "WITH r AS (SELECT source, doc_id,"
    "  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    "   AS BIGINT) AS h,"
    "  row_number() OVER (PARTITION BY source"
    "   ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS"
    "    VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rk"
    "  FROM documents)"
    " SELECT source, count(*) AS n_kept,"
    " CAST(sum(doc_id) AS BIGINT) AS id_sum"
    " FROM r WHERE rk <= 20 OR h % 100 < 10 GROUP BY 1",
)
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


@register(
    "smp_horvitz_thompson",
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
    " FROM r GROUP BY 1",
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


@register(
    "agg_anova",
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
    "  AS f_stat FROM a",
)
def _agg_anova(spark, sf_dir):
    """One-way ANOVA F of event value across the five event types —
    per-group moments to k rows, grand mean inside the scalar reduce
    (aggregates.anova_oneway)."""
    return AG.anova_oneway(_t(spark, sf_dir, "events"), "event_type", "value")


_CHI2_EVEN_TAIL_SQL = (
    "round(least(exp(-{x} / 2.0) * list_sum(list_transform("
    " generate_series(0, {m} - 1),"
    " i -> CASE WHEN i = 0 THEN 1.0 WHEN {x} = 0 THEN 0.0"
    "  ELSE exp(i * ln({x} / 2.0) - lgamma(i + 1.0)) END)), 1.0), 6)"
)


@register(
    "agg_kruskal",
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
    + " END AS p_value FROM h",
)
def _agg_kruskal(spark, sf_dir):
    """Kruskal–Wallis H (tie-corrected) of event value across event
    types — the distribution-free ANOVA, with the closed-form even-
    dof chi2 tail (k=5 -> dof 4) (aggregates.kruskal_wallis)."""
    return AG.kruskal_wallis(_t(spark, sf_dir, "events"), "event_type", "value")


@register(
    "agg_levene",
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
    "  AS levene_w FROM a",
)
def _agg_levene(spark, sf_dir):
    """Levene's W (mean-centered) for variance equality across event
    types — |x - mean_g| then ANOVA on the deviations
    (aggregates.levene_test)."""
    return AG.levene_test(_t(spark, sf_dir, "events"), "event_type", "value")


@register(
    "agg_median_test",
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
    " FROM pg, tot GROUP BY k, ta, tb",
)
def _agg_median_test(spark, sf_dir):
    """Mood's median test across event types — rank-based pooled
    median (never percentile interpolation), above/below counts,
    2xk chi-square (aggregates.median_test)."""
    return AG.median_test(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


@register(
    "agg_friedman",
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
    + " END AS p_value FROM q",
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


@register(
    "agg_powerlaw",
    "SELECT count(*) AS n_tail, 200000.0 AS x_min,"
    " round(1.0 + count(*) / sum(ln(o_totalprice / 200000.0)), 6)"
    "  AS alpha,"
    " round((count(*) / sum(ln(o_totalprice / 200000.0)))"
    "  / sqrt(count(*)), 6) AS alpha_se"
    " FROM orders WHERE o_totalprice >= 200000.0",
)
def _agg_powerlaw(spark, sf_dir):
    """Clauset–Shalizi–Newman power-law tail MLE on order value
    (x_min = 200000): alpha and its asymptotic SE in one pass
    (aggregates.powerlaw_mle)."""
    return AG.powerlaw_mle(
        _t(spark, sf_dir, "orders"), "o_totalprice", 200000.0
    )


@register(
    "agg_pr_auc",
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
    "  AS avg_precision FROM p",
)
def _agg_pr_auc(spark, sf_dir):
    """Average precision (area under the PR curve) of event value as
    a purchase-likelihood score — the imbalance-honest companion to
    agg_auc's ROC, identical rank order in both engines via the
    event_id tiebreak (aggregates.average_precision)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_y", (F.col("event_type") == "purchase").cast("int")
    )
    return AG.average_precision(ev, "value", "_y", "event_id")


@register(
    "agg_lift_chart",
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
    " round(cp / tp, 6) AS cum_gain FROM t",
)
def _agg_lift_chart(spark, sf_dir):
    """Decile lift/gain chart for the same purchase-likelihood score
    — per-decile response rate, lift vs base rate, cumulative gain,
    with the integer-exact decile assignment
    (aggregates.lift_chart)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_y", (F.col("event_type") == "purchase").cast("int")
    )
    return AG.lift_chart(ev, "value", "_y", "event_id")


@register(
    "agg_kappa",
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
    " FROM m",
)
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


@register(
    "agg_mcnemar",
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
    "  AS mcnemar_chi2 FROM m",
)
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


_AB_VARIANT_SQL = (
    "CASE WHEN CAST(concat('0x',"
    " substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 2 = 0 THEN 'A' ELSE 'B' END"
)


_SRM_SQL = f"""
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


@register("srm_check", _SRM_SQL)
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


_MULT_MEANS_SQL = """
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


@register("multiplicative_means", _MULT_MEANS_SQL)
def _multiplicative_means(spark, sf_dir):
    """Geometric/harmonic means of lineitem quantity per returnflag
    (aggregates.multiplicative_means) — map-side-combinable moment
    folds, no sorting."""
    return AG.multiplicative_means(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )


_UPLIFT_SQL = f"""
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


@register("uplift_by_segment", _UPLIFT_SQL)
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


_CUPED_SQL = f"""
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


@register("cuped_adjusted_lift", _CUPED_SQL)
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


_HHI_SQL = """
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


@register("hhi_concentration", _HHI_SQL)
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


_MCC_SQL = f"""
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


@register("mcc_confusion", _MCC_SQL)
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


_BRIER_SQL = f"""
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


@register("brier_decomposition", _BRIER_SQL)
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


_PPS_WEIGHT_SQL = "greatest(CAST(round(c_acctbal * 100) AS BIGINT), 1)"


_PPS_SYS_SQL = f"""
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


@register("pps_systematic_sample", _PPS_SYS_SQL)
def _pps_systematic_sample(spark, sf_dir):
    """PPS systematic sample of 40 customers weighted by account
    balance (relational.pps_systematic_sample): md5 traversal order,
    integer cumulative weights, div-based crossing test — zero RNG
    state, engine-exact."""
    return R.pps_systematic_sample(
        _t(spark, sf_dir, "customer"), ["c_custkey"],
        _pps_weight_cents(), n_samples=40,
    )


_PPS_STRAT_SQL = f"""
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


@register("pps_stratified_sample", _PPS_STRAT_SQL)
def _pps_stratified_sample(spark, sf_dir):
    """Stratified PPS sample (12 per market segment) — the 100 TB
    headline form: |strata| independent cumulative-weight streams
    instead of one global total order
    (relational.pps_stratified_sample)."""
    return R.pps_stratified_sample(
        _t(spark, sf_dir, "customer"), ["c_mktsegment"], ["c_custkey"],
        _pps_weight_cents(), n_per_stratum=12,
    )


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


@register(
    "energy_distance",
    _energy_oracle_sql(
        "event_type", "round(value * 100)", "view", "purchase"
    ),
)
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


@register(
    "wasserstein_1d",
    _wasserstein_oracle_sql(
        "event_type", "round(value * 100)", "view", "purchase"
    ),
)
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


@register("did_estimator", _did_oracle_sql())
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


@register("agg_mann_whitney", _MANN_WHITNEY_SQL)
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


@register("psm_att", _PSM_ATT_SQL)
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


@register("agg_deming", _DEMING_SQL)
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


@register("smp_group_kfold", _GROUP_KFOLD_SQL)
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


_RAKING_TARGETS_1 = {
    "AUTOMOBILE": 0.2, "BUILDING": 0.2, "FURNITURE": 0.2,
    "HOUSEHOLD": 0.2, "MACHINERY": 0.2,
}


_RAKING_TARGETS_2 = {0: 0.2, 1: 0.2, 2: 0.2, 3: 0.2, 4: 0.2}


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


@register("smp_raking_weights", _raking_oracle_sql(3))
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


@register("agg_kendall_tau", _KENDALL_SQL)
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


@register("agg_cochran_armitage", _COCHRAN_ARMITAGE_SQL)
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


@register("agg_fleiss_kappa", _FLEISS_SQL)
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


@register("agg_cmh_test", _CMH_SQL)
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


@register("agg_g_test", _G_TEST_SQL)
def _agg_g_test(spark, sf_dir):
    """Likelihood-ratio G-test (aggregates.g_test) of priority ×
    status independence on orders: exact integer cells/margins,
    cell terms pooled as ordered prefix sums."""
    return AG.g_test(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


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


@register("agg_smd_balance", _SMD_SQL)
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


@register("agg_wilson_ci", _WILSON_SQL)
def _agg_wilson_ci(spark, sf_dir):
    """Wilson score interval (aggregates.wilson_ci) for the order
    failure rate per priority — the boundary-safe proportion CI,
    exactly reproducible from (n, s)."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderstatus") == "F").alias("failed"),
    )
    return AG.wilson_ci(orders, "prio", "failed")


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


@register("agg_mh_odds_ratio", _MH_OR_SQL)
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


@register("agg_partial_corr", _PARTIAL_CORR_SQL)
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
