"""Grouped, multi-level, and analytic-window aggregation operators.

SURVEY §2.8: the reference has NO group-by aggregation, grouping
sets, or window functions — all its aggregation is deduplication.
These are first-class capabilities of the new engine, built on
Spark's native HashAggregate / WindowExec so every one gets map-side
partial aggregation and whole-stage codegen.

Scale notes
-----------
* rollup/cube expand each input row into one row per grouping set
  BEFORE the shuffle (Expand operator) — a cube over d dimensions
  multiplies shuffle volume by 2^d; keep d small or pre-aggregate on
  the full key first.
* analytic windows shuffle once on the partition key; a pathological
  hot key serializes into one task — salt or pre-aggregate if a key
  exceeds executor memory.
"""

from __future__ import annotations

from functools import reduce
from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _agg_exprs(aggs: Mapping[str, Column]) -> list[Column]:
    return [expr.alias(name) for name, expr in aggs.items()]


def rollup_agg(
    df: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]
) -> DataFrame:
    """ROLLUP: hierarchical subtotals (k, k-1, ..., grand total).
    ``grouping_id`` distinguishes subtotal rows from data rows whose
    key column is genuinely null."""
    return (
        df.rollup(*keys)
        .agg(*_agg_exprs(aggs), F.grouping_id().alias("grouping_level"))
    )


def cube_agg(
    df: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]
) -> DataFrame:
    """CUBE: every subset of ``keys`` (2^k grouping sets)."""
    return (
        df.cube(*keys)
        .agg(*_agg_exprs(aggs), F.grouping_id().alias("grouping_level"))
    )


def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    keys: Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """Explicit GROUPING SETS — only the named subsets, no 2^k blowup."""
    return (
        df.groupingSets([list(s) for s in sets], *[F.col(k) for k in keys])
        .agg(*_agg_exprs(aggs), F.grouping_id().alias("grouping_level"))
    )


def with_lag_lead(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    lag_name: str = "prev_value",
    lead_name: str = "next_value",
) -> DataFrame:
    """LAG/LEAD over a keyed, explicitly-ordered window (order must
    include a unique tiebreak for determinism)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumns(
        {lag_name: F.lag(col).over(w), lead_name: F.lead(col).over(w)}
    )


def with_running_sum(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    out: str = "running_sum",
) -> DataFrame:
    """Running total per key — ROWS UNBOUNDED PRECEDING..CURRENT ROW
    (ROWS, not RANGE, so tied order keys still accumulate row by
    row — deterministic given a unique tiebreak in ``order_by``)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(col).over(w))


def with_moving_avg(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    preceding: int = 2,
    out: str = "moving_avg",
) -> DataFrame:
    """Moving average over the current row and ``preceding`` prior
    rows (ROWS frame)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(out, F.avg(col).over(w))


def with_decayed_sum(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    decay: float = 0.5,
    window_size: int = 8,
    out: str = "decayed_sum",
    round_dp: int | None = 4,
) -> DataFrame:
    """Recency-weighted trailing sum — the bounded-window EWMA
    feature: at each row, ``Σ_{d=0}^{K-1} decay^d · lag(value, d)``
    over the entity's ordered series (missing lags contribute 0).

    Why K explicit lags instead of the closed-form prefix-sum EWMA
    (``decay^i · Σ v_j/decay^j``): the prefix form's ``decay^-j``
    grows without bound — overflow/precision loss on long series and
    FP results that depend on partial-sum order, so two engines
    disagree at the 4th decimal.  K bounded terms keep every exponent
    small, make the value exactly reproducible in ANSI SQL, and cost
    one window pass (single shuffle on the partition keys), same as
    any lag feature.

    ``round_dp=None`` returns the raw double (callers that need
    engine-exact comparisons should scale-and-floor it themselves —
    decimal rounding of doubles is engine-dependent at boundaries).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    total = None
    for d in range(window_size):
        term = F.coalesce(F.lag(col, d).over(w), F.lit(0.0)) * F.lit(
            decay**d
        )
        total = term if total is None else total + term
    if round_dp is not None:
        total = F.round(total, round_dp)
    return df.withColumn(out, total)


def pivot_counts(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
) -> DataFrame:
    """Pivot: one column per ``pivot_values`` entry with the group's
    row count (0 when absent, matching SQL conditional counts).

    ``pivot_values`` is REQUIRED: without it Spark runs an extra
    distinct-values job over the full table before planning — never
    acceptable on 100 TB inputs.
    """
    out = df.groupBy(*keys).pivot(pivot_col, list(pivot_values)).count()
    return out.na.fill({v: 0 for v in pivot_values})


def gini_by_group(
    df: DataFrame, keys: Sequence[str], col: str, out: str = "gini"
) -> DataFrame:
    """Gini coefficient per group via an Arrow-batched Pandas UDAF —
    the custom-aggregate extension point for statistics the built-in
    aggregates can't express.

    UDAF mechanics: each group's values arrive as ONE pandas Series
    (Arrow transfer, no per-row Python); the shuffle is the same
    hash-partition a built-in aggregate uses, but partial (map-side)
    aggregation is NOT possible for arbitrary UDAFs — at 100 TB
    prefer a sort-based SQL formulation when one exists (the oracle
    for this operator is exactly that formulation).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _gini(v: pd.Series) -> float:
        import numpy as np

        x = np.sort(v.to_numpy(dtype="float64"))
        n = len(x)
        total = x.sum()
        if n == 0 or total == 0:
            return 0.0
        i = np.arange(1, n + 1)
        return float(2.0 * (i * x).sum() / (n * total) - (n + 1.0) / n)

    return df.groupBy(*keys).agg(F.round(_gini(F.col(col)), 4).alias(out))


def gini_by_group_sql(
    df: DataFrame, keys: Sequence[str], col: str, out: str = "gini"
) -> DataFrame:
    """Gini coefficient per group as pure Column expressions — the
    100 TB form: one window rank (per-group sort on the value, the
    same shuffle any per-group sort pays) + one map-side-combinable
    aggregation, entirely inside whole-stage codegen.  Identical
    result to :func:`gini_by_group` (ties contribute equal values, so
    the rank-weighted sum is tie-permutation-invariant); that UDAF
    variant stays as the custom-aggregate extension-point demo, this
    is the one to ship."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("_x").asc())
    ranked = df.select(
        *keys,
        F.col(col).cast("double").alias("_x"),
    ).withColumn("_i", F.row_number().over(w))
    return ranked.groupBy(*keys).agg(
        F.round(
            F.try_divide(
                2.0 * F.sum(F.col("_i") * F.col("_x")),
                F.count("*") * F.sum("_x"),
            )
            - F.try_divide(
                (F.count("*") + 1.0), F.count("*").cast("double")
            ),
            4,
        ).alias(out)
    ).na.fill({out: 0.0})


def distinct_counts(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Exact COUNT(DISTINCT) per key (expands to a two-phase
    aggregate) plus approx_count_distinct (HyperLogLog++, one pass,
    mergeable sketch — the 100 TB path when ±2% is acceptable)."""
    return df.groupBy(*keys).agg(
        F.count_distinct(F.col(col)).alias("n_distinct"),
        F.approx_count_distinct(F.col(col)).alias("n_distinct_approx"),
    )


def conditional_agg(
    df: DataFrame,
    keys: Sequence[str],
    conds: dict[str, tuple[Column, Column | None]],
) -> DataFrame:
    """Filtered aggregation (``agg FILTER (WHERE ...)`` / CASE-WHEN
    pattern): ``conds`` maps output name -> (predicate, value expr);
    value None means COUNT of matching rows, else a 2dp SUM over the
    predicate.  One pass, map-side partial agg — N conditions cost no
    more shuffles than one."""
    exprs = []
    for name, (pred, val) in conds.items():
        if val is None:
            exprs.append(F.count(F.when(pred, 1)).alias(name))
        else:
            exprs.append(
                F.round(F.sum(F.when(pred, val).otherwise(F.lit(0.0))), 2).alias(name)
            )
    return df.groupBy(*keys).agg(*exprs)


def string_agg_sorted(
    df: DataFrame, keys: Sequence[str], col: str, sep: str = ",", out: str = "agg_list"
) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): collect,
    sort IN-ROW, join.  Sorting the collected array (not the input)
    makes the result deterministic regardless of partitioning — a
    shuffle-order-dependent listagg is a flaky listagg."""
    return df.groupBy(*keys).agg(
        F.array_join(F.array_sort(F.collect_list(F.col(col))), sep).alias(out)
    )


def with_distribution_ranks(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str], n_tiles: int = 4
) -> DataFrame:
    """ntile / percent_rank / cume_dist window trio — the standard
    distribution-position analytics.  Partitioned windows only (a
    global ORDER BY window is a one-partition bottleneck at scale);
    ``order_by`` must carry a unique tiebreak."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumns(
        {
            "tile": F.ntile(n_tiles).over(w),
            "pct_rank": F.round(F.percent_rank().over(w), 4),
            "cume_dist": F.round(F.cume_dist().over(w), 4),
        }
    )


def approx_aggregates_graded(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    rsd: float = 0.02,
    distinct_tol: float = 0.05,
    pct_tol: float = 0.01,
) -> DataFrame:
    """Sketch-based aggregates for the 100 TB path, graded.
    HyperLogLog++ distinct count (``rsd`` = target relative error) and
    approximate p50/p90 (``approx_percentile``) are one-pass mergeable
    sketches: constant memory per partition vs the exact versions'
    full shuffle-and-sort.  Beside them sit exact twin columns for
    value-level verification: per group, the EXACT distinct count and
    exact interpolated p50/p90 (hashable by any ANSI-SQL oracle), plus
    booleans asserting each sketch landed within tolerance of its
    exact twin.  The sketches stay in the plan — this is how the
    approximate path is graded, not a replacement for it.  Both
    sketch families merge commutatively (HLL++ register-max, GK
    quantile summaries), so the booleans are partition-invariant.

    At 100 TB the sketch columns alone are the shippable part (one
    pass, constant memory); the exact twins here add a distinct-count
    pass and a full-sort percentile, which is the honest price of a
    value-level gate.

    The distinct count runs in its OWN aggregation, joined back on the
    group keys (a groups-sized join): putting ``count_distinct`` in
    the same ``agg`` as the percentile/sketch functions triggers
    Spark's distinct-aggregate rewrite, whose partial aggregate is
    keyed by (group, value) — every distinct value then carries two
    serialized percentile buffers plus the HLL registers and quantile
    summaries, and the "partial" aggregation is bigger than the input
    (measured 0.7 s → 29 s on the sf0.1 lineitem).  Two pruned
    single-column scans beat one pathological pass at every scale.

    Null handling (round 7): the twin join uses NULL-SAFE key
    equality, so groups keyed by NULL survive exactly as ANSI GROUP
    BY retains them — a plain equi-join would silently drop them.
    The tolerance booleans are total (never NULL): the distinct
    denominator is ``greatest(exact, 1)`` (an all-NULL group has
    exact = 0, sketch = 0 → TRUE, not 0/0 → NULL), and an all-NULL
    group's percentiles — NULL on both the exact and sketch side —
    grade TRUE by null-agreement instead of NULL-propagating."""
    keys = list(keys)
    c = F.col(col)
    # Array-probe percentiles: one exact-percentile buffer and one GK
    # sketch per group, each evaluated at BOTH probe points, instead
    # of four exact + two sketch buffers (the scalar form builds and
    # sorts an independent buffer per call — measured 1.86 s -> 1.24 s
    # at sf0.1 on identical output).  The p50/p90 columns are then
    # pure array indexing in the projection.
    sketched = df.groupBy(*keys).agg(
        F.percentile(c, F.array(F.lit(0.5), F.lit(0.9))).alias("_px"),
        F.approx_count_distinct(c, rsd).alias("_acd"),
        F.approx_percentile(
            c, F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
        ).alias("_apx"),
    ).select(
        *keys,
        F.round(F.col("_px")[0], 4).alias("p50_exact"),
        F.round(F.col("_px")[1], 4).alias("p90_exact"),
        "_acd",
        F.col("_apx")[0].alias("_ap50"),
        F.col("_apx")[1].alias("_ap90"),
        F.col("_px")[0].alias("_p50_raw"),
        F.col("_px")[1].alias("_p90_raw"),
    ).alias("s")
    exact_distinct = df.groupBy(*keys).agg(
        F.count_distinct(c).alias("n_distinct_exact")
    ).alias("e")
    join_cond = reduce(
        lambda a, b: a & b,
        [F.col(f"s.{k}").eqNullSafe(F.col(f"e.{k}")) for k in keys],
    )
    nde = F.col("n_distinct_exact")

    def _pct_ok(approx: str, raw: str) -> Column:
        # all-NULL group: both sides NULL -> TRUE by null-agreement;
        # raw == 0: relative error degrades to absolute via greatest
        return F.when(
            F.col(raw).isNull(), F.col(approx).isNull()
        ).otherwise(
            F.abs(F.col(approx) - F.col(raw))
            / F.greatest(F.abs(F.col(raw)), F.lit(1.0))
            <= pct_tol
        )

    return sketched.join(exact_distinct, join_cond).select(
        *[F.col(f"s.{k}").alias(k) for k in keys],
        "n_distinct_exact",
        "p50_exact",
        "p90_exact",
        (
            F.abs(F.col("_acd") - nde.cast("double"))
            / F.greatest(nde.cast("double"), F.lit(1.0))
            <= distinct_tol
        ).alias("distinct_ok"),
        _pct_ok("_ap50", "_p50_raw").alias("p50_ok"),
        _pct_ok("_ap90", "_p90_raw").alias("p90_ok"),
    )


def stats_agg(df: DataFrame, keys: Sequence[str], x: str, y: str) -> DataFrame:
    """Statistical aggregate family: sample stddev/variance of ``x``,
    Pearson correlation and sample covariance of (``x``, ``y``), and
    skewness of ``x``.  All single-pass mergeable moment sketches
    (Welford-style) — map-side partial agg, one shuffle, constant
    memory per partition at any scale.  Rounded 4dp: the moment
    update order differs between engines at the last ulp."""
    return df.groupBy(*keys).agg(
        F.round(F.stddev_samp(x), 4).alias("x_stddev"),
        F.round(F.var_samp(x), 4).alias("x_var"),
        F.round(F.corr(x, y), 4).alias("xy_corr"),
        F.round(F.covar_samp(x, y), 4).alias("xy_covar"),
        F.round(F.skewness(x), 4).alias("x_skew"),
    )


def histogram_fixed(
    df: DataFrame,
    col: str,
    bucket_width_cents: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram of a 2-decimal currency column.  The
    value is converted to exact integer cents BEFORE bucketing so the
    bucket edge arithmetic is integer — a float ``floor(x / w)``
    puts edge values in different buckets across engines (last-ulp
    division differences), which would poison any cross-engine
    comparison AND any re-run comparison after a partitioning change.
    """
    cents = F.round(F.col(col) * 100).cast("long")
    return (
        df.withColumn("_cents", cents)
        .withColumn("bucket", F.expr(f"_cents div {bucket_width_cents}"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("n_rows"))
    )


def corr_cov_agg(
    df: DataFrame, group_cols: Sequence[str], x: str, y: str
) -> DataFrame:
    """Per-group bivariate statistics: Pearson correlation and
    sample/population covariance — single map-side-combinable
    aggregate (Spark's corr/covar accumulate (n, Σx, Σy, Σxy, Σx²,
    Σy²) partials, so the shuffle carries six doubles per group
    regardless of row count)."""
    return df.groupBy(*group_cols).agg(
        F.round(F.corr(x, y), 4).alias("corr_xy"),
        F.round(F.covar_samp(x, y), 4).alias("covar_samp_xy"),
        F.round(F.covar_pop(x, y), 4).alias("covar_pop_xy"),
        F.count("*").alias("n_rows"),
    )


def mode_agg(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Deterministic per-group mode: the most frequent value, with
    the SMALLEST value winning ties (SQL ``mode()`` leaves ties
    undefined — useless for reproducible pipelines).

    Two hash aggregations, both with map-side combine: the first
    collapses the raw table to |groups × distinct values| before any
    comparison happens, the second reduces each group's candidate set
    with a single ``min`` over a (−count, value) struct — never a
    window over raw rows, so nothing is sorted at data scale.
    """
    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("_n"))
    best = F.min(
        F.struct(
            (-F.col("_n")).alias("neg_n"), F.col(value_col).alias("v")
        )
    )
    return (
        counts.groupBy(*keys)
        .agg(best.alias("_best"))
        .select(
            *keys,
            F.col("_best.v").alias("mode_value"),
            (-F.col("_best.neg_n")).alias("mode_count"),
        )
    )


def entropy_agg(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group Shannon entropy (bits) of a categorical column's
    empirical distribution — the standard diversity score for
    training-mixture audits (0 = one value dominates a group;
    log2(k) = uniform over k values).

    Two hash aggregations, both map-side combinable: the first
    collapses raw rows to |groups × distinct values| counts (the
    Zipf head is absorbed before the shuffle), the second folds each
    group's count vector into −Σ p·log2 p.  The shuffle carries one
    long per (group, value) — never raw rows — so a 100 TB events
    table reduces to megabytes between stages.
    """
    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("_n"))
    total = F.sum("_n")
    # entropy = log2(total) - sum(n*log2(n))/total  (algebraic form:
    # one pass over the count vector, no per-row division by total)
    ent = F.log2(total) - F.sum(F.col("_n") * F.log2("_n")) / total
    return counts.groupBy(*keys).agg(
        total.alias("n_rows"),
        F.count("*").alias("n_distinct_values"),
        F.round(ent, 4).alias("entropy_bits"),
    )


def equi_depth_histogram(
    df: DataFrame, col: str, n_buckets: int = 10
) -> DataFrame:
    """Equi-DEPTH histogram of a 2-decimal currency column: buckets
    hold ~equal row counts (the quantile sketch behind optimizer
    statistics and drift monitors), reported as (bucket, n_rows,
    lo_cents, hi_cents).

    Scale-correct construction: a global ``ntile`` would funnel the
    whole table through ONE window partition; instead the n-1 cut
    points come from one mergeable percentile aggregate (map-side
    partials, bytes on the wire), broadcast back as a 1-row cross
    join, and every row buckets by counting cuts below it — a
    codegen array fold, no second shuffle beyond the final count.

    Exactness: values convert to integer cents first (the
    histogram_fixed convention), so interpolated cuts are at worst
    x.5 — exactly representable — and the ``v > cut`` boundary
    decision is bit-identical in any engine.
    """
    cents = F.round(F.col(col) * 100).cast("long")
    cuts = df.select(cents.alias("_c")).agg(
        F.array(
            *[
                F.percentile("_c", i / n_buckets)
                for i in range(1, n_buckets)
            ]
        ).alias("_cuts")
    )
    bucket = (
        F.aggregate(
            "_cuts",
            F.lit(1),
            lambda acc, c: acc + F.when(F.col("_cents") > c, 1).otherwise(0),
        )
    ).cast("int")
    return (
        df.select(cents.alias("_cents"))
        .crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_cents").alias("lo_cents"),
            F.max("_cents").alias("hi_cents"),
        )
    )


def linreg_by_group(
    df: DataFrame, keys: Sequence[str], x: str, y: str
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ x`` from
    distributive moments: slope = cov(x,y)/var(x), intercept from the
    means, r² = corr².  One map-side-combined aggregation — the
    moments (Σ, Σ², Σxy, n) merge associatively, so this is a single
    shuffle at any scale, equivalent to SQL's REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 family.  The sample/population choice
    cancels in the covariance-over-variance ratio."""
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    slope = F.covar_samp(xc, yc) / F.var_samp(xc)
    # 4dp/2dp rounding: the two engines fold the moments in different
    # orders, so the raw doubles agree only to ~1e-7 relative — rounding
    # tighter than that would flake the value hash on large groups.
    return df.groupBy(*keys).agg(
        F.count("*").alias("n_obs"),
        F.round(slope, 4).alias("slope"),
        F.round(F.avg(yc) - slope * F.avg(xc), 2).alias("intercept"),
        F.round(F.pow(F.corr(xc, yc), 2), 6).alias("r2"),
    )


def ks_statistic(
    df: DataFrame, group_col: str, val_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``group_a``
    and ``group_b`` distributions of ``val_col``:
    ``KS = max_x |F_a(x) - F_b(x)|``.

    Relational formulation: fold to per-distinct-value counts first
    (one map-side-combined shuffle over the data), then a cumulative
    window over the VALUE-DISTINCT table builds both empirical CDFs in
    one pass.  The only global ordering is over distinct values — fine
    for measures with bounded cardinality; for unbounded continuous
    data, quantize ``val_col`` first (the test is then exact on the
    quantized grid).  Returns one row: n_a, n_b, ks_stat."""
    s = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(val_col).cast("double").alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("is_a"),
    )
    per_v = s.groupBy("v").agg(
        F.sum("is_a").alias("c_a"),
        (F.count("*") - F.sum("is_a")).alias("c_b"),
    )
    totals = per_v.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdfs = per_v.crossJoin(F.broadcast(totals)).select(
        "n_a", "n_b",
        (F.sum("c_a").over(w) / F.col("n_a")
         - F.sum("c_b").over(w) / F.col("n_b")).alias("_d"),
    )
    return cdfs.groupBy("n_a", "n_b").agg(
        F.round(F.max(F.abs(F.col("_d"))), 6).alias("ks_stat")
    )


def covariance_matrix(
    df: DataFrame, keys: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Per-group sample variance/covariance matrix of ``cols``, wide
    format (var_<c> and cov_<a>_<b> upper triangle) — one map-side-
    combined shuffle; the moments merge associatively.  Callers should
    pre-scale wildly-ranged columns so the 4dp rounding is meaningful
    relative to each magnitude."""
    exprs: list[Column] = [F.count("*").alias("n_obs")]
    named = [(c, F.col(c).cast("double")) for c in cols]
    for c, col in named:
        exprs.append(F.round(F.var_samp(col), 4).alias(f"var_{c}"))
    for i, (a, ca) in enumerate(named):
        for b, cb in named[i + 1:]:
            exprs.append(F.round(F.covar_samp(ca, cb), 4).alias(f"cov_{a}_{b}"))
    return df.groupBy(*keys).agg(*exprs)


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_tiebreak: Sequence[str],
    grid: int = 1000,
    out: str = "normalized",
    round_dp: int | None = 2,
) -> DataFrame:
    """Quantile normalization: map every group's value distribution
    onto the GLOBAL distribution (the batch-effect correction /
    feature-alignment transform): a row at percent-rank r within its
    group becomes the global r-quantile.

    The target grid is built RELATIONALLY — global row_number ranks
    plus a (grid+1)-row spine that joins the two bracketing ranked
    values per grid point and interpolates ``a·(1−f) + b·f``
    (h = (n−1)·p, matching Spark's own percentile arithmetic so the
    stepwise SQL oracle stays valid).  The obvious alternative,
    ``F.percentile(col, lit([...1001 fracs...]))``, re-evaluates the
    1001-element array literal per input row inside the aggregate —
    measured 54 s on 600k rows vs ~2 s for this plan.  The global
    rank window is the one scale bound (single-partition sort of the
    value table); swap an approx grid in beyond memory-sized inputs."""
    vcol = F.col(value_col).cast("double")
    tiebreaks = [F.col(c) for c in order_tiebreak]
    ranked = df.select(
        vcol.alias("_v"),
        F.row_number().over(Window.orderBy(vcol, *tiebreaks)).alias("_rn"),
    )
    n = df.agg(F.count("*").alias("_n"))
    spine = df.sparkSession.range(0, grid + 1).select(
        F.col("id").cast("int").alias("_i")
    )
    h = (F.col("_n") - 1) * (F.col("_i") / float(grid))
    sp = spine.crossJoin(F.broadcast(n)).select(
        "_i",
        (F.floor(h) + 1).cast("long").alias("_lo"),
        (F.ceil(h) + 1).cast("long").alias("_hi"),
        (h - F.floor(h)).alias("_f"),
    )
    a = ranked.select(F.col("_rn").alias("_lo"), F.col("_v").alias("_va"))
    b = ranked.select(F.col("_rn").alias("_hi"), F.col("_v").alias("_vb"))
    qv = F.col("_va") * (1 - F.col("_f")) + F.col("_vb") * F.col("_f")
    if round_dp is not None:
        qv = F.round(qv, round_dp)
    gridt = (
        F.broadcast(sp).join(a, "_lo").join(b, "_hi")
        .select("_i", qv.alias("_qv"))
    )
    w = Window.partitionBy(group_col).orderBy(vcol, *tiebreaks)
    idx = F.round(F.percent_rank().over(w) * grid).cast("int")
    return (
        df.withColumn("_idx", idx)
        .join(F.broadcast(gridt), F.col("_idx") == F.col("_i"))
        .withColumn(out, F.col("_qv"))
        .drop("_idx", "_i", "_qv")
    )


def countmin_estimate(
    df: DataFrame,
    key_col: str,
    probes: DataFrame,
    probe_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch, relationally: the stream folds into a
    ``depth × width`` counter table (≤ depth·width rows TOTAL,
    regardless of stream size — one map-side-combined shuffle), and a
    probe key's frequency estimate is the MIN of its ``depth`` counter
    cells.  Guarantees estimate ≥ true count (never undercounts);
    collisions only inflate.  Deterministic md5 hashing per row
    (portable ``dedupe.base_hash``) makes the sketch — and therefore
    the estimates — bit-reproducible in SQL.

    Returns (probe key, cm_estimate).  The sketch is the
    bounded-memory answer to "how often does X occur in 100 TB"
    when the key universe is too large for exact counts."""
    from eggv_spark.operators.dedupe import base_hash

    def cells(col: Column):
        return F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                (base_hash(F.concat(col.cast("string"), F.lit(f"#cm{i}")))
                 % width).alias("bucket"),
            )
            for i in range(depth)
        ])

    sketch = (
        df.select(F.explode(cells(F.col(key_col))).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    probe_cells = probes.select(
        F.col(probe_col).alias("probe_key"),
        F.explode(cells(F.col(probe_col))).alias("c"),
    ).select("probe_key", F.col("c.row").alias("row"),
             F.col("c.bucket").alias("bucket"))
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("probe_key")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cm_estimate"))
    )


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group ROC AUC via the Mann–Whitney rank-sum identity:
    AUC = (Σ ranks(positives) − n⁺(n⁺+1)/2) / (n⁺·n⁻), with AVERAGE
    ranks for score ties (the standard tie correction — without it a
    heavily-tied score column biases the estimate).

    One window shuffle on ``keys`` computes ranks; average tie rank is
    min-rank + (tie_count − 1)/2 from two window functions over the
    same sort, so no second shuffle.  Ranks are integers-or-halves and
    their sums are exact in doubles (< 2⁵³), so the final division is
    engine-portable; output rounded to 6dp.  Rows with a NULL score
    are EXCLUDED up front (an unscored observation is not a ranked
    one — and engines disagree on where NULLs sort, so leaving them
    in poisons cross-engine rank sums).  Degenerate groups (no
    positives or no negatives) yield NULL via try_divide.

    Scale: the shuffle is the per-group sort — the same cost as any
    ranking metric; a group that exceeds one executor's sort space
    needs the two-phase range-partitioned rank decomposition.

    Rows with a NULL label are excluded too: the Mann–Whitney
    identity requires the ranked set to be exactly positives ∪
    negatives — an unlabeled row would inflate the ranks of
    higher-scored positives while counting toward neither n⁺ nor n⁻,
    biasing the estimate.
    """
    keys = list(keys)
    df = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    part = Window.partitionBy(*[F.col(k) for k in keys]) if keys else (
        Window.partitionBy()
    )
    w_rank = part.orderBy(F.col(score_col).asc())
    tie = Window.partitionBy(*([F.col(k) for k in keys] + [F.col(score_col)]))
    avg_rank = (
        F.rank().over(w_rank) + (F.count("*").over(tie) - 1) / 2.0
    )
    lab = F.col(label_col).cast("int")
    ranked = df.select(
        *keys, lab.alias("_y"), avg_rank.alias("_r")
    )
    grouped = ranked.groupBy(*keys).agg(
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_rsum"),
        F.sum("_y").alias("n_pos"),
        F.sum(1 - F.col("_y")).alias("n_neg"),
    )
    auc = F.try_divide(
        F.col("_rsum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0,
        F.col("n_pos").cast("double") * F.col("n_neg"),
    )
    return grouped.select(
        *keys, "n_pos", "n_neg", F.round(auc, 6).alias("auc")
    )


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str, keys: Sequence[str] = ()
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the two
    values of ``group_col`` (continuous-metric A/B readout — the
    companion to the two-proportion z-test in ``evt_ab_test``).
    Emits per-``keys`` means, the t statistic, and the
    Welch–Satterthwaite degrees of freedom, both rounded to 4dp.

    Arm coding: ``group_col == 0`` is arm 0, anything else (non-null)
    is arm 1 — recode first if your arms are {1,2} or strings, or
    both land in arm 1 and the stats come back NULL.

    Single aggregation pass: n/mean/var_samp per arm are distributive
    moments (map-side combined), pivoted by a conditional agg so the
    two arms never shuffle separately.  Arm sizes count NON-NULL
    values (a NULL metric is not an observation; counting it would
    understate the standard error).  Requires every group to have
    both arms with n ≥ 2; degenerate groups yield NULL via
    try_divide."""
    keys = list(keys)
    arms = df.groupBy(*keys).agg(
        F.count(F.when(F.col(group_col) == 0, F.col(value_col)))
        .alias("n0"),
        F.avg(F.when(F.col(group_col) == 0, F.col(value_col))).alias("m0"),
        F.var_samp(F.when(F.col(group_col) == 0, F.col(value_col)))
        .alias("v0"),
        F.count(F.when(F.col(group_col) != 0, F.col(value_col)))
        .alias("n1"),
        F.avg(F.when(F.col(group_col) != 0, F.col(value_col))).alias("m1"),
        F.var_samp(F.when(F.col(group_col) != 0, F.col(value_col)))
        .alias("v1"),
    )
    se0 = F.try_divide(F.col("v0"), F.col("n0"))
    se1 = F.try_divide(F.col("v1"), F.col("n1"))
    t = F.try_divide(F.col("m0") - F.col("m1"), F.sqrt(se0 + se1))
    dof = F.try_divide(
        (se0 + se1) * (se0 + se1),
        F.try_divide(se0 * se0, F.col("n0") - 1)
        + F.try_divide(se1 * se1, F.col("n1") - 1),
    )
    return arms.select(
        *keys, "n0", "n1",
        F.round("m0", 4).alias("mean0"),
        F.round("m1", 4).alias("mean1"),
        F.round(t, 4).alias("t_stat"),
        F.round(dof, 4).alias("welch_dof"),
    )


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    margin: float,
    keys: Sequence[str] = (),
    z_crit: float = 1.6449,
) -> DataFrame:
    """Two one-sided tests (TOST) for mean EQUIVALENCE between two
    arms — the non-inferiority complement to :func:`welch_ttest`:
    where Welch asks "are the arms different?", TOST asks "are they
    the same to within ±margin?" (failing to reject difference is NOT
    evidence of equivalence; TOST is the correct readout for "this
    cheaper variant didn't hurt the metric").

    z_lower = (diff + margin)/se and z_upper = (diff - margin)/se
    with the Welch standard error; equivalence at level alpha needs
    BOTH z_lower > z_crit AND z_upper < -z_crit (defaults to the
    normal 5% one-sided critical value — the large-sample
    approximation, so both engines evaluate the same closed form;
    arm sizes here are thousands, where t and z are
    indistinguishable).  Arm coding and null handling follow
    welch_ttest: arm 0 is ``group_col == 0``, NULL metrics are not
    observations.  Same single map-side-combined aggregation pass.
    """
    keys = list(keys)
    arms = df.groupBy(*keys).agg(
        F.count(F.when(F.col(group_col) == 0, F.col(value_col)))
        .alias("n0"),
        F.avg(F.when(F.col(group_col) == 0, F.col(value_col))).alias("m0"),
        F.var_samp(F.when(F.col(group_col) == 0, F.col(value_col)))
        .alias("v0"),
        F.count(F.when(F.col(group_col) != 0, F.col(value_col)))
        .alias("n1"),
        F.avg(F.when(F.col(group_col) != 0, F.col(value_col))).alias("m1"),
        F.var_samp(F.when(F.col(group_col) != 0, F.col(value_col)))
        .alias("v1"),
    )
    se = F.sqrt(
        F.try_divide(F.col("v0"), F.col("n0"))
        + F.try_divide(F.col("v1"), F.col("n1"))
    )
    diff = F.col("m0") - F.col("m1")
    z_lo = F.try_divide(diff + F.lit(margin), se)
    z_hi = F.try_divide(diff - F.lit(margin), se)
    # coalesce to false: an arm with <2 non-null observations has NULL
    # var_samp -> NULL se -> NULL conjunction; the DuckDB oracle's
    # CASE WHEN falls through to ELSE 0, so the degenerate group must
    # read "not equivalent" here too, not NULL
    equivalent = F.coalesce(
        (z_lo > F.lit(z_crit)) & (z_hi < F.lit(-z_crit)), F.lit(False)
    ).cast("int")
    return arms.select(
        *keys, "n0", "n1",
        F.round(diff, 4).alias("mean_diff"),
        F.round(se, 4).alias("se"),
        F.round(z_lo, 4).alias("z_lower"),
        F.round(z_hi, 4).alias("z_upper"),
        equivalent.alias("equivalent"),
    )


def calibration_bins(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: equal-width
    bins over predicted probability with per-bin count, mean
    prediction, observed outcome rate, and the |gap| whose weighted
    sum is the expected calibration error (ECE).

    One map-side-combined aggregation on the bin id; predictions are
    clamped to [0, 1] and the top edge folds into the last bin (the
    standard convention).  Means are 4dp-rounded for engine
    portability."""
    binned = F.least(
        F.floor(
            F.greatest(F.least(F.col(pred_col), F.lit(1.0)), F.lit(0.0))
            * n_bins
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    lab = F.col(label_col).cast("double")
    return (
        df.select(binned.alias("bin"), F.col(pred_col).alias("_p"),
                  lab.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("_p"), 4).alias("mean_pred"),
            F.round(F.avg("_y"), 4).alias("outcome_rate"),
            F.round(F.abs(F.avg("_p") - F.avg("_y")), 4).alias("abs_gap"),
        )
    )


def with_drawdown(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_col: str | None = None,
) -> DataFrame:
    """Per-entity running peak and drawdown over a cumulative value
    series: running_total, running_peak (max-so-far), drawdown
    (peak − current), and drawdown_frac — the risk/health readout for
    any cumulative metric (session engagement, account balance,
    cumulative reward).

    One window shuffle on the entity key, three frames over the same
    sort (Spark evaluates them in a single WindowExec pass).
    Deterministic: ordering carries ``order_col`` (default: the value
    column) as tiebreak; integer-or-exact inputs stay exact, ratios
    round to 6dp."""
    order = [F.col(ts_col).asc()]
    order.append(F.col(order_col or value_col).asc())
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(value_col).over(w)
    out = df.withColumn("running_total", running)
    peak = F.max("running_total").over(
        Window.partitionBy(entity_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("running_peak", peak)
    dd = F.col("running_peak") - F.col("running_total")
    return out.withColumn("drawdown", dd).withColumn(
        "drawdown_frac",
        F.round(
            F.try_divide(dd, F.abs(F.col("running_peak"))), 6
        ),
    )


def population_stability(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index components between a baseline and a
    comparison sample of the same metric — the standard production
    drift monitor (PSI < 0.1 stable, > 0.25 shifted).  Emits one row
    per occupied bin: counts, shares, and the PSI contribution
    (p−q)·ln(p/q), 6dp-rounded; the index is the sum of ``contrib``.

    Bins are equal-width over the GLOBAL [min, max] of both samples
    (two tiny aggregates broadcast as one row), so both sides bucket
    identically; per-side bin counts are map-side-combined; the
    final merge is a bins-sized full-outer join.  Bins empty on
    either side are reported with null contrib (the no-epsilon
    convention — callers who want the ε-smoothed variant add it to
    the shares before the log)."""
    bounds = (
        df_a.select(F.col(col).alias("_v"))
        .unionByName(df_b.select(F.col(col).alias("_v")))
        .agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    )

    def binned(df, name):
        b = F.least(
            F.floor(
                (F.col(col) - F.col("_lo"))
                / (F.col("_hi") - F.col("_lo")) * n_bins
            ),
            F.lit(n_bins - 1),
        ).cast("int")
        return (
            df.join(F.broadcast(bounds))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(name))
        )

    a = binned(df_a, "n_a")
    b = binned(df_b, "n_b")
    tot_a = F.sum("n_a").over(Window.partitionBy())
    tot_b = F.sum("n_b").over(Window.partitionBy())
    merged = (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .withColumn("_p", F.col("n_a") / tot_a)
        .withColumn("_q", F.col("n_b") / tot_b)
    )
    contrib = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (F.col("_p") - F.col("_q")) * F.log(F.col("_p") / F.col("_q")),
    )
    return merged.select(
        "bin", "n_a", "n_b",
        F.round("_p", 6).alias("share_a"),
        F.round("_q", 6).alias("share_b"),
        F.round(contrib, 6).alias("contrib"),
    )


def theil_index(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Theil T inequality index per group — the decomposable
    complement to the Gini UDAF: T = mean((x/μ)·ln(x/μ)) over
    positive values (0 = perfect equality, ln(n) = one member holds
    everything).  Unlike Gini it needs no sort: two passes of
    distributive moments (mean, then the log-weighted mean against
    the 1-row-per-group broadcast of μ), all map-side combined.
    Non-positive values are excluded (ln undefined) and reported."""
    mu = df.filter(F.col(col) > 0).groupBy(*keys).agg(
        F.avg(col).alias("_mu"), F.count("*").alias("n_pos")
    )
    ratio = F.col(col) / F.col("_mu")
    return (
        df.filter(F.col(col) > 0)
        .join(F.broadcast(mu), list(keys))
        .groupBy(*keys)
        .agg(
            F.any_value("n_pos").alias("n_pos"),
            F.round(F.avg(ratio * F.log(ratio)), 6).alias("theil_t"),
        )
    )


POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)


def _poisson1_draw(n_replicates: int) -> tuple[Column, Column]:
    """Shared bootstrap machinery: (replicate-id explode aliased
    ``_b``, deterministic Poisson(1) weight over columns ``_k``/
    ``_b``) — inverse-CDF of portable-md5(key ':' b)/2^32 against the
    frozen POISSON1_CDF ladder, capped at 6.  Both bootstrap
    operators MUST draw through here so their documented
    'same single-pass mechanics' parity cannot silently diverge."""
    from eggv_spark.operators.dedupe import base_hash

    b = F.explode(
        F.sequence(F.lit(0), F.lit(n_replicates - 1))
    ).alias("_b")
    u = base_hash(F.concat_ws(":", "_k", "_b")) / F.lit(4294967296.0)
    w = F.lit(6)
    for lvl in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[lvl]), F.lit(lvl)).otherwise(w)
    return b, w


def poisson_bootstrap_mean(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_replicates: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — THE
    distributed bootstrap: classical resampling needs n draws from a
    dataset whose size no single machine knows mid-scan, but for
    large n the multinomial resample count per row converges to
    Poisson(1), so each row independently contributes w ~ Poisson(1)
    copies to each replicate.  One map-side pass computes all B
    replicates; no sampling shuffle, no global coordination.

    Determinism/portability: the Poisson draw is inverse-CDF over
    u = portable-md5(key ':' b) / 2^32 with the CDF ladder frozen in
    POISSON1_CDF (capped at 6 — P(w>6) < 1e-4), so any engine
    reproduces the replicates bit-for-bit from the same keys.
    ``key_col`` MUST be unique per row (duplicate keys draw identical
    weights, correlating the resample and understating variance) and
    NULL keys and NULL values are excluded.  Output is one row: n,
    the plain mean, and the percentile-bootstrap CI from the B
    replicate means (linear-interpolated percentiles at alpha/2 and
    1-alpha/2).  A replicate whose weights are all zero (probability
    0.368^n — only material below n≈20) yields a NULL mean that the
    percentile skips, degrading the interval toward fewer replicates;
    this operator targets large-n inputs where that probability is
    zero in practice.

    Scale: rows × B inflation happens AFTER column pruning (key +
    value only) and feeds a B-group aggregation — map-side combine
    reduces each partition to B partial rows, so the only shuffle
    carries B rows per partition.  B=32 replicates of a 100 TB scan
    cost one pass; the replicate table itself is 32 rows.
    """
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(value_col).cast("double").alias("_x"),
    )
    b, w = _poisson1_draw(n_replicates)
    reps = (
        rows.select("_k", "_x", b)
        .withColumn("_w", w)
        .groupBy("_b")
        .agg(
            # try_divide: an all-zero-weight replicate (prob ~0.368^n,
            # unreachable on real sizes) yields NULL — which percentile
            # skips — in BOTH Spark and DuckDB, not a NaN that would
            # sort above every value Spark-side only
            F.try_divide(
                F.sum(F.col("_w") * F.col("_x")), F.sum("_w")
            ).alias("_m")
        )
    )
    point = rows.agg(
        F.count("*").alias("n"), F.avg("_x").alias("_mean")
    )
    ci = reps.agg(
        F.percentile("_m", F.lit(alpha / 2)).alias("_lo"),
        F.percentile("_m", F.lit(1 - alpha / 2)).alias("_hi"),
    )
    # two 1-row frames -> scalar broadcast cross join (documented
    # pattern: BroadcastNestedLoopJoin over a single row is O(1))
    return point.crossJoin(ci).select(
        "n",
        F.round("_mean", 4).alias("mean"),
        F.round("_lo", 4).alias("ci_lo"),
        F.round("_hi", 4).alias("ci_hi"),
    )


def poisson_bootstrap_diff(
    df: DataFrame,
    value_col: str,
    group_col: str,
    key_col: str,
    n_replicates: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap CI for the DIFFERENCE in means between two
    arms — the experiment readout companion to :func:`welch_ttest`:
    where Welch assumes approximate normality of the mean, the
    bootstrap interval is distribution-free (skewed revenue-per-user
    metrics are the motivating case).

    Same single-pass mechanics as :func:`poisson_bootstrap_mean`
    (deterministic md5 Poisson(1) weights, all B replicates from one
    map-side pass).  Replicate difference d_b = m1_b - m0_b pairs the
    arms WITHIN a replicate, preserving replicate-level correlation.
    Arm 0 is the SMALLEST ``group_col`` value and arm 1 the LARGEST
    (resolved by ``min_by``/``max_by`` over the per-arm aggregates —
    no window, no self-join, so the plan is two keyed aggregations
    plus two 1-row broadcast scalars).  The input must have EXACTLY
    two arms: a third arm would otherwise be silently dropped from
    the readout, so the plan embeds an ``assert_true`` on the
    distinct-arm count and errors at execution time instead.  NULL
    values, NULL groups, and NULL keys are excluded; ``key_col`` must
    be unique per row (see :func:`poisson_bootstrap_mean`).  Output:
    one row with per-arm n/mean, the observed difference, and the
    percentile CI of replicate differences.
    """
    rows = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(value_col).cast("double").alias("_x"),
        F.col(group_col).alias("_g"),
    )
    b, w = _poisson1_draw(n_replicates)
    per_arm_rep = (
        rows.select("_k", "_x", "_g", b)
        .withColumn("_w", w)
        .groupBy("_b", "_g")
        .agg(
            F.try_divide(
                F.sum(F.col("_w") * F.col("_x")), F.sum("_w")
            ).alias("_m")
        )
    )
    reps = per_arm_rep.groupBy("_b").agg(
        (F.max_by("_m", "_g") - F.min_by("_m", "_g")).alias("_d")
    )
    point = (
        rows.groupBy("_g")
        .agg(F.count("*").alias("_n"), F.avg("_x").alias("_m"))
        .agg(
            F.count("*").alias("_n_arms"),
            F.min_by("_n", "_g").alias("n0"),
            F.max_by("_n", "_g").alias("n1"),
            F.min_by("_m", "_g").alias("_m0"),
            F.max_by("_m", "_g").alias("_m1"),
        )
    )
    ci = reps.agg(
        F.percentile("_d", F.lit(alpha / 2)).alias("_lo"),
        F.percentile("_d", F.lit(1 - alpha / 2)).alias("_hi"),
    )
    # assert_true returns NULL on success and aborts the job when the
    # arm count is not exactly two (a lone arm would otherwise return
    # diff=0 with n0==n1 silently); folding it into n0 keeps the
    # output schema clean
    two_arms = F.assert_true(
        F.col("_n_arms") == 2,
        F.lit("poisson_bootstrap_diff: group_col must have exactly two arms"),
    )
    return point.crossJoin(ci).select(
        F.when(two_arms.isNull(), F.col("n0")).alias("n0"),
        "n1",
        F.round("_m0", 4).alias("mean0"),
        F.round("_m1", 4).alias("mean1"),
        F.round(F.col("_m1") - F.col("_m0"), 4).alias("diff"),
        F.round("_lo", 4).alias("ci_lo"),
        F.round("_hi", 4).alias("ci_hi"),
    )


def power_analysis_mean(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    mde_pcts: Sequence[float] = (1.0, 2.0, 5.0, 10.0),
    z_alpha: float = 1.959963984540054,
    z_beta: float = 0.8416212335729143,
) -> DataFrame:
    """Experiment sample-size planning: per group, the users-per-arm
    needed to detect a relative lift of each ``mde_pcts`` entry in
    the mean of ``value_col`` at two-sided alpha=0.05 with 80% power
    — n/arm = 2 (z_a/2 + z_b)^2 sigma^2 / delta^2, the planning
    companion to the readout tests (welch_ttest,
    poisson_bootstrap_diff, the z-test in evt_ab_test).

    One map-side-combined pass computes (n, mean, variance); each MDE
    row is pure scalar math over that 1-row-per-group aggregate, so
    the explode is over the tiny aggregate, never the facts.  The z
    constants are frozen doubles (Phi^-1(0.975), Phi^-1(0.8)) —
    literal in any engine, no stats library needed.  NULL values are
    excluded; a zero mean yields NULL (relative MDE undefined).

    The quotient is rounded to 6dp BEFORE ceil: mean/variance are
    computed independently by each engine with different partial-sum
    orders, and a bare ceil() over doubles a few ulps either side of
    an integer flips by 1 between engines — the round pins it.
    """
    keys = list(keys)
    stats = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.count("*").alias("n_observed"),
        F.avg(value_col).alias("_mu"),
        F.var_samp(value_col).alias("_var"),
    )
    mde = F.explode(
        F.array(*[F.lit(float(p)) for p in mde_pcts])
    ).alias("mde_pct")
    k2 = 2.0 * (z_alpha + z_beta) ** 2
    delta = F.col("_mu") * F.col("mde_pct") / 100.0
    n_arm = F.ceil(
        F.round(F.lit(k2) * F.col("_var") / (delta * delta), 6)
    )
    return stats.select(*keys, "n_observed", "_mu", "_var", mde).select(
        *keys,
        "n_observed",
        F.round("_mu", 4).alias("mean"),
        "mde_pct",
        F.when(F.col("_mu") != 0, n_arm).cast("long").alias("n_per_arm"),
    )


def _ordered_pairs(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
):
    """Shared scaffolding for the pairwise trend statistics
    (:func:`theil_sen_trend`, :func:`mann_kendall_test`): drop
    null coordinates, cast to double as ``_x``/``_y``, and build the
    within-group x-ordered pair join (``a._x < b._x``, equal on every
    group key).  Returns ``(pts, pairs)`` where ``pairs`` carries the
    group keys aliased from side ``a`` plus ``a._y``/``b._y``.
    Keeping this in one place means a change to pair semantics
    (null-key policy, duplicate-x handling, join hints) cannot make
    the two companion statistics diverge."""
    keys = list(keys)
    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    cond = F.col("a._x") < F.col("b._x")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{k}").alias(k) for k in keys],
        F.col("a._x").alias("_ax"),
        F.col("b._x").alias("_bx"),
        F.col("a._y").alias("_ay"),
        F.col("b._y").alias("_by"),
    )
    return pts, pairs


def theil_sen_trend(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (y_j - y_i)/(x_j - x_i), with the intercept as the median
    of y - slope*x — the robust complement to the per-group OLS
    regression: a single corrupted point shifts OLS arbitrarily but
    moves a pairwise-slope median by at most one rank (29% breakdown
    point).

    Intended for ALREADY-AGGREGATED series (daily/hourly rollups):
    the pair self-join is O(m²) in the per-group series length m, so
    a 30-day rollup costs 435 pair rows per group — trivial — while
    raw-event inputs would not be.  The join is keyed on the group
    (never cross-group), duplicate x values are excluded pairwise
    (undefined slope), and medians interpolate linearly, matching
    SQL ``quantile_cont``/``percentile`` semantics.
    """
    keys = list(keys)
    pts, pairs = _ordered_pairs(df, keys, x_col, y_col)
    slopes = pairs.select(
        *keys,
        (
            (F.col("_by") - F.col("_ay")) / (F.col("_bx") - F.col("_ax"))
        ).alias("_slope"),
    )
    med_slope = slopes.groupBy(*keys).agg(
        F.percentile("_slope", F.lit(0.5)).alias("_ms"),
        F.count("*").alias("n_pairs"),
    )
    resid = pts.join(F.broadcast(med_slope), keys).select(
        *keys,
        "n_pairs",
        "_ms",
        (F.col("_y") - F.col("_ms") * F.col("_x")).alias("_r"),
    )
    return resid.groupBy(*keys).agg(
        F.any_value("n_pairs").alias("n_pairs"),
        F.round(F.any_value("_ms"), round_dp).alias("slope"),
        F.round(F.percentile("_r", F.lit(0.5)), round_dp).alias(
            "intercept"
        ),
    )


def mann_kendall_test(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Mann–Kendall monotone-trend test — the hypothesis
    companion to :func:`theil_sen_trend`: S = Σ_{i<j} sign(y_j - y_i)
    over the x-ordered series, Var(S) = [n(n-1)(2n+5) - Σ t(t-1)(2t+5)]
    / 18 with the standard tie correction (t = size of each tied-value
    group), and the continuity-corrected z = (S∓1)/sqrt(Var).
    Distribution-free: no normality or linearity assumption — exactly
    what "is this metric drifting" monitoring wants.

    Same cost model as Theil–Sen: intended for rolled-up series, the
    per-group pair join is O(m²) in series length (435 pairs for 30
    points).  Ties in y enter via a second tiny per-group aggregate;
    the join never crosses groups.
    """
    keys = list(keys)
    pts, pairs = _ordered_pairs(df, keys, x_col, y_col)
    s = pairs.groupBy(*keys).agg(
        F.sum(
            F.signum(F.col("_by") - F.col("_ay")).cast("long")
        ).alias("s_stat")
    )
    n_rows = pts.groupBy(*keys).agg(F.count("*").alias("_n"))
    ties = (
        pts.groupBy(*keys, "_y")
        .agg(F.count("*").alias("_t"))
        .filter(F.col("_t") > 1)
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie_corr")
        )
    )
    joined = (
        s.join(n_rows, keys)
        .join(ties, keys, "left")
        .withColumn("_tie_corr", F.coalesce("_tie_corr", F.lit(0)))
    )
    n = F.col("_n")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("_tie_corr")
    ) / F.lit(18.0)
    z = F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s)) \
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    return joined.select(
        *keys,
        F.col("_n").alias("n_points"),
        "s_stat",
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 4).alias("mk_z"),
    )


# ---------------------------------------------------------------------------
# round-5 statistics family
# ---------------------------------------------------------------------------

def spearman_corr(
    df: DataFrame, keys: Sequence[str], x: str, y: str
) -> DataFrame:
    """Spearman rank correlation per group — Pearson correlation of
    AVERAGE ranks (the standard tie treatment): avg-rank = min-rank +
    (tie_count - 1)/2, computed with two analytic windows (one sort
    per variable, both shuffling on the same group key so AQE reuses
    the exchange) and one map-side-combined ``corr`` aggregation.
    NULL in either variable drops the row (pairwise-complete)."""
    keys = list(keys)
    rows = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
    rx = F.rank().over(Window.partitionBy(*keys).orderBy(x)) + (
        F.count("*").over(Window.partitionBy(*keys, x)) - 1
    ) / 2.0
    ry = F.rank().over(Window.partitionBy(*keys).orderBy(y)) + (
        F.count("*").over(Window.partitionBy(*keys, y)) - 1
    ) / 2.0
    ranked = rows.withColumn("_rx", rx).withColumn("_ry", ry)
    # corr as covar/(sd*sd) through try_divide: Spark's corr aggregate
    # raises DIVIDE_BY_ZERO under ANSI when either variable is
    # constant (all ranks tied); this form yields NULL instead, like
    # DuckDB's corr
    agg = ranked.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.covar_samp("_rx", "_ry").alias("_cov"),
        F.stddev_samp("_rx").alias("_sx"),
        F.stddev_samp("_ry").alias("_sy"),
    )
    return agg.select(
        *keys, "n",
        F.round(
            F.try_divide(F.col("_cov"), F.col("_sx") * F.col("_sy")), 4
        ).alias("spearman"),
    )


def cramers_v(df: DataFrame, a: str, b: str) -> DataFrame:
    """Association between two categoricals: chi-square over the
    contingency table plus Cramér's V = sqrt(chi2 / (n * min(r-1,
    c-1))).  One shuffle builds the (a, b) cell counts; marginals and
    the total come from analytic windows over the TINY cells frame
    (r*c rows), so no second scan of the input.  NULL categories are
    excluded."""
    cells = (
        df.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(a, b)
        .agg(F.count("*").alias("_o"))
    )
    row_t = F.sum("_o").over(Window.partitionBy(a))
    col_t = F.sum("_o").over(Window.partitionBy(b))
    tot = F.sum("_o").over(Window.partitionBy())
    with_e = cells.select(
        "_o",
        (row_t * col_t / tot).alias("_e"),
        tot.alias("_n"),
        F.col(a).alias("_a"),
        F.col(b).alias("_b"),
    )
    # the grouped frame only holds OBSERVED cells; each EMPTY cell of
    # the full r x c table still contributes (0-e)^2/e = e to chi2.
    # Their total is n - sum(e over observed cells) — recovered
    # without materializing the cross product (which at scale would
    # be a cartesian join for exactly this correction)
    agg = with_e.agg(
        F.any_value("_n").alias("n"),
        F.count_distinct("_a").alias("n_rows_cat"),
        F.count_distinct("_b").alias("n_cols_cat"),
        (
            F.sum((F.col("_o") - F.col("_e")) ** 2 / F.col("_e"))
            + (F.any_value("_n") - F.sum("_e"))
        ).alias("_chi2"),
    )
    # try_divide: a degenerate table (single row or column category)
    # has min(r-1, c-1) = 0 — V is undefined (NULL), not an ANSI error
    v = F.sqrt(
        F.try_divide(
            F.col("_chi2"),
            F.col("n")
            * F.least(F.col("n_rows_cat") - 1, F.col("n_cols_cat") - 1),
        )
    )
    return agg.select(
        "n", "n_rows_cat", "n_cols_cat",
        F.round("_chi2", 4).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def cohens_d(
    df: DataFrame, keys: Sequence[str], group_col: str, value_col: str
) -> DataFrame:
    """Standardized effect size between two arms — the magnitude
    companion to :func:`welch_ttest` (which answers "significant?",
    not "how big?"): d = (m1 - m0) / s_pooled with the pooled sample
    SD.  Arm coding and null handling follow welch_ttest (arm 0 is
    ``group_col == 0``); one map-side-combined aggregation pass."""
    keys = list(keys)
    in0 = F.when(F.col(group_col) == 0, F.col(value_col))
    in1 = F.when(F.col(group_col) != 0, F.col(value_col))
    arms = df.groupBy(*keys).agg(
        F.count(in0).alias("n0"),
        F.avg(in0).alias("_m0"),
        F.var_samp(in0).alias("_v0"),
        F.count(in1).alias("n1"),
        F.avg(in1).alias("_m1"),
        F.var_samp(in1).alias("_v1"),
    )
    pooled = F.sqrt(
        F.try_divide(
            (F.col("n0") - 1) * F.col("_v0")
            + (F.col("n1") - 1) * F.col("_v1"),
            F.col("n0") + F.col("n1") - 2,
        )
    )
    d = F.try_divide(F.col("_m1") - F.col("_m0"), pooled)
    return arms.select(
        *keys, "n0", "n1",
        F.round(F.col("_m1") - F.col("_m0"), 4).alias("mean_diff"),
        F.round(pooled, 4).alias("pooled_sd"),
        F.round(d, 4).alias("cohens_d"),
    )


def mutual_information(df: DataFrame, a: str, b: str) -> DataFrame:
    """Mutual information (nats) between two categoricals plus the
    marginal entropies and NMI = MI / sqrt(H_a * H_b).  Same cells-
    frame shape as :func:`cramers_v`: one shuffle for cell counts,
    windows over the r*c cells for marginals, one scalar reduce."""
    cells = (
        df.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(a, b)
        .agg(F.count("*").alias("_o"))
    )
    tot = F.sum("_o").over(Window.partitionBy())
    pa = F.sum("_o").over(Window.partitionBy(a)) / tot
    pb = F.sum("_o").over(Window.partitionBy(b)) / tot
    pj = F.col("_o") / tot
    terms = cells.select(
        tot.alias("_n"),
        (pj * F.log(pj / (pa * pb))).alias("_mi_term"),
        pa.alias("_pa"),
        pb.alias("_pb"),
        F.col(a).alias("_a"),
        F.col(b).alias("_b"),
        pj.alias("_pj"),
    )
    # marginal entropies need one term per DISTINCT category, not per
    # cell: divide each cell's contribution by the category's cell
    # count so the sum telescopes to sum(-p ln p) exactly
    ca = F.count("*").over(Window.partitionBy("_a"))
    cb = F.count("*").over(Window.partitionBy("_b"))
    terms = terms.select(
        "_n", "_mi_term",
        (-F.col("_pa") * F.log("_pa") / ca).alias("_ha_term"),
        (-F.col("_pb") * F.log("_pb") / cb).alias("_hb_term"),
    )
    agg = terms.agg(
        F.any_value("_n").alias("n"),
        F.sum("_mi_term").alias("_mi"),
        F.sum("_ha_term").alias("_ha"),
        F.sum("_hb_term").alias("_hb"),
    )
    nmi = F.try_divide(
        F.col("_mi"), F.sqrt(F.col("_ha") * F.col("_hb"))
    )
    return agg.select(
        "n",
        F.round("_mi", 6).alias("mi_nats"),
        F.round("_ha", 6).alias("h_a"),
        F.round("_hb", 6).alias("h_b"),
        F.round(nmi, 6).alias("nmi"),
    )


def trimmed_mean(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    tiebreak_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Symmetric trimmed mean per group: drop the k = floor(n*trim)
    smallest and largest rows (by row_number over (value, tiebreak) —
    rank-based, so ties at the cut cost nothing: every trimmed-away
    VALUE multiset is identical under any tie order), average the
    rest.  One sort shuffle on the group key; at 100 TB the window
    is per-group, so group cardinality bounds task memory — for a
    global trimmed mean pre-aggregate with approx quantile cuts
    instead."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(value_col, tiebreak_col)
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(*keys)).alias("_n"),
    )
    k = F.floor(F.col("_n") * F.lit(trim))
    kept = ranked.filter(
        (F.col("_rn") > k) & (F.col("_rn") <= F.col("_n") - k)
    )
    return kept.groupBy(*keys).agg(
        F.any_value("_n").alias("n"),
        F.count("*").alias("n_kept"),
        F.round(F.avg("_x"), 4).alias("trimmed_mean"),
    )


def lorenz_deciles(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Lorenz curve at decile boundaries per group — the
    distributional readout behind the Gini scalar: rank rows
    ascending by (value, tiebreak), assign decile d = floor((rn*10 -
    1)/n) + 1 (integer-exact in IEEE: the quotient is correctly
    rounded, so the floor can never straddle a representable
    integer), and report each decile's CUMULATIVE share of the
    total.  One sort shuffle on the group key, then windows over the
    10-row-per-group rollup."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(value_col, tiebreak_col)
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(*keys)).alias("_n"),
    )
    decile = (
        F.floor((F.col("_rn") * 10 - 1) / F.col("_n")) + 1
    ).cast("int")
    per_dec = ranked.groupBy(*keys, decile.alias("decile")).agg(
        F.count("*").alias("n_rows"), F.sum("_x").alias("_s")
    )
    cum = F.sum("_s").over(
        Window.partitionBy(*keys)
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = F.sum("_s").over(Window.partitionBy(*keys))
    # try_divide: a group whose values sum to exactly zero has no
    # defined Lorenz share — NULL, not a job-killing ANSI error
    return per_dec.select(
        *keys, "decile", "n_rows",
        F.round(F.try_divide(cum, tot), 6).alias("cum_share"),
    )


def ecdf_at_points(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    probes: Sequence[float],
) -> DataFrame:
    """Empirical CDF evaluated at FIXED probe points — the sort-free
    distribution fingerprint (drift monitoring, SLA attainment):
    F(p) = mean(x <= p), one conditional aggregate per probe, all in
    a single map-side-combined pass (contrast equi_depth_histogram,
    which must sort).  Output: one row per (group, probe)."""
    keys = list(keys)
    aggs = [F.count("*").alias("n")] + [
        F.avg((F.col(value_col) <= F.lit(p)).cast("double")).alias(f"_f{i}")
        for i, p in enumerate(probes)
    ]
    wide = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(float(p)).alias("probe"),
            F.round(F.col(f"_f{i}"), 6).alias("cdf"),
        )
        for i, p in enumerate(probes)
    ])
    return wide.select(*keys, "n", F.explode(pairs).alias("_pc")).select(
        *keys, "n", F.col("_pc.probe").alias("probe"),
        F.col("_pc.cdf").alias("cdf"),
    )


def runs_test(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Wald–Wolfowitz runs test for serial randomness of a series,
    split at the group MEAN (the median needs a sort; the mean keeps
    both passes map-side combined — documented deviation, same large-
    sample z): drop values equal to the mean, count sign runs with
    one lag window, z = (R - mu_R)/sigma_R.  ``order_col`` must be
    unique per group."""
    keys = list(keys)
    m = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.avg(value_col).alias("_mu")
    )
    rows = (
        df.join(F.broadcast(m), keys)
        .filter(F.col(value_col) != F.col("_mu"))
        .withColumn("_s", (F.col(value_col) > F.col("_mu")).cast("int"))
    )
    w = Window.partitionBy(*keys).orderBy(order_col)
    chg = F.when(
        F.lag("_s").over(w).isNull() | (F.col("_s") != F.lag("_s").over(w)),
        1,
    ).otherwise(0)
    agg = rows.withColumn("_chg", chg).groupBy(*keys).agg(
        F.sum("_s").alias("n_above"),
        (F.count("*") - F.sum("_s")).alias("n_below"),
        F.sum("_chg").alias("runs"),
    )
    n1, n2 = F.col("n_above"), F.col("n_below")
    mu_r = 2.0 * n1 * n2 / (n1 + n2) + 1
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    z = F.try_divide(F.col("runs") - mu_r, F.sqrt(var_r))
    return agg.select(
        *keys, "n_above", "n_below", "runs",
        F.round(z, 4).alias("runs_z"),
    )


def permutation_test_diff(
    df: DataFrame,
    keys: Sequence[str],
    group_col: str,
    value_col: str,
    key_col: str,
    n_permutations: int = 64,
) -> DataFrame:
    """Randomization test for the difference in means between two
    arms: re-assign every unit to a pseudo-arm by portable-md5 coin
    flip per (unit, permutation) and count how often |diff_perm| >=
    |diff_obs|; p = (1 + #exceed)/(B + 1) (the add-one rule keeps p
    > 0, the standard Monte-Carlo estimator).  Coin-flip
    re-assignment (a randomization test) rather than an exact
    permutation of labels — exchangeable under H0, and it keeps the
    whole thing ONE map-side-combined pass: each row explodes to B
    lightweight (b, pseudo-arm) pairs, the replicate aggregation
    reduces to B rows per group before the shuffle.  Arm coding
    follows welch_ttest (arm 0 is ``group_col == 0``).  Both diffs
    are 6dp-rounded BEFORE the exceedance comparison so an
    engine-epsilon difference can never flip a count."""
    from eggv_spark.operators.dedupe import base_hash

    keys = list(keys)
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        *keys,
        F.col(key_col).cast("string").alias("_k"),
        F.col(value_col).cast("double").alias("_x"),
        (F.col(group_col) != 0).cast("int").alias("_g"),
    )
    obs = rows.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.round(
            F.avg(F.when(F.col("_g") == 1, F.col("_x")))
            - F.avg(F.when(F.col("_g") == 0, F.col("_x"))),
            6,
        ).alias("_d_obs"),
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(n_permutations - 1))).alias("_b")
    perm_arm = (base_hash(F.concat_ws(":", "_k", "_b")) % 2).cast("int")
    per_b = (
        rows.select(*keys, "_k", "_x", b)
        .withColumn("_pg", perm_arm)
        .groupBy(*keys, "_b")
        .agg(
            F.round(
                F.avg(F.when(F.col("_pg") == 1, F.col("_x")))
                - F.avg(F.when(F.col("_pg") == 0, F.col("_x"))),
                6,
            ).alias("_d_perm")
        )
    )
    exceed = (
        per_b.join(F.broadcast(obs), keys)
        .groupBy(*keys)
        .agg(
            F.any_value("n").alias("n"),
            F.any_value("_d_obs").alias("_d_obs"),
            F.sum(
                (F.abs("_d_perm") >= F.abs("_d_obs")).cast("int")
            ).alias("_n_exceed"),
        )
    )
    p = (1 + F.col("_n_exceed")) / F.lit(float(n_permutations + 1))
    # a one-arm group has NULL diff_obs (no test exists): report
    # p = 1.0 explicitly — "no evidence" — in BOTH engines.  Without
    # this, Spark's all-NULL sum makes p NULL (which bh_adjust would
    # sort NULLS FIRST where DuckDB sorts them LAST, shifting every
    # p_rank), while the naive oracle CASE ... ELSE 0 would yield
    # 1/(B+1) — the SMALLEST possible p for the one group with no
    # test at all, the worst value to hand a step-up procedure.
    return exceed.select(
        *keys, "n",
        F.col("_d_obs").alias("diff_obs"),
        F.when(F.col("_d_obs").isNull(), F.lit(1.0))
        .otherwise(F.round(p, 6))
        .alias("p_value"),
    )


def bh_adjust(
    df: DataFrame, p_col: str, tiebreak: str, alpha: float = 0.05
) -> DataFrame:
    """Benjamini–Hochberg FDR step-up over a frame of per-hypothesis
    p-values: rank p ascending (tiebroken for determinism), find the
    largest i with p_(i) <= alpha*i/m, flag everything at or below
    it.  The hypothesis frame is small by construction (one row per
    tested group), so the global window is one tiny task."""
    w = Window.orderBy(p_col, tiebreak)
    m = F.count("*").over(Window.partitionBy())
    ranked = df.select(
        "*",
        F.row_number().over(w).alias("p_rank"),
        m.alias("_m"),
    ).withColumn(
        "_pass",
        (F.col(p_col) <= F.lit(alpha) * F.col("p_rank") / F.col("_m"))
        .cast("int"),
    )
    kstar = F.max(F.when(F.col("_pass") == 1, F.col("p_rank"))).over(
        Window.partitionBy()
    )
    return ranked.select(
        *[c for c in df.columns],
        "p_rank",
        F.round(
            F.lit(alpha) * F.col("p_rank") / F.col("_m"), 6
        ).alias("bh_threshold"),
        F.coalesce(
            (F.col("p_rank") <= kstar).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def _chi2_even_sf(stat: Column, n_terms: Column) -> Column:
    """Closed-form chi-square survival P(X > stat) for EVEN dof
    2*n_terms: exp(-x/2) * sum_{i=0}^{n_terms-1} (x/2)^i / i!, built
    as a term recurrence term_i = term_{i-1} * (x/2) / i — NEVER
    factorial(i): Spark's factorial is NULL past 20, and
    least(NULL, 1.0) would silently report p = 1.0 for dof >= 42.
    n_terms <= 1 leaves the series at its init value 1.0 (the dof=2
    case exp(-x/2)).  Shared by fisher_combine / kruskal_wallis /
    friedman_test; callers gate on dof evenness and round/clamp."""
    half = stat / 2.0
    idx = F.when(
        n_terms > 1, F.sequence(F.lit(1), n_terms.cast("int") - 1)
    ).otherwise(F.array().cast("array<int>"))
    series = F.aggregate(
        idx,
        F.struct(F.lit(1.0).alias("term"), F.lit(1.0).alias("total")),
        lambda acc, i: F.struct(
            (acc["term"] * half / i.cast("double")).alias("term"),
            (acc["total"] + acc["term"] * half / i.cast("double")).alias(
                "total"
            ),
        ),
        lambda acc: acc["total"],
    )
    return F.exp(-half) * series


def fisher_combine(df: DataFrame, p_col: str) -> DataFrame:
    """Fisher's method for combining m independent p-values: X = -2
    sum(ln p) ~ chi2 with 2m dof under the global null.  2m is always
    EVEN, so the survival function has the exact closed-form series
    (:func:`_chi2_even_sf`; m is data-dependent, built with a runtime
    ``aggregate``), no incomplete-gamma needed.  One scalar reduce
    over the (tiny) hypothesis frame."""
    agg = df.agg(
        F.count("*").alias("m"),
        F.round(-2.0 * F.sum(F.log(p_col)), 6).alias("fisher_x2"),
    )
    p = _chi2_even_sf(F.col("fisher_x2"), F.col("m"))
    return agg.select(
        "m", "fisher_x2",
        F.round(F.least(p, F.lit(1.0)), 6).alias("p_combined"),
    )


def ljung_box(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    n_lags: int = 4,
) -> DataFrame:
    """Ljung–Box autocorrelation test per group over an ordered
    series: Q = n(n+2) * sum_{k=1..h} r_k^2/(n-k) with r_k the lag-k
    sample autocorrelation around the group mean; p-value from the
    chi2(h) survival function, closed-form for even h (same series
    identity as :func:`fisher_combine` — h must be even here).  One
    broadcast of the group means, one lag window pass, one reduce.
    ``order_col`` must be unique per group; series are expected to
    be PRE-ROLLED (daily aggregates), never raw events."""
    assert n_lags % 2 == 0, "ljung_box: n_lags must be even (closed-form p)"
    keys = list(keys)
    mu = df.groupBy(*keys).agg(
        F.avg(value_col).alias("_mu"), F.count("*").alias("_n")
    )
    w = Window.partitionBy(*keys).orderBy(order_col)
    rows = df.join(F.broadcast(mu), keys).select(
        *keys, "_n",
        (F.col(value_col) - F.col("_mu")).alias("_e"),
        *[
            (
                (F.col(value_col) - F.col("_mu"))
                * (F.lag(value_col, k).over(w) - F.col("_mu"))
            ).alias(f"_c{k}")
            for k in range(1, n_lags + 1)
        ],
    )
    agg = rows.groupBy(*keys).agg(
        F.any_value("_n").alias("n"),
        F.sum(F.col("_e") * F.col("_e")).alias("_den"),
        *[F.sum(f"_c{k}").alias(f"_s{k}") for k in range(1, n_lags + 1)],
    )
    n = F.col("n")
    # try_divide: a constant series has den = 0 with s_k = 0 — the
    # statistic is undefined (NULL, matching DuckDB's x/0), not a
    # job-killing ANSI error
    q = n * (n + 2.0) * sum(
        F.try_divide(F.col(f"_s{k}"), F.col("_den")) ** 2 / (n - k)
        for k in range(1, n_lags + 1)
    )
    agg = agg.withColumn("_q", F.round(q, 6))
    half = F.col("_q") / 2.0
    m_terms = n_lags // 2
    series = sum(
        F.pow(half, float(i)) / F.lit(float(__import__("math").factorial(i)))
        for i in range(m_terms)
    )
    p = F.exp(-half) * series
    # guard the least(): least(NULL, 1.0) is 1.0 in both engines, so
    # an undefined statistic must short-circuit to NULL explicitly
    return agg.select(
        *keys, "n",
        F.col("_q").alias("lb_q"),
        F.when(
            F.col("_q").isNotNull(),
            F.round(F.least(p, F.lit(1.0)), 6),
        ).alias("p_value"),
    )


def ratio_delta_ci(
    df: DataFrame,
    keys: Sequence[str],
    num_col: str,
    den_col: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Delta-method CI for a ratio-of-sums metric R = sum(y)/sum(x)
    over per-unit rollups (revenue per session, tokens per document
    — the denominator is random too, so the naive mean-of-ratios SE
    is wrong): Var(R) ~ (s_y^2 + R^2 s_x^2 - 2 R s_xy) / (n xbar^2).
    One map-side-combined pass collects all five moments.  Input
    must already be one row per unit."""
    keys = list(keys)
    agg = df.filter(
        F.col(num_col).isNotNull() & F.col(den_col).isNotNull()
    ).groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.avg(num_col).alias("_ybar"),
        F.avg(den_col).alias("_xbar"),
        F.var_samp(num_col).alias("_vy"),
        F.var_samp(den_col).alias("_vx"),
        F.covar_samp(num_col, den_col).alias("_cxy"),
    )
    # try_divide both: a group whose denominator metric averages to
    # exactly zero has an undefined ratio — NULL (DuckDB parity), not
    # an ANSI job abort
    r = F.try_divide(F.col("_ybar"), F.col("_xbar"))
    se = F.sqrt(
        F.try_divide(
            F.col("_vy") + r * r * F.col("_vx") - 2.0 * r * F.col("_cxy"),
            F.col("n") * F.col("_xbar") * F.col("_xbar"),
        )
    )
    return agg.select(
        *keys, "n",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - F.lit(z_crit) * se, 6).alias("ci_lo"),
        F.round(r + F.lit(z_crit) * se, 6).alias("ci_hi"),
    )


def digit_histogram(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Order-of-magnitude histogram (the HDR-histogram idea with
    decimal buckets): bucket a positive metric by the DIGIT COUNT of
    its integer cents — pure integer/string math, so bucket edges
    can never drift by a ulp between engines the way floor(log10(x))
    can.  Emits per-bucket count, bucket bounds in cents, and the
    cumulative fraction; one map-side-combined aggregation plus a
    window over the ~10-row rollup."""
    keys = list(keys)
    cents = F.round(F.col(value_col) * 100).cast("long")
    bucket = F.length(cents.cast("string")).alias("bucket")
    per_b = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .groupBy(*keys, bucket)
        .agg(F.count("*").alias("n_rows"))
    )
    cum = F.sum("n_rows").over(
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = F.sum("n_rows").over(Window.partitionBy(*keys))
    return per_b.select(
        *keys, "bucket", "n_rows",
        F.pow(F.lit(10.0), F.col("bucket") - 1).cast("long").alias("lo_cents"),
        (F.pow(F.lit(10.0), F.col("bucket")).cast("long") - 1).alias("hi_cents"),
        F.round(cum / tot, 6).alias("cum_frac"),
    )


def with_ewma(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    max_lags: int = 10,
    out: str = "ewma",
) -> DataFrame:
    """Finite-memory exponentially weighted moving average: ewma_t =
    sum_{j=0..K} a(1-a)^j x_{t-j} / sum_{j} a(1-a)^j over the lags
    actually PRESENT (so the series head is an average of what
    exists, not biased toward zero).  The textbook recursive EWMA is
    inherently sequential; truncating at K lags (weight beyond K <
    (1-a)^K ~ 3% here) turns it into a bounded window expression —
    one sort shuffle on the group key, whole-stage codegen, no UDF.
    ``order_col`` must be unique per group."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(order_col)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(max_lags + 1):
        lagged = F.lag(value_col, j).over(w) if j else F.col(value_col)
        wt = F.lit(alpha * (1.0 - alpha) ** j)
        num = num + F.coalesce(lagged * wt, F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), wt).otherwise(F.lit(0.0))
    # try_divide: a row whose whole lag window is NULL (null series
    # head) has den = 0.0 — NULL ewma, not an ANSI job abort
    return df.withColumn(out, F.round(F.try_divide(num, den), 6))


def with_rolling_skew(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    window_rows: int = 7,
    out: str = "rolling_skew",
) -> DataFrame:
    """Rolling sample skewness g1 over a trailing row frame, from raw
    power sums (s1, s2, s3) so one window pass computes everything:
    g1 = (m3)/(m2)^1.5 with central moments recovered from the
    sums.  NULL until the frame is full (a partial frame's skew is
    noise).  One sort shuffle on the group key."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    x = F.col(value_col)
    n = F.count(value_col).over(w)
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    s3 = F.sum(x * x * x).over(w)
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3.0 * m * s2 / n + 2.0 * m * m * m
    g1 = F.when(
        (n == window_rows) & (m2 > 0), m3 / F.pow(m2, F.lit(1.5))
    )
    return df.withColumn(out, F.round(g1, 4))


# ---------------------------------------------------------------------------
# round-5 wave 2: k-sample hypothesis tests
# ---------------------------------------------------------------------------

def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA F across k groups: SSB/(k-1) over SSW/(n-k),
    assembled from per-group (n, mean, var) — one map-side-combined
    aggregation to k rows, then a scalar reduce over that tiny
    frame.  The grand mean is computed IN the reduce (sum n*mean /
    sum n), so there is no second scan and no broadcast join.
    Reports the F statistic with its degrees of freedom (the F
    p-value has no closed form shared by both engines; consumers
    compare F against their own critical value)."""
    per = (
        df.filter(F.col(value_col).isNotNull()
                  & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count("*").alias("_n"),
            F.avg(value_col).alias("_m"),
            F.var_samp(value_col).alias("_v"),
        )
    )
    agg = per.agg(
        F.count("*").alias("k"),
        F.sum("_n").alias("n"),
        (F.sum(F.col("_n") * F.col("_m")) / F.sum("_n")).alias("_gm"),
        F.sum(F.col("_n") * F.col("_m") * F.col("_m")).alias("_snm2"),
        F.sum((F.col("_n") - 1) * F.col("_v")).alias("_ssw"),
    )
    ssb = F.col("_snm2") - F.col("n") * F.col("_gm") * F.col("_gm")
    f_stat = F.try_divide(
        F.try_divide(ssb, F.col("k") - 1),
        F.try_divide(F.col("_ssw"), F.col("n") - F.col("k")),
    )
    return agg.select(
        "k", "n",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        F.round(ssb, 4).alias("ss_between"),
        F.round("_ssw", 4).alias("ss_within"),
        F.round(f_stat, 4).alias("f_stat"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal–Wallis H across k groups — the distribution-free ANOVA:
    average ranks over the POOLED sample (one global sort window —
    at 100 TB replace with a two-pass histogram ranking; documented),
    per-group rank sums, H = 12/(N(N+1)) Σ R_g²/n_g − 3(N+1),
    tie-corrected by 1 − Σ(t³−t)/(N³−N).  The chi2(k−1) tail is
    emitted only when k−1 is even (closed-form series, engine-exact);
    odd dof report NULL."""
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    avg_rank = F.rank().over(Window.orderBy(value_col)) + (
        F.count("*").over(Window.partitionBy(value_col)) - 1
    ) / 2.0
    ranked = rows.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).alias("_x"),
        avg_rank.alias("_r"),
    )
    per_g = ranked.groupBy("_g").agg(
        F.count("*").alias("_n"), F.sum("_r").alias("_rs")
    )
    ties = (
        ranked.groupBy("_x").agg(F.count("*").alias("_t"))
        .agg(F.sum(F.col("_t") ** 3 - F.col("_t")).alias("_tie3"))
    )
    agg = per_g.agg(
        F.count("*").alias("k"),
        F.sum("_n").alias("n"),
        F.sum(F.col("_rs") * F.col("_rs") / F.col("_n")).alias("_sr2"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("_sr2") - 3.0 * (n + 1.0)
    correction = 1.0 - F.try_divide(F.col("_tie3"), n ** 3 - n)
    h = F.round(F.try_divide(h_raw, correction), 6)
    agg = agg.withColumn("_h", h)
    # chi2(k-1) survival, closed-form when k-1 even: m = (k-1)/2 terms
    p = F.when(
        ((F.col("k") - 1) % 2 == 0) & F.col("_h").isNotNull(),
        F.round(
            F.least(
                _chi2_even_sf(F.col("_h"), ((F.col("k") - 1) / 2)),
                F.lit(1.0),
            ),
            6,
        ),
    )
    return agg.select(
        "k", "n", F.col("_h").alias("kw_h"), p.alias("p_value")
    )


def levene_test(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Levene's test for equal variances (mean-centered variant):
    transform to z = |x − mean_g|, then one-way ANOVA F on z.  Two
    map-side-combined passes (group means broadcast back); the
    center is the MEAN, not Brown–Forsythe's median, to stay
    sort-free — documented deviation, same large-sample behavior."""
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    means = rows.groupBy(group_col).agg(F.avg(value_col).alias("_gmean"))
    z = rows.join(F.broadcast(means), group_col).select(
        F.col(group_col).alias("_g"),
        F.abs(F.col(value_col) - F.col("_gmean")).alias("_z"),
    )
    out = anova_oneway(z, "_g", "_z")
    return out.select(
        "k", "n", "df_between", "df_within",
        F.col("f_stat").alias("levene_w"),
    )


def median_test(
    df: DataFrame, group_col: str, value_col: str, tiebreak_col: str
) -> DataFrame:
    """Mood's median test: count above/below the POOLED median per
    group, chi-square on the 2×k table.  The pooled median is
    RANK-based (the value at row ceil(n/2) under a unique tiebreak
    order — never percentile interpolation, which straddles engine
    boundaries); values EQUAL to the median are excluded (the
    classical convention).  One sort window for the median, one
    conditional aggregation per group, chi2 assembled on the k-row
    frame with the same empty-cell-free 2×k closed form as
    cramers_v."""
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    w = Window.orderBy(value_col, tiebreak_col)
    ranked = rows.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy()).alias("_n"),
    )
    med = ranked.filter(
        F.col("_rn") == F.ceil(F.col("_n") / 2.0)
    ).select(F.col("_x").alias("_med"))
    per_g = (
        ranked.crossJoin(F.broadcast(med))
        .filter(F.col("_x") != F.col("_med"))
        .groupBy("_g")
        .agg(
            F.sum((F.col("_x") > F.col("_med")).cast("long")).alias("_a"),
            F.sum((F.col("_x") < F.col("_med")).cast("long")).alias("_b"),
        )
    )
    tot = per_g.agg(
        F.sum("_a").alias("_ta"), F.sum("_b").alias("_tb"),
        F.count("*").alias("k"),
    )
    joined = per_g.crossJoin(F.broadcast(tot))
    n_all = F.col("_ta") + F.col("_tb")
    ea = (F.col("_a") + F.col("_b")) * F.col("_ta") / n_all
    eb = (F.col("_a") + F.col("_b")) * F.col("_tb") / n_all
    # try_divide: when every non-median value falls on one side the
    # other side's expected count is 0 and plain / gives 0.0/0.0 =
    # NaN; try_divide yields NULL, which sum() skips — matching
    # DuckDB's divide-by-zero NULL semantics
    chi2 = F.sum(
        F.try_divide((F.col("_a") - ea) ** 2, ea)
        + F.try_divide((F.col("_b") - eb) ** 2, eb)
    )
    return joined.groupBy().agg(
        F.any_value("k").alias("k"),
        (F.any_value("_ta") + F.any_value("_tb")).cast("long")
        .alias("n_used"),
        F.round(chi2, 4).alias("chi2"),
    ).select(
        "k", "n_used", "chi2", (F.col("k") - 1).alias("dof")
    )


def friedman_test(
    df: DataFrame, block_col: str, treatment_col: str, value_col: str
) -> DataFrame:
    """Friedman test for k treatments over b blocks (the repeated-
    measures Kruskal–Wallis): average-rank each treatment WITHIN its
    block, Q = 12/(bk(k+1)) Σ R_j² − 3b(k+1) from per-treatment rank
    sums; the chi2(k−1) tail via the shared even-dof closed form
    (NULL for odd dof).  Input must be one observation per (block,
    treatment) — pre-roll first.  One within-block rank window (tiny
    partitions: k rows per block) + two keyed reduces."""
    avg_rank = F.rank().over(
        Window.partitionBy(block_col).orderBy(value_col)
    ) + (
        F.count("*").over(Window.partitionBy(block_col, value_col)) - 1
    ) / 2.0
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        F.col(treatment_col).alias("_t"),
        F.col(block_col).alias("_b"),
        avg_rank.alias("_r"),
    )
    per_t = ranked.groupBy("_t").agg(
        F.sum("_r").alias("_rs"), F.count("*").alias("_b_count")
    )
    agg = per_t.agg(
        F.count("*").alias("k"),
        # max, not any_value: if a (block, treatment) cell is dropped
        # by the null filter the per-treatment counts differ, and
        # any_value would pick an arbitrary one (nondeterministic
        # across partitionings; the DuckDB oracle uses max(bc))
        F.max("_b_count").alias("b"),
        F.sum(F.col("_rs") * F.col("_rs")).alias("_sr2"),
    )
    k, b = F.col("k"), F.col("b")
    q = (
        12.0 / (b * k * (k + 1.0)) * F.col("_sr2") - 3.0 * b * (k + 1.0)
    )
    agg = agg.withColumn("_q", F.round(q, 6))
    p = F.when(
        ((k - 1) % 2 == 0) & F.col("_q").isNotNull(),
        F.round(
            F.least(
                _chi2_even_sf(F.col("_q"), ((k - 1) / 2)), F.lit(1.0)
            ),
            6,
        ),
    )
    return agg.select(
        "k", "b", F.col("_q").alias("friedman_q"), p.alias("p_value")
    )


def powerlaw_mle(
    df: DataFrame, value_col: str, x_min: float
) -> DataFrame:
    """Continuous power-law tail fit by the Clauset–Shalizi–Newman
    MLE: alpha = 1 + n / Σ ln(x/x_min) over x >= x_min, with the
    asymptotic standard error (alpha−1)/√n — heavy-tail
    characterization (degree, revenue, token-frequency tails) in ONE
    map-side-combined pass, no sorting, no binning."""
    tail = df.filter(F.col(value_col) >= x_min)
    agg = tail.agg(
        F.count("*").alias("n_tail"),
        F.sum(F.log(F.col(value_col) / F.lit(x_min))).alias("_slog"),
    )
    alpha = 1.0 + F.try_divide(F.col("n_tail"), F.col("_slog"))
    return agg.select(
        "n_tail",
        F.lit(float(x_min)).alias("x_min"),
        F.round(alpha, 6).alias("alpha"),
        F.round(
            F.try_divide(alpha - 1.0, F.sqrt(F.col("n_tail"))), 6
        ).alias("alpha_se"),
    )


def with_bollinger(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    window_rows: int = 20,
    n_sigma: float = 2.0,
) -> DataFrame:
    """Bollinger bands: trailing rolling mean ± n·σ plus a breach
    flag — the classic volatility envelope (and a fine streaming
    anomaly baseline).  NULL until the frame fills; one sort shuffle
    on the group key, all band math inside whole-stage codegen."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    n = F.count(value_col).over(w)
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    full = n == window_rows
    upper = F.when(full, F.round(mean + n_sigma * sd, 4))
    lower = F.when(full, F.round(mean - n_sigma * sd, 4))
    breach = F.when(
        full,
        F.when(F.col(value_col) > mean + n_sigma * sd, 1)
        .when(F.col(value_col) < mean - n_sigma * sd, -1)
        .otherwise(0),
    )
    return df.select(
        "*",
        F.when(full, F.round(mean, 4)).alias("bb_mid"),
        upper.alias("bb_upper"),
        lower.alias("bb_lower"),
        breach.alias("bb_breach"),
    )


def with_rsi(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    period: int = 14,
) -> DataFrame:
    """Relative Strength Index (simple-moving-average variant, not
    Wilder's recursive smoothing — the recursion is inherently
    sequential; the SMA form is the standard window-function
    recasting): RSI = 100 − 100/(1 + avg_gain/avg_loss) over the
    trailing ``period`` deltas.  A loss-free window has RS = ∞ →
    RSI pinned to 100 (try_divide + coalesce, not a crash).  Two
    windows, one sort shuffle."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(order_col)
    delta = F.col(value_col) - F.lag(value_col).over(w)
    staged = df.withColumn("_delta", delta)
    wf = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(period - 1), 0)
    )
    n = F.count("_delta").over(wf)
    gain = F.avg(F.when(F.col("_delta") > 0, F.col("_delta"))
                 .otherwise(F.lit(0.0))).over(wf)
    loss = F.avg(F.when(F.col("_delta") < 0, -F.col("_delta"))
                 .otherwise(F.lit(0.0))).over(wf)
    rs = F.try_divide(gain, loss)
    rsi = F.when(
        n == period,
        F.when(loss == 0, F.lit(100.0)).otherwise(
            F.round(100.0 - 100.0 / (1.0 + rs), 4)
        ),
    )
    return staged.withColumn("rsi", rsi).drop("_delta")


# ---------------------------------------------------------------------------
# round-5 wave 4: ML evaluation + agreement
# ---------------------------------------------------------------------------

def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Average precision (the area under the precision-recall curve,
    computed the standard way: mean of precision@k over the positive
    rows, ranked by score descending with a unique tiebreak so both
    engines walk the identical order).  The PR companion to
    :func:`roc_auc` — on heavily imbalanced labels ROC flatters,
    PR does not.  One global sort window (fixture-scale; at 100 TB
    bucket scores and accumulate per-bucket precision, the same
    two-pass trick as equi-depth histograms — documented)."""
    w = Window.orderBy(F.col(score_col).desc(), tiebreak_col)
    ranked = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("_y"),
        F.row_number().over(w).alias("_rn"),
    )
    cum_pos = F.sum("_y").over(
        Window.orderBy("_rn").rowsBetween(Window.unboundedPreceding, 0)
    )
    prec_at = ranked.select(
        "_y", (cum_pos / F.col("_rn")).alias("_prec")
    )
    return prec_at.agg(
        F.count("*").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("_y") == 1, F.col("_prec"))),
                F.sum("_y"),
            ), 6,
        ).alias("avg_precision"),
    )


def lift_chart(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Decile lift/gain chart: rank by score descending (unique
    tiebreak), integer-exact decile assignment (the same floor((rn*10
    - 1)/n) + 1 trick as lorenz_deciles), per-decile response rate,
    lift vs the base rate, and cumulative gain — the model-targeting
    readout.  One sort window + a window over the 10-row rollup."""
    w = Window.orderBy(F.col(score_col).desc(), tiebreak_col)
    ranked = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("_y"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy()).alias("_n"),
    )
    decile = (
        F.floor((F.col("_rn") * 10 - 1) / F.col("_n")) + 1
    ).cast("int")
    per_dec = ranked.groupBy(decile.alias("decile")).agg(
        F.count("*").alias("n_rows"),
        F.sum("_y").cast("long").alias("n_pos"),
    )
    tot_pos = F.sum("n_pos").over(Window.partitionBy())
    tot_n = F.sum("n_rows").over(Window.partitionBy())
    cum_pos = F.sum("n_pos").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    base = tot_pos / tot_n
    return per_dec.select(
        "decile", "n_rows", "n_pos",
        F.round(F.col("n_pos") / F.col("n_rows"), 6).alias("response_rate"),
        F.round(
            F.try_divide(F.col("n_pos") / F.col("n_rows"), base), 4
        ).alias("lift"),
        F.round(F.try_divide(cum_pos, tot_pos), 6).alias("cum_gain"),
    )


def cohen_kappa(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Cohen's kappa for two binary raters: observed agreement
    corrected for chance, κ = (p_o − p_e)/(1 − p_e).  All four cell
    probabilities from ONE map-side-combined pass (the raters are
    Column expressions, so any derived labeling works)."""
    a = rater_a.cast("int")
    b = rater_b.cast("int")
    agg = df.agg(
        F.count("*").alias("n"),
        F.avg((a == b).cast("double")).alias("_po"),
        F.avg(a.cast("double")).alias("_pa"),
        F.avg(b.cast("double")).alias("_pb"),
    )
    pe = (
        F.col("_pa") * F.col("_pb")
        + (1 - F.col("_pa")) * (1 - F.col("_pb"))
    )
    kappa = F.try_divide(F.col("_po") - pe, 1 - pe)
    return agg.select(
        "n",
        F.round("_po", 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
    )


def mcnemar_test(
    df: DataFrame, keys_col: str, flag_a: Column, flag_b: Column
) -> DataFrame:
    """McNemar's test for paired binary outcomes (did the SAME units
    flip between two conditions?): only the discordant cells matter,
    chi2 = (|b − c| − 1)² / (b + c) with the continuity correction.
    One grouped pass to per-unit flags, one reduce.  dof = 1 (odd),
    so the statistic ships without a p-value — compare against
    3.841 for 5%."""
    per_unit = df.groupBy(keys_col).agg(
        F.max(flag_a.cast("int")).alias("_a"),
        F.max(flag_b.cast("int")).alias("_b"),
    )
    agg = per_unit.agg(
        F.count("*").alias("n_units"),
        F.sum(((F.col("_a") == 1) & (F.col("_b") == 0)).cast("long"))
        .alias("b_only_first"),
        F.sum(((F.col("_a") == 0) & (F.col("_b") == 1)).cast("long"))
        .alias("c_only_second"),
    )
    b, c = F.col("b_only_first"), F.col("c_only_second")
    chi2 = F.try_divide((F.abs(b - c) - 1) ** 2, (b + c).cast("double"))
    return agg.select(
        "n_units", "b_only_first", "c_only_second",
        F.round(chi2, 4).alias("mcnemar_chi2"),
    )


def multiplicative_means(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Geometric and harmonic means per group, both as map-side-
    combinable moment folds (no sorting, no per-group buffers):
    gmean = exp(avg(ln x)) and hmean = n / Σ(1/x), over the strictly
    positive values — rates, ratios, and latency-style metrics where
    the arithmetic mean over-weights the tail.  Non-positive values
    are excluded and counted, so the caller sees exactly what the
    means describe.  Staged for the round-7 registry window."""
    c = F.col(col)
    pos = F.when(c > 0, c)
    return df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.count(pos).alias("n_positive"),
        F.round(F.avg(c), 6).alias("mean"),
        F.round(F.exp(F.avg(F.log(pos))), 6).alias("gmean"),
        F.round(
            F.try_divide(
                F.count(pos).cast("double"), F.sum(1.0 / pos)
            ), 6,
        ).alias("hmean"),
    )


def hhi_concentration(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group: HHI =
    Σ sᵢ² over contributor shares sᵢ — the standard "is this training
    mixture / revenue base / shard layout dominated by a few
    contributors?" gauge (1/n = perfectly even, 1.0 = single
    contributor), with the effective contributor count 1/HHI and the
    top share alongside.

    Contributors are the distinct values one level below ``keys``
    (the caller pre-aggregates to the contributor grain); this fold
    is two grouped aggregations — contributor totals, then the
    share-square sum — both map-side combinable, no window, no sort.
    NULL-keyed groups are retained (null-safe totals join), matching
    ANSI GROUP BY semantics.  Staged for the round-8 registry
    window."""
    totals = df.groupBy(*keys).agg(
        F.sum(F.col(value_col)).alias("_tot"),
        F.count("*").alias("n_contributors"),
        F.max(F.col(value_col)).alias("_max"),
    )
    # NULL-SAFE equi-join on the group keys (a NULL-keyed group is a
    # real group to the groupBy above; plain equality would drop its
    # HHI row entirely — the round-7 exact-twin pitfall).  totals is
    # |groups|-sized and NOT force-broadcast — at high key cardinality
    # a forced broadcast would ship the whole group table to every
    # executor; AQE promotes it to a broadcast when it actually fits
    join_cond = reduce(
        lambda a, b: a & b,
        [F.col(f"d.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys],
    )
    j = df.alias("d").join(totals.alias("t"), join_cond).select(
        *[F.col(f"d.{k}").alias(k) for k in keys],
        F.col(f"d.{value_col}").alias(value_col),
        "t._tot", "t.n_contributors", "t._max",
    )
    return (
        j.groupBy(*keys)
        .agg(
            F.any_value("n_contributors").alias("n_contributors"),
            F.round(
                F.sum((F.col(value_col) / F.col("_tot")) ** 2), 6
            ).alias("hhi"),
            F.round(F.any_value(F.col("_max") / F.col("_tot")), 6)
            .alias("top_share"),
        )
        .select(
            *keys, "n_contributors", "hhi",
            F.round(F.try_divide(F.lit(1.0), F.col("hhi")), 4)
            .alias("effective_n"),
            "top_share",
        )
    )


def mcc_confusion(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Binary-classification confusion readout: TP/FP/FN/TN cells
    plus precision, recall, F1, accuracy, and the Matthews
    correlation coefficient — the chance-corrected single number that
    stays honest under class imbalance (where accuracy and even F1
    mislead).  Completes the evaluation family next to agg_auc,
    agg_pr_auc, agg_kappa, and agg_mcnemar.

    One aggregation pass of four conditional counts (exact integers —
    engine-identical), ratios assembled on the 1-row frame; the MCC
    denominator is computed in DOUBLE before the sqrt so the 4-way
    product of counts cannot overflow BIGINT at 100 TB row counts.
    Staged for the round-8 registry window."""
    y = F.col(label_col).cast("int")
    p = F.col(pred_col).cast("int")
    cells = df.agg(
        F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn"),
        F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    return cells.select(
        "tp", "fp", "fn", "tn",
        F.round(F.try_divide(tp, tp + fp), 6).alias("precision"),
        F.round(F.try_divide(tp, tp + fn), 6).alias("recall"),
        F.round(
            F.try_divide(2 * tp, 2 * tp + fp + fn), 6
        ).alias("f1"),
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.round(
            F.try_divide(
                tp * tn - fp * fn,
                F.sqrt(
                    (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                ),
            ), 6,
        ).alias("mcc"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score with the Murphy (1973) three-way decomposition —
    reliability (calibration error, lower better), resolution
    (discrimination, higher better), uncertainty (outcome base-rate
    entropy): BS = REL − RES + UNC over ``n_bins`` equal-width
    probability bins.  The companion to agg_calibration that turns
    the calibration table into one actionable score split.

    Shape: one pass for the binned means (map-side combinable), one
    1-row global pass, assembled on the bins-sized frame.  Bin edges
    are integer arithmetic on floor(p·n_bins) (clamped to the last
    bin at p = 1.0) so binning is engine-exact.  Staged for the
    round-8 registry window."""
    p = F.col(prob_col).cast("double")
    y = F.col(outcome_col).cast("double")
    binned = df.select(
        F.least(
            F.floor(p * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("_bin"),
        p.alias("_p"), y.alias("_y"),
    )
    per_bin = binned.groupBy("_bin").agg(
        F.count("*").alias("_nk"),
        F.avg("_p").alias("_pk"),
        F.avg("_y").alias("_yk"),
    )
    glob = binned.agg(
        F.count("*").alias("_n"),
        F.avg("_y").alias("_ybar"),
        F.avg((F.col("_p") - F.col("_y")) ** 2).alias("_bs"),
    )
    j = per_bin.crossJoin(F.broadcast(glob))
    return j.agg(
        F.any_value("_n").cast("long").alias("n"),
        F.count("*").alias("n_bins_used"),
        F.round(F.any_value("_bs"), 6).alias("brier"),
        F.round(
            F.sum(
                F.col("_nk") * (F.col("_pk") - F.col("_yk")) ** 2
            ) / F.any_value("_n"), 6,
        ).alias("reliability"),
        F.round(
            F.sum(
                F.col("_nk") * (F.col("_yk") - F.col("_ybar")) ** 2
            ) / F.any_value("_n"), 6,
        ).alias("resolution"),
        F.round(
            F.any_value(F.col("_ybar") * (1 - F.col("_ybar"))), 6
        ).alias("uncertainty"),
    )


def energy_distance(
    df: DataFrame,
    group_col: str,
    val_cents_col: Column | str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample energy distance (Székely–Rizzo):
    ``D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|`` — the distribution-equality
    test that, unlike KS (max single deviation), integrates ALL
    moments, and unlike rank tests is location-AND-shape sensitive.

    Relational formulation with no pairwise expansion: for a sorted
    sample, ``Σ_{i<j}|x_j−x_i| = Σ_i (2i−1−n)·x_(i)``; grouped by
    DISTINCT value v with count c at cumulative count p this is
    ``Σ_v v·c·(2p−c−n)`` — tie-safe (any order within a tie
    contributes |0|), so per-distinct-value counts + ONE cumulative
    window over the value-distinct table (the :func:`ks_statistic`
    posture) yield all three terms: the combined-sample total and the
    two within-group totals, with cross = total − within_a −
    within_b.  Values must arrive as integer cents — every
    accumulator is DECIMAL(38,0), exact at any scale, and the final
    double divisions are deterministic.  Returns one row: n_a, n_b,
    the three mean absolute differences (cents) and the energy
    distance (cents).  Staged for the round-9 registry window."""
    v = (
        F.col(val_cents_col)
        if isinstance(val_cents_col, str)
        else val_cents_col
    )
    s = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        v.cast("long").alias("_v"),
        (F.col(group_col) == group_a).cast("long").alias("_is_a"),
    )
    per_v = s.groupBy("_v").agg(
        F.sum("_is_a").alias("_ca"),
        (F.count("*") - F.sum("_is_a")).alias("_cb"),
    )
    totals = per_v.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"

    def _t(c: str, p: Column, n: Column) -> Column:
        # v*c*(2p - c - n), all exact integer math
        return F.sum(
            F.col("_v").cast(dec)
            * F.col(c).cast(dec)
            * (2 * p.cast(dec) - F.col(c).cast(dec) - n.cast(dec))
        )

    cum = per_v.crossJoin(F.broadcast(totals)).select(
        "_v", "_ca", "_cb", "_na", "_nb",
        F.sum("_ca").over(w).alias("_pa"),
        F.sum("_cb").over(w).alias("_pb"),
        F.sum(F.col("_ca") + F.col("_cb")).over(w).alias("_pall"),
    )
    folded = cum.groupBy("_na", "_nb").agg(
        _t("_ca", F.col("_pa"), F.col("_na")).alias("_ta"),
        _t("_cb", F.col("_pb"), F.col("_nb")).alias("_tb"),
        F.sum(
            F.col("_v").cast(dec)
            * (F.col("_ca") + F.col("_cb")).cast(dec)
            * (
                2 * F.col("_pall").cast(dec)
                - (F.col("_ca") + F.col("_cb")).cast(dec)
                - (F.col("_na") + F.col("_nb")).cast(dec)
            )
        ).alias("_tall"),
    )
    e_cross = (
        (F.col("_tall") - F.col("_ta") - F.col("_tb")).cast("double")
        / (F.col("_na") * F.col("_nb")).cast("double")
    )
    e_a = (
        F.lit(2.0)
        * F.col("_ta").cast("double")
        / (F.col("_na") * F.col("_na")).cast("double")
    )
    e_b = (
        F.lit(2.0)
        * F.col("_tb").cast("double")
        / (F.col("_nb") * F.col("_nb")).cast("double")
    )
    return folded.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(e_cross, 6).alias("mean_cross_cents"),
        F.round(e_a, 6).alias("mean_within_a_cents"),
        F.round(e_b, 6).alias("mean_within_b_cents"),
        F.round(2.0 * e_cross - e_a - e_b, 6).alias(
            "energy_distance_cents"
        ),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    val_cents_col: Column | str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample 1-D Wasserstein (earth-mover) distance:
    ``W₁ = ∫ |F_a(x) − F_b(x)| dx`` — completes the
    distribution-distance trio with :func:`ks_statistic` (max
    deviation) and :func:`energy_distance` (all-moments): W₁ is the
    actual transport COST in value units, the number a "how much did
    the distribution move" alert wants.

    Relational form over the distinct-value histogram (the
    ks_statistic posture): between consecutive distinct values both
    CDFs are flat, so
    ``W₁ = Σᵢ |F_a(vᵢ) − F_b(vᵢ)| · (vᵢ₊₁ − vᵢ)``.  Computed as
    ``Σ |p_a·n_b − p_b·n_a| · Δv`` in DECIMAL(38,0) — one exact
    integer accumulator, ONE double division at the end — with
    cumulative counts and the value gap from one window pass (lead +
    running sums share the ordering).  Values must arrive as integer
    cents.  Staged for the round-9 registry window."""
    v = (
        F.col(val_cents_col)
        if isinstance(val_cents_col, str)
        else val_cents_col
    )
    s = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        v.cast("long").alias("_v"),
        (F.col(group_col) == group_a).cast("long").alias("_is_a"),
    )
    per_v = s.groupBy("_v").agg(
        F.sum("_is_a").alias("_ca"),
        (F.count("*") - F.sum("_is_a")).alias("_cb"),
    )
    totals = per_v.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    ord_w = Window.orderBy("_v")
    cum_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = "decimal(38,0)"
    steps = per_v.crossJoin(F.broadcast(totals)).select(
        "_na", "_nb",
        F.sum("_ca").over(cum_w).alias("_pa"),
        F.sum("_cb").over(cum_w).alias("_pb"),
        (F.lead("_v").over(ord_w) - F.col("_v")).alias("_dv"),
    )
    folded = steps.filter(F.col("_dv").isNotNull()).groupBy(
        "_na", "_nb"
    ).agg(
        F.sum(
            F.abs(
                F.col("_pa").cast(dec) * F.col("_nb").cast(dec)
                - F.col("_pb").cast(dec) * F.col("_na").cast(dec)
            )
            * F.col("_dv").cast(dec)
        ).alias("_num")
    )
    return folded.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(
            F.col("_num").cast("double")
            / (F.col("_na") * F.col("_nb")).cast("double"),
            6,
        ).alias("wasserstein_cents"),
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test — the
    nonparametric two-arm A/B readout (``welch_ttest`` compares
    means and assumes approximate normality; rank-sum compares the
    whole distributions and survives the heavy-tailed revenue
    metrics Welch chokes on).  ``kruskal_wallis`` is the k-sample
    generalization; this is the canonical k=2 special case with the
    U statistic and the tie-corrected normal approximation.

    Arm coding follows welch_ttest: ``group_col == 0`` is arm A,
    anything else non-null is arm B; NULL values / NULL groups are
    excluded (an unranked observation is not an observation, and
    engines disagree on where NULLs sort).

    Mid-ranks come from the roc_auc kernel — rank() plus
    (tie_count − 1)/2 from two window functions over the SAME sort,
    so ranks are integers-or-halves and their sums exact in doubles.
    U_A = R_A − n_A(n_A+1)/2, U_B = n_A·n_B − U_A; the z statistic
    uses σ² = (n_A n_B / 12)·((n+1) − Σ(t³−t)/(n(n−1))) — the
    standard tie correction, computed from the same per-value tie
    counts (no second data pass).  No continuity correction (both
    engines would have to agree on the ±0.5 direction; at the
    event-table sample sizes it moves z by < 1e-3).  z rounds at
    4dp; degenerate inputs (an empty arm, all values tied) yield
    NULL via try_divide.

    Scale: one global-sort window shuffle for the ranks (the
    ranking-metric cost, same as roc_auc/kruskal) + one
    value-distinct aggregate for ties; a table that exceeds one
    executor's sort space needs the two-phase range-partitioned rank
    decomposition noted in roc_auc."""
    s = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        (F.col(group_col) == 0).cast("long").alias("_is_a"),
        F.col(value_col).alias("_v"),
    )
    tie = Window.partitionBy("_v")
    mid = (
        F.rank().over(Window.orderBy("_v"))
        + (F.count("*").over(tie) - 1) / 2.0
    )
    ranked = s.select("_is_a", "_v", mid.alias("_r"))
    # per-value tie sizes once, from the already-grouped frame (the
    # kruskal tie-correction shape): Σ(t³ − t) over distinct values
    ties = (
        ranked.groupBy("_v").agg(F.count("*").alias("_t"))
        .agg(
            F.sum(
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).alias("_tie3")
        )
    )
    g = ranked.agg(
        F.sum("_is_a").alias("_na"),
        F.sum(1 - F.col("_is_a")).alias("_nb"),
        F.sum(F.when(F.col("_is_a") == 1, F.col("_r"))).alias("_ra"),
    ).crossJoin(F.broadcast(ties))
    na, nb = F.col("_na"), F.col("_nb")
    n = na + nb
    u_a = F.col("_ra") - na * (na + 1) / 2.0
    u_b = na.cast("double") * nb - u_a
    sigma2 = (
        na * nb / 12.0
        * ((n + 1) - F.try_divide(F.col("_tie3"), n * (n - 1)))
    )
    z = F.try_divide(u_a - na * nb / 2.0, F.sqrt(sigma2))
    return g.select(
        na.alias("n_a"), nb.alias("n_b"),
        F.round(u_a, 1).alias("u_a"),
        F.round(u_b, 1).alias("u_b"),
        F.round(z, 4).alias("z_stat"),
    )


def deming_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    delta: float = 1.0,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Deming (errors-in-variables) regression — the symmetric
    companion to :func:`linreg_by_group`: OLS assumes x is measured
    exactly and minimizes VERTICAL distance, so regressing y-on-x
    and x-on-y give different lines; Deming minimizes the
    variance-weighted perpendicular distance and is the standard fit
    when BOTH variables carry noise (method-comparison studies, and
    in a data platform: reconciling two imperfect measurements of
    the same quantity — two sensors, two pipelines, two estimators).

    Closed form from the five distributive moments (one
    map-side-combined pass): with s_xx, s_yy, s_xy the sample
    (co)variances and δ the error-variance ratio var(y errs)/var(x
    errs),
    β = (s_yy − δ·s_xx + √((s_yy − δ·s_xx)² + 4δ·s_xy²)) / (2 s_xy),
    α = ȳ − β·x̄.  δ=1 is orthogonal (total-least-squares)
    regression.  Degenerate groups (s_xy = 0, n < 3) yield NULL via
    try_divide.  Rows with a NULL x or y are excluded (they belong
    to neither moment).  Slope/intercept at 6dp, r at 4dp."""
    keys = list(keys)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    g = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.avg(x).alias("_mx"),
            F.avg(y).alias("_my"),
            F.var_samp(x).alias("_sxx"),
            F.var_samp(y).alias("_syy"),
            F.covar_samp(x, y).alias("_sxy"),
        )
    )
    d = F.lit(float(delta))
    diff = F.col("_syy") - d * F.col("_sxx")
    slope = F.try_divide(
        diff + F.sqrt(diff * diff + 4.0 * d * F.col("_sxy") * F.col("_sxy")),
        2.0 * F.col("_sxy"),
    )
    r = F.try_divide(
        F.col("_sxy"), F.sqrt(F.col("_sxx") * F.col("_syy"))
    )
    return g.select(
        *keys, "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), 6).alias("intercept"),
        F.round(r, 4).alias("pearson_r"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b rank correlation between two columns, with the
    full tie correction — the rank-based dependence measure that
    (unlike Spearman) is a direct probability statement: P(concordant)
    − P(discordant).

    Pair counting is an ALL-ORDERED-PAIRS self cross-join: a pair
    (a, b) is concordant when x and y move the same way, discordant
    when they move opposite ways; ordered counts are exactly 2C and
    2D (a==b and tied pairs contribute 0), so no row id / tiebreak
    column is ever needed.  Tie terms n1 = Σ t(t−1)/2 over x-value
    groups and n2 over y-value groups come from two grouped passes.
    Every count is an exact integer; only the final
    τ_b = (C−D)/√((n0−n1)(n0−n2)) is floating (6dp).

    SCALE CONTRACT (same as agg_corr's pairwise cousins): the cross
    join is O(n²) — callers run this at a PRE-AGGREGATED grain
    (segments, buckets, days: hundreds-to-thousands of rows), never
    at raw-event grain.  At that grain the join broadcasts and the
    whole statistic is one stage.  For raw-scale tau, use
    agg_spearman (rank + corr, O(n log n)) as the screen and reserve
    tau-b for the grains where its exact-pair semantics matter.

    NULL rows (either column) are dropped first — a NULL comparison
    would silently land every pair in the "tied" bucket.

    Output: one row (n, concordant, discordant, tie_pairs_x,
    tie_pairs_y, tau_b)."""
    base = (
        df.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    )
    a = base.select(F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
    b = base.select(F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
    pairs = a.crossJoin(b)
    ordered = pairs.agg(
        F.sum(
            (
                ((F.col("_xa") < F.col("_xb")) & (F.col("_ya") < F.col("_yb")))
                | ((F.col("_xa") > F.col("_xb")) & (F.col("_ya") > F.col("_yb")))
            ).cast("bigint")
        ).alias("_c2"),
        F.sum(
            (
                ((F.col("_xa") < F.col("_xb")) & (F.col("_ya") > F.col("_yb")))
                | ((F.col("_xa") > F.col("_xb")) & (F.col("_ya") < F.col("_yb")))
            ).cast("bigint")
        ).alias("_d2"),
    )
    tx = base.groupBy("_x").agg(F.count("*").alias("_t")).agg(
        F.sum(F.col("_t") * (F.col("_t") - 1) / 2).cast("bigint").alias("_n1")
    )
    ty = base.groupBy("_y").agg(F.count("*").alias("_t")).agg(
        F.sum(F.col("_t") * (F.col("_t") - 1) / 2).cast("bigint").alias("_n2")
    )
    nrow = base.agg(F.count("*").alias("n"))
    c = F.col("_c2") / F.lit(2)
    d = F.col("_d2") / F.lit(2)
    n0 = F.col("n") * (F.col("n") - 1) / F.lit(2)
    return (
        ordered.crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            c.cast("bigint").alias("concordant"),
            d.cast("bigint").alias("discordant"),
            F.col("_n1").alias("tie_pairs_x"),
            F.col("_n2").alias("tie_pairs_y"),
            F.round(
                F.try_divide(
                    c - d,
                    F.sqrt((n0 - F.col("_n1")) * (n0 - F.col("_n2"))),
                ),
                6,
            ).alias("tau_b"),
        )
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary outcome's rate
    monotonically associated with an ORDERED grouping score?  The
    dose-response test a plain chi-square (agg_chi2_cells) cannot
    express — chi-square asks "any difference", this asks "a trend in
    score order", and is far more powerful when order is real.

    With integer scores t, successes r_i and totals n_i per score
    level (R, N overall):

        T   = Σ t_i·r_i − R/N · Σ t_i·n_i
        Var = R/N·(1−R/N) · (Σ t_i²·n_i − (Σ t_i·n_i)²/N)
        z   = T / √Var

    Every building block is an exact integer sum (one grouped pass at
    the score-level grain, then one keys=[] fold); only the final
    three-line expression floats, in one fixed order, so the 6dp z is
    engine-exact.  ``outcome_col`` must be boolean-like (0/1 after an
    int cast); NULL scores or outcomes are dropped (documented, same
    contract as kendall_tau).

    Output: one row (n, n_success, n_levels, t_stat, z)."""
    base = (
        df.select(
            F.col(score_col).cast("bigint").alias("_t"),
            F.col(outcome_col).cast("int").cast("bigint").alias("_y"),
        )
        .filter(F.col("_t").isNotNull() & F.col("_y").isNotNull())
    )
    lev = base.groupBy("_t").agg(
        F.sum("_y").alias("_r"), F.count("*").alias("_n")
    )
    sums = lev.agg(
        F.sum("_n").alias("n"),
        F.sum("_r").alias("n_success"),
        F.count("*").alias("n_levels"),
        F.sum(F.col("_t") * F.col("_r")).alias("_str"),
        F.sum(F.col("_t") * F.col("_n")).alias("_stn"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_n")).alias("_sttn"),
    )
    p = F.col("n_success").cast("double") / F.col("n")
    t_stat = F.col("_str") - p * F.col("_stn")
    var = (
        p
        * (1.0 - p)
        * (
            F.col("_sttn")
            - F.col("_stn").cast("double") * F.col("_stn") / F.col("n")
        )
    )
    return sums.select(
        "n", "n_success", "n_levels",
        F.round(t_stat, 6).alias("t_stat"),
        F.round(F.try_divide(t_stat, F.sqrt(var)), 6).alias("z"),
    )


def fleiss_kappa(
    df: DataFrame,
    count_cols: Sequence[str],
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for MANY raters
    (cohen_kappa handles exactly two).  The labeling-pipeline QA
    number: when several model judges or annotators vote per item,
    is their agreement above what label marginals alone would give?

    Input grain is one row per ITEM; ``count_cols`` are the per-
    category vote counts (summing to the same n per item — enforced
    in-plan with raise_error, since a ragged panel silently biases
    P̄ toward disagreement).  With N items, n votes per item, and
    category shares p_j:

        P_i = (Σ_j c_ij² − n) / (n(n−1))      per-item agreement
        κ   = (P̄ − P̄_e) / (1 − P̄_e),  P̄_e = Σ_j p_j²

    All sums are exact integers (Σc², Σc per category, N) folded in
    one keys=[] pass; the κ assembly is one fixed-order float
    expression, 6dp.  Output: one row (n_items, n_raters, p_bar,
    p_e, kappa)."""
    cols = [F.col(c).cast("bigint") for c in count_cols]
    n_votes = sum(cols[1:], cols[0])
    sum_sq = sum(
        (c * c for c in cols[1:]), cols[0] * cols[0]
    )
    # min == max of per-item vote totals proves the panel rectangular
    stats = df.agg(
        F.count("*").alias("_n_items"),
        F.min(n_votes).alias("_nv_min"),
        F.max(n_votes).alias("_nv_max"),
        F.sum(sum_sq).alias("_ssq"),
        *[F.sum(c).alias(f"_s{i}") for i, c in enumerate(cols)],
    )
    # the empty case is explicit (round-8 advice): with zero rows
    # min/max are NULL, the equality is NULL, and the when() would
    # otherwise fall through to the ragged-panel raise — a
    # misleading failure; instead emit the 1-row all-NULL readout.
    n = F.when(
        (F.col("_n_items") == 0)
        | (F.col("_nv_min") == F.col("_nv_max")),
        F.col("_nv_max"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "fleiss_kappa: every item must have the same total"
                " vote count across count_cols"
            )
        )
    )
    total_votes = F.col("_n_items") * n
    p_bar = (
        (F.col("_ssq") - total_votes).cast("double")
        / (F.col("_n_items") * n * (n - 1))
    )
    p_e = sum(
        (
            (F.col(f"_s{i}").cast("double") / total_votes)
            * (F.col(f"_s{i}").cast("double") / total_votes)
            for i in range(1, len(count_cols))
        ),
        (F.col("_s0").cast("double") / total_votes)
        * (F.col("_s0").cast("double") / total_votes),
    )
    return stats.select(
        F.col("_n_items").alias("n_items"),
        n.alias("n_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round(F.try_divide(p_bar - p_e, F.lit(1.0) - p_e), 6)
        .alias("kappa"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test: is exposure associated with a
    binary outcome AFTER controlling for a confounding stratum?  The
    stratified 2×2 companion of cochran_armitage — a pooled
    chi-square over strata is Simpson's-paradox bait; CMH compares
    within strata and pools the evidence.

    Per stratum k with table (a=exposed∧outcome, r1=exposed total,
    c1=outcome total, n):

        T = Σ a_k,   E = Σ r1_k·c1_k / n_k,
        V = Σ r1_k·(n_k−r1_k)·c1_k·(n_k−c1_k) / (n_k²·(n_k−1)),
        χ² = (T−E)²/V            (no continuity correction — exact
                                  cross-engine reproducibility wins)

    Per-stratum counts are exact integers (one grouped pass); the E
    and V pools are ORDERED prefix sums over the stratum key (the
    logrank_test discipline — never a free-order float aggregate),
    read off the last row.  Strata with n<2 contribute their exact
    zero variance.  Output: one row (n_strata, observed, expected,
    variance, chi2)."""
    base = df.select(
        F.col(stratum_col).alias("_k"),
        F.col(exposed_col).cast("boolean").alias("_e"),
        F.col(outcome_col).cast("boolean").alias("_y"),
    )
    per_k = base.groupBy("_k").agg(
        F.sum((F.col("_e") & F.col("_y")).cast("bigint")).alias("_a"),
        F.sum(F.col("_e").cast("bigint")).alias("_r1"),
        F.sum(F.col("_y").cast("bigint")).alias("_c1"),
        F.count("*").alias("_n"),
    )
    n = F.col("_n")
    e_k = F.col("_r1") * F.col("_c1") / n
    v_k = F.when(
        n > 1,
        (F.col("_r1") * (n - F.col("_r1"))).cast("double")
        * (F.col("_c1") * (n - F.col("_c1")))
        / (n * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    w = Window.orderBy("_k").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_k.select(
        "_k",
        F.count("*").over(w).alias("n_strata"),
        F.sum("_a").over(w).alias("observed"),
        F.sum(e_k).over(w).alias("_e_cum"),
        F.sum(v_k).over(w).alias("_v_cum"),
    )
    last = cum.orderBy(F.col("_k").desc()).limit(1)
    dev = F.col("observed") - F.col("_e_cum")
    return last.select(
        "n_strata", "observed",
        F.round("_e_cum", 6).alias("expected"),
        F.round("_v_cum", 6).alias("variance"),
        F.round(F.try_divide(dev * dev, F.col("_v_cum")), 6)
        .alias("chi2"),
    )


def g_test(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Likelihood-ratio G-test of independence for a two-way
    contingency table — chi-square's information-theoretic twin
    (G = 2·Σ O·ln(O/E) is exactly 2N·MI in nats, which is why the
    feature-selection ops report MI and the hypothesis-test surface
    reports G).  Preferable to Pearson when any expected cell is
    small.

    Cell counts and margins are exact integers from grouped passes;
    E_ij = r_i·c_j/N floats deterministically from them.  The sum
    over cells is an ORDERED prefix sum over the (row, col) key
    (the logrank/CMH discipline), read off the last cell.  Zero
    cells contribute 0 (lim x·ln x = 0), explicitly.

    Output: one row (n, n_rows, n_cols, dof, g_stat)."""
    base = df.select(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).filter(F.col("_r").isNotNull() & F.col("_c").isNotNull())
    cells = base.groupBy("_r", "_c").agg(F.count("*").alias("_o"))
    rows = base.groupBy("_r").agg(F.count("*").alias("_rn"))
    colss = base.groupBy("_c").agg(F.count("*").alias("_cn"))
    glob = base.agg(
        F.count("*").alias("n"),
        F.count_distinct("_r").alias("n_rows"),
        F.count_distinct("_c").alias("n_cols"),
    )
    tagged = (
        cells.join(rows, "_r")
        .join(colss, "_c")
        .crossJoin(F.broadcast(glob))
    )
    e = F.col("_rn") * F.col("_cn") / F.col("n")
    term = F.when(
        F.col("_o") > 0,
        2.0 * F.col("_o") * F.log(F.col("_o") / e),
    ).otherwise(F.lit(0.0))
    w = Window.orderBy("_r", "_c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = tagged.select(
        "_r", "_c", "n", "n_rows", "n_cols",
        F.sum(term).over(w).alias("_g"),
    )
    last = cum.orderBy(F.col("_r").desc(), F.col("_c").desc()).limit(1)
    return last.select(
        "n", "n_rows", "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        F.round("_g", 6).alias("g_stat"),
    )


def smd_balance(
    df: DataFrame,
    treated_col: str,
    covariate_cols: Sequence[str],
) -> DataFrame:
    """Standardized mean difference balance check — the diagnostic
    that decides whether a matching/weighting step (psm_att, IPW)
    actually worked: per covariate, (mean_T − mean_C) / √((v_T +
    v_C)/2).  |SMD| < 0.1 is the conventional "balanced" bar; a
    covariate failing it after matching invalidates the effect
    estimate.

    Covariates must be INTEGER-quantized by the caller (cents,
    epoch days — the perceptron contract): group sums are exact
    BIGINTs and the sum-of-squares is held in DECIMAL(38,0) (the
    graph_hits discipline — cents² · row-count overflows 2⁶³ at
    quite ordinary scales, measured at sf0.1; bound is now 10³⁸).
    The square of the SUM is taken in doubles.  Means and
    variances assemble from those integers in one fixed-order float
    expression, 6dp.

    One melt (explode to (covariate, value) grain) + one grouped
    pass; output per covariate: (covariate, n_treated, n_control,
    mean_treated, mean_control, smd)."""
    melted = df.select(
        F.col(treated_col).cast("boolean").alias("_t"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("_cov"),
                        F.col(c).cast("bigint").alias("_v"),
                    )
                    for c in covariate_cols
                ]
            )
        ).alias("_kv"),
    ).select("_t", "_kv._cov", "_kv._v")
    per = melted.groupBy("_cov").agg(
        F.sum(F.col("_t").cast("bigint")).alias("n_treated"),
        F.sum((~F.col("_t")).cast("bigint")).alias("n_control"),
        F.sum(F.when(F.col("_t"), F.col("_v")).otherwise(0)).alias("_st"),
        F.sum(F.when(~F.col("_t"), F.col("_v")).otherwise(0)).alias("_sc"),
        F.sum(
            F.when(
                F.col("_t"),
                F.col("_v").cast("decimal(38,0)") * F.col("_v"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("_qt"),
        F.sum(
            F.when(
                ~F.col("_t"),
                F.col("_v").cast("decimal(38,0)") * F.col("_v"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("_qc"),
    )
    nt, nc = F.col("n_treated"), F.col("n_control")
    # try_divide throughout (round-8 advice): a single-row or empty
    # arm must yield NULL means/variances — not a raw /0, which is
    # NULL only in default mode and THROWS under
    # spark.sql.ansi.enabled=true, unlike the final smd's guard.
    mt = F.try_divide(F.col("_st"), nt)
    mc = F.try_divide(F.col("_sc"), nc)
    vt = F.try_divide(
        F.col("_qt").cast("double")
        - F.try_divide(F.col("_st").cast("double") * F.col("_st"), nt),
        (nt - 1).cast("double"),
    )
    vc = F.try_divide(
        F.col("_qc").cast("double")
        - F.try_divide(F.col("_sc").cast("double") * F.col("_sc"), nc),
        (nc - 1).cast("double"),
    )
    return per.select(
        F.col("_cov").alias("covariate"),
        "n_treated", "n_control",
        F.round(mt, 6).alias("mean_treated"),
        F.round(mc, 6).alias("mean_control"),
        F.round(
            F.try_divide(mt - mc, F.sqrt((vt + vc) / 2.0)), 6
        ).alias("smd"),
    )


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score interval for a per-group proportion — the
    proportion CI that behaves at the boundaries where the Wald
    interval (p̂ ± z√(p̂q̂/n)) collapses to zero width at p̂∈{0,1}
    and escapes [0,1].  Closed form, so unlike the bootstrap CI it
    is exactly reproducible from the two integers (n, s):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    One grouped pass; integer n/s; one fixed-order float expression
    per group, 6dp.  Output: (group, n, successes, p_hat, ci_low,
    ci_high)."""
    base = df.select(
        F.col(group_col).alias("group"),
        F.col(success_col).cast("int").cast("bigint").alias("_y"),
    )
    per = base.groupBy("group").agg(
        F.count("*").alias("n"), F.sum("_y").alias("successes")
    )
    n = F.col("n")
    p = F.col("successes") / n
    z2 = F.lit(z * z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return per.select(
        "group", "n", "successes",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_low"),
        F.round(center + half, 6).alias("ci_high"),
    )


def mh_odds_ratio(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel–Haenszel common odds ratio — the EFFECT-SIZE companion
    of :func:`cmh_test` (which only answers "is there an
    association"): the stratification-adjusted odds ratio

        OR_MH = Σ_k (a_k·d_k/n_k) / Σ_k (b_k·c_k/n_k)

    over per-stratum 2×2 tables (a=e∧y, b=e∧¬y, c=¬e∧y, d=¬e∧¬y).
    Robust at small strata (no per-stratum OR blows up on a zero
    cell — zero cells simply contribute zero weight).

    Cell counts are exact integers; both pooled sums are ORDERED
    prefix sums over the stratum key, read off the last row, so the
    6dp ratio and its log are engine-exact.  OR is NULL when the
    denominator pool is zero (no discordant-direction pairs).

    Output: one row (n_strata, sum_ad_n, sum_bc_n, or_mh,
    log_or_mh)."""
    base = df.select(
        F.col(stratum_col).alias("_k"),
        F.col(exposed_col).cast("boolean").alias("_e"),
        F.col(outcome_col).cast("boolean").alias("_y"),
    )
    per_k = base.groupBy("_k").agg(
        F.sum((F.col("_e") & F.col("_y")).cast("bigint")).alias("_a"),
        F.sum((F.col("_e") & ~F.col("_y")).cast("bigint")).alias("_b"),
        F.sum((~F.col("_e") & F.col("_y")).cast("bigint")).alias("_c"),
        F.sum((~F.col("_e") & ~F.col("_y")).cast("bigint")).alias("_d"),
        F.count("*").alias("_n"),
    )
    ad = F.col("_a") * F.col("_d") / F.col("_n")
    bc = F.col("_b") * F.col("_c") / F.col("_n")
    w = Window.orderBy("_k").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_k.select(
        "_k",
        F.count("*").over(w).alias("n_strata"),
        F.sum(ad).over(w).alias("_sad"),
        F.sum(bc).over(w).alias("_sbc"),
    )
    last = cum.orderBy(F.col("_k").desc()).limit(1)
    or_mh = F.try_divide(F.col("_sad"), F.col("_sbc"))
    return last.select(
        "n_strata",
        F.round("_sad", 6).alias("sum_ad_n"),
        F.round("_sbc", 6).alias("sum_bc_n"),
        F.round(or_mh, 6).alias("or_mh"),
        F.round(F.log(or_mh), 6).alias("log_or_mh"),
    )


def woe_encoding(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoding + information value per category —
    the risk-modeling categorical encoder next to fe_target_encoding
    (LOO means for regression targets; WOE for binary ones):

        WOE_i = ln( (e_i+s)/(E+s·K) ÷ (ne_i+s)/(NE+s·K) )
        IV_i  = (ẽ_i − ñe_i) · WOE_i     (smoothed shares)

    with e/ne the per-category event/non-event counts, E/NE the
    totals, K the category count, and Laplace smoothing ``s`` so a
    pure category cannot emit ±inf.  All counts integer-exact (one
    grouped pass + a 1-row broadcast of the totals); the WOE/IV
    assembly is one fixed-order float expression per category, 6dp.

    Output per category: (category, n, n_events, woe, iv)."""
    base = df.select(
        F.col(cat_col).alias("category"),
        F.col(label_col).cast("boolean").cast("int").cast("bigint")
        .alias("_y"),
    )
    per = base.groupBy("category").agg(
        F.count("*").alias("n"), F.sum("_y").alias("n_events")
    )
    tot = per.agg(
        F.sum("n").alias("_tn"),
        F.sum("n_events").alias("_te"),
        F.count("*").alias("_k"),
    )
    s = F.lit(float(smoothing))
    tagged = per.crossJoin(F.broadcast(tot))
    e_share = (F.col("n_events") + s) / (
        F.col("_te") + s * F.col("_k")
    )
    ne_share = (F.col("n") - F.col("n_events") + s) / (
        F.col("_tn") - F.col("_te") + s * F.col("_k")
    )
    woe = F.log(e_share / ne_share)
    return tagged.select(
        "category", "n", "n_events",
        F.round(woe, 6).alias("woe"),
        F.round((e_share - ne_share) * woe, 6).alias("iv"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation — the dependence between x
    and y with a confounder z regressed out of both:

        r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))

    The causal-screening companion of agg_corr: a large r_xy that
    collapses when z is partialled out was z's doing all along.

    Inputs must be INTEGER-quantized (the smd_balance contract):
    first-moment sums are exact BIGINTs and every second-moment sum
    (Σx², Σxy, …) is held in DECIMAL(38,0) — the measured-at-sf0.1
    bigint-overflow lesson.  The three pairwise correlations and the
    partial assemble from those exact sums in one fixed-order float
    expression, 6dp.  NULL rows (any column) are dropped first.

    Output: one row (n, r_xy, r_xz, r_yz, partial_r)."""
    cols = {"_x": x_col, "_y": y_col, "_z": z_col}
    base = df.select(
        *[F.col(src).cast("bigint").alias(dst) for dst, src in cols.items()]
    ).filter(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_z").isNotNull()
    )

    def _dec(c: str) -> Column:
        return F.col(c).cast("decimal(38,0)")

    sums = base.agg(
        F.count("*").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_z").alias("_sz"),
        F.sum(_dec("_x") * F.col("_x")).alias("_sxx"),
        F.sum(_dec("_y") * F.col("_y")).alias("_syy"),
        F.sum(_dec("_z") * F.col("_z")).alias("_szz"),
        F.sum(_dec("_x") * F.col("_y")).alias("_sxy"),
        F.sum(_dec("_x") * F.col("_z")).alias("_sxz"),
        F.sum(_dec("_y") * F.col("_z")).alias("_syz"),
    )

    def _r(sab: str, sa: str, sb: str, saa: str, sbb: str) -> Column:
        n = F.col("n").cast("double")
        num = n * F.col(sab).cast("double") - (
            F.col(sa).cast("double") * F.col(sb)
        )
        den = F.sqrt(
            (
                n * F.col(saa).cast("double")
                - F.col(sa).cast("double") * F.col(sa)
            )
            * (
                n * F.col(sbb).cast("double")
                - F.col(sb).cast("double") * F.col(sb)
            )
        )
        return F.try_divide(num, den)

    rxy = _r("_sxy", "_sx", "_sy", "_sxx", "_syy")
    rxz = _r("_sxz", "_sx", "_sz", "_sxx", "_szz")
    ryz = _r("_syz", "_sy", "_sz", "_syy", "_szz")
    partial = F.try_divide(
        rxy - rxz * ryz,
        F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)),
    )
    return sums.select(
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(partial, 6).alias("partial_r"),
    )
