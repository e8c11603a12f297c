"""Range (interval) join and as-of join — custom operators Spark has
no built-in for, composed from DataFrame primitives (SURVEY §7.3:
custom operators as compositions, not Catalyst rules).

Motivation: the reference carries genomic positions but never
range-compares them (SURVEY §2.4 — annotation is transcript-ID
equality, ``eggv/annotate.py:70-77``).  A position-vs-gene-span
overlap join is the natural genomic extension, and the same operator
serves time-interval enrichment on event data.

Scale design
------------
A naive point-in-interval join is a cross join with a filter —
O(n·m), catastrophic at 100 TB.  The bucketed strategy makes it an
EQUI-join Catalyst can hash-partition:

1. pick a bin width >= the maximum interval length;
2. explode each interval to the bins it overlaps (intervals span
   <= 2 bins when width >= max length, so the blowup is bounded ×2);
3. assign each point its single bin;
4. hash-join on (partition key, bin) — co-partitioned both sides —
   then apply the exact range predicate as a post-filter.

The as-of join (latest right row at-or-before each left row) is a
union + window, NOT a join: tag both inputs, union them, and carry
the most recent right-side value forward with ``last(ignorenulls)``
over (key, time).  One shuffle total, no range explosion, no skew
beyond the key distribution itself.
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
    partition_keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join: rows of ``points`` matched to every
    interval with ``lo <= point <= hi`` (closed bounds, matching SQL
    BETWEEN), optionally co-keyed on ``partition_keys`` (e.g.
    chromosome).

    ``bin_width`` MUST be >= the maximum interval length or matches
    spanning a bin boundary beyond the explosion range are lost; the
    explosion covers every bin from floor(lo/w) to floor(hi/w).
    """
    keys = list(partition_keys)
    bin_of = lambda c: F.floor(F.col(c) / F.lit(bin_width))  # noqa: E731

    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(bin_of(lo_col), bin_of(hi_col))),
    )
    pt = points.withColumn("_bin", bin_of(point_col))

    cond = [pt["_bin"] == iv["_bin"]] + [pt[k] == iv[k] for k in keys]
    joined = pt.join(iv, functools.reduce(lambda a, b: a & b, cond), "inner")
    exact = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    out = joined.filter(exact)
    # Each (point, interval) pair matches in exactly one bin (the
    # point's own), so no post-dedup is needed.
    return out.drop(iv["_bin"]).drop(pt["_bin"]).drop(*[iv[k] for k in keys])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    value_cols: Sequence[str],
    tiebreak_col: str | None = None,
    strict: bool = False,
    direction: str = "backward",
    tolerance: str | int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the nearest right row with the
    same key at-or-before it (``direction="backward"``, the default:
    ``right.time <= left.time``) or at-or-after it (``"forward"``:
    ``right.time >= left.time``); ``strict`` excludes the equal-time
    match.  Returns all left columns plus ``value_cols`` (null when
    no matching right row exists).

    ``tolerance`` bounds how far the match may be from the left time
    (pandas ``merge_asof(tolerance=...)`` semantics): an INTERVAL
    string (``"10 minutes"``) for timestamp time columns, a number
    for numeric ones.  Matches outside the bound null out — computed
    from the carried match time, no extra shuffle.

    Union + tagged window instead of a join: right rows carry
    ``_is_left = 0``, left rows ``1``; within (key) ordered by
    (time asc for backward / desc for forward, tie-order, tiebreak),
    a single ``last(struct(time, *values), ignorenulls)`` over
    rows-up-to-current carries the NEAREST RIGHT ROW — time and
    values together — onto the left rows that follow it in traversal
    order.  Carrying the whole row in one struct (not one
    ``last(value)`` per column) is what pins pandas/DuckDB ASOF
    semantics: the match is the nearest right ROW, and its values are
    returned even when null — a null value never falls back to an
    older row, and the tolerance bound is checked against the same
    row the values came from.  At equal times, right orders BEFORE
    left (visible, inclusive semantics) unless ``strict``, where
    right orders AFTER left (invisible) — strictness is purely a
    tie-ordering flip, the frame never changes.  One shuffle total,
    no range explosion, either direction.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    keys = list(key_cols)
    vals = list(value_cols)
    lcols = left.columns
    # Equal-time ordering: right before left (inclusive) or after (strict).
    r_order, l_order = (1, 0) if strict else (0, 1)

    tagged_r = right.select(
        *keys, F.col(time_col).alias("_t"), *vals,
        F.lit(0).alias("_is_left"), F.lit(r_order).alias("_tie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in lcols],
    )
    tagged_l = left.select(
        *keys, F.col(time_col).alias("_t"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(v) for v in vals],
        F.lit(1).alias("_is_left"), F.lit(l_order).alias("_tie"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    unioned = tagged_r.unionByName(tagged_l)

    t_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    order = [t_order, F.col("_tie").asc()]
    if tiebreak_col is not None:
        order.append(F.col(f"_l_{tiebreak_col}").asc_nulls_first())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The whole nearest right row as ONE struct: struct(_t, ...) is
    # non-null for every right row (_t never is), so ignorenulls
    # skips left rows only — null VALUES ride along from the matched
    # row instead of falling back to an older one.
    carried = unioned.withColumn(
        "_asof",
        F.last(
            F.when(
                F.col("_is_left") == 0,
                F.struct(
                    F.col("_t").alias("_match_t"),
                    *[F.col(v).alias(v) for v in vals],
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    if tolerance is not None:
        from pyspark.sql.types import TimestampNTZType, TimestampType

        if isinstance(
            left.schema[time_col].dataType, (TimestampType, TimestampNTZType)
        ):
            tol = F.expr(f"INTERVAL {tolerance}")
        else:
            tol = F.lit(tolerance)
        in_tol = (
            F.col("_asof._match_t") >= F.col("_t") - tol
            if direction == "backward"
            else F.col("_asof._match_t") <= F.col("_t") + tol
        )
        carried = carried.withColumn("_asof", F.when(in_tol, F.col("_asof")))
    return carried.filter(F.col("_is_left") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col("_asof").getField(v).alias(f"asof_{v}") for v in vals],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: int,
    partition_keys: Sequence[str] = (),
) -> DataFrame:
    """Interval-interval overlap join: every (left, right) pair whose
    CLOSED ranges intersect (``l_lo <= r_hi AND r_lo <= l_hi``) — the
    canonical genomics join (gene spans × regulatory regions) and the
    time-range enrichment join (shipment windows × promo windows).

    Same bucketed equi-join strategy as :func:`range_join`, applied
    to BOTH sides: each interval explodes to the bins it covers
    (bounded ×2 when ``bin_width`` >= max interval length), the join
    runs hash-partitioned on (keys, bin), and the exact predicate
    post-filters.  An overlapping pair shares MULTIPLE bins, so each
    pair is kept only in the FIRST bin of its intersection
    (``floor(max(l_lo, r_lo)/w)``) — dedup as a codegen predicate,
    not a distinct shuffle.
    """
    keys = list(partition_keys)
    bin_of = lambda c: F.floor(c / F.lit(bin_width))  # noqa: E731

    lv = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(bin_of(F.col(left_lo)), bin_of(F.col(left_hi)))
        ),
    )
    rv = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(bin_of(F.col(right_lo)), bin_of(F.col(right_hi)))
        ),
    )
    cond = [lv["_bin"] == rv["_bin"]] + [lv[k] == rv[k] for k in keys]
    joined = lv.join(rv, functools.reduce(lambda a, b: a & b, cond), "inner")
    exact = (F.col(left_lo) <= F.col(right_hi)) & (
        F.col(right_lo) <= F.col(left_hi)
    )
    first_bin = lv["_bin"] == bin_of(
        F.greatest(F.col(left_lo), F.col(right_lo))
    )
    out = joined.filter(exact & first_bin)
    return out.drop(lv["_bin"]).drop(rv["_bin"]).drop(*[rv[k] for k in keys])
