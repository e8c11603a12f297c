"""Event/time analytics operators (extension, SURVEY §7.4).

Batch implementations over an event table (ts, user_id, event_type,
value); the Structured Streaming variants live in
``eggv_spark.streaming``.  All single-shuffle window/agg plans.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Tumbling-window event counts + value sum.

    Uses ``F.window`` (the same operator Structured Streaming uses,
    so the batch and streaming plans share semantics).  One shuffle
    on (window, keys); partial aggregation is map-side.
    """
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *extra_keys)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *extra_keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in
    window/slide overlapping windows (×2 for 1h/30m).  Spark expands
    the windows BEFORE the shuffle, so the cost model is the same as
    a tumbling window at (window/slide)× the rows.
    """
    return (
        df.groupBy(F.window(ts_col, window, slide).alias("w"), *extra_keys)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *extra_keys,
            "n_events",
            "sum_value",
        )
    )


def gapfill_hourly(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
) -> DataFrame:
    """Gap-filled hourly series: tumbling counts joined onto the FULL
    hour grid from min to max timestamp, zeros where no events fell.

    The grid is generated distributed (``sequence`` + ``explode`` off
    a 1-row aggregate — no driver-side range materialization); the
    counts side joins broadcast-right since the grid is tiny relative
    to events.
    """
    counts = tumbling_window_counts(df, ts_col, window)
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("window_start")
    )
    return (
        grid.join(counts, "window_start", "left")
        .select(
            "window_start",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap_minutes``.

    Classic two-window formulation (lag -> boundary flag -> running
    sum): one shuffle on user, everything else within-partition.
    Skew note: a pathological single user serializes into one task —
    at 100 TB either salt by (user, day) or use the streaming
    ``session_window`` variant.
    """
    # A unique tiebreak makes lag() deterministic under equal
    # timestamps (same-ts events would otherwise order arbitrarily).
    order = [ts_col] + (
        [tiebreak_col] if tiebreak_col and tiebreak_col in df.columns else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    # Microsecond precision: a whole-second cast would floor gaps and
    # misclassify boundaries within 1s of the threshold.
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    boundary = micros - F.lag(micros).over(w) > gap_minutes * 60 * 1_000_000
    return df.withColumn(
        "session_id",
        F.sum(F.when(boundary, 1).otherwise(0)).over(w),
    )


def funnel_counts(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: how many users reached each step, where step
    k counts only users whose earliest step-k event is strictly
    after their qualifying step-(k-1) time.

    Plan shape: one filtered min-aggregate per step (map-side
    partial), chained by per-user equi-joins — each join's both
    sides are already user-aggregated (one row per user), so at
    1000-executor scale every stage after the first scans user-sized
    data, not event-sized.  Extension family (reference has no event
    analytics).
    """
    e = df.select(user_col, type_col, ts_col)
    reached = (
        e.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_prev"))
    )
    out = [(steps[0], reached)]
    for step in steps[1:]:
        nxt = (
            e.filter(F.col(type_col) == step)
            .join(reached.select(user_col, "t_prev"), user_col)
            .filter(F.col(ts_col) > F.col("t_prev"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("t_prev"))
        )
        out.append((step, nxt))
        reached = nxt
    counts = [
        d.agg(
            F.lit(i).alias("step_idx"),
            F.lit(name).alias("step"),
            F.count("*").alias("n_users"),
        )
        for i, (name, d) in enumerate(out)
    ]
    result = counts[0]
    for c in counts[1:]:
        result = result.unionByName(c)
    return result


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity
    week (cohort), counted per subsequent active week offset.

    Two shuffles total: the per-user first-event min, and the final
    (cohort, offset) count-distinct; the activity projection is
    distinct'd per (user, week) first so the heavy event table
    collapses before the join (at 100 TB the distinct is the
    map-side combine that makes the join input user×weeks, not
    events)."""
    first = df.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("cohort_week")
    )
    activity = df.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("active_week")
    ).distinct()
    joined = activity.join(first, user_col)
    return (
        joined.withColumn(
            "week_offset",
            (F.datediff("active_week", "cohort_week") / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
    )


def zscore_anomalies(
    df: DataFrame,
    entity_col: str = "user_id",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-entity z-score outlier detection: each event's value
    against its own entity's mean/stddev (sample), the first-pass
    anomaly screen of metric pipelines.

    Window aggregates over the full partition — ONE shuffle on the
    entity key, no self-join, no second scan of the input.  The
    anomaly flag compares the ROUNDED z to the threshold so the
    boundary decision is bit-identical in any engine re-running the
    same SQL (an unrounded float comparison could flip on summation
    order).  Entities with a single event (stddev null) get null z
    and a false flag.
    """
    w = Window.partitionBy(entity_col)
    z = F.round(
        (F.col(value_col) - F.avg(value_col).over(w))
        / F.stddev_samp(value_col).over(w),
        4,
    )
    return df.select(
        "event_id",
        entity_col,
        value_col,
        z.alias("zscore"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def throttle_events(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    max_per_window: int = 10,
    window: str = "1 hour",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-entity rate limiting: keep at most ``max_per_window``
    events per (entity, tumbling window), in arrival order — the
    batch form of API throttling / per-user event capping, and the
    abuse-damping step training pipelines run before user-level
    aggregation (one hot account must not dominate a behavioral
    feature).

    Deterministic: arrival order is (ts, ``order_col``) — pass a
    frame-appropriate unique tiebreak column when the default
    ``event_id`` is absent — so replays keep the identical survivor
    set.  One shuffle (window partitioned on entity + time bucket);
    the rank predicate drops the excess in the ranking stage, so
    downstream sees ≤ max rows per bucket.
    """
    bucket = F.window(F.col(ts_col), window)["start"].alias("_w")
    w = Window.partitionBy(entity_col, "_w").orderBy(ts_col, order_col)
    return (
        df.withColumn("_w", bucket)
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= max_per_window)
        .drop("_rank", "_w")
    )


def user_journey_paths(
    df: DataFrame,
    entity_col: str = "user_id",
    event_col: str = "event_type",
    ts_col: str = "ts",
    first_n: int = 3,
    top_k: int = 20,
    order_col: str = "event_id",
) -> DataFrame:
    """Path analysis: the most common first-``n`` event sequences
    across entities ("view > click > purchase") — the funnel-
    discovery query of product analytics, and a behavior-level dedup
    key for interaction-log training data.

    Deterministic: order within an entity is (ts, ``order_col``;
    pass a frame-appropriate unique tiebreak when the default
    ``event_id`` is absent).  Two shuffles — the per-entity ranking
    window and the path count (map-side combined); the final top-k
    is TakeOrderedAndProject, never a global sort.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    firsts = (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= first_n)
    )
    paths = (
        firsts.groupBy(entity_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_rank", event_col))
                    ),
                    lambda s: s[event_col],
                ),
                " > ",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(top_k)
    )


def activity_streaks(
    df: DataFrame, entity_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Longest consecutive-day activity streak per entity — the
    gaps-and-islands pattern over calendar DAYS (retention/engagement
    reporting's streak metric; sessionize is its intra-day sibling).

    Shape: distinct (entity, day) first — the dedup collapses raw
    events to at most 1 row per entity-day BEFORE any window runs —
    then ``day_number - row_number`` is constant within a
    consecutive run, so one more aggregation per island and a final
    per-entity rollup finish it.  All three aggregations are
    map-side combinable; both windows ride the same (entity)
    partitioning, so the chain costs two shuffles total.
    """
    days = df.select(
        entity_col, F.to_date(ts_col).alias("_day")
    ).distinct()
    w = Window.partitionBy(entity_col).orderBy("_day")
    islands = days.withColumn(
        "_island",
        F.datediff("_day", F.lit("1970-01-01")) - F.row_number().over(w),
    )
    per_island = islands.groupBy(entity_col, "_island").agg(
        F.count("*").alias("_len")
    )
    return per_island.groupBy(entity_col).agg(
        F.max("_len").alias("longest_streak_days"),
        F.sum("_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) behavioral segmentation.

    One grouped pass folds each user to their three metrics (recency
    measured in whole days back from the corpus max timestamp, carried
    via a 1-row broadcast — no driver round-trip), then three global
    ntile windows score each metric 1..n_tiles.  The global windows
    order the per-USER table (cardinality |users|, not |events|) —
    acceptable far beyond memory since ntile is rank-based, but at
    extreme |users| swap in percentile buckets.  Tiles order so that
    higher tile = better (more recent / more active / higher spend);
    ties break on user id for determinism.  ``segment`` is the
    concatenated RFM code (e.g. 444 = best)."""
    per_user = df.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(ts_col).alias("_last"),
        F.count("*").alias("frequency"),
        F.round(F.sum(value_col), 2).alias("monetary"),
    )
    corpus_max = df.agg(F.max(ts_col).alias("_cmax"))
    scored = per_user.crossJoin(F.broadcast(corpus_max)).withColumn(
        "recency_days",
        F.datediff(F.to_date("_cmax"), F.to_date("_last")).cast("int"),
    )
    wr = Window.orderBy(F.col("recency_days").desc(), F.col("user_id"))
    wf = Window.orderBy(F.col("frequency").asc(), F.col("user_id"))
    wm = Window.orderBy(F.col("monetary").asc(), F.col("user_id"))
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(n_tiles).over(wr).alias("r_tile"),
        F.ntile(n_tiles).over(wf).alias("f_tile"),
        F.ntile(n_tiles).over(wm).alias("m_tile"),
    ).withColumn(
        "segment",
        (F.col("r_tile") * 100 + F.col("f_tile") * 10 + F.col("m_tile"))
        .cast("int"),
    )


def markov_transitions(
    df: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (from_type → to_type) pair, the transition count and the
    conditional probability P(to | from).

    One shuffle for the per-entity lead window (deterministic order:
    ts then ``order_col``), one map-side-combined count, and the
    row-normalization runs over the TYPE-PAIR table (|types|² rows) —
    so the normalizing window is trivially small no matter how many
    events flow in."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(norm), 6
        ).alias("p"),
    )


def conversion_latency(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Funnel conversion latency: per user, seconds from the FIRST
    ``from_type`` event to the FIRST ``to_type`` event (users that
    converted before ever seeing the entry step, or never converted,
    are excluded).  One conditional-min aggregation — the entire
    funnel timing folds map-side; no joins, no windows."""
    per_user = df.groupBy(F.col(user_col).alias("user_id")).agg(
        F.min(F.when(F.col(type_col) == from_type, F.col(ts_col)))
        .alias("_t_from"),
        F.min(F.when(F.col(type_col) == to_type, F.col(ts_col)))
        .alias("_t_to"),
    )
    return (
        per_user.filter(
            F.col("_t_from").isNotNull()
            & F.col("_t_to").isNotNull()
            & (F.col("_t_to") >= F.col("_t_from"))
        )
        .select(
            "user_id",
            (
                F.col("_t_to").cast("long") - F.col("_t_from").cast("long")
            ).alias("latency_sec"),
        )
    )


def event_rate_stats(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-user arrival-rate profile: active hours, total events,
    mean events per active hour, and the overdispersion index
    (variance/mean of hourly counts — 1.0 is Poisson, higher is
    bursty).  Two map-side-combinable aggregations (user×hour, then
    user); the busy-vs-steady discriminator feeding bot detection and
    capacity models."""
    hourly = df.groupBy(
        F.col(user_col).alias("user_id"),
        F.date_trunc("hour", F.col(ts_col)).alias("_h"),
    ).agg(F.count("*").alias("_n"))
    return hourly.groupBy("user_id").agg(
        F.count("*").alias("n_active_hours"),
        F.sum("_n").alias("n_events"),
        F.round(F.avg("_n"), 4).alias("events_per_hour"),
        F.round(F.var_samp("_n") / F.avg("_n"), 4).alias("dispersion"),
    )


def changepoint_detect(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Single-changepoint detection per series (binary segmentation
    with the standardized mean-shift statistic): for every candidate
    split t the CUSUM-style statistic
    ``sqrt(t*(n-t)/n) * |mean(left) - mean(right)|`` is computed from
    ONE cumulative window pass over the ordered series, and the
    argmax is the changepoint — the monitoring primitive behind
    "when did this metric shift" questions, and the recursion step of
    full binary-segmentation changepoint trees.

    Works on an already-aggregated series (daily/hourly rollups), so
    the windows run over calendar-sized frames regardless of raw
    event volume.  The statistic is rounded to ``round_dp`` before
    the argmax rank so an across-engine ulp difference cannot flip
    which split wins; ties at that precision break toward the
    EARLIEST split.  One shuffle (the per-key window sort).

    Output per key: n points, the split position (last point of the
    left segment, by ``order_col``), the two segment means, and the
    statistic.
    """
    keys = list(keys)
    w_ord = Window.partitionBy(*keys).orderBy(order_col)
    w_all = Window.partitionBy(*keys)
    cum = (
        df.select(*keys, order_col, F.col(value_col).cast("double").alias("_v"))
        .withColumn("_t", F.row_number().over(w_ord))
        .withColumn("_cum", F.sum("_v").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
        .withColumn("_n", F.count("*").over(w_all))
        .withColumn("_tot", F.sum("_v").over(w_all))
    )
    t = F.col("_t")
    n = F.col("_n")
    mean_l = F.col("_cum") / t
    mean_r = (F.col("_tot") - F.col("_cum")) / (n - t)
    stat = F.round(
        F.sqrt(t * (n - t) / n) * F.abs(mean_l - mean_r), round_dp
    )
    scored = cum.filter(t < n).select(
        *keys,
        F.col(order_col).alias("split_at"),
        F.round(mean_l, round_dp).alias("mean_left"),
        F.round(mean_r, round_dp).alias("mean_right"),
        stat.alias("shift_stat"),
        F.row_number()
        .over(
            Window.partitionBy(*keys).orderBy(
                stat.desc(), F.col(order_col).asc()
            )
        )
        .alias("_rk"),
        F.col("_n").alias("n_points"),
    )
    return scored.filter(F.col("_rk") == 1).select(
        *keys, "n_points", "split_at", "mean_left", "mean_right",
        "shift_stat",
    )


def km_survival(
    df: DataFrame,
    start_event: str = "signup",
    terminal_event: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-conversion: per user,
    duration runs from the first ``start_event`` to the first
    ``terminal_event`` at-or-after it (event) or to the corpus max
    timestamp (right-censored).  Durations roll up to whole days,
    then the product-limit estimator S(t) = prod_{t_i<=t} (1 -
    d_i/n_i) is computed as exp of a cumulative log window — sort-
    free until the final tiny per-day frame.  Two keyed aggregations
    (per-user, per-day) + one window over <=31 rows; the max-ts
    scalar broadcasts.  A day where everyone at risk converts drives
    ln(0) -> -inf -> S = 0 identically in both engines."""
    staged = _risk_table(
        df, start_event, terminal_event, user_col, type_col, ts_col
    )
    w_fwd = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    # a day where everyone at risk converts (d = n, necessarily the
    # final day) would be ln(0): DuckDB ERRORS on that where Spark
    # returns -inf, so the zero is carried explicitly in both
    log_s = F.sum(
        F.when(
            F.col("d_events") < F.col("n_at_risk"),
            F.log(1.0 - F.col("d_events") / F.col("n_at_risk")),
        )
    ).over(w_fwd)
    hit_zero = F.max(
        (F.col("d_events") == F.col("n_at_risk")).cast("int")
    ).over(w_fwd)
    return staged.select(
        "day", "d_events", "n_at_risk",
        F.when(hit_zero == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(log_s), 6))
        .alias("survival"),
    )


def _risk_table(
    df: DataFrame,
    start_event: str,
    terminal_event: str,
    user_col: str,
    type_col: str,
    ts_col: str,
) -> DataFrame:
    """Shared time-to-event rollup for the survival estimators
    (Kaplan–Meier above, Nelson–Aalen below): per-user durations from
    the first start event to the first at-or-after terminal event
    (else right-censored at the corpus max ts), rolled up to the
    per-day (day, d_events, n_at_risk) risk table — two keyed
    aggregations + one reverse-cumsum window over the day grain."""
    first_start = F.min(
        F.when(F.col(type_col) == start_event, F.col(ts_col))
    ).alias("_t0")
    per_user = df.groupBy(user_col).agg(
        first_start,
        F.collect_list(
            F.when(F.col(type_col) == terminal_event, F.col(ts_col))
        ).alias("_terms"),
    )
    tmax = df.agg(F.max(ts_col).alias("_tmax"))
    # first terminal at-or-after the start; array_min over the
    # filtered list (terminal events before signup don't convert)
    first_term = F.array_min(
        F.filter("_terms", lambda t: t >= F.col("_t0"))
    )
    durations = (
        per_user.filter(F.col("_t0").isNotNull())
        .crossJoin(F.broadcast(tmax))
        .select(
            F.when(
                first_term.isNotNull(),
                F.datediff(first_term.cast("date"), F.col("_t0").cast("date")),
            ).otherwise(
                F.datediff(F.col("_tmax").cast("date"), F.col("_t0").cast("date"))
            ).alias("day"),
            first_term.isNotNull().cast("int").alias("_event"),
        )
    )
    per_day = durations.groupBy("day").agg(
        F.sum("_event").alias("d_events"),
        F.count("*").alias("_total"),
    )
    # at-risk n_i = everyone whose duration >= t_i: reverse cumsum
    w_rev = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    at_risk = F.sum("_total").over(w_rev)
    return per_day.select(
        "day", "d_events", at_risk.alias("n_at_risk")
    )


def nelson_aalen(
    df: DataFrame,
    start_event: str = "signup",
    terminal_event: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Nelson–Aalen cumulative hazard for time-to-conversion — the
    additive counterpart of :func:`km_survival` over the SAME risk
    table: H(t) = Σ_{t_i<=t} d_i/n_i with the standard variance
    Σ d_i/n_i².  Where KM answers "what fraction survives past t",
    NA answers "how much hazard has accumulated by t" — better
    behaved in small-risk-set tails and the quantity hazard-ratio
    eyeballing wants.

    The cumulative sums are ordered-window prefix sums over the tiny
    per-day frame (day is unique after the rollup, so the fold order
    — and therefore the float result — is identical in any engine);
    6dp rounding on output.  Same plan posture as KM: two keyed
    aggregations, one day-grain window."""
    staged = _risk_table(
        df, start_event, terminal_event, user_col, type_col, ts_col
    )
    w_fwd = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    h = F.sum(F.col("d_events") / F.col("n_at_risk")).over(w_fwd)
    v = F.sum(
        F.col("d_events")
        / (F.col("n_at_risk").cast("double") * F.col("n_at_risk"))
    ).over(w_fwd)
    return staged.select(
        "day", "d_events", "n_at_risk",
        F.round(h, 6).alias("cum_hazard"),
        F.round(v, 6).alias("hazard_var"),
    )


def cohort_ltv(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Cohort lifetime-value matrix: customers cohort by their FIRST
    order month; each later month contributes at age = months since
    cohort; cells report cumulative revenue per cohort member (the
    classic LTV triangle).  Plan: per-customer first-month aggregate
    (broadcast if the customer dim fits, else shuffle join on the
    customer key), per-(cohort, age) rollup, cumulative window over
    the tiny matrix.  months_between on month-truncated dates is
    integer-exact in both engines."""
    first = orders.groupBy(cust_col).agg(
        F.date_trunc("month", F.min(ts_col)).alias("_cohort")
    )
    cohort_sizes = first.groupBy("_cohort").agg(
        F.count("*").alias("n_customers")
    )
    aged = orders.join(first, cust_col).select(
        F.col("_cohort"),
        F.months_between(
            F.date_trunc("month", F.col(ts_col)), F.col("_cohort")
        ).cast("int").alias("age_months"),
        F.col(value_col).alias("_v"),
    )
    # integer-cents per cell -> the cumulative window sums LONGS, so
    # the running total is bit-exact regardless of summation order
    # (a float cum-sum's 2dp round can straddle a half tie)
    cells = aged.groupBy("_cohort", "age_months").agg(
        F.round(F.sum("_v") * 100).cast("long").alias("_rev_c")
    )
    cum = F.sum("_rev_c").over(
        Window.partitionBy("_cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "_cohort")
        .withColumn("_cum_c", cum)
        .select(
            F.col("_cohort").cast("date").cast("string").alias("cohort_month"),
            "age_months",
            "n_customers",
            F.round(F.col("_cum_c") / 100.0, 2).alias("cum_revenue"),
            # 4dp LTV as exact integer division (cents*100 // n) so no
            # round-half boundary exists (cents/100/n landed exactly on
            # x.xxxx5 for four cells of the fixture)
            (
                F.expr("(_cum_c * 100) div n_customers").cast("long")
                / 10000.0
            ).alias("ltv_per_customer"),
        )
    )


def burstiness_stats(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal burstiness per event type from inter-event gaps:
    Goh–Barabási burstiness B = (σ−μ)/(σ+μ) (−1 = perfectly regular,
    0 = Poisson, →1 = bursty), coefficient of variation, and the
    Fano factor of the gap distribution.  Gaps are integer epoch-
    second differences (engine-exact); one lag window ordered by
    (ts, tiebreak) + one moments pass."""
    w = Window.partitionBy(type_col).orderBy(ts_col)
    secs = F.col(ts_col).cast("long")
    gaps = df.select(
        F.col(type_col).alias("_t"),
        (secs - F.lag(secs).over(w)).alias("_gap"),
    ).filter(F.col("_gap").isNotNull())
    agg = gaps.groupBy("_t").agg(
        F.count("*").alias("n_gaps"),
        F.avg("_gap").alias("_mu"),
        F.stddev_samp("_gap").alias("_sigma"),
        F.var_samp("_gap").alias("_var"),
    )
    return agg.select(
        F.col("_t").alias("event_type"), "n_gaps",
        F.round("_mu", 4).alias("mean_gap_s"),
        F.round(
            F.try_divide(
                F.col("_sigma") - F.col("_mu"),
                F.col("_sigma") + F.col("_mu"),
            ), 6,
        ).alias("burstiness"),
        F.round(F.try_divide(F.col("_sigma"), F.col("_mu")), 6).alias("cv"),
        F.round(F.try_divide(F.col("_var"), F.col("_mu")), 4).alias("fano"),
    )


def periodogram(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    n_freqs: int = 8,
) -> DataFrame:
    """Discrete periodogram of the daily event-count series per type:
    spectral power P_k = C_k² + S_k² with C_k = Σ y_t cos(2πkt/T),
    S_k = Σ y_t sin(2πkt/T) at integer frequencies k = 1..n_freqs —
    seasonality detection as TWO conditional aggregates per
    frequency, all in one map-side-combined pass over the tiny daily
    rollup (no FFT, no UDF; for long series an FFT via mapInPandas is
    the documented scale path).  2dp-rounded power: cos/sin libm
    differences are ~1e-16 relative, far under the round.

    Day index is days-since-epoch, NOT day-of-month: a series
    spanning months would otherwise alias (Jan 5 and Feb 5 collapse
    into one bucket and the span caps at 31), scrambling the
    spectrum."""
    daily = df.groupBy(
        F.col(type_col).alias("_t"),
        F.datediff(F.to_date(ts_col), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("_d"),
    ).agg(F.count("*").cast("double").alias("_y"))
    span = daily.groupBy("_t").agg(
        (F.max("_d") - F.min("_d") + 1).alias("_span"),
        F.min("_d").alias("_d0"),
    )
    rows = daily.join(F.broadcast(span), "_t")
    t_idx = (F.col("_d") - F.col("_d0")).cast("double")
    two_pi = 6.283185307179586
    aggs = []
    for k in range(1, n_freqs + 1):
        ang = two_pi * k * t_idx / F.col("_span")
        aggs.append(F.sum(F.col("_y") * F.cos(ang)).alias(f"_c{k}"))
        aggs.append(F.sum(F.col("_y") * F.sin(ang)).alias(f"_s{k}"))
    wide = rows.groupBy("_t").agg(F.count("*").alias("n_days"), *aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(k).alias("freq"),
            F.round(
                F.col(f"_c{k}") ** 2 + F.col(f"_s{k}") ** 2, 2
            ).alias("power"),
        )
        for k in range(1, n_freqs + 1)
    ])
    return wide.select(
        F.col("_t").alias("event_type"), "n_days",
        F.explode(pairs).alias("_p"),
    ).select(
        "event_type", "n_days",
        F.col("_p.freq").alias("freq"), F.col("_p.power").alias("power"),
    )


def gap_islands_histogram(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
) -> DataFrame:
    """Gaps-and-islands over each customer's DISTINCT order months:
    island id = month_index − row_number (the classic trick: inside a
    consecutive run the difference is constant), then a histogram of
    island lengths — customer-retention streaks at a glance.  All
    integer month arithmetic; two keyed aggregations + one window on
    the distinct-months frame."""
    months = orders.select(
        F.col(cust_col).alias("_c"),
        (
            (F.year(ts_col) - 1992) * 12 + F.month(ts_col) - 1
        ).alias("_m"),
    ).distinct()
    w = Window.partitionBy("_c").orderBy("_m")
    islands = months.select(
        "_c", (F.col("_m") - F.row_number().over(w)).alias("_isl")
    )
    lengths = islands.groupBy("_c", "_isl").agg(
        F.count("*").alias("island_length")
    )
    return (
        lengths.groupBy("island_length")
        .agg(
            F.count("*").alias("n_islands"),
            F.count_distinct("_c").alias("n_customers"),
        )
    )


def markov_entropy_rate(
    df: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Entropy rate of the first-order event Markov chain: H = −Σ_s
    π(s) Σ_t p(t|s) ln p(t|s) with π the empirical from-state
    frequencies — one scalar quantifying how PREDICTABLE user
    journeys are (0 = deterministic next-step, ln(k) = uniform).
    Rides the same per-entity lead window as
    :func:`markov_transitions`; everything after the pair count runs
    on the |types|² frame."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    pairs = (
        df.select(
            F.col(type_col).alias("_from"),
            F.lead(type_col).over(w).alias("_to"),
        )
        .filter(F.col("_to").isNotNull())
    )
    counts = pairs.groupBy("_from", "_to").agg(
        F.count("*").alias("_n")
    )
    row_tot = F.sum("_n").over(Window.partitionBy("_from"))
    tot = F.sum("_n").over(Window.partitionBy())
    terms = counts.select(
        tot.alias("_tot"),
        (
            (row_tot / tot)
            * (F.col("_n") / row_tot)
            * -F.log(F.col("_n") / row_tot)
        ).alias("_h_term"),
        F.col("_from").alias("_f"),
    )
    agg = terms.agg(
        F.any_value("_tot").alias("n_transitions"),
        F.count_distinct("_f").alias("n_states"),
        F.round(F.sum("_h_term"), 6).alias("entropy_rate_nats"),
    )
    return agg.select(
        "n_transitions", "n_states", "entropy_rate_nats",
        F.round(
            F.try_divide(
                F.col("entropy_rate_nats"), F.log(F.col("n_states"))
            ), 6,
        ).alias("normalized_entropy"),
    )


def srm_check(
    df: DataFrame,
    variant_col: str,
    unit_col: str,
    expected: Mapping[str, float],
) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate that
    must run BEFORE any A/B readout is trusted: chi-square of the
    observed per-variant unit counts against the designed allocation
    (e.g. 50/50).  A significant SRM means the assignment or logging
    pipeline is biased and the experiment readout (evt_ab_test) is
    invalid regardless of its lift.

    One distinct-unit aggregation to the variants-sized frame, chi2
    assembled against broadcast expected shares; dof = k−1.  Compare
    chi2 against the caller's critical value (3.841 at 5% for two
    variants).

    Contract: every variant OBSERVED in the data must have a share in
    ``expected`` — an observed-but-undeclared variant is itself the
    worst allocation break, so it fails loudly (in-plan
    ``raise_error``) rather than letting its NULL chi term vanish
    from the sum and UNDERSTATE srm_chi2 exactly when the experiment
    is most broken.  Declared-but-unobserved variants are fine (their
    observed count is simply 0 rows here; chi2 against them is the
    caller's k choice)."""
    shares = F.create_map(
        *[x for kv in expected.items()
          for x in (F.lit(kv[0]), F.lit(float(kv[1])))]
    )
    per_variant = (
        df.select(
            F.col(variant_col).alias("_v"), F.col(unit_col).alias("_u")
        )
        .distinct()
        .groupBy("_v")
        .agg(F.count("*").alias("n_units"))
    )
    tot = per_variant.agg(F.sum("n_units").alias("_n"))
    share = shares[F.col("_v")]
    guarded_share = F.when(
        share.isNull(),
        F.raise_error(F.concat(
            F.lit("srm_check: observed variant '"), F.col("_v"),
            F.lit("' has no share in the expected allocation"),
        )),
    ).otherwise(share)
    j = per_variant.crossJoin(F.broadcast(tot)).withColumn(
        "_e", guarded_share * F.col("_n")
    )
    cells = j.select(
        "_v", "n_units",
        F.round("_e", 4).alias("expected_units"),
        ((F.col("n_units") - F.col("_e")) ** 2 / F.col("_e"))
        .alias("_chi"),
    )
    return cells.agg(
        F.count("*").alias("k"),
        F.sum("n_units").alias("n_units"),
        F.round(F.sum("_chi"), 4).alias("srm_chi2"),
        (F.count("*") - 1).alias("dof"),
    )


def uplift_by_segment(
    df: DataFrame,
    unit_col: str,
    variant_col: str,
    outcome_col: str,
    segment_col: str,
    variant_a: str = "A",
    variant_b: str = "B",
) -> DataFrame:
    """Per-segment experiment uplift (the heterogeneous-treatment
    readout behind every "which users did the feature help?"
    question): within each segment, per-unit outcome flags fold to
    variant conversion rates, absolute lift, and the per-segment
    two-proportion z — plus an __ALL__ row so the pooled readout and
    the segment breakdown come from one plan.  A segment whose lift
    sign disagrees with the pooled row is the Simpson's-paradox alarm
    this exists to surface.

    Contract: the two arms are named by ``variant_a``/``variant_b``
    (default "A"/"B").  Any row carrying ANOTHER variant label fails
    loudly (in-plan ``raise_error`` off the pooled aggregation — no
    extra pass): silently contributing zero units to both arms would
    yield plausible-looking but wrong rates exactly when the caller
    mislabeled the arms or a third arm leaked in.

    Shape: one (unit, segment)-grained fold (units are assumed
    segment-stable; the fold takes max flags like
    :func:`markov_transitions`'s per-entity posture), one grouped
    aggregation to the segments×variants frame, everything after runs
    on segment-count rows."""
    per_unit = df.groupBy(
        F.col(segment_col).alias("_s"),
        F.col(unit_col).alias("_u"),
        F.col(variant_col).alias("_v"),
    ).agg(F.max(F.col(outcome_col).cast("int")).alias("_y"))
    is_a = F.col("_v") == variant_a
    is_b = F.col("_v") == variant_b
    seg = per_unit.groupBy("_s").agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_a, F.col("_y")).otherwise(0))
        .cast("long").alias("c_a"),
        F.sum(F.when(is_b, F.col("_y")).otherwise(0))
        .cast("long").alias("c_b"),
    )
    total = per_unit.groupBy().agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_a, F.col("_y")).otherwise(0))
        .cast("long").alias("c_a"),
        F.sum(F.when(is_b, F.col("_y")).otherwise(0))
        .cast("long").alias("c_b"),
        # coalesce: a NULL variant label is "other" too, not a
        # three-valued-logic escape from the guard
        F.sum((~F.coalesce(is_a | is_b, F.lit(False))).cast("long"))
        .alias("_n_other"),
    ).select(
        F.lit("__ALL__").alias("_s"),
        F.when(
            F.col("_n_other") > 0,
            F.raise_error(F.lit(
                "uplift_by_segment: rows carry variant labels other "
                f"than '{variant_a}'/'{variant_b}'"
            )),
        ).otherwise(F.col("n_a")).alias("n_a"),
        "n_b", "c_a", "c_b",
    )
    both = seg.unionByName(total)
    pa = F.try_divide(F.col("c_a"), F.col("n_a"))
    pb = F.try_divide(F.col("c_b"), F.col("n_b"))
    pooled = F.try_divide(
        F.col("c_a") + F.col("c_b"), F.col("n_a") + F.col("n_b")
    )
    # try_divide like every other ratio here: a segment missing one
    # variant entirely (n_a or n_b = 0) yields NULL se/z_stat instead
    # of an ANSI DIVIDE_BY_ZERO — which also raced (and could mask)
    # the foreign-label raise_error guard above when both conditions
    # held, making the surfaced error non-deterministic under load.
    se = F.sqrt(
        pooled * (1 - pooled)
        * (F.try_divide(F.lit(1.0), F.col("n_a"))
           + F.try_divide(F.lit(1.0), F.col("n_b")))
    )
    return both.select(
        F.col("_s").alias(segment_col),
        "n_a", "n_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(pb - pa, 6).alias("lift"),
        F.round(F.try_divide(pb - pa, se), 4).alias("z_stat"),
    )


def cuped_adjusted_lift(
    df: DataFrame,
    unit_col: str,
    variant_col: str,
    pre_col: str,
    post_col: str,
    variant_a: str = "A",
    variant_b: str = "B",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013): adjust
    each unit's post-period outcome by its PRE-period covariate,
    Y_adj = Y − θ·(X − mean(X)) with θ = cov(X, Y)/var(X) pooled
    across arms — the standard online-experimentation trick that cuts
    the variance of the lift estimate by the pre/post correlation²
    without touching the point estimate's expectation.

    Shape: one per-unit fold (sums of pre/post per unit), ONE pooled
    moment aggregation (Σx, Σy, Σxy, Σx², n — map-side combinable) for
    θ, broadcast back, then a per-arm aggregation of adjusted
    outcomes — three passes over the UNITS frame, nothing
    corpus-sized after the first fold.  θ and the variance-reduction
    ratio come out alongside raw/adjusted lift so callers see what
    the adjustment bought.  Same loud foreign-label contract as
    :func:`uplift_by_segment`.  Staged for the round-8 registry
    window."""
    is_a = F.col("_v") == variant_a
    is_b = F.col("_v") == variant_b
    per_unit = df.groupBy(
        F.col(unit_col).alias("_u"), F.col(variant_col).alias("_v")
    ).agg(
        F.sum(F.col(pre_col)).alias("_x"),
        F.sum(F.col(post_col)).alias("_y"),
    )
    moments = per_unit.agg(
        F.count("*").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum((~F.coalesce(is_a | is_b, F.lit(False))).cast("long"))
        .alias("_n_other"),
    ).select(
        "_n", "_sx", "_sy", "_sxy", "_sxx",
        # the guard rides on _theta (consumed by every output row) —
        # a guard on an unconsumed column would be pruned by Catalyst
        # and never fire
        F.when(
            F.col("_n_other") > 0,
            F.raise_error(F.lit(
                "cuped_adjusted_lift: rows carry variant labels other "
                f"than '{variant_a}'/'{variant_b}'"
            )),
        ).otherwise(
            F.try_divide(
                F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
                F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
            )
        ).alias("_theta"),
        (F.col("_sx") / F.col("_n")).alias("_xbar"),
    )
    adj = per_unit.crossJoin(F.broadcast(moments)).select(
        "_v",
        "_y",
        (
            F.col("_y")
            - F.col("_theta") * (F.col("_x") - F.col("_xbar"))
        ).alias("_y_adj"),
        "_theta",
    )
    arms = adj.groupBy().agg(
        F.any_value("_theta").alias("theta"),
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_a, F.col("_y")).otherwise(0.0)).alias("_ya"),
        F.sum(F.when(is_b, F.col("_y")).otherwise(0.0)).alias("_yb"),
        F.sum(F.when(is_a, F.col("_y_adj")).otherwise(0.0)).alias("_aa"),
        F.sum(F.when(is_b, F.col("_y_adj")).otherwise(0.0)).alias("_ab"),
        F.var_samp("_y").alias("_vary"),
        F.var_samp("_y_adj").alias("_varadj"),
    )
    return arms.select(
        "n_a", "n_b",
        F.round("theta", 6).alias("theta"),
        F.round(
            F.col("_yb") / F.col("n_b") - F.col("_ya") / F.col("n_a"), 6
        ).alias("lift_raw"),
        F.round(
            F.col("_ab") / F.col("n_b") - F.col("_aa") / F.col("n_a"), 6
        ).alias("lift_adjusted"),
        F.round(
            F.lit(1.0) - F.try_divide(F.col("_varadj"), F.col("_vary")), 6
        ).alias("var_reduction"),
    )


def active_user_counts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    short_days: int = 7,
    long_days: int = 28,
) -> DataFrame:
    """Rolling active-user counts — DAU plus trailing ``short_days``-
    and ``long_days``-window actives (WAU/MAU) per day, the product-
    analytics staple whose windowed COUNT DISTINCT Spark windows
    don't support directly.

    Shape: dedup to the (user, day) grain FIRST (the one corpus-sized
    pass), then EXPLODE each user-day into the ``long_days`` report
    days it contributes to (``sequence`` — a pure equi shape, no
    range join / nested-loop anywhere) and run the three distinct
    counts as three SEPARATE day-grained aggregations joined back on
    day — NEVER as one multi-distinct agg, whose distinct-rewrite
    Expand would triple the frame (the agg_approx pathology, see
    approx_aggregates_graded).  At 100 TB the user-day frame is the
    small one (|users|·|days|, not |events|), so the expansion is
    bounded by long_days times that.  Report days with no activity
    anywhere in their trailing ``long_days`` window do not appear
    (they'd be all-zero rows); a day WITH trailing activity but no
    same-day / short-window activity appears with dau/wau = 0 (the
    long-window count drives the spine).  Days beyond the data's max
    date are trimmed with one broadcast scalar.  Staged for the
    round-8 registry window."""
    ud = df.select(
        F.col(user_col).alias("_u"),
        F.to_date(F.col(ts_col)).alias("_d"),
    ).distinct()
    max_day = ud.agg(F.max("_d").alias("_max_day"))
    contrib = ud.select(
        "_u", "_d",
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), long_days - 1)
            )
        ).alias("day"),
    ).join(F.broadcast(max_day), F.col("day") <= F.col("_max_day"))
    # the long-window count drives the report spine: a day appears
    # iff SOME user was active anywhere in its trailing long window
    # (mau >= 1 by construction there), and days with trailing but no
    # same-day / short-window activity report dau/wau = 0 instead of
    # vanishing (round-7 advice: the dau-driven inner join dropped
    # them, contradicting this contract)
    dau = (
        contrib.filter(F.col("_d") == F.col("day"))
        .groupBy("day").agg(F.count_distinct("_u").alias("dau"))
    )
    wau = (
        contrib.filter(F.col("day") < F.date_add(F.col("_d"), short_days))
        .groupBy("day").agg(F.count_distinct("_u").alias("wau"))
    )
    mau = contrib.groupBy("day").agg(F.count_distinct("_u").alias("mau"))
    out = (
        mau.join(dau, "day", "left").join(wau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            F.coalesce(F.col("wau"), F.lit(0)).cast("long").alias("wau"),
            "mau",
            F.round(
                F.try_divide(
                    F.coalesce(F.col("dau"), F.lit(0)), F.col("mau")
                ), 4,
            ).alias("dau_mau_ratio"),
        )
    )
    return out


def funnel_paths(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    max_steps: int = 8,
    top_n: int = 20,
) -> DataFrame:
    """Top-N user journey paths: each user's first ``max_steps``
    events in time order collapse to one 'view>click>purchase' path
    string, counted across users — the "how do people actually move
    through the product" readout behind every funnel redesign, and
    the discovery complement to :func:`funnel_counts`' fixed-order
    check.

    Shape: ONE user-grained fold (sort_array over collected
    (ts, tiebreak, type) structs — per-group state bounded by the
    user's event count, truncated to ``max_steps`` in the same
    expression), one path-grained count (map-side combinable: the
    path head absorbs before the shuffle), TakeOrdered top-N —
    no window over the full event stream, no global sort.  The
    tiebreak column makes equal-timestamp ordering engine-exact.
    Staged for the round-8 registry window."""
    path = F.concat_ws(
        ">",
        F.slice(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col(ts_col).alias("t"),
                            F.col(tiebreak_col).alias("k"),
                            F.col(type_col).alias("e"),
                        )
                    )
                ),
                lambda s: s["e"],
            ),
            1, max_steps,
        ),
    )
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        path.alias("path")
    )
    counts = per_user.groupBy("path").agg(F.count("*").alias("n_users"))
    w = Window.orderBy(F.col("n_users").desc(), F.col("path"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("rank", "path", "n_users")
    )


def acf_lags(
    df: DataFrame,
    ts_col: str = "ts",
    n_lags: int = 7,
) -> DataFrame:
    """Autocorrelation of the DAILY event-count series at lags
    ``1..n_lags`` — the time-domain twin of :func:`periodogram`
    (which scans frequencies; ACF reads the same seasonality as
    correlation-at-offset, the form an anomaly-alert threshold
    consumes directly).

    The series is the zero-filled daily count over the full
    [min_day, max_day] spine (gaps ARE data for autocorrelation —
    skipping empty days would splice non-adjacent days together).
    acf(L) = Σₜ (xₜ−μ)(xₜ₊L−μ) / Σₜ (xₜ−μ)² with μ and the
    denominator over ALL n days (the standard biased estimator, so
    acf is bounded in [−1, 1] and comparable across lags).

    NULL timestamps are excluded from the series (to_date(NULL)
    groups to a NULL day that matches no spine day — by design: a
    null-ts event has no position in a time series).

    Shape: one data-sized groupBy(day); everything after runs on the
    day spine (|days| rows — a window ordered by day pulls all
    ``n_lags`` leads in ONE pass over one task, bounded by the date
    range, documented like the other calendar-spine ops).  Counts
    are exact integers, μ is one integer division — both engines
    compute identical doubles; the product sums are rounded (6dp).
    Output: one row per lag — lag, n_pairs, acf."""
    daily = (
        df.select(F.to_date(F.col(ts_col)).alias("_day"))
        .groupBy("_day")
        .agg(F.count("*").alias("_c"))
    )
    span = daily.agg(
        F.min("_day").alias("_d0"), F.max("_day").alias("_d1")
    )
    spine = span.select(
        F.explode(
            F.sequence("_d0", "_d1", F.expr("interval 1 day"))
        ).alias("_day")
    )
    series = spine.join(daily, "_day", "left").select(
        "_day", F.coalesce("_c", F.lit(0)).alias("_x")
    )
    mu = series.agg(
        (F.sum("_x").cast("double") / F.count("*")).alias("_mu"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum("_x").alias("_sx"),
        F.count("*").alias("_n"),
    ).select(
        "_mu", "_n",
        # Σ(x−μ)² expanded from exact integer moments: Σx² − (Σx)²/n
        (
            F.col("_sxx").cast("double")
            - F.col("_sx").cast("double") * F.col("_sx") / F.col("_n")
        ).alias("_den"),
    )
    w = Window.orderBy("_day")
    led = series.select(
        "_x",
        F.array(
            *[F.lead("_x", lag).over(w) for lag in range(1, n_lags + 1)]
        ).alias("_leads"),
    )
    pairs = led.select(
        "_x", F.posexplode("_leads").alias("_l0", "_xl")
    ).filter(F.col("_xl").isNotNull())
    return (
        pairs.crossJoin(F.broadcast(mu))
        .groupBy((F.col("_l0") + 1).alias("lag"))
        .agg(
            F.count("*").alias("n_pairs"),
            # a constant series has zero variance: acf is undefined
            # there, reported as NULL (ANSI division would raise)
            F.when(
                F.any_value("_den") != 0.0,
                F.round(
                    F.sum(
                        (F.col("_x") - F.col("_mu"))
                        * (F.col("_xl") - F.col("_mu"))
                    )
                    / F.any_value("_den"),
                    6,
                ),
            ).alias("acf"),
        )
        .select(F.col("lag").cast("int").alias("lag"), "n_pairs", "acf")
    )


def did_estimator(
    df: DataFrame,
    unit_col: str = "unit",
    treat_col: str = "is_treat",
    post_col: str = "is_post",
    value_col: str = "y",
) -> DataFrame:
    """Difference-in-differences estimator — the observational-causal
    companion to the experiment family (``evt_ab_test`` compares
    randomized arms; DiD compares treated vs control TRENDS when
    assignment wasn't randomized but both groups share a pre-period):
    DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre).

    Two aggregations, both map-side combinable: (1) collapse to the
    (unit, period) grain so repeated events per unit don't fake
    sample size (the unit is the independence unit); (2) ONE 1-row
    conditional aggregate computes all four cells' n/Σy/Σy² — no
    pivot shuffle, no per-cell pass.  SE is the four-cell pooled
    standard error √(Σ s²_c/n_c) with s² from exact moment sums; the
    estimate and SE round at 6dp (summation-order grain), t at 4dp.

    ``treat_col``/``post_col`` must be non-null booleans and
    ``value_col`` non-null — raised in-plan (a NULL flag would
    silently vanish from every cell).  Output: ONE row — the four
    cell (n, mean) pairs, did, se, t_stat."""
    flags_ok = (
        F.col(treat_col).isNotNull()
        & F.col(post_col).isNotNull()
        & F.col(value_col).isNotNull()
    )

    def _guard(c):
        return F.when(flags_ok, c).otherwise(
            F.raise_error(
                F.lit(
                    "did_estimator: treat/post flags and value must"
                    " be non-null"
                )
            )
        )

    per_unit = (
        df.select(
            F.col(unit_col).alias("_u"),
            _guard(F.col(treat_col).cast("boolean")).alias("_t"),
            _guard(F.col(post_col).cast("boolean")).alias("_p"),
            _guard(F.col(value_col).cast("double")).alias("_y"),
        )
        .groupBy("_u", "_t", "_p")
        .agg(F.sum("_y").alias("_y"))
    )

    def _cell(t: bool, p: bool, what: str) -> Column:
        m = (F.col("_t") == t) & (F.col("_p") == p)
        if what == "n":
            return F.sum(m.cast("long"))
        if what == "s":
            return F.sum(F.when(m, F.col("_y")).otherwise(0.0))
        return F.sum(F.when(m, F.col("_y") * F.col("_y")).otherwise(0.0))

    cells = per_unit.agg(
        *[
            c
            for t, p, tag in [
                (True, True, "tp"), (True, False, "tq"),
                (False, True, "cp"), (False, False, "cq"),
            ]
            for c in (
                _cell(t, p, "n").alias(f"_n_{tag}"),
                _cell(t, p, "s").alias(f"_s_{tag}"),
                _cell(t, p, "ss").alias(f"_ss_{tag}"),
            )
        ]
    )

    def mean(tag: str) -> Column:
        return F.col(f"_s_{tag}") / F.col(f"_n_{tag}")

    def var_over_n(tag: str) -> Column:
        n = F.col(f"_n_{tag}")
        s = F.col(f"_s_{tag}")
        ss = F.col(f"_ss_{tag}")
        return (ss - s * s / n) / (n - 1) / n

    did = (mean("tp") - mean("tq")) - (mean("cp") - mean("cq"))
    se = F.sqrt(
        var_over_n("tp") + var_over_n("tq")
        + var_over_n("cp") + var_over_n("cq")
    )
    return cells.select(
        F.col("_n_tp").alias("n_treat_post"),
        F.round(mean("tp"), 6).alias("mean_treat_post"),
        F.col("_n_tq").alias("n_treat_pre"),
        F.round(mean("tq"), 6).alias("mean_treat_pre"),
        F.col("_n_cp").alias("n_ctrl_post"),
        F.round(mean("cp"), 6).alias("mean_ctrl_post"),
        F.col("_n_cq").alias("n_ctrl_pre"),
        F.round(mean("cq"), 6).alias("mean_ctrl_pre"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 4).alias("t_stat"),
    )


def sprt_test(
    df: DataFrame,
    arm_col: str,
    flag_col: str,
    order_cols: list[str] | tuple[str, ...],
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Wald's sequential probability-ratio test (SPRT) per arm — the
    SEQUENTIAL member of the experiment family (``evt_ab_test`` and
    ``welch_ttest`` are fixed-horizon; peeking at them inflates
    false positives, while the SPRT's boundaries are valid at EVERY
    look, which is how modern always-on experiment monitors stop
    early).  Tests H0: p = p0 vs H1: p = p1 on a Bernoulli stream.

    llr_t = n1_t·ln(p1/p0) + (t − n1_t)·ln((1−p1)/(1−p0)) over the
    arm's observations in ``order_cols`` order (pass a unique
    tiebreak — the house window rule); accept H1 at the first t
    with llr ≥ A = ln((1−β)/α), H0 at the first llr ≤ B =
    ln(β/(1−α)), else 'continue' at the horizon.  The llr is a
    closed form of the two INTEGER window counts (t, n1_t), so the
    walk is engine-exact up to the ln constants.

    Output per arm: n_total, conversions, decision, n_at_decision
    (NULL while continuing), llr_at_decision, llr_final (6dp), and
    the two boundaries.  NULL flags/arms are excluded up front
    (an unobserved outcome is not a trial).

    Scale: one window shuffle partitioned BY ARM — each arm's walk
    is inherently sequential; the window carries two running
    integers, and the decision reduction is a min-struct aggregate.
    Arms are the parallelism unit, as in every sequential monitor."""
    import math

    la = math.log(p1 / p0)
    lb = math.log((1 - p1) / (1 - p0))
    bound_a = math.log((1 - beta) / alpha)
    bound_b = math.log(beta / (1 - alpha))
    obs = df.filter(
        F.col(arm_col).isNotNull() & F.col(flag_col).isNotNull()
    ).select(
        F.col(arm_col).alias("_arm"),
        F.col(flag_col).cast("long").alias("_x"),
        *[F.col(c) for c in order_cols],
    )
    w = Window.partitionBy("_arm").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walked = obs.select(
        "_arm",
        F.count("*").over(w).alias("_t"),
        F.sum("_x").over(w).alias("_n1"),
    ).select(
        "_arm", "_t", "_n1",
        (
            F.col("_n1") * F.lit(la)
            + (F.col("_t") - F.col("_n1")) * F.lit(lb)
        ).alias("_llr"),
    )
    crossings = walked.filter(
        (F.col("_llr") >= bound_a) | (F.col("_llr") <= bound_b)
    ).groupBy("_arm").agg(
        F.min(F.struct("_t", "_llr")).alias("_first")
    )
    finals = walked.groupBy("_arm").agg(
        F.max(F.struct("_t", "_llr", "_n1")).alias("_last")
    )
    joined = finals.join(crossings, "_arm", "left")
    llr_dec = F.col("_first._llr")
    return joined.select(
        F.col("_arm").alias("arm"),
        F.col("_last._t").alias("n_total"),
        F.col("_last._n1").alias("conversions"),
        F.when(llr_dec >= bound_a, F.lit("accept_h1"))
        .when(llr_dec <= bound_b, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.col("_first._t").alias("n_at_decision"),
        F.round(llr_dec, 6).alias("llr_at_decision"),
        F.round(F.col("_last._llr"), 6).alias("llr_final"),
        F.round(F.lit(bound_a), 6).alias("boundary_h1"),
        F.round(F.lit(bound_b), 6).alias("boundary_h0"),
    )


def ips_policy_value(
    df: DataFrame,
    action_col: str,
    reward_col: str,
    propensity_col: str,
    target_col: str,
    clip: float = 10.0,
) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring — "what
    would the TARGET policy's average reward have been" from logs
    collected under a different policy, the counterfactual readout
    every recommendation / ranking / curation-policy change needs
    before an online test (and the observational cousin of
    ``psm_att``: PSM reweights units by a matched control, IPS
    reweights EVENTS by the logging propensity).

    w_i = 1[a_i = π(x_i)] / p_log(a_i|x_i);
    IPS   = Σ w·r / n          (unbiased, high variance),
    SNIPS = Σ w·r / Σ w        (self-normalized, the production
                                default — invariant to reward
                                shifts),
    clipped IPS caps w at ``clip`` (the variance/bias knob), and
    ESS = (Σw)²/Σw² is the effective sample size — the
    support-overlap diagnostic that says whether ANY of these
    numbers deserve trust.

    Propensities must be in (0, 1] and actions/rewards/targets
    non-null — raised IN-PLAN (a zero or null propensity silently
    yields ±inf weights and poisons every estimate).  One
    map-side-combined 1-row aggregate; metrics at 6dp (ESS 2dp)."""
    ok = (
        F.col(action_col).isNotNull()
        & F.col(reward_col).isNotNull()
        & F.col(target_col).isNotNull()
        & F.col(propensity_col).isNotNull()
        & (F.col(propensity_col) > 0)
        & (F.col(propensity_col) <= 1)
    )

    def _guard(c: Column) -> Column:
        return F.when(ok, c).otherwise(
            F.raise_error(
                F.lit(
                    "ips_policy_value: action/reward/target must be"
                    " non-null and propensity in (0, 1]"
                )
            )
        )

    wcol = _guard(
        F.when(
            F.col(action_col) == F.col(target_col),
            1.0 / F.col(propensity_col),
        ).otherwise(0.0)
    )
    r = F.col(reward_col).cast("double")
    base = df.select(
        wcol.alias("_w"),
        r.alias("_r"),
    )
    agg = base.agg(
        F.count("*").alias("n"),
        F.sum((F.col("_w") > 0).cast("long")).alias("n_matched"),
        F.sum(F.col("_w") * F.col("_r")).alias("_wr"),
        F.sum("_w").alias("_sw"),
        F.sum(F.col("_w") * F.col("_w")).alias("_sw2"),
        F.sum(
            F.least(F.col("_w"), F.lit(float(clip))) * F.col("_r")
        ).alias("_cwr"),
    )
    return agg.select(
        "n", "n_matched",
        F.round(F.col("_wr") / F.col("n"), 6).alias("ips_value"),
        F.round(F.try_divide(F.col("_wr"), F.col("_sw")), 6)
        .alias("snips_value"),
        F.round(F.col("_cwr") / F.col("n"), 6).alias("clipped_ips"),
        F.round(
            F.try_divide(F.col("_sw") * F.col("_sw"), F.col("_sw2")), 2
        ).alias("ess"),
    )


def event_study(
    df: DataFrame,
    unit_col: str,
    day_col: str,
    adoption_col: str,
    value_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Event-study readout — per-relative-period treatment effects
    around a staggered adoption day, the dynamic companion to
    :func:`did_estimator` (DiD gives ONE pre/post contrast; the
    event study shows the full effect PATH — pre-trends to the left
    of τ=0 are the standard parallel-trends diagnostic, the effect
    ramp to the right is the payoff curve).

    Inputs are unit-day observations: ``adoption_col`` is the unit's
    adoption day (NULL = never-treated control).  For each relative
    period τ = day − adoption ∈ [−max_lag, max_lag], the effect is
    the calendar-matched diff-in-means
        effect(τ) = Σ_d n_τd·(ȳ_treat(τ, d) − ȳ_ctrl(d)) / Σ_d n_τd
    — treated cells compare against CONTROL units on the SAME
    calendar day (never against other periods), weighted by treated
    cell size, so calendar shocks common to both groups cancel.
    Days with no control observations drop out of τ's average (no
    counterfactual that day) — counted in ``n_unmatched``.

    Two map-side-combined aggregations (treated cells, control
    day-means) + one day-keyed join of day-grain frames; nothing
    unit-grain shuffles twice.  Output: one row per τ with
    n_obs / n_unmatched / effect (6dp)."""
    day = F.col(day_col)
    adopt = F.col(adoption_col)
    base = df.select(
        F.col(unit_col).alias("_u"),
        day.alias("_d"),
        adopt.alias("_a"),
        F.col(value_col).cast("double").alias("_y"),
    )
    treated = (
        base.filter(F.col("_a").isNotNull())
        .select(
            "_d", "_y",
            F.datediff(F.col("_d"), F.col("_a")).alias("_tau"),
        )
        .filter(F.col("_tau").between(-max_lag, max_lag))
        .groupBy("_tau", "_d")
        .agg(
            F.count("*").alias("_n"),
            F.avg("_y").alias("_my"),
        )
    )
    ctrl = (
        base.filter(F.col("_a").isNull())
        .groupBy("_d")
        .agg(F.avg("_y").alias("_mc"))
    )
    joined = treated.join(ctrl, "_d", "left")
    return (
        joined.groupBy(F.col("_tau").alias("rel_period"))
        .agg(
            F.sum("_n").alias("n_obs"),
            F.sum(F.when(F.col("_mc").isNull(), F.col("_n"))
                  .otherwise(0)).alias("n_unmatched"),
            F.round(
                F.try_divide(
                    F.sum(
                        F.when(
                            F.col("_mc").isNotNull(),
                            F.col("_n") * (F.col("_my") - F.col("_mc")),
                        ).otherwise(0.0)
                    ),
                    F.sum(
                        F.when(F.col("_mc").isNotNull(), F.col("_n"))
                        .otherwise(0)
                    ),
                ),
                6,
            ).alias("effect"),
        )
    )


def ar1_halflife(
    df: DataFrame,
    series_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """AR(1) mean-reversion half-life per series — "how long does a
    shock to this daily metric persist": fit x_t = ρ·x_{t−1} + ε by
    the lag-1 correlation over the series' day-ordered values and
    report halflife = −ln 2 / ln ρ (the time for a deviation to
    decay halfway back).  The metric a monitoring/forecast pass
    computes next to ``acf_lags`` (full correlogram) and
    ``evt_changepoint`` (level breaks): ρ near 1 means shocks are
    structural, near 0 means noise.

    One window shuffle partitioned BY SERIES for the lag, one
    moments aggregate.  Consecutive-row lag: a calendar gap is
    treated as adjacent (documented; gapfill upstream with
    ``evt_gapfill`` when closing the gaps matters).  halflife is
    NULL outside 0 < ρ < 1 (no mean reversion to halve).  ρ at 4dp,
    halflife at 4dp."""
    from pyspark.sql import Window

    daily = (
        df.groupBy(
            F.col(series_col).alias("_s"), F.col(day_col).alias("_d")
        )
        .agg(F.sum(F.col(value_col).cast("double")).alias("_x"))
    )
    w = Window.partitionBy("_s").orderBy("_d")
    lagged = daily.select(
        "_s", "_x", F.lag("_x").over(w).alias("_xp")
    ).filter(F.col("_xp").isNotNull())
    g = lagged.groupBy(F.col("_s").alias(series_col)).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.corr("_x", "_xp"), 4).alias("rho"),
    )
    hl = F.when(
        (F.col("rho") > 0) & (F.col("rho") < 1),
        F.round(-F.log(F.lit(2.0)) / F.log(F.col("rho")), 4),
    )
    return g.select(series_col, "n_pairs", "rho", hl.alias("halflife"))


def cusum_chart(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    target_cents: int = 0,
    slack_cents: int = 0,
    threshold_cents: int = 0,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Two-sided CUSUM control chart over a daily-aggregated series —
    the sequential drift detector that fires on SMALL persistent
    shifts an outlier rule (z-score, Tukey) never accumulates.

    Standard recursions, k = slack, T = target:

        S⁺_t = max(0, S⁺_{t−1} + x_t − T − k)
        S⁻_t = max(0, S⁻_{t−1} + T − k − x_t)

    A driver-side loop over days would serialize the scan, so both
    recursions are rewritten with the prefix-minimum identity
    ``S_t = P_t − min(0, min_{j<=t} P_j)`` where P is the running sum
    of the per-day increments — two window sums + two running mins,
    one pass, still one partition PER SERIES (pass ``keys`` to shard
    a fleet of independent series across executors; an unkeyed call
    is a single global series and is documented as the small-grain
    form, like the other calendar-spine ops).

    Exactness: per-event values quantize to integer cents BEFORE
    summing (round(value·100) per row, then integer sums), so every
    statistic is an exact integer — no floating accumulation anywhere.

    Output per (keys…, day): x_cents, s_pos, s_neg, alarm
    (either side exceeding ``threshold_cents``)."""
    keys = list(keys)
    daily = (
        df.select(
            *keys,
            F.to_date(F.col(ts_col)).alias("day"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("_cents"),
        )
        .groupBy(*keys, "day")
        .agg(F.sum("_cents").alias("x_cents"))
    )
    w = Window.partitionBy(*keys).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t_plus = F.lit(int(target_cents) + int(slack_cents)).cast("bigint")
    t_minus = F.lit(int(target_cents) - int(slack_cents)).cast("bigint")
    p_pos = F.sum(F.col("x_cents") - t_plus).over(w)
    p_neg = F.sum(t_minus - F.col("x_cents")).over(w)
    staged = daily.select(
        *keys, "day", "x_cents",
        (p_pos - F.least(F.lit(0).cast("bigint"), F.min(p_pos).over(w)))
        .alias("s_pos"),
        (p_neg - F.least(F.lit(0).cast("bigint"), F.min(p_neg).over(w)))
        .alias("s_neg"),
    )
    h = F.lit(int(threshold_cents)).cast("bigint")
    return staged.select(
        *keys, "day", "x_cents", "s_pos", "s_neg",
        ((F.col("s_pos") > h) | (F.col("s_neg") > h)).alias("alarm"),
    )


def logrank_test(
    df: DataFrame,
    variant_col: str = "variant",
    variant_a: str = "A",
    variant_b: str = "B",
    start_event: str = "signup",
    terminal_event: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-group log-rank test: do variants A and B have the same
    time-to-conversion distribution?  The survival-curve counterpart
    of the two-proportion z in evt_ab_test — a raw conversion-rate
    comparison throws away WHEN conversions happen and is confounded
    by censoring; log-rank compares the full curves.

    Standard Mantel-Haenszel form over the union day spine: at each
    day t with d_t total events, group A contributes observed d_At,
    expected d_t·n_At/n_t, and hypergeometric variance
    d_t·(n_A/n)·(n_B/n)·(n−d)/(n−1).  Z = (O−E)/√V, χ² = Z².

    Determinism: per-day d and n are exact integers (conditional
    sums + reverse-cumsum windows on the unique day grain); the E
    and V accumulations are ORDERED prefix sums over that same day
    window (fold order total), read off the max-day row — never a
    free-order float aggregate.  A row whose variant is neither
    ``variant_a`` nor ``variant_b`` raises in-plan (the
    uplift_by_segment foreign-label guard), riding the consumed
    duration column so Catalyst cannot prune it; a user appearing
    under BOTH variants (min(variant) != max(variant)) raises the
    same way (round-8 advice) — silently resolving the conflict to
    max() would quietly bias the test on dirty assignment logs.

    Plan: one per-user aggregation, one day-grain rollup, three
    windows over the tiny day frame, TakeOrdered(1)."""
    is_a = F.col("_v") == variant_a
    guard = F.when(
        F.col("_v_min") != F.col("_v"),
        F.raise_error(
            F.concat(
                F.lit("logrank_test: mixed variant assignment "),
                F.col("_v_min").cast("string"),
                F.lit("/"),
                F.col("_v").cast("string"),
                F.lit(" for one user"),
            )
        ),
    ).when(
        F.col("_v").isin(variant_a, variant_b), F.col("_t0")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("logrank_test: unknown variant "),
                F.col("_v").cast("string"),
            )
        )
    )
    per_user = df.groupBy(user_col).agg(
        F.min(
            F.when(F.col(type_col) == start_event, F.col(ts_col))
        ).alias("_t0"),
        F.max(F.col(variant_col)).alias("_v"),
        F.min(F.col(variant_col)).alias("_v_min"),
        F.collect_list(
            F.when(F.col(type_col) == terminal_event, F.col(ts_col))
        ).alias("_terms"),
    )
    tmax = df.agg(F.max(ts_col).alias("_tmax"))
    first_term = F.array_min(
        F.filter("_terms", lambda t: t >= F.col("_t0"))
    )
    durations = (
        per_user.withColumn("_t0", guard)
        .filter(F.col("_t0").isNotNull())
        .crossJoin(F.broadcast(tmax))
        .select(
            F.when(
                first_term.isNotNull(),
                F.datediff(first_term.cast("date"), F.col("_t0").cast("date")),
            ).otherwise(
                F.datediff(F.col("_tmax").cast("date"), F.col("_t0").cast("date"))
            ).alias("day"),
            first_term.isNotNull().cast("bigint").alias("_event"),
            is_a.alias("_is_a"),
        )
    )
    per_day = durations.groupBy("day").agg(
        F.sum(F.when(F.col("_is_a"), F.col("_event")).otherwise(0))
        .alias("d_a"),
        F.sum(F.when(~F.col("_is_a"), F.col("_event")).otherwise(0))
        .alias("d_b"),
        F.sum(F.col("_is_a").cast("bigint")).alias("t_a"),
        F.sum((~F.col("_is_a")).cast("bigint")).alias("t_b"),
    )
    w_rev = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = per_day.select(
        "day", "d_a", "d_b",
        F.sum("t_a").over(w_rev).alias("n_a"),
        F.sum("t_b").over(w_rev).alias("n_b"),
    )
    d = F.col("d_a") + F.col("d_b")
    n = F.col("n_a") + F.col("n_b")
    e_a = d * F.col("n_a") / n
    v = F.when(
        n > 1,
        d
        * (F.col("n_a") / n)
        * (F.col("n_b").cast("double") / n)
        * (n - d)
        / (n - 1),
    ).otherwise(F.lit(0.0))
    w_fwd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = staged.select(
        "day",
        F.sum("d_a").over(w_fwd).alias("observed_a"),
        F.sum(e_a).over(w_fwd).alias("_e"),
        F.sum(v).over(w_fwd).alias("_v"),
        F.max("n_a").over(w_fwd).alias("n_users_a"),
        F.max("n_b").over(w_fwd).alias("n_users_b"),
    )
    last = cum.orderBy(F.col("day").desc()).limit(1)
    z = F.try_divide(F.col("observed_a") - F.col("_e"), F.sqrt("_v"))
    return last.select(
        "n_users_a", "n_users_b", "observed_a",
        F.round("_e", 6).alias("expected_a"),
        F.round("_v", 6).alias("variance"),
        F.round(z, 6).alias("z"),
        F.round(z * z, 6).alias("chi2"),
    )


def qini_curve(
    units: DataFrame,
    bucket_col: str = "bucket",
    treated_col: str = "treated",
    outcome_col: str = "converted",
    n_buckets: int = 10,
) -> DataFrame:
    """Qini (uplift) curve over score buckets — the targeting-model
    QA behind uplift_by_segment: walk the population from the
    model's best-scored bucket down, and at each prefix report the
    incremental conversions versus a control scaled to the treated
    prefix size:

        qini_k = ΣconvT_k − ΣconvC_k · (Σn_T_k / Σn_C_k)

    A model that ranks persuadables first climbs steeply then
    flattens; random targeting is the straight line to the same
    endpoint (the endpoint IS the overall incremental lift, so the
    last row doubles as the experiment readout).

    Input is UNIT grain (one row per user — the caller aggregates,
    exactly like uplift_by_segment) with an INTEGER ``bucket_col``
    in [0, n_buckets): bucket 0 = best-scored.  Buckets arrive as
    integers rather than raw scores so the assignment stays
    engine-exact (a float score × n_buckets floor flips at binary
    representation boundaries — the perplexity_bins lesson);
    out-of-range buckets raise in-plan.  Counts are exact integers;
    cumulations are ordered prefix sums over the bucket spine; only
    the control scaling floats (6dp).

    Output per bucket: (bucket, n_treated_cum, n_control_cum,
    conv_treated_cum, conv_control_cum, qini)."""
    b = F.col(bucket_col).cast("bigint")
    guarded = F.when((b >= 0) & (b < n_buckets), b).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"qini_curve: bucket must be in [0, {n_buckets}),"
                    " got "
                ),
                b.cast("string"),
            )
        )
    )
    base = units.select(
        guarded.alias("_b"),
        F.col(treated_col).cast("boolean").alias("_t"),
        F.col(outcome_col).cast("boolean").alias("_y"),
    )
    per_b = base.groupBy("_b").agg(
        F.sum(F.col("_t").cast("bigint")).alias("_nt"),
        F.sum((~F.col("_t")).cast("bigint")).alias("_nc"),
        F.sum((F.col("_t") & F.col("_y")).cast("bigint")).alias("_ct"),
        F.sum((~F.col("_t") & F.col("_y")).cast("bigint")).alias("_cc"),
    )
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_b.select(
        F.col("_b").cast("int").alias("bucket"),
        F.sum("_nt").over(w).alias("n_treated_cum"),
        F.sum("_nc").over(w).alias("n_control_cum"),
        F.sum("_ct").over(w).alias("conv_treated_cum"),
        F.sum("_cc").over(w).alias("conv_control_cum"),
    )
    return cum.select(
        "bucket", "n_treated_cum", "n_control_cum",
        "conv_treated_cum", "conv_control_cum",
        F.round(
            F.col("conv_treated_cum")
            - F.col("conv_control_cum")
            * F.try_divide(
                F.col("n_treated_cum"), F.col("n_control_cum")
            ),
            6,
        ).alias("qini"),
    )


def seasonal_naive_error(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive backtest: forecast each day's total as the
    value ``season`` days earlier and report MAE/MAPE — the baseline
    every real forecasting model must beat, and the cheapest
    data-drift tripwire (a regime change shows up as a MAPE jump
    with no model in the loop at all).

    The series is the daily integer-cents rollup (per-event
    round(value·100), then exact integer sums — the cusum_chart
    quantization).  The lag is ``season`` ROWS over the day-ordered
    spine: correct on a DENSE daily series (the events fixture is
    dense); a gappy series needs evt_gapfill first — documented
    contract, same as the other calendar-spine ops.  Absolute errors
    are exact integers; MAPE terms and both finals accumulate as
    ORDERED prefix sums (the logrank discipline), read off the
    max-day row.

    Output: one row (n_days, n_scored, total_abs_err_cents, mae,
    mape) — mae in value units (4dp), mape as a ratio (6dp)."""
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("_c"),
        )
        .groupBy("day")
        .agg(F.sum("_c").alias("x_cents"))
    )
    w_lag = Window.orderBy("day")
    scored = daily.select(
        "day", "x_cents",
        F.lag("x_cents", season).over(w_lag).alias("_pred"),
    )
    ae = F.abs(F.col("x_cents") - F.col("_pred"))
    ape = F.try_divide(
        ae.cast("double"), F.abs(F.col("x_cents")).cast("double")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = scored.select(
        "day",
        F.count("*").over(w).alias("n_days"),
        F.count("_pred").over(w).alias("n_scored"),
        F.sum(F.when(F.col("_pred").isNotNull(), ae).otherwise(0))
        .over(w).alias("total_abs_err_cents"),
        F.sum(F.when(F.col("_pred").isNotNull(), ape))
        .over(w).alias("_ape_sum"),
    )
    last = cum.orderBy(F.col("day").desc()).limit(1)
    return last.select(
        "n_days", "n_scored", "total_abs_err_cents",
        F.round(
            F.try_divide(
                F.col("total_abs_err_cents"), F.col("n_scored")
            )
            / 100.0,
            4,
        ).alias("mae"),
        F.round(
            F.try_divide(F.col("_ape_sum"), F.col("n_scored")), 6
        ).alias("mape"),
    )


def peaks(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Local-peak detection on the daily series: a day is a peak when
    it strictly exceeds BOTH calendar-adjacent observations — the
    burst-day readout that feeds incident review (evt_anomaly flags
    outliers against a distribution; this flags local maxima
    regardless of global scale).

    Same integer-cents quantization and dense-spine contract as
    cusum_chart / seasonal_naive_error; one lag + one lead over the
    unique day spine, everything exact integers.  Edge days (no
    neighbor on one side) are never peaks.  ``prominence`` is the
    margin over the higher neighbor — the simple one-step form, the
    ranking key for "which spikes matter".

    Output per day: (day, x_cents, is_peak, prominence) —
    prominence NULL off-peak."""
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("_c"),
        )
        .groupBy("day")
        .agg(F.sum("_c").alias("x_cents"))
    )
    w = Window.orderBy("day")
    prev = F.lag("x_cents").over(w)
    nxt = F.lead("x_cents").over(w)
    is_peak = (
        prev.isNotNull()
        & nxt.isNotNull()
        & (F.col("x_cents") > prev)
        & (F.col("x_cents") > nxt)
    )
    return daily.select(
        "day", "x_cents",
        is_peak.alias("is_peak"),
        F.when(is_peak, F.col("x_cents") - F.greatest(prev, nxt))
        .alias("prominence"),
    )


def growth_accounting(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: int = 7,
) -> DataFrame:
    """Growth accounting at day grain — every active user-day is
    classified ``new`` (first day ever), ``resurrected`` (returning
    after more than ``churn_gap_days`` away), or ``retained``
    (anything quicker), then rolled up per day.  The standard
    new/retained/resurrected decomposition a DAU chart hides: flat
    DAU with rising resurrection is a leaky product, and the CLASS
    mix — not the total — is the actionable number.

    Shape: one user-day dedup (map-side combined), one lag per user
    over the day spine (shuffle keyed on user — the same posture as
    active_user_counts' contributor build), one day-grain rollup.
    Gap arithmetic is whole integer days; everything exact.

    Output per day: (day, n_active, n_new, n_retained,
    n_resurrected)."""
    user_days = (
        df.select(
            F.col(user_col).alias("_u"),
            F.to_date(F.col(ts_col)).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("_u").orderBy("day")
    tagged = user_days.select(
        "day",
        F.lag("day").over(w).alias("_prev"),
    ).select(
        "day",
        F.when(F.col("_prev").isNull(), F.lit("new"))
        .when(
            F.datediff(F.col("day"), F.col("_prev")) > churn_gap_days,
            F.lit("resurrected"),
        )
        .otherwise(F.lit("retained"))
        .alias("_state"),
    )
    return tagged.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum((F.col("_state") == "new").cast("bigint")).alias("n_new"),
        F.sum((F.col("_state") == "retained").cast("bigint"))
        .alias("n_retained"),
        F.sum((F.col("_state") == "resurrected").cast("bigint"))
        .alias("n_resurrected"),
    )


def dow_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Seasonality-aware anomaly flags on the daily series: each
    day's total is z-scored against the OTHER days sharing its
    day-of-week — a Sunday is judged against Sundays, so the weekly
    rhythm that makes a plain z-score (evt_anomaly) fire every
    weekend is conditioned away.  Leave-one-out moments: the scored
    day is excluded from its own baseline (n−1 mean/variance via
    the group sums), otherwise a single huge spike suppresses its
    own z.

    Integer-cents daily rollup (the cusum quantization), exact
    group sums per weekday, LOO mean/var assembled per row in one
    fixed-order float expression, 4dp z.  A ZERO-VARIANCE baseline
    (every other same-weekday total identical) makes z undefined —
    and that is exactly when a deviating day is most obviously
    anomalous, so the flag is decided by the exact integer test
    x·(n−1) ≠ Σ_others there (z_loo stays NULL) rather than letting
    the divide-by-zero hide the spike.  Output per day:
    (day, dow, x_cents, z_loo, is_anomaly)."""
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("_c"),
        )
        .groupBy("day")
        .agg(F.sum("_c").alias("x_cents"))
        .withColumn("dow", F.dayofweek("day").cast("int"))
    )
    g = daily.groupBy("dow").agg(
        F.count("*").alias("_gn"),
        F.sum("x_cents").alias("_gs"),
        F.sum(
            F.col("x_cents").cast("decimal(38,0)") * F.col("x_cents")
        ).alias("_gq"),
    )
    t = daily.join(g, "dow")
    n1 = F.col("_gn") - 1
    loo_sum = F.col("_gs") - F.col("x_cents")
    loo_mean = loo_sum.cast("double") / n1
    loo_var = F.when(
        n1 > 1,
        (
            F.col("_gq").cast("double")
            - F.col("x_cents").cast("double") * F.col("x_cents")
            - loo_sum.cast("double") * loo_sum / n1
        )
        / (n1 - 1),
    )
    z = F.when(
        loo_var > 0,
        (F.col("x_cents") - loo_mean) / F.sqrt(loo_var),
    )
    zero_var_dev = (
        (n1 > 1)
        & (loo_var == 0)
        & (F.col("x_cents") * n1 != loo_sum)
    )
    return t.select(
        "day", "dow", "x_cents",
        F.round(z, 4).alias("z_loo"),
        F.when((n1 > 1) & (loo_var == 0), zero_var_dev)
        .otherwise(
            F.coalesce(F.abs(F.round(z, 4)) > z_threshold, F.lit(False))
        )
        .alias("is_anomaly"),
    )


def quantile_treatment_effects(
    units: DataFrame,
    treated_col: str = "treated",
    outcome_col: str = "outcome_cents",
    quantiles: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile treatment effects — where in the outcome
    DISTRIBUTION an experiment moved things: the mean lift
    (evt_ab_test) of +2 could be everyone +2 or the top decile +20,
    and QTE is the readout that tells them apart.

    Per arm, the type-1 (lower) sample quantile at each requested p:
    the value at sorted position ceil(p·n) — an ORDER STATISTIC of
    the integer-quantized outcome, so every reported number is an
    exact integer no interpolation scheme can smear differently
    across engines (the reason this does not use percentile()
    interpolation).  Ties in the outcome order are broken by the
    value itself only — position selection depends only on the
    sorted multiset, so no extra tiebreak column is needed.

    The position itself is selected with INTEGER arithmetic
    (round-8 advice): each p is read as the exact rational of its
    decimal representation (0.25 → 1/4) and the rank test is
    ``(rn−1)·den < num·n ≤ rn·den`` — equivalent to
    rn = ceil(num·n/den) with no floating product, so a p·n that
    would round just above an exact integer in IEEE doubles cannot
    shift the picked rank off the type-1 definition.  The products
    are computed in DECIMAL(38,0) and p is refused loudly when its
    rational denominator exceeds 1e6 (round-9 advice: a float
    artifact like 1/3 carries a ~1e16 denominator whose bigint
    product would silently wrap under non-ANSI Spark).

    Plan: one rank window per arm (partitionBy treated), one
    broadcast of the tiny p-spine, position equi-join — no
    per-quantile scans.  Input is UNIT grain with an integer
    outcome (the caller quantizes — the smd_balance contract).

    Output per p: (p, n_treated, n_control, q_treated, q_control,
    qte) — qte = q_treated − q_control, exact integers."""
    base = units.select(
        F.col(treated_col).cast("boolean").alias("_t"),
        F.col(outcome_col).cast("bigint").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    w = Window.partitionBy("_t").orderBy("_v")
    ranked = base.select(
        "_t", "_v",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(
            Window.partitionBy("_t").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    from fractions import Fraction

    # Round-9 advice fix: a p whose decimal expansion is long (or a
    # float artifact like 1/3 → 0.3333333333333333) yields a ~1e16
    # denominator, and num·n / rn·den then silently wrap bigint under
    # non-ANSI Spark for n beyond a few thousand.  Two guards:
    # (1) refuse huge rationals loudly — every sane quantile spec
    #     (0.25, 0.5, 0.999, …) has den ≤ 1e6, and a p that does not
    #     is almost certainly a float-repr accident the caller should
    #     state exactly; (2) do the rank comparison in DECIMAL(38,0)
    #     so even den=1e6 × n~1e13-row arms cannot overflow in-plan.
    fracs = []
    for p in quantiles:
        fr = Fraction(str(float(p)))
        if fr.denominator > 10**6:
            raise ValueError(
                f"quantile p={p!r} has rational denominator "
                f"{fr.denominator} > 1e6; pass p as an exact decimal "
                "(e.g. 0.333333 rather than 1/3) — huge denominators "
                "risk 64-bit overflow in the rank-selection product"
            )
        fracs.append((float(p), int(fr.numerator), int(fr.denominator)))
    spine = base.sparkSession.createDataFrame(
        fracs, "p double, p_num bigint, p_den bigint"
    )
    dec = "decimal(38,0)"
    picked = ranked.join(
        F.broadcast(spine),
        (
            (ranked["_rn"] - F.lit(1)).cast(dec) * F.col("p_den").cast(dec)
            < F.col("p_num").cast(dec) * ranked["_n"].cast(dec)
        )
        & (
            F.col("p_num").cast(dec) * ranked["_n"].cast(dec)
            <= ranked["_rn"].cast(dec) * F.col("p_den").cast(dec)
        ),
    )
    per_arm = picked.groupBy("p").agg(
        F.max(F.when(F.col("_t"), F.col("_v"))).alias("q_treated"),
        F.max(F.when(~F.col("_t"), F.col("_v"))).alias("q_control"),
        F.max(F.when(F.col("_t"), F.col("_n"))).alias("n_treated"),
        F.max(F.when(~F.col("_t"), F.col("_n"))).alias("n_control"),
    )
    return per_arm.select(
        "p", "n_treated", "n_control", "q_treated", "q_control",
        (F.col("q_treated") - F.col("q_control")).alias("qte"),
    )
