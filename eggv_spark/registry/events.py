"""Event-log entries: windows, sessions, funnels, retention,
attribution, time-series and survival analyses over ``events``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.operators.events import (
    funnel_counts,
    gapfill_hourly,
    retention_cohorts,
    rfm_segments,
    sessionize,
    sliding_window_counts,
    tumbling_window_counts,
)
from eggv_spark.operators.rangejoin import asof_join
from eggv_spark.registry._shared import _BASEHASH_SQL, register, _t
from eggv_spark.registry.aggregates import _AB_VARIANT_SQL


@register(
    "evt_tumbling_window",
    "SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,"
    " count(*) AS n_events, round(sum(value), 4) AS sum_value"
    " FROM events GROUP BY 1",
)
def _evt_tumbling_window(spark, sf_dir):
    counts = tumbling_window_counts(_t(spark, sf_dir, "events"), "ts", "1 hour")
    return counts.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        "sum_value",
    )


@register(
    "evt_sliding_window",
    "WITH ev AS (SELECT value,"
    "  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS t30 FROM events),"
    " w AS (SELECT value, unnest([t30, t30 - 1800]) AS window_epoch FROM ev)"
    " SELECT window_epoch, count(*) AS n_events,"
    " round(sum(value), 4) AS sum_value FROM w GROUP BY window_epoch",
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


@register(
    "evt_gapfill",
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
    " FROM grid g LEFT JOIN counts c ON g.w = c.w",
)
def _evt_gapfill(spark, sf_dir):
    out = gapfill_hourly(_t(spark, sf_dir, "events"))
    return out.select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


@register(
    "evt_sessionize",
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
    " FROM sess GROUP BY user_id, session_id",
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


@register(
    "evt_funnel",
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
    " UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s3)",
)
def _evt_funnel(spark, sf_dir):
    return funnel_counts(_t(spark, sf_dir, "events"))


@register(
    "evt_retention",
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
    " GROUP BY cohort_week, week_offset",
)
def _evt_retention(spark, sf_dir):
    r = retention_cohorts(_t(spark, sf_dir, "events"))
    return r.select(
        F.col("cohort_week").cast("long").alias("cohort_epoch"),
        "week_offset",
        "n_users",
    )


@register(
    "evt_anomaly",
    "WITH z AS (SELECT event_id, user_id, value,"
    " round((value - avg(value) OVER (PARTITION BY user_id))"
    "  / stddev_samp(value) OVER (PARTITION BY user_id), 4) + 0"
    "  AS zscore"
    " FROM events)"
    " SELECT event_id, user_id, value, zscore,"
    " coalesce(abs(zscore) > 3.0, false) AS is_anomaly FROM z",
)
def _evt_anomaly(spark, sf_dir):
    """Per-user z-score outlier flags over event values — one window
    shuffle, flag computed on the ROUNDED z so the threshold
    comparison is engine-portable."""
    from eggv_spark.operators.events import zscore_anomalies

    return zscore_anomalies(_t(spark, sf_dir, "events"))


@register(
    "evt_throttle",
    "WITH r AS (SELECT event_id, user_id, ts,"
    "  row_number() OVER (PARTITION BY user_id,"
    "   date_trunc('day', ts) ORDER BY ts, event_id) AS rn"
    " FROM events)"
    " SELECT event_id, user_id,"
    " CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch"
    " FROM r WHERE rn <= 2",
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


@register(
    "evt_streaks",
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
    " count(*) AS n_streaks FROM s GROUP BY user_id",
)
def _evt_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user
    (gaps-and-islands over calendar days, two shuffles total)."""
    from eggv_spark.operators.events import activity_streaks

    return activity_streaks(_t(spark, sf_dir, "events"))


@register(
    "evt_user_journey",
    "WITH r AS (SELECT user_id, event_type,"
    "  row_number() OVER (PARTITION BY user_id"
    "   ORDER BY ts, event_id) AS rn FROM events),"
    " p AS (SELECT user_id,"
    "  string_agg(event_type, ' > ' ORDER BY rn) AS path"
    "  FROM r WHERE rn <= 3 GROUP BY user_id)"
    " SELECT path, count(*) AS n_users FROM p GROUP BY path"
    " ORDER BY n_users DESC, path LIMIT 20",
)
def _evt_user_journey(spark, sf_dir):
    """Path analysis: the most common first-3 event sequences across
    users — funnel discovery with a deterministic total order."""
    from eggv_spark.operators.events import user_journey_paths

    return user_journey_paths(_t(spark, sf_dir, "events"))


@register(
    "evt_attribution",
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
    " ON p.user_id = t.user_id AND p.ts > t.ts",
)
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


@register(
    "evt_inter_event",
    "WITH g AS (SELECT user_id,"
    " CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts))"
    "  AS BIGINT)) OVER ("
    "  PARTITION BY user_id ORDER BY ts, event_id) AS gap"
    " FROM events)"
    " SELECT user_id, count(*) AS n_events,"
    " CAST(floor(avg(gap) * 10000 + 0.5) AS BIGINT)"
    "  AS avg_gap_x1e4,"
    " max(gap) AS max_gap_sec"
    " FROM g GROUP BY user_id",
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


@register(
    "evt_rfm",
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
    " FROM t",
)
def _evt_rfm(spark, sf_dir):
    """RFM segmentation of the event stream: per-user recency /
    frequency / monetary quartiles and the composite 111–444 segment
    code (events.rfm_segments)."""
    return rfm_segments(_t(spark, sf_dir, "events"))


@register(
    "evt_markov",
    "WITH p AS (SELECT event_type AS from_type,"
    "  lead(event_type) OVER (PARTITION BY user_id"
    "   ORDER BY ts, event_id) AS to_type FROM events)"
    " SELECT from_type, to_type, count(*) AS n_transitions,"
    " round(count(*) * 1.0 / sum(count(*))"
    "  OVER (PARTITION BY from_type), 6) AS p"
    " FROM p WHERE to_type IS NOT NULL"
    " GROUP BY from_type, to_type",
)
def _evt_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (events.markov_transitions) — P(next event type |
    current) with deterministic (ts, event_id) ordering."""
    from eggv_spark.operators.events import markov_transitions
    return markov_transitions(_t(spark, sf_dir, "events"))


@register(
    "evt_conversion_time",
    "WITH u AS (SELECT user_id,"
    "  min(CASE WHEN event_type = 'view' THEN ts END) AS tf,"
    "  min(CASE WHEN event_type = 'purchase' THEN ts END) AS tt"
    " FROM events GROUP BY user_id)"
    " SELECT user_id,"
    " CAST(floor(epoch(tt)) AS BIGINT)"
    "  - CAST(floor(epoch(tf)) AS BIGINT) AS latency_sec"
    " FROM u WHERE tf IS NOT NULL AND tt IS NOT NULL AND tt >= tf",
)
def _evt_conversion_time(spark, sf_dir):
    """First-view → first-purchase conversion latency per user
    (events.conversion_latency) — one conditional-min fold, no joins."""
    from eggv_spark.operators.events import conversion_latency
    return conversion_latency(_t(spark, sf_dir, "events"))


@register(
    "evt_event_rate",
    "WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hh,"
    "  count(*) AS n FROM events GROUP BY user_id, hh)"
    " SELECT user_id, count(*) AS n_active_hours,"
    " CAST(sum(n) AS BIGINT) AS n_events,"
    " round(avg(n), 4) AS events_per_hour,"
    " round(var_samp(n) / avg(n), 4) AS dispersion"
    " FROM h GROUP BY user_id",
)
def _evt_event_rate(spark, sf_dir):
    """Per-user arrival-rate profile with the overdispersion index
    (events.event_rate_stats) — Poisson-vs-bursty discriminator."""
    from eggv_spark.operators.events import event_rate_stats
    return event_rate_stats(_t(spark, sf_dir, "events"))


@register(
    "evt_ab_test",
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
    " FROM a, b",
)
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


@register(
    "evt_seasonal",
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
    " FROM d WINDOW w AS (PARTITION BY dayofweek(h), hour(h))",
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


@register(
    "evt_attribution_linear",
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
    " GROUP BY touch_id",
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


@register(
    "evt_changepoint",
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
    " FROM r WHERE rk = 1",
)
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


@register(
    "evt_survival_km",
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
    " FROM st",
)
def _evt_survival_km(spark, sf_dir):
    """Kaplan–Meier time-to-conversion curve (signup → purchase,
    right-censored at the corpus max ts) — product-limit estimator
    as exp of a cumulative log window over the per-day rollup
    (events.km_survival)."""
    from eggv_spark.operators.events import km_survival

    return km_survival(_t(spark, sf_dir, "events"))


@register(
    "evt_cohort_ltv",
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
    " FROM w JOIN sizes ON w.cohort = sizes.cohort",
)
def _evt_cohort_ltv(spark, sf_dir):
    """Cohort LTV triangle: customers cohort by first order month,
    cumulative revenue per cohort member at each month of age —
    integer-cents window sums so the cumulative is bit-exact in both
    engines (events.cohort_ltv)."""
    from eggv_spark.operators.events import cohort_ltv

    return cohort_ltv(_t(spark, sf_dir, "orders"))


@register(
    "evt_burstiness",
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
    " FROM gaps WHERE gap IS NOT NULL GROUP BY t",
)
def _evt_burstiness(spark, sf_dir):
    """Goh–Barabási burstiness + CV + Fano factor of inter-event
    gaps per event type — integer epoch-second gaps, one lag window
    + one moments pass (events.burstiness_stats)."""
    from eggv_spark.operators.events import burstiness_stats

    return burstiness_stats(_t(spark, sf_dir, "events"))


@register(
    "evt_periodogram",
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
    " FROM px",
)
def _evt_periodogram(spark, sf_dir):
    """Discrete periodogram (8 integer frequencies) of the daily
    event-count series per type — seasonality detection as paired
    cos/sin conditional aggregates, one map-side pass over the daily
    rollup (events.periodogram)."""
    from eggv_spark.operators.events import periodogram

    return periodogram(_t(spark, sf_dir, "events"))


@register(
    "evt_markov_entropy",
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
    "  AS normalized_entropy FROM a",
)
def _evt_markov_entropy(spark, sf_dir):
    """Entropy rate of the first-order user-journey Markov chain +
    its ln(k)-normalized form — one scalar for journey
    predictability (events.markov_entropy_rate)."""
    from eggv_spark.operators.events import markov_entropy_rate

    return markov_entropy_rate(_t(spark, sf_dir, "events"))


_ACTIVE_USERS_SQL = """
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


@register("active_user_counts", _ACTIVE_USERS_SQL)
def _active_user_counts(spark, sf_dir):
    """DAU/WAU/MAU trailing-window actives per day over the events
    stream (events.active_user_counts): user-day dedup first, then
    explode(sequence)+equi — a pure equi shape, never a range join."""
    from eggv_spark.operators.events import active_user_counts

    return active_user_counts(
        _t(spark, sf_dir, "events"), "user_id", "ts"
    )


_FUNNEL_SQL = """
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


@register("funnel_paths", _FUNNEL_SQL)
def _funnel_paths(spark, sf_dir):
    """Top-15 six-step user journey paths over the events stream
    (events.funnel_paths): one user-grained sort_array fold, one
    map-side-combinable path count, TakeOrdered top-N."""
    from eggv_spark.operators.events import funnel_paths

    return funnel_paths(
        _t(spark, sf_dir, "events"), max_steps=6, top_n=15
    )


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


@register("acf_lags", _acf_oracle_sql(7))
def _acf_lags(spark, sf_dir):
    """Daily event-count autocorrelation at lags 1..7
    (events.acf_lags): zero-filled day spine, biased estimator — the
    time-domain seasonality readout next to evt_periodogram."""
    from eggv_spark.operators.events import acf_lags

    return acf_lags(_t(spark, sf_dir, "events"), "ts", n_lags=7)


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


@register("evt_sprt", _SPRT_SQL)
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


@register("evt_ips_value", _IPS_SQL)
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


@register("evt_event_study", _EVENT_STUDY_SQL)
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


@register("evt_ar1_halflife", _AR1_SQL)
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


@register("evt_cusum", _CUSUM_SQL)
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


@register("evt_nelson_aalen", _NELSON_AALEN_SQL)
def _evt_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of time-to-conversion
    (events.nelson_aalen) over the same signup -> purchase risk table
    km_survival uses: H(t) = sum d/n, Var = sum d/n^2, ordered-window
    prefix sums over the unique day grain (fold order total, 6dp)."""
    from eggv_spark.operators.events import nelson_aalen

    return nelson_aalen(_t(spark, sf_dir, "events"))


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


@register("evt_logrank", _LOGRANK_SQL)
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


@register("evt_qini_curve", _QINI_SQL)
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


@register("evt_seasonal_naive_error", _SEASONAL_NAIVE_SQL)
def _evt_seasonal_naive_error(spark, sf_dir):
    """Seasonal-naive MAE/MAPE backtest (events.seasonal_naive_error,
    season=7) over the daily cents series — the baseline every
    forecaster must beat and the model-free drift tripwire."""
    from eggv_spark.operators.events import seasonal_naive_error

    return seasonal_naive_error(_t(spark, sf_dir, "events"))


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


@register("evt_peaks", _PEAKS_SQL)
def _evt_peaks(spark, sf_dir):
    """Local-peak detection (events.peaks) on the daily cents series:
    strict-exceeds-both-neighbors, one lag + one lead, exact
    integers, one-step prominence."""
    from eggv_spark.operators.events import peaks

    return peaks(_t(spark, sf_dir, "events"))


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


@register("evt_growth_accounting", _GROWTH_SQL)
def _evt_growth_accounting(spark, sf_dir):
    """Growth accounting (events.growth_accounting, 7-day churn gap):
    per day, the active count decomposed into new / retained /
    resurrected — one user-day dedup, one lag per user, one day
    rollup, exact integers."""
    from eggv_spark.operators.events import growth_accounting

    return growth_accounting(_t(spark, sf_dir, "events"))


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


@register("evt_dow_anomaly", _DOW_ANOMALY_SQL)
def _evt_dow_anomaly(spark, sf_dir):
    """Day-of-week-conditioned anomaly flags (events.dow_anomaly):
    each day's cents total z-scored leave-one-out against its own
    weekday cohort — the weekly rhythm conditioned away."""
    from eggv_spark.operators.events import dow_anomaly

    return dow_anomaly(_t(spark, sf_dir, "events"))


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


@register("evt_qte", _QTE_SQL)
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
