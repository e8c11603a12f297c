"""Structured-streaming entries, each run to completion over a
bounded source.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.materialize import materialize_lazy
from eggv_spark.operators import dedupe as D
from eggv_spark.registry._shared import register, _scratch_dir, _t
from eggv_spark.registry.dedupe import _index_dedup_oracle


@register(
    "stream_dedupe",
    "SELECT DISTINCT user_id, event_type, ts FROM events",
)
def _stream_dedupe(spark, sf_dir):
    from eggv_spark.streaming import events_stream as ES

    return ES.run_available_now(
        ES.streaming_exact_dedupe(ES.read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


@register(
    "stream_view_click_join",
    "SELECT v.user_id,"
    " CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,"
    " CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch"
    " FROM events v JOIN events c ON v.user_id = c.user_id"
    " AND v.event_type = 'view' AND c.event_type = 'click'"
    " AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE",
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


@register(
    "stream_index_dedup",
    # the streaming twin collapses to the identical per-doc table
    _index_dedup_oracle(),
)
def _stream_index_dedup(spark, sf_dir):
    """Streaming twin of ddp_index_dedup: the re-tagged shard arrives
    as a STREAM (file source), each micro-batch probes the persisted
    MinHash band index via a stateless stream-static equi-join, and
    the availableNow output collapses band collisions to the same
    per-doc result the batch operator emits — so the two share one
    oracle (streaming.streaming_index_dedupe)."""
    from eggv_spark.streaming import events_stream as ES

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # materialized: the static side of a stream-static join
    # re-evaluates every micro-batch — without the cut, the whole
    # corpus would re-shingle per batch.  hash family mirrors the
    # batch twin (_ddp_index_dedup): md5 — see the negative result in
    # its docstring.
    index = D.minhash_band_index(docs).transform(materialize_lazy)
    shard_stream = (
        ES.read_documents_stream(spark, sf_dir)
        .select("doc_id", "text")
        .filter("doc_id % 10 = 0")
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    )
    matches = ES.run_available_now(
        ES.streaming_index_dedupe(shard_stream, index)
    )
    shard_ids = docs.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id")
    )
    return D.collapse_index_matches(
        matches, shard_ids, "doc_id", threshold=0.7
    )


@register(
    "stream_running_zscore",
    "WITH w AS (SELECT event_id, user_id, value,"
    "  avg(value) OVER win AS m,"
    "  stddev_samp(value) OVER win AS sd"
    " FROM events"
    " WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
    " SELECT event_id, user_id, value,"
    " round((value - m) / nullif(sd, 0.0), 4) + 0 AS zscore FROM w",
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


@register(
    "stream_static_enrich",
    "SELECT c.c_mktsegment, count(*) AS n_events,"
    " round(sum(e.value), 4) AS sum_value"
    " FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"
    " GROUP BY c.c_mktsegment",
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


@register(
    "stream_sliding_window",
    "WITH ev AS (SELECT value,"
    "  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS t30"
    "  FROM events),"
    " w AS (SELECT value, unnest([t30, t30 - 1800]) AS window_epoch"
    "  FROM ev)"
    " SELECT window_epoch, count(*) AS n_events,"
    " round(sum(value), 4) AS sum_value FROM w GROUP BY window_epoch",
)
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


@register(
    "stream_tumbling_window",
    "SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,"
    " count(*) AS n_events, round(sum(value), 4) AS sum_value"
    " FROM events GROUP BY 1",
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


@register(
    "stream_late_data",
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
    " GROUP BY 1",
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


@register(
    "stream_user_totals",
    "SELECT user_id, count(*) AS n_events,"
    " round(sum(value), 4) AS sum_value FROM events GROUP BY user_id",
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


@register(
    "stream_session_windows",
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
    " FROM sess GROUP BY user_id, sid",
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


@register(
    "stream_cdc_apply",
    "SELECT o_orderkey, round(o_totalprice, 2) AS price"
    " FROM orders WHERE o_orderkey % 10 <> 0"
    " UNION ALL"
    " SELECT o_orderkey, round(o_totalprice, 2) * 2"
    " FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0"
    " UNION ALL"
    " SELECT o_orderkey + 1000000000, round(o_totalprice, 2)"
    " FROM orders WHERE o_orderkey % 10 = 3",
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


@register(
    "stream_incremental_agg",
    "SELECT o_custkey, count(*) AS n_orders,"
    " round(sum(round(o_totalprice, 2)), 2) AS total_price"
    " FROM orders GROUP BY o_custkey",
)
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


@register("stream_cusum", _STREAM_CUSUM_SQL)
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


@register("stream_growth_states", _STREAM_GROWTH_SQL)
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
