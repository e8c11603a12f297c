"""Structured Streaming variants of the event analytics operators
(extension, SURVEY §7.4: the reference is batch-only; streams are a
first-class extension here).

Each builder returns a streaming DataFrame; ``run_available_now``
executes it over the existing files with the availableNow trigger and
returns the materialized result — which makes the streaming path
testable in batch-style tests and driver queries, while the same
plan runs unbounded in production (swap trigger + sink).

Watermarks bound state: late events beyond the watermark are dropped
instead of growing executor state without limit — mandatory at
100 TB/day stream volumes.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming scan of the events parquet (in
    production this would be Kafka/file-drop; the plan is identical).

    The stream schema is taken from the parquet footer (batch reader
    metadata probe — no data pass) and ``ts`` is normalized to
    TIMESTAMP (session-timezone) exactly like the batch side
    (readers.read_table): TIMESTAMP(NANOS) footers are read as raw
    nanosecond longs and converted after the scan; TIMESTAMP_NTZ
    footers are cast (watermarks require the timezone-aware type).
    """
    from pyspark.sql.types import TimestampNTZType

    from eggv_spark.sources.readers import _nanos_timestamp_columns

    path = f"{sf_dir}/events.parquet"
    nanos = "ts" in _nanos_timestamp_columns(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # The file-stream source requires a directory: stream the sf_dir
    # with a glob pinned to the events file.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def streaming_tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    ``operators.events.tumbling_window_counts`` (same F.window
    operator, same semantics on closed windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked HOPPING-window counts — the streaming twin of
    ``operators.events.sliding_window_counts``: each event lands in
    ``window/slide`` overlapping windows (Spark expands the copies
    BEFORE the shuffle, so state is per-window aggregates, never
    buffered raw events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def streaming_static_enrich(
    events: DataFrame, dim: DataFrame, on: "tuple[str, str]"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    joins a STATIC dimension — the standard lookup pattern (events ×
    user/account/geo dims).  No watermark needed: the static side
    carries no event time, so there is no join state to bound; Spark
    re-plans the static side per micro-batch, and a broadcast-sized
    dim never shuffles the stream."""
    left, right = on
    return events.join(
        F.broadcast(dim), events[left] == dim[right], "left"
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows via the native ``session_window``
    operator — the streaming-safe formulation of
    ``operators.events.sessionize`` (state bounded by the watermark).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def streaming_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: per-user running event count + value
    sum, state carried across micro-batches.

    This is the arbitrary-state extension point the built-in windowed
    aggregations can't express (e.g. per-entity counters, ML feature
    state, CDC merge).  State is one small tuple per user — bounded
    by key cardinality, not stream length; add a timeout
    (``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle keys
    on unbounded key spaces.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update_totals(key, pdf_iter, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    streaming_df: DataFrame, name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (Trigger.AvailableNow) into an in-memory sink and return the
    result as a batch DataFrame.  Stateful ``applyInPandasWithState``
    plans require ``output_mode='update'``.

    Stateless plans (no aggregation) reject ``complete``; rather than
    make every caller know which plans aggregate, the unsupported-mode
    error falls back to ``append`` — the only valid mode there.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    name = name or f"stream_{uuid.uuid4().hex[:8]}"

    def _start(mode: str):
        return (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix=f"eggv-ckpt-{name}-"),
            )
            .trigger(availableNow=True)
            .start()
        )

    try:
        query = _start(output_mode)
    except AnalysisException as e:
        if output_mode == "complete" and "STREAMING_OUTPUT_MODE" in str(e):
            query = _start("append")
        else:
            raise
    query.awaitTermination()
    return streaming_df.sparkSession.table(name)


def streaming_variant_processing(
    spark: SparkSession, gvf_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming twin of the GVF processing chain: the SAME
    stateless operator (``operators.variants.process_gvf``) applied
    to a file-source stream — new chromosome files entering
    ``gvf_dir`` are processed incrementally as they land (the
    streaming version of the reference's as_completed per-chromosome
    loop, ``eggv/pipeline.py:177``).

    Works because the whole §2.2 chain is stateless row-wise
    expression work: batch and streaming share one code path, so
    parity tests on the batch operator cover the streaming plan.
    """
    from eggv_spark.operators.variants import process_gvf
    from eggv_spark.schemas import GVF_SCHEMA

    raw = (
        spark.readStream.schema(GVF_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("sep", "\t")
        .option("comment", "#")
        .csv(gvf_dir)
    )
    return process_gvf(raw)


def streaming_exact_dedupe(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication of redelivered events: one row
    per (keys..., event_time), e.g. at-least-once source retries.

    State is bounded ONLY because the watermarked event-time column
    is part of the ``dropDuplicates`` subset — Spark evicts
    dropDuplicates state strictly by the event-time values stored in
    the subset, so a subset WITHOUT the event-time column grows
    without bound on an unbounded stream.  For first-per-key
    semantics regardless of timestamp, use
    :func:`streaming_dedupe_within_watermark` instead.

    Deterministic output (the exact distinct key+time set), so the
    batch oracle is a plain ``SELECT DISTINCT``.
    """
    return (
        events.withWatermark(event_time, watermark)
        .dropDuplicates([*keys, event_time])
        .select(*keys, event_time)
    )


def streaming_dedupe_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """First arrival per key, state bounded by the watermark via
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): a duplicate
    arriving within the watermark delay of the first occurrence is
    dropped; one arriving later re-emits the key.  That re-emission
    is the price of bounded state — WHICH rows appear depends on
    micro-batch boundaries, so this variant is pytest-covered rather
    than value-oracled."""
    return (
        events.withWatermark(event_time, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )


def streaming_view_click_join(
    views: DataFrame,
    clicks: DataFrame,
    within: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same
    user's views at most ``within`` before it.  Both sides carry
    watermarks and the join condition bounds event-time distance, so
    Spark can expire buffered state — the two requirements that make
    an unbounded stream-stream join feasible (without them state
    grows forever)."""
    v = (
        views.select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
        ).withWatermark("view_ts", watermark)
    )
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        ).withWatermark("click_ts", watermark)
    )
    return v.join(
        c,
        F.expr(
            "v_user = c_user AND click_ts > view_ts "
            f"AND click_ts <= view_ts + interval {within}"
        ),
    ).select(
        F.col("v_user").alias("user_id"), "view_ts", "click_ts"
    )


def streaming_running_zscore(events: DataFrame) -> DataFrame:
    """Stateful streaming anomaly scoring via
    ``applyInPandasWithState``: each event's z-score against its
    user's RUNNING mean/stddev over all events seen so far (prefix
    stats, sample stddev, current row inclusive) — the online twin of
    ``events.zscore_anomalies``'s full-history scan, and exactly a
    batch ``avg/stddev_samp OVER (PARTITION BY user ORDER BY ts ROWS
    UNBOUNDED PRECEDING)`` window, which is what the oracle checks.

    State per user is three scalars (n, sum, sum-of-squares) —
    bounded by key cardinality, not stream length.  Rows are ordered
    by (ts, event_id) within each poll so scores are deterministic;
    across micro-batches the operator assumes event-time-ordered
    arrival per key (pair with a watermark + sorted file drops, the
    standard contract for prefix-state operators).  The first event
    of a user (stddev undefined) and zero-variance prefixes score
    null.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_id long, user_id long, value double, zscore double"
    )
    state_schema = "n long, s double, s2 double"

    def score(key, pdf_iter, state: GroupState):
        n, s, s2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            out = {"event_id": [], "user_id": [], "value": [], "zscore": []}
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                v = float(v)
                n += 1
                s += v
                s2 += v * v
                z = None
                if n > 1:
                    var = (s2 - s * s / n) / (n - 1)
                    sd = math.sqrt(var) if var > 0 else 0.0
                    if sd > 0:
                        z = round((v - s / n) / sd, 4)
                out["event_id"].append(eid)
                out["user_id"].append(key[0])
                out["value"].append(v)
                out["zscore"].append(z)
            yield pd.DataFrame(out)
        state.update((n, s, s2))

    return events.groupBy("user_id").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cdc_sink(
    stream_changes: DataFrame,
    path: str,
    keys: "list[str]",
    seq_col: str,
    checkpoint: str,
    op_col: str = "op",
) -> None:
    """Streaming CDC → maintained-table sink: every micro-batch of
    I/U/D change rows merges into a parquet table via ``foreachBatch``
    + the batch :func:`~eggv_spark.operators.tableops.cdc_apply`
    (last op per key wins within a batch; D removes the row).

    Ordering contract: correct under LOG-ORDERED delivery — each
    key's changes arrive in nondecreasing ``seq_col`` across
    micro-batches, which is exactly what real CDC transports
    (binlog/WAL readers, Kafka keyed topics) guarantee per key.  The
    table keeps no tombstones, so an out-of-order late update after a
    delete would resurrect the row — by design, matching the batch
    operator's contract.

    Exactly-once to the table: checkpointed batch replay + idempotent
    per-key merge + side-directory swap write (never an in-place
    overwrite of a directory the merge is reading).  Runs with
    Trigger.AvailableNow and BLOCKS until input drains.
    """
    import os
    import shutil

    from eggv_spark.operators.tableops import cdc_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(path):
            current = spark.read.parquet(path)
        else:
            current = batch_df.drop(op_col, seq_col).limit(0)
        merged = cdc_apply(current, batch_df, keys, seq_col, op_col)
        tmp = path.rstrip("/") + "__upserting"
        merged.write.mode("overwrite").parquet(tmp)
        old = path.rstrip("/") + "__replaced"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old)

    (
        stream_changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: "list[str]",
    checkpoint: str,
) -> None:
    """Streaming → maintained-table sink: every micro-batch MERGES
    into a parquet table by key via ``foreachBatch`` + the batch
    ``merge_upsert`` operator — the plain-parquet stand-in for
    MERGE INTO against a table format, and the standard pattern for
    keeping a serving table current from a stream.

    Exactly-once to the table: the checkpoint makes batch replay
    idempotent AT THE BATCH LEVEL, and the upsert makes replaying a
    batch a no-op at the ROW level (same keys overwrite the same
    rows), so crash-restart never duplicates.  The merged result is
    written to a side directory and swapped in (rename-rename-delete,
    the compact_files discipline) — never an in-place overwrite of a
    directory that the merge itself is still reading.

    Runs with Trigger.AvailableNow and BLOCKS until input drains.
    """
    import os
    import shutil

    from eggv_spark.operators.tableops import merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(path):
            current = spark.read.parquet(path)
            merged = merge_upsert(current, batch_df, keys)
        else:
            merged = batch_df
        tmp = path.rstrip("/") + "__upserting"
        merged.write.mode("overwrite").parquet(tmp)
        old = path.rstrip("/") + "__replaced"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old)

    (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_incremental_agg_sink(
    stream: DataFrame,
    path: str,
    keys: "list[str]",
    checkpoint: str,
    count_col: str = "n_rows",
    sum_cols: "dict[str, str] | None" = None,
) -> None:
    """Streaming materialized-aggregate sink: every micro-batch folds
    into a per-key aggregate table via ``foreachBatch`` + the batch
    :func:`~eggv_spark.operators.tableops.incremental_agg_merge` —
    the streaming twin of the batch incremental maintenance path, and
    the standard way to keep a 100 TB-scale rollup fresh without
    nightly recomputes.

    Exactly-once to the table: checkpointed replay + swap-write (the
    merge never overwrites a directory it is reading).  Counts/sums
    are algebraic so replay of a completed batch after a crash is the
    only duplication risk — foreachBatch's batch-id checkpointing is
    precisely the guard.  Runs with Trigger.AvailableNow and BLOCKS
    until input drains."""
    import os
    import shutil

    from eggv_spark.operators.tableops import incremental_agg_merge

    sum_cols = dict(sum_cols or {})

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(path):
            current = spark.read.parquet(path)
        else:
            agg_schema = batch_df.groupBy(*keys).agg(
                F.count("*").alias(count_col),
                *[F.sum(src).alias(out) for out, src in sum_cols.items()],
            )
            current = agg_schema.limit(0)
        merged = incremental_agg_merge(
            current, batch_df, keys, count_col=count_col, sum_cols=sum_cols
        )
        tmp = path.rstrip("/") + "__upserting"
        merged.write.mode("overwrite").parquet(tmp)
        old = path.rstrip("/") + "__replaced"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)

    (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming scan of the documents parquet — the
    continuously-crawled corpus shard feed (in production: a file
    drop or Kafka topic of newly fetched pages; the plan is
    identical)."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_index_dedupe(
    docs_stream: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming half of incremental corpus dedup: each micro-batch
    of newly crawled docs is shingled, MinHash-signed, banded, and
    probed against the PERSISTED band index via a stream-static
    equi-join — the continuous form of
    ``dedupe.dedupe_against_index``.

    Deliberately STATELESS (pure per-row math + stream-static join):
    no watermark, no state store, so the stage scales like any map
    and never accumulates memory.  Emits one row per band collision
    (doc_id, old_id, est_jaccard); collapsing collisions to a
    per-doc verdict is the downstream batch step
    (``dedupe.collapse_index_matches``) or a keyed aggregation if a
    streaming verdict is needed.

    The static side of a stream-static join is re-evaluated EVERY
    micro-batch: pass an index that is persisted (``.persist()``) or
    already materialized on disk, or the whole corpus re-shingles
    per batch.
    """
    from eggv_spark.operators.dedupe import index_probe_matches

    return index_probe_matches(docs_stream, index, id_col=id_col)


def streaming_user_profile_tws(events: DataFrame) -> DataFrame:
    """Per-user running profile via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful-processing API (the successor to
    ``applyInPandasWithState``: named state variables with explicit
    lifecycle instead of one packed tuple, plus timers/TTL when
    needed).  State per user is three scalars (count, value sum,
    value max) in a ValueState; each micro-batch emits the user's
    UPDATED totals, so the latest row per user equals the batch
    aggregate.  Bounded by key cardinality, not stream length.

    Environment note: transformWithState needs (a) the RocksDB state
    store provider (set ``spark.sql.streaming.stateStore.
    providerClass``) and (b) a working ``google.protobuf`` for its
    Python driver-worker channel.  This container ships a broken
    protobuf, so the operator is exercised by a skip-gated test
    rather than a registry entry; ``streaming_running_zscore``
    (applyInPandasWithState) covers the stateful-streaming contract
    in the oracle-checked registry."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class _Profile(StatefulProcessor):
        def init(self, handle):
            self._stats = handle.getValueState(
                "stats", "n long, s double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._stats.exists():
                n, s, mx = self._stats.get()
                if mx is not None and mx != mx:
                    # NaN is the stored no-max-yet sentinel (the state
                    # schema needs a double); normalize it back to
                    # None so a later real value wins the comparison
                    # instead of `m > nan` = False pinning NaN forever
                    mx = None
            else:
                n, s, mx = 0, 0.0, None
            for pdf in rows:
                vals = pdf["value"].dropna()
                n += len(pdf)
                s += float(vals.sum())
                if len(vals):
                    m = float(vals.max())
                    mx = m if mx is None or m > mx else mx
            self._stats.update((n, s, mx if mx is not None else float("nan")))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(s, 4)],
                    "max_value": [mx],
                }
            )

        def close(self):
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Profile(),
        outputStructType=(
            "user_id long, n_events long, sum_value double,"
            " max_value double"
        ),
        outputMode="Update",
        timeMode="None",
    )


def streaming_cusum(
    events: DataFrame,
    target_cents: int = 16000,
    slack_cents: int = 0,
    threshold_cents: int = 100000,
) -> DataFrame:
    """Stateful streaming CUSUM per user — the online twin of
    ``events.cusum_chart``'s batch prefix-minimum rewrite: each
    event's value quantizes to integer cents and feeds the two
    one-sided recursions

        S⁺ = max(0, S⁺ + x − T − k),   S⁻ = max(0, S⁻ + T − k − x)

    held directly as per-key state (two BIGINT scalars — on a
    stream the recursion IS the cheap form; the prefix-min identity
    is only needed to parallelize a batch scan).  Integer state,
    integer updates: bit-exact replay, which is why the oracle can
    be the batch window SQL over the same rows.

    Rows sort by (ts, event_id) within each poll; the operator
    assumes event-time-ordered arrival per key across batches (the
    prefix-state contract shared with streaming_running_zscore).
    Output per event: (event_id, user_id, x_cents, s_pos, s_neg,
    alarm)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_id long, user_id long, x_cents long, s_pos long,"
        " s_neg long, alarm boolean"
    )
    state_schema = "sp long, sn long"
    t_plus = int(target_cents) + int(slack_cents)
    t_minus = int(target_cents) - int(slack_cents)
    h = int(threshold_cents)

    def step(key, pdf_iter, state: GroupState):
        sp, sn = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            out = {
                "event_id": [], "user_id": [], "x_cents": [],
                "s_pos": [], "s_neg": [], "alarm": [],
            }
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                x = int(round(float(v) * 100))
                sp = max(0, sp + x - t_plus)
                sn = max(0, sn + t_minus - x)
                out["event_id"].append(eid)
                out["user_id"].append(key[0])
                out["x_cents"].append(x)
                out["s_pos"].append(sp)
                out["s_neg"].append(sn)
                out["alarm"].append(sp > h or sn > h)
            yield pd.DataFrame(out)
        state.update((sp, sn))

    return events.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_growth_states(events: DataFrame, churn_gap_days: int = 7):
    """Stateful streaming growth accounting — the online twin of
    ``events.growth_accounting``: per user, every new ACTIVE DAY is
    classified new / retained / resurrected the moment it first
    appears on the stream, with the user's last-active epoch-day as
    the entire state (one INT per key — the minimal lifecycle state
    a growth dashboard needs, bounded by user cardinality).

    Day arithmetic is whole integer days on epoch-day numbers, so
    replay is bit-exact and the oracle is the batch lag-over-user
    window SQL.  Rows sort by (ts, event_id) within each poll; the
    cross-batch contract is event-time-ordered arrival per key (the
    prefix-state contract shared with streaming_running_zscore /
    streaming_cusum).

    Output: one row per (user, active day) — (user_id, day_epoch,
    state)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, day_epoch long, state string"
    state_schema = "last_day long"
    gap = int(churn_gap_days)

    def step(key, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            out = {"user_id": [], "day_epoch": [], "state": []}
            for ts in pdf["ts"]:
                day = pd.Timestamp(ts).normalize()
                epoch = (
                    day - pd.Timestamp("1970-01-01")
                ).days
                if last is not None and epoch == last:
                    continue  # same active day, already classified
                if last is None:
                    st = "new"
                elif epoch - last > gap:
                    st = "resurrected"
                else:
                    st = "retained"
                out["user_id"].append(key[0])
                out["day_epoch"].append(epoch)
                out["state"].append(st)
                last = epoch
            yield pd.DataFrame(out)
        if last is not None:
            state.update((last,))

    return events.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
