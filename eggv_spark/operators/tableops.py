"""Table-maintenance / data-engineering operators: unpivot (melt),
upsert merge, one-pass profiling, key-skew diagnostics.

The operational complements of a production pipeline (SURVEY §7.4
scope): reshaping for export, applying change sets to snapshots
without a mutable table format, and the observability queries you run
before choosing partitioning/salting strategies at scale.
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Melt: one row per (id, value column) — the inverse of pivot.
    Spark's native ``unpivot`` (Expand operator: rows multiply by
    len(value_cols) BEFORE any shuffle; no shuffle at all unless a
    consumer adds one)."""
    return df.unpivot(list(ids), list(value_cols), var_name, value_name)


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Upsert semantics without a mutable table format: rows in
    ``updates`` replace same-key rows in ``current``; unmatched rows
    from both sides survive.  (The batch equivalent of MERGE INTO for
    plain-parquet pipelines — rewrite the partition, don't mutate.)

    One shuffle on the key; implemented as updates ∪ (current ANTI
    updates), so the update side is never joined row-by-row against
    the full snapshot columns.
    """
    survivors = current.join(updates.select(*keys), list(keys), "left_anti")
    return updates.unionByName(survivors)


def cdc_apply(
    current: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change stream to a snapshot: ``changes`` carries
    insert/update/delete rows (``op_col`` in I/U/D) with a monotonic
    ``seq_col``; the LAST change per key wins (row_number over the
    key ordered by seq desc — ties broken by preferring the delete,
    matching "delete beats a concurrent update" replication
    semantics), I/U replace the snapshot row, D removes it.

    Two exchanges at any scale: the per-key latest-change window
    (partitioned on the key) and the snapshot anti-join (AQE
    broadcasts the change side when the batch is small — the common
    CDC case — making the snapshot side shuffle-free).  The batch
    twin of the streaming upsert sink's foreachBatch merge.
    """
    klist = list(keys)
    w = Window.partitionBy(*klist).orderBy(
        F.col(seq_col).desc(),
        # at equal seq the delete wins deterministically
        F.when(F.col(op_col) == "D", 0).otherwise(1).asc(),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    survivors = current.join(latest.select(*klist), klist, "left_anti")
    return survivors.unionByName(upserts)


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-PASS column profiling: null count, exact distinct count,
    min/max (as strings) for every requested column, computed in a
    single aggregate over the table (never one scan per column at
    100 TB), then unpivoted to one row per column."""
    aggs: list[Column] = [F.count("*").alias("_n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one_row = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n_rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in cols
    ]
    return one_row.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def key_distribution(
    df: DataFrame, keys: Sequence[str], top_n: int = 10
) -> DataFrame:
    """Skew diagnostic: the ``top_n`` heaviest key groups with their
    share of total rows — the query you run BEFORE deciding between
    plain shuffle, AQE skew handling, and explicit salting."""
    total = df.count()
    counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    top = counts.orderBy(F.col("n_rows").desc(), *[F.col(k).asc() for k in keys]).limit(top_n)
    return top.withColumn(
        "share", F.round(F.col("n_rows") / F.lit(float(total)), 4)
    )


def _hadoop_fs(spark, path: str):
    """Resolve ``path``'s Hadoop FileSystem (file:/hdfs://s3a:...).
    Returns (fs, jpath, mkpath) where ``mkpath`` builds further
    ``org.apache.hadoop.fs.Path`` objects on the same JVM."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    jpath = hpath(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, hpath


def _fs_rename(fs, src, dst) -> None:
    # Hadoop FileSystem.rename reports failure as False, not an
    # exception — surface it, a silent no-op here corrupts the swap.
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def incremental_append(
    src: DataFrame, sink_path: str, watermark_col: str, fmt: str = "parquet"
) -> int:
    """High-water-mark incremental ingestion: append only src rows
    with ``watermark_col`` strictly above the sink's current max —
    the idempotent pull pattern for periodic batch ingestion (re-runs
    ingest nothing; late data below the mark needs the streaming
    path's watermark semantics instead).  Returns rows appended.

    The high-water-mark read is a single max() over the sink's
    watermark column — a column-pruned, stats-answerable scan."""
    from pyspark.errors import AnalysisException

    spark = src.sparkSession
    try:
        current = (
            spark.read.format(fmt).load(sink_path).agg(
                F.max(watermark_col)
            ).first()[0]
        )
    except AnalysisException as exc:
        # ONLY "sink doesn't exist yet" means full load; any other
        # failure (transient FS error, corrupt footer) must raise —
        # treating it as "empty sink" would re-append everything and
        # duplicate the table.
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        current = None
    fresh = src if current is None else src.filter(F.col(watermark_col) > current)
    n = fresh.count()
    if n:
        fresh.write.mode("append").format(fmt).save(sink_path)
    return n


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    effective_col: str = "effective_ts",
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply an update batch to a
    versioned dimension, closing changed rows and opening new ones.

    ``dim`` carries (key, attrs..., valid_from, valid_to) with open
    rows having ``valid_to IS NULL``; ``updates`` carries (key,
    attrs..., effective_ts).  Changed keys get their open row closed
    at the update's effective time and a new open row appended;
    BRAND-NEW keys (no existing dimension row) insert as new open
    versions; unchanged and unmatched rows pass through untouched.
    Pure DataFrame transform (no table-format dependency): one
    broadcast-able join against the update batch — the dimension side
    streams, which is what makes SCD2 viable on a billion-row
    dimension.  (New-key detection anti-joins the update batch
    against the dimension's KEY column only — a column-pruned scan,
    the one extra pass new-key inserts inherently cost.)
    """
    upd = updates.select(
        F.col(key).alias("_k"),
        *[F.col(a).alias(f"_new_{a}") for a in attrs],
        F.col(effective_col).alias("_eff"),
    )
    joined = dim.join(F.broadcast(upd), dim[key] == F.col("_k"), "left")
    change = F.col("_k").isNotNull() & F.col("valid_to").isNull() & (
        ~F.struct(*[F.col(a) for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"_new_{a}").alias(a) for a in attrs])
        )
    )
    # existing rows: close the open row of changed keys
    kept = joined.select(
        key,
        *attrs,
        "valid_from",
        F.when(change, F.col("_eff")).otherwise(F.col("valid_to")).alias("valid_to"),
        change.alias("_changed"),
    )
    # new open versions for changed keys
    opened = (
        kept.filter("_changed")
        .join(upd, kept[key] == upd["_k"])
        .select(
            key,
            *[F.col(f"_new_{a}").alias(a) for a in attrs],
            F.col("_eff").alias("valid_from"),
            F.lit(None).cast(kept.schema["valid_to"].dataType).alias("valid_to"),
        )
    )
    # brand-new keys: no dimension row at all -> insert as open rows
    inserted = (
        upd.join(dim.select(F.col(key).alias("_k")), "_k", "left_anti")
        .select(
            F.col("_k").alias(key),
            *[F.col(f"_new_{a}").alias(a) for a in attrs],
            F.col("_eff").alias("valid_from"),
            F.lit(None).cast(kept.schema["valid_to"].dataType).alias("valid_to"),
        )
    )
    return kept.drop("_changed").unionByName(opened).unionByName(inserted)


def validate_constraints(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: str | None = None,
    ranges: "dict[str, tuple[float, float]] | None" = None,
    accepted: "dict[str, Sequence[str]] | None" = None,
) -> DataFrame:
    """One-PASS data-quality validation (the Deequ pattern): every
    declared constraint becomes an aggregate expression in a SINGLE
    scan+agg, then unpivots to one row per constraint with its
    violation count.  Never one job per check at 100 TB.

    Semantics (each documented where it bites):
    - ``not_null``: violations = rows where the column IS NULL.
    - ``unique``: violations = non-null rows minus distinct values
      (nulls are not counted as duplicates of each other — SQL
      ``count(DISTINCT ..)`` semantics, matched by every engine).
    - ``ranges``: violations = non-null values outside [lo, hi]
      (nulls are the not_null check's job, not this one's).
    - ``accepted``: violations = non-null values outside the set.
    """
    aggs: list[Column] = [F.count("*").alias("_n_rows")]
    names: list[str] = []

    def add(name: str, expr: Column) -> None:
        names.append(name)
        aggs.append(expr.cast("long").alias(f"_v_{len(names)}"))

    for c in not_null:
        add(f"not_null({c})",
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)))
    if unique:
        add(f"unique({unique})",
            F.count(F.col(unique)) - F.count_distinct(F.col(unique)))
    for c, (lo, hi) in (ranges or {}).items():
        add(f"range({c},[{lo},{hi}])",
            F.sum(F.when(~F.col(c).between(lo, hi), 1).otherwise(0)))
    for c, vals in (accepted or {}).items():
        add(f"accepted({c})",
            F.sum(
                F.when(F.col(c).isNotNull() & ~F.col(c).isin(*vals), 1)
                .otherwise(0)
            ))

    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("constraint"),
            F.coalesce(F.col(f"_v_{i + 1}"), F.lit(0)).alias("violations"),
            (F.coalesce(F.col(f"_v_{i + 1}"), F.lit(0)) == 0).alias("passed"),
        )
        for i, name in enumerate(names)
    ]
    return one.select(F.explode(F.array(*rows)).alias("c")).select("c.*")


#: Magic masks for the parallel bit-spread: step k doubles the gap
#: between surviving bit groups (16, 8, 4, 2, 1).
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def zorder_key(x: Column, y: Column, bits: int = 31) -> Column:
    """Z-order (Morton) key: bit-interleave two non-negative ints —
    ``bits`` low bits each — into one 2·bits-bit locality key.  Rows
    close in (x, y) land close in zkey, so range-clustering on the
    key gives multi-column data skipping from ONE sort order (the
    min/max footer of each file covers a tile in (x, y) space, where
    a lexicographic sort covers a stripe).

    TRUNCATION CAVEAT: only the low ``bits`` bits of each input
    participate — values >= 2**bits alias onto the same key and
    clustering locality silently degrades.  The default (31, the max
    that fits two keys in a signed 64-bit result) covers keys to
    ~2.1B; a caller whose keys can exceed 2**bits must raise ``bits``.

    The interleave is the O(log bits) parallel bit-spread (5
    shift/or/mask steps per coordinate — constant ~30 integer ops
    regardless of ``bits``, vs 2·bits terms for the naive per-bit
    unroll): pure-Column, whole-stage codegen, shuffle-free, and the
    identical integer program runs in ANSI SQL for the oracle
    (:func:`zorder_key_sql`).
    """
    mask = (1 << bits) - 1

    def spread(c: Column) -> Column:
        s = c.cast("long").bitwiseAND(F.lit(mask))
        for shift, m in _SPREAD_STEPS:
            s = s.bitwiseOR(F.shiftleft(s, shift)).bitwiseAND(F.lit(m))
        return s

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def zorder_key_sql(x: str, y: str, bits: int = 31) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key` — the exact same
    parallel bit-spread program, for oracle parity."""
    mask = (1 << bits) - 1

    def spread(col: str) -> str:
        expr = f"({col} & {mask})"
        for shift, m in _SPREAD_STEPS:
            expr = f"(({expr} | ({expr} << {shift})) & {m})"
        return expr

    return f"({spread(x)} | ({spread(y)} << 1))"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Table reconciliation between two snapshots: classify every key
    as added / removed / changed / unchanged — the anti-entropy
    check behind replication audits, CDC validation, and "did the
    backfill do what we think" reviews.

    Each side is first collapsed to (key, md5-of-compare-columns), so
    the full-outer join that follows carries a 32-char digest per row
    instead of the full row body — at 100 TB the shuffle moves keys
    and hashes, never the wide columns.  One shuffle per side (the
    join's co-partitioning); with both snapshots bucket-written on
    the key it would be zero.  Nulls in compare columns hash via a
    sentinel so NULL != '' and a NULL-to-value change is detected.
    """
    keys = list(key_cols)

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
                    for c in compare_cols
                ],
            )
        )
        return df.select(*keys, h.alias(alias))

    joined = hashed(old, "_h_old").join(
        hashed(new, "_h_new"), keys, "full_outer"
    )
    status = (
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") != F.col("_h_new"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(*keys, status.alias("diff_status"))


def observed_write_metrics(
    df: DataFrame, path: str, value_col: str, fmt: str = "parquet"
) -> dict:
    """Write a table while collecting row-level quality metrics IN
    THE SAME JOB via ``Observation`` — zero extra scans, zero extra
    shuffles (the metrics piggyback on the write's single pass).
    The production pattern for emit-metrics-on-ingest: a separate
    validation query would double the IO at 100 TB.

    Returns {n_rows, n_nulls, min, max} for ``value_col``.
    """
    from pyspark.sql import Observation

    obs = Observation("write_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col(value_col).isNull(), 1).otherwise(0)
        ).alias("n_nulls"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
    observed.write.mode("overwrite").format(fmt).save(path)
    return obs.get


def vacuum_orphans(base_dir: str, spark=None) -> dict[str, list[str]]:
    """Remove orphaned work directories left by crashed swap
    rewrites (the ``__upserting`` staging dirs and ``__replaced``
    backups; the streaming sinks' swap write is
    ``streaming.events_stream._swap_write``) — the retention/vacuum
    complement of the crash-safe swap discipline: a crash leaves the
    table recoverable AND leaves debris; this reclaims the debris once
    the table is confirmed healthy.

    Safety valve: a ``__replaced`` backup whose live table path does
    NOT exist is the only surviving copy of the table (the swap
    crashed between "rename live aside" and "promote new") — it is
    never deleted; it is reported instead, so the caller restores it
    (rename it back) before vacuuming again.

    Returns ``{"removed": [...], "needs_recovery": [...]}``.

    With a session the walk goes through the Hadoop FileSystem API
    (hdfs://, s3a://, file:); without one it is a driver-local
    ``os.walk``.
    """
    suffixes = ("__upserting", "__replaced")

    def is_unsafe(full: str, exists) -> bool:
        if not full.endswith("__replaced"):
            return False
        return not exists(full[: -len("__replaced")])

    removed: list[str] = []
    needs_recovery: list[str] = []
    if spark is not None:
        fs, jbase, hpath = _hadoop_fs(spark, base_dir)

        def walk(jdir):
            for status in fs.listStatus(jdir):
                if not status.isDirectory():
                    continue
                jp = status.getPath()
                full = jp.toUri().getPath()
                if full.endswith(suffixes):
                    if is_unsafe(full, lambda p: fs.exists(hpath(p))):
                        needs_recovery.append(full)
                    else:
                        fs.delete(jp, True)
                        removed.append(full)
                else:
                    walk(jp)

        walk(jbase)
    else:
        import shutil

        for root, dirs, _ in os.walk(base_dir):
            for d in list(dirs):
                if d.endswith(suffixes):
                    full = os.path.join(root, d)
                    dirs.remove(d)
                    if is_unsafe(full, os.path.exists):
                        needs_recovery.append(full)
                    else:
                        shutil.rmtree(full)
                        removed.append(full)
    return {
        "removed": sorted(removed),
        "needs_recovery": sorted(needs_recovery),
    }


def partition_balance(
    df: DataFrame, key: str, n_buckets: int = 32
) -> DataFrame:
    """Pre-flight shuffle-balance report: bucket rows by the portable
    md5 hash of ``key`` mod ``n_buckets`` (a stand-in for the shuffle
    partitioner) and report each bucket's row count and share, plus
    the global skew factor (max bucket / mean bucket — 1.0 is perfect
    balance).  This is the diagnostic you run BEFORE keying a 100 TB
    shuffle on a candidate column: a skew factor of 5 on 32 buckets
    predicts a straggler reducer at any partition count.  One
    map-side-combined aggregation; the skew scalar rides a 1-row
    broadcast."""
    from eggv_spark.operators.dedupe import base_hash

    per_bucket = (
        df.select(
            (base_hash(F.col(key).cast("string")) % n_buckets)
            .cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"))
    )
    stats = per_bucket.agg(
        F.max("n_rows").alias("_mx"), F.avg("n_rows").alias("_avg"),
        F.sum("n_rows").alias("_tot"),
    )
    return (
        per_bucket.crossJoin(F.broadcast(stats))
        .select(
            "bucket",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_tot"), 6).alias("share"),
            F.round(F.col("_mx") / F.col("_avg"), 4).alias("skew_factor"),
        )
    )


def incremental_agg_merge(
    current: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    count_col: str = "n_rows",
    sum_cols: Mapping[str, str] | None = None,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a delta
    batch into an existing per-key aggregate table WITHOUT re-reading
    the base data — the pattern that turns a 100 TB nightly recompute
    into a delta-sized merge.

    Works for ALGEBRAIC aggregates (count, sum — and avg as sum/count
    at read time): the delta is pre-aggregated per key (map-side
    combine over the small batch), then full-outer-merged with the
    current aggregate, coalescing each side to 0.  Broadcast the delta
    side when it is batch-sized.  Non-algebraic aggregates (exact
    distinct, median) need sketch columns instead — see
    ``aggregates.approx_aggregates_graded`` for the mergeable
    sketches."""
    sum_cols = dict(sum_cols or {})
    # Delta-side measures carry a prefix: a USING full-outer join with
    # SAME-named measure columns on both sides makes `df[col]`
    # disambiguation unreliable post-analysis.
    delta_agg = delta.groupBy(*keys).agg(
        F.count("*").alias(f"_d_{count_col}"),
        *[F.sum(src).alias(f"_d_{out}") for out, src in sum_cols.items()],
    )
    joined = current.join(F.broadcast(delta_agg), list(keys), "full_outer")
    merged_cols = [
        (
            F.coalesce(F.col(c), F.lit(0))
            + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
        ).alias(c)
        for c in [count_col, *sum_cols]
    ]
    # the USING join already emits ONE coalesced key column per key
    return joined.select(*keys, *merged_cols)


def fk_audit(
    relations: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit across a star schema: for each
    (name, child, fk_col, parent, pk_col) relation, the child row
    count and the number of ORPHAN rows (fk with no matching pk —
    null fks count as orphans only if genuinely non-matching, i.e.
    they are excluded like SQL's NOT IN on non-null sets).

    Each relation costs one distinct-project of the parent key plus a
    broadcast-able anti-join; the per-relation 1-row summaries union
    into one report frame.  This is the pre-flight you run before
    trusting joins at 100 TB — a fact table with orphan keys silently
    drops rows in every inner join downstream."""
    reports = []
    for name, child, fk, parent, pk in relations:
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        orphans = child.select(fk).join(keys, fk, "left_anti")
        reports.append(
            child.agg(F.count("*").alias("n_rows")).crossJoin(
                orphans.agg(F.count("*").alias("n_orphans"))
            ).select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def table_checksum(df: DataFrame, cols: "list[str] | None" = None) -> DataFrame:
    """Order-insensitive table checksum: the SUM of every row's
    portable 32-bit content hash (md5 of the '|'-joined stringified
    columns) plus the row count — the migration/replication
    validation primitive: run on both sides of a copy, compare two
    numbers instead of 10^11 rows.

    Addition is commutative, so the checksum is independent of row
    order, partitioning, and engine; the map-side partial sum means
    bytes-on-the-wire is one long per partition.  Column order is
    pinned by the explicit list (or the frame's schema order), and
    nulls stringify as a sentinel distinct from the string 'null'.
    A 32-bit-per-row hash summed over n rows detects any single-row
    difference exactly and collides on crafted multi-row swaps with
    probability ~2^-32 per candidate — for adversarial settings use
    two independent salts and compare both sums."""
    from .dedupe import base_hash

    use = cols if cols is not None else df.columns
    joined = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
               for c in use]
    )
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum(base_hash(joined)).alias("checksum"),
    )


def partition_overwrite(
    df: DataFrame, path: str, partition_cols: "Sequence[str]"
) -> None:
    """Dynamic partition overwrite: atomically replace ONLY the
    partitions present in ``df``, leaving every other partition of
    the sink untouched — the idempotent-backfill primitive: a daily
    job that recomputes day D can be re-run any number of times
    without touching days D-1... or truncating the table (static
    overwrite mode would wipe ALL partitions first).

    The per-write ``partitionOverwriteMode=dynamic`` option scopes
    the behavior to this writer instead of mutating the session conf
    (a session-wide flip would silently change every other writer's
    overwrite semantics).  At 100 TB the replaced set is pruned by
    partition values, so cost scales with the partitions written,
    not the table.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*list(partition_cols))
        .parquet(path)
    )


def delete_where(
    df: DataFrame,
    predicate,
    audit_keys: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """Lakehouse-style DELETE WHERE as a pure transformation: returns
    (surviving rows, audit frame).  The audit frame reports rows
    scanned / deleted / kept, optionally broken down by
    ``audit_keys`` — the record a write-audit-publish gate wants
    before replacing the live table.  One conditional aggregation
    (no second scan: deleted-vs-kept are counted in the same pass
    Catalyst shares under the hood when both outputs are consumed);
    the survivor frame is a plain filter, so partition pruning and
    pushdown still apply downstream."""
    pred = predicate if not isinstance(predicate, str) else F.expr(predicate)
    keep = df.filter(~pred)
    keys = list(audit_keys)
    audit = df.groupBy(*keys).agg(
        F.count("*").alias("rows_scanned"),
        F.sum(pred.cast("int")).alias("rows_deleted"),
        F.sum((~pred).cast("int")).alias("rows_kept"),
    )
    return keep, audit


def write_audit_publish(
    df: DataFrame,
    base_dir: str,
    not_null_cols: Sequence[str] = (),
    min_rows: int = 1,
) -> DataFrame:
    """Write-audit-publish: stage the frame as parquet under
    ``base_dir/_staging``, AUDIT the staged files (row floor +
    NOT-NULL gates — read back from disk, so the audit sees exactly
    what a consumer would), then atomically rename the staged
    directory to ``base_dir/published``.  Returns the audit frame
    (one row per check) read from the PUBLISHED copy.  A failed
    audit raises and leaves nothing at the publish path — the
    whole point of WAP: consumers never observe a half-written or
    invalid table.  The rename is a filesystem metadata move (same
    volume), not a copy."""
    import uuid

    staging = f"{base_dir}/_staging_{uuid.uuid4().hex[:8]}"
    publish = f"{base_dir}/published"
    df.write.mode("overwrite").parquet(staging)
    spark = df.sparkSession
    staged = spark.read.parquet(staging)
    checks = [("row_floor", staged.count() >= min_rows)]
    for c in not_null_cols:
        n_null = staged.filter(F.col(c).isNull()).count()
        checks.append((f"not_null_{c}", n_null == 0))
    if not all(ok for _, ok in checks):
        fs, jstaging, _mk = _hadoop_fs(spark, staging)
        fs.delete(jstaging, True)
        failed = [name for name, ok in checks if not ok]
        raise ValueError(f"write_audit_publish: audit failed: {failed}")
    # promote via rename-aside, never delete-then-rename: if the
    # process dies between a delete and the rename, the previously
    # published table is gone with nothing in its place — exactly the
    # torn state WAP exists to prevent.  Rename-aside keeps the old
    # copy recoverable until the new one is live.
    fs, _jbase, mkpath = _hadoop_fs(spark, base_dir)
    jpublish = mkpath(publish)
    retired = None
    if fs.exists(jpublish):
        retired = mkpath(f"{publish}_retired_{uuid.uuid4().hex[:8]}")
        _fs_rename(fs, jpublish, retired)
    try:
        _fs_rename(fs, mkpath(staging), jpublish)
    except Exception:
        if retired is not None:
            _fs_rename(fs, retired, jpublish)
        raise
    if retired is not None:
        fs.delete(retired, True)
    published = spark.read.parquet(publish)
    rows = [(name, 1) for name, _ in checks]
    audit = spark.createDataFrame(rows, "check_name string, passed int")
    counts = published.agg(
        F.lit("published_rows").alias("check_name"),
        F.count("*").cast("int").alias("passed"),
    )
    return audit.unionByName(counts)


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top_n: int = 10,
) -> DataFrame:
    """Pre-flight EXACT join-cardinality audit: before running a big
    equi-join, compute what its output size will be and which keys
    dominate it.  |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), assembled from the
    two key histograms — two map-side-combined counts and a key-sized
    join, orders of magnitude cheaper than the join it describes.
    The output's first row (rank 0) is the total: matched output
    rows, match-participating keys, and each side's unmatched key
    count; rows 1..top_n are the heaviest keys by contribution —
    the "this join will explode on key X" report that
    ``partition_balance`` gives for shuffles.  Staged for the
    round-7 registry window."""
    la = left.groupBy(F.col(left_key).alias("_k")).agg(
        F.count("*").alias("_ca")
    )
    rb = right.groupBy(F.col(right_key).alias("_k")).agg(
        F.count("*").alias("_cb")
    )
    j = la.join(rb, "_k", "full_outer").select(
        "_k",
        F.coalesce("_ca", F.lit(0)).alias("_ca"),
        F.coalesce("_cb", F.lit(0)).alias("_cb"),
        (F.coalesce("_ca", F.lit(0)) * F.coalesce("_cb", F.lit(0)))
        .alias("_out"),
    )
    total = j.agg(
        F.sum("_out").alias("est_rows"),
        F.sum(((F.col("_ca") > 0) & (F.col("_cb") > 0)).cast("long"))
        .alias("n_matched_keys"),
        F.sum((F.col("_cb") == 0).cast("long")).alias("n_left_only_keys"),
        F.sum((F.col("_ca") == 0).cast("long")).alias("n_right_only_keys"),
    ).select(
        F.lit(0).alias("rank"),
        F.lit("__TOTAL__").alias("key"),
        "est_rows", "n_matched_keys",
        "n_left_only_keys", "n_right_only_keys",
    )
    w = Window.orderBy(F.col("_out").desc(), F.col("_k"))
    heavy = (
        j.filter(F.col("_out") > 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "rank",
            F.col("_k").cast("string").alias("key"),
            F.col("_out").alias("est_rows"),
            F.lit(None).cast("long").alias("n_matched_keys"),
            F.lit(None).cast("long").alias("n_left_only_keys"),
            F.lit(None).cast("long").alias("n_right_only_keys"),
        )
    )
    return total.unionByName(heavy)


def schema_drift_audit(
    old: DataFrame, new: DataFrame, approximate: bool = False
) -> DataFrame:
    """Column-level drift audit between two snapshots of a table —
    the companion to :func:`snapshot_diff` (row-level) and
    :func:`profile_columns` (single-snapshot): per column, presence
    in each generation, null-rate drift, and distinct-count drift.
    The pre-flight before a schema-evolution union or an incremental
    merge: added/dropped columns and a null-rate jump are the two
    classic silent-breakage signals of an upstream producer change.

    One pass per side (all columns profiled in a single aggregation,
    the :func:`profile_columns` posture), outputs joined by column
    name on the columns-sized frame.

    ``approximate=True`` swaps the exact ``count_distinct`` family
    for HLL++ sketches — the WIDE-TABLE / 100 TB form: k exact
    distinct aggregates in one ``agg`` make Catalyst's distinct
    rewrite Expand every input row (k+1)-fold before the shuffle, so
    a 50-column audit scans 51× the data; the sketches profile all
    columns in ONE un-expanded pass at ±2% distinct counts (null
    rates stay exact either way).  Default exact so the audit is
    value-oracle-able."""
    def profile(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count("*").alias("_rows")]
        for c in df.columns:
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"_n_{c}")
            )
            aggs.append(
                F.approx_count_distinct(F.col(c)).alias(f"_d_{c}")
                if approximate
                else F.count_distinct(F.col(c)).alias(f"_d_{c}")
            )
        wide = df.agg(*aggs)
        per_col = [
            wide.select(
                F.lit(c).alias("column"),
                F.round(
                    F.try_divide(F.col(f"_n_{c}"), F.col("_rows")), 6
                ).alias(f"null_rate_{tag}"),
                F.col(f"_d_{c}").alias(f"n_distinct_{tag}"),
            )
            for c in df.columns
        ]
        out = per_col[0]
        for p in per_col[1:]:
            out = out.unionByName(p)
        return out
    po = profile(old, "old")
    pn = profile(new, "new")
    joined = po.join(pn, "column", "full_outer")
    return joined.select(
        "column",
        F.col("null_rate_old").isNotNull().alias("in_old"),
        F.col("null_rate_new").isNotNull().alias("in_new"),
        "null_rate_old", "null_rate_new",
        F.round(
            F.col("null_rate_new") - F.col("null_rate_old"), 6
        ).alias("null_rate_drift"),
        "n_distinct_old", "n_distinct_new",
    )


def compaction_plan(
    files: DataFrame,
    path_col: str = "path",
    size_col: str = "size_bytes",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE pre-flight every
    lakehouse table needs: assign input files to output bins of
    roughly ``target_bytes`` and report the bin layout, so a
    compaction job can be sized (and its shuffle volume known) BEFORE
    any data moves.

    Deterministic single-pass bin assignment: files ordered by
    (size desc, path) — large files first, the classic first-fit-
    decreasing order — then bin = cumulative-size-before ``div``
    target.  This is the streaming variant of FFD (each bin may
    slightly overflow target by under one file), chosen over true
    bin packing because it is ONE window over the files frame and
    engine-reproducible; files larger than target get a bin of their
    own by construction.  The files frame is metadata-sized (one row
    per file), so the global ordering window is cheap even for a
    million-file table; shard by table partition at larger listings.
    Staged for the round-8 registry window."""
    w = (
        Window.orderBy(F.col(size_col).desc(), F.col(path_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = files.select(
        F.col(path_col).alias("path"),
        F.col(size_col).cast("long").alias("size_bytes"),
    ).select(
        "path", "size_bytes",
        (F.sum("size_bytes").over(w) - F.col("size_bytes")).alias("_before"),
    )
    assigned = sized.select(
        "path", "size_bytes",
        F.expr(f"_before div {int(target_bytes)}").cast("int").alias("bin"),
    )
    return (
        assigned.groupBy("bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size_bytes").alias("bin_bytes"),
            F.min("size_bytes").alias("min_file_bytes"),
            F.max("size_bytes").alias("max_file_bytes"),
        )
        .select(
            "bin", "n_files", "bin_bytes",
            F.round(
                F.col("bin_bytes") / F.lit(float(target_bytes)), 4
            ).alias("fill_ratio"),
            "min_file_bytes", "max_file_bytes",
        )
    )


def bloom_filter_audit(
    build_df: DataFrame,
    probe_df: DataFrame,
    build_key: str,
    probe_key: str,
    m_bits: int = 16384,
    n_hashes: int = 4,
) -> DataFrame:
    """Build a deterministic Bloom filter over ``build_df``'s keys,
    probe it with ``probe_df``'s keys, and report the MEASURED false
    -positive rate against exact membership — the sizing audit run
    before shipping a bloom-pruned join (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` and every
    data-skipping index make exactly this m/k trade; this operator
    makes the trade measurable on real keys instead of the uniform
    -hash formula).

    Hashing is the portable md5 family: bit j of key x is
    ``base_hash(x || '#' || j) mod m`` — engine-reproducible, no
    RNG.  The filter materializes as the DISTINCT bit-position set
    (≤ m rows, broadcast); a probe key is bloom-positive iff all
    ``n_hashes`` of its positions are set (count == k after the
    position join).  Exact membership via broadcast semi-join on
    the raw keys.  Everything is an integer count — engine-exact.

    Output: ONE row — n_build_keys, n_probe_keys, m_bits, n_hashes,
    bits_set, fill_ratio (6dp), n_bloom_positive, n_true_positive,
    n_false_positive, fp_rate (6dp, over true negatives), and
    expected_fp_rate = fill_ratio^k (6dp, the load-factor bound —
    exp-free on purpose).

    Scale: build side aggregates to ≤ m distinct positions (map-side
    combined) and broadcasts — the same shape as a real bloom
    pushdown; the probe side streams once through the position join
    and once through the membership semi-join."""
    from eggv_spark.operators.dedupe import base_hash

    def positions(df: DataFrame, key: str) -> DataFrame:
        ks = df.select(
            F.col(key).cast("string").alias("_k")
        ).filter(F.col("_k").isNotNull()).distinct()
        return ks.select(
            "_k",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                    lambda j: base_hash(
                        F.concat(F.col("_k"), F.lit("#"),
                                 j.cast("string"))
                    ) % m_bits,
                )
            ).alias("_pos"),
        )
    build_pos = positions(build_df, build_key)
    filter_bits = build_pos.select("_pos").distinct()
    build_keys = build_pos.select("_k").distinct()
    probe_pos = positions(probe_df, probe_key)
    hits = (
        probe_pos.join(
            F.broadcast(filter_bits.withColumn("_set", F.lit(1))),
            "_pos", "left",
        )
        .groupBy("_k")
        .agg(
            (F.sum(F.coalesce(F.col("_set"), F.lit(0)))
             == n_hashes).alias("_bloom_pos")
        )
    )
    truth = hits.join(
        F.broadcast(build_keys.withColumn("_member", F.lit(1))),
        "_k", "left",
    )
    n_bits = filter_bits.agg(F.count("*").alias("bits_set"))
    stats = truth.agg(
        F.count("*").alias("n_probe_keys"),
        F.sum(F.col("_bloom_pos").cast("long")).alias("n_bloom_positive"),
        F.sum(
            (F.col("_bloom_pos") & F.col("_member").isNotNull())
            .cast("long")
        ).alias("n_true_positive"),
        F.sum(
            (F.col("_bloom_pos") & F.col("_member").isNull())
            .cast("long")
        ).alias("n_false_positive"),
        F.sum(F.col("_member").isNull().cast("long")).alias("_n_neg"),
    )
    n_build = build_keys.agg(F.count("*").alias("n_build_keys"))
    fill = F.col("bits_set") / F.lit(float(m_bits))
    return (
        stats.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_build))
        .select(
            "n_build_keys", "n_probe_keys",
            F.lit(m_bits).alias("m_bits"),
            F.lit(n_hashes).alias("n_hashes"),
            "bits_set",
            F.round(fill, 6).alias("fill_ratio"),
            "n_bloom_positive", "n_true_positive", "n_false_positive",
            F.round(
                F.try_divide(F.col("n_false_positive"), F.col("_n_neg")),
                6,
            ).alias("fp_rate"),
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(n_hashes)),
                    F.lit(1.0),
                    lambda acc, _: acc * fill,
                ),
                6,
            ).alias("expected_fp_rate"),
        )
    )


def zonemap_skip_audit(
    file_stats: DataFrame,
    lower: Column | float,
    upper: Column | float,
) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit — the OTHER
    data-skipping mechanism next to partition pruning
    (``partition_pruning_report``): partition pruning skips by
    directory value, zone maps skip a FILE whenever its [min, max]
    stat range cannot intersect the predicate range — the mechanism
    behind parquet row-group stats, Delta/Iceberg file stats, and
    every warehouse's block-range index.  Run against a table's
    manifest before choosing sort/cluster keys: a skip ratio near 0
    on the hot predicate column means the layout (not the engine)
    is the bottleneck — the same decision ``zorder_key`` feeds.

    Input: one row per file with ``min_val``/``max_val``/``n_rows``.
    A file is skipped iff max_val < lower OR min_val > upper.  One
    1-row aggregate; everything integer-or-comparison exact.

    Output: n_files, n_skipped, rows_total, rows_skipped,
    skip_ratio (6dp), row_skip_ratio (6dp)."""
    lo = lower if isinstance(lower, Column) else F.lit(float(lower))
    hi = upper if isinstance(upper, Column) else F.lit(float(upper))
    skipped = (F.col("max_val") < lo) | (F.col("min_val") > hi)
    return file_stats.agg(
        F.count("*").alias("n_files"),
        F.sum(skipped.cast("long")).alias("n_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(skipped, F.col("n_rows")).otherwise(0))
        .alias("rows_skipped"),
        F.round(
            F.sum(skipped.cast("long")) / F.count("*"), 6
        ).alias("skip_ratio"),
        F.round(
            F.sum(F.when(skipped, F.col("n_rows")).otherwise(0))
            / F.sum("n_rows"),
            6,
        ).alias("row_skip_ratio"),
    )


def vacuum_audit(
    listing: DataFrame,
    manifest: DataFrame,
    retention_days: int,
    path_col: str = "path",
    size_col: str = "size_bytes",
    modified_col: str = "modified_day",
    now_col: str = "now_day",
) -> DataFrame:
    """Vacuum planning audit for a snapshot-based table layout
    (Iceberg/Delta-style): classify every file in the physical
    ``listing`` against the current-snapshot ``manifest`` and the
    retention window, and report the reclaim opportunity per class.

        live            — referenced by the current snapshot
        orphan_retained — unreferenced, but younger than retention
                          (still needed for time travel / readers)
        orphan_delete   — unreferenced AND older than retention:
                          safe to reclaim

    ``listing`` must carry a ``now_col`` column (same value on every
    row — the caller derives "now" from its own data or clock and
    joins it on; keeping it a COLUMN rather than a Python literal
    keeps the plan deterministic and oracle-checkable).  Age is
    ``datediff(now, modified)`` in whole days.

    Plan shape: one left join on path (the manifest side is the
    small one at any scale that matters — a snapshot's file count,
    not the bucket's full listing — and broadcasts), one grouped
    pass.  No collect, no per-file driver work: at a 100 TB table
    with millions of listed files this is exactly the metadata-scale
    join a real vacuum planner runs.

    Output per status: n_files, total_bytes, min_age_days,
    max_age_days — the "what would a vacuum reclaim, and is anything
    dangerously young about to be deleted" report."""
    m = manifest.select(F.col(path_col).alias("_mpath")).distinct()
    age = F.datediff(F.col(now_col), F.col(modified_col))
    classified = (
        listing.join(
            F.broadcast(m),
            listing[path_col] == m["_mpath"],
            "left",
        )
        .select(
            F.when(F.col("_mpath").isNotNull(), F.lit("live"))
            .when(age >= retention_days, F.lit("orphan_delete"))
            .otherwise(F.lit("orphan_retained"))
            .alias("status"),
            F.col(size_col).alias("_sz"),
            age.alias("_age"),
        )
    )
    return classified.groupBy("status").agg(
        F.count("*").alias("n_files"),
        F.sum("_sz").alias("total_bytes"),
        F.min("_age").alias("min_age_days"),
        F.max("_age").alias("max_age_days"),
    )


def file_overlap_depth(
    files: DataFrame,
    min_col: str = "min_key",
    max_col: str = "max_key",
    path_col: str = "path",
) -> DataFrame:
    """Clustering-depth profile of a file layout: at every distinct
    range boundary, how many files' [min_key, max_key] stat ranges
    cover the keys from that boundary up to the next one.  Depth 1
    everywhere = perfectly clustered (a point lookup reads one
    file); depth ≈ n_files = unclustered (every lookup reads
    everything).  This is the measurement that justifies a sort or
    Z-order rewrite — zonemap_skip_audit shows the symptom (low skip
    ratio), this shows the cause, and compaction_plan acts on it.

    Classic sweep-line, fully relational: +1 at each min, −1 just
    past each max (integer key space: max+1), deltas aggregated per
    boundary point (the point grain is unique, so the prefix-sum
    window order is total), one cumulative window.  All counts are
    exact integers; no floats anywhere.  The output is
    boundary-grain — O(2·n_files) rows — metadata-sized at any table
    scale, same class as compaction_plan.

    Output: (boundary, depth, n_starting, n_ending) ordered by
    boundary; ``depth`` covers [boundary, next_boundary)."""
    starts = files.select(
        F.col(min_col).cast("bigint").alias("boundary"),
        F.lit(1).cast("bigint").alias("_delta"),
        F.lit(1).cast("bigint").alias("_starting"),
        F.lit(0).cast("bigint").alias("_ending"),
    )
    ends = files.select(
        (F.col(max_col).cast("bigint") + 1).alias("boundary"),
        F.lit(-1).cast("bigint").alias("_delta"),
        F.lit(0).cast("bigint").alias("_starting"),
        F.lit(1).cast("bigint").alias("_ending"),
    )
    per_point = (
        starts.unionByName(ends)
        .groupBy("boundary")
        .agg(
            F.sum("_delta").alias("_d"),
            F.sum("_starting").alias("n_starting"),
            F.sum("_ending").alias("n_ending"),
        )
    )
    w = Window.orderBy("boundary").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_point.select(
        "boundary",
        F.sum("_d").over(w).alias("depth"),
        "n_starting",
        "n_ending",
    )
