"""Source operators (SURVEY §2.1).

SRC-04 GVF scan / SRC-05 GTF scan / SRC-06 processed-TSV scan, plus
the engine-native parquet reader.  Spark's text readers decompress
``.gz`` transparently, so the reference's explicit gunzip step
(SRC-02, ``eggv/retrieve.py:49-75``) disappears.

Scale posture: schemas are always explicit (no inference pass over
100 TB); CSV scans split per `spark.sql.files.maxPartitionBytes`
(the reference pinned 150 MB dask blocks, ``eggv/process.py:60``);
parquet is the native interchange so later stages get predicate
pushdown + column pruning + row-group skipping.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructType

from eggv_spark.schemas import GTF_SCHEMA, GVF_SCHEMA


def read_gvf(
    spark: SparkSession, path: str, capture_corrupt: bool = False
) -> DataFrame:
    """SRC-04: GVF scan — 9 fixed columns, '#' comment lines skipped.

    Reference: ``eggv/process.py:25-61`` (dask ``read_csv`` with
    ``comment='#'``, seqid pinned to string).

    ``capture_corrupt``: malformed lines land in a ``_corrupt``
    column instead of silently becoming all-null rows (Spark's
    PERMISSIVE default) — at 100 TB you quarantine and count bad
    records, never drop them invisibly.  Split with
    :func:`split_corrupt`.
    """
    if not capture_corrupt:
        return spark.read.csv(
            path, sep="\t", comment="#", header=False, schema=GVF_SCHEMA
        )
    from pyspark.sql.types import StructField

    schema = StructType(  # GVF columns + the quarantine column

        GVF_SCHEMA.fields + [StructField("_corrupt", StringType(), True)]
    )
    return spark.read.csv(
        path,
        sep="\t",
        comment="#",
        header=False,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )


def read_gvf_split(spark: SparkSession, path: str) -> DataFrame:
    """SRC-04 fast path: spec parser for trusted GVF raw drops.

    GVF/GFF3 is tab-separated with NO quoting/escaping grammar, so the
    univocity CSV machinery behind :func:`read_gvf` pays per-char
    quote/escape state handling the format cannot contain.  This
    parser is one ``split`` per line plus per-field casts — measured
    3.1 s -> 1.9 s (−38%) per 4-column scan pass over the 5 GB
    pipeline bench corpus at local[32] (guide §1.2: per-task work).

    Contract: identical rows to :func:`read_gvf` on spec-conformant
    input (9 tab-separated fields, '#' comments, no '"' at field
    start, no embedded tabs) — pinned by tests/test_round10_opt.py.
    Dirty rows degrade PER-FIELD (missing trailing fields null,
    uncastable numbers null) where PERMISSIVE CSV nulls the whole
    row, and a >9-field line keeps its 9th field as ``attr`` where
    CSV quarantines the row — both are strict supersets of what the
    downstream ``na.drop(rsid)`` keeps.  Use :func:`read_gvf`
    (optionally ``capture_corrupt=True``) for untrusted drops.
    """
    from pyspark.sql import functions as F

    parts = F.split(F.col("value"), "\t")
    # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
    # cast THROW on an uncastable field, where the CSV reader's
    # PERMISSIVE parse yields null — try_cast matches that contract.
    cols = [
        F.get(parts, i).try_cast(f.dataType).alias(f.name)
        for i, f in enumerate(GVF_SCHEMA.fields)
    ]
    return (
        spark.read.text(path)
        # CSV drops '#' comment lines and blank lines; mirror both.
        .filter(~F.col("value").startswith("#") & (F.col("value") != ""))
        .select(*cols)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good rows without the marker column, quarantined bad rows).

    Spark refuses to filter on the internal corrupt-record column of
    a lazily-parsed CSV (CANNOT_QUERY_INTERNAL_CORRUPT_RECORD) — the
    frame must be materialized first, so it is cached here; both
    splits then share the one parse.
    """
    from pyspark.sql import functions as F

    df = df.cache()
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.filter(F.col("_corrupt").isNotNull()).select("_corrupt")
    return good, bad


def read_gtf(spark: SparkSession, path: str) -> DataFrame:
    """SRC-05: GTF scan — same shape, different column names.

    Reference: ``eggv/process.py:64-97``.
    """
    return spark.read.csv(
        path, sep="\t", comment="#", header=False, schema=GTF_SCHEMA
    )


def read_processed_tsv(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """SRC-06: headered TSV scan of pipeline intermediates.

    Reference: ``eggv/annotate.py:23-52``.  ``NA`` round-trips to
    null (the writer's ``nullValue``, see writers.write_tsv).
    """
    return spark.read.csv(
        path,
        sep="\t",
        comment="#",
        header=True,
        schema=schema,
        nullValue="NA",
    )


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON-lines scan with an explicit schema (inference over JSON is
    a full extra pass — never at scale)."""
    return spark.read.schema(schema).json(path)


def _table_memo(spark: SparkSession) -> dict[str, tuple[DataFrame, bool]]:
    """Per-SESSION memo of the lazy table DataFrames handed out by
    :func:`read_table`.  ``spark.read.parquet(path)`` eagerly lists the
    path and reads a footer to resolve the schema — a driver/job cost
    (~0.1 s on local[32]) that path-based reads re-pay on EVERY call,
    while catalog tables amortize it in the session listing cache
    (guide §6: repeated listings of the same table are pure waste; at
    100 TB a listing is minutes, which is the argument for manifest
    formats).  The memo holds ONLY metadata-resolved lazy plans — no
    rows, no results: every action on the returned frame still scans
    the parquet files.

    Stored ON the session object (not a module-level weak map): the
    DataFrame values hold strong refs back to the session, so a
    WeakKeyDictionary entry could never be collected (round-10 ADVICE)
    — attaching the dict to the session gives it exactly the session's
    lifetime and keeps adversarial sweeps (fresh session per config)
    isolated for free.  Each entry carries the nanosAsLong flag so a
    memo hit can re-assert the session conf the plan needs."""
    memo = getattr(spark, "_eggv_table_memo", None)
    if memo is None:
        memo = {}
        spark._eggv_table_memo = memo
    return memo


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Native parquet table reader for the driver testdata layout.

    Normalizes timestamp physical types so downstream operators see
    one canonical type — TIMESTAMP (session-timezone), the type
    watermarks/windows and BIGINT casts accept:

    - TIMESTAMP(NANOS) footers (which Spark's vectorized reader
      rejects outright) are read as raw nanosecond longs
      (``spark.sql.legacy.parquet.nanosAsLong``) and converted to
      microsecond timestamps.  Identified from the parquet footer via
      pyarrow — a metadata-only read, no data pass.
    - TIMESTAMP_NTZ columns (timezone-less micros footers) are cast
      to TIMESTAMP; with the session timezone pinned to UTC
      (session.py) the instant is unchanged.

    Repeat reads of the same path in the same session return the same
    lazy DataFrame (see :func:`_table_memo` — file listing + schema
    resolution are paid once per session, like a catalog table; the
    data path is re-scanned by every action as always).

    CONTRACT: a memoized path is assumed immutable for the session's
    lifetime, exactly like a catalog table's listing cache — if files
    under ``path`` are rewritten/compacted mid-session, later reads
    see the first read's file listing (stale rows or
    FileNotFoundException).  For mutable paths call
    :func:`refresh_table` after writing.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    path = f"{sf_dir}/{name}.parquet"
    per_session = _table_memo(spark)
    hit = per_session.get(path)
    if hit is not None:
        df, needs_nanos = hit
        if needs_nanos:
            # the memoized plan reads raw nanos longs; re-assert
            # the conf in case something reset it between calls
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return df
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if nanos_cols:
        # Integer division keeps full precision (a double division of
        # ~1.7e18 ns would lose the microseconds).
        df = df.withColumns(
            {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos_cols}
        )
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    per_session[path] = (df, bool(nanos_cols))
    return df


def refresh_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Drop the session's memo entry for ``sf_dir/name`` so the next
    :func:`read_table` re-lists the path (the invalidation hook for
    the otherwise immutable-path memo contract)."""
    _table_memo(spark).pop(f"{sf_dir}/{name}.parquet", None)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names whose parquet footer type is TIMESTAMP(NANOS).

    Works for single-file tables AND directory-shaped tables (the
    only shape that exists at scale — every distributed writer emits
    part files): for a directory, one part's footer is probed (all
    parts share the writer schema).  Unreadable/remote paths fall
    back to [] — the nanos normalization simply doesn't apply, and
    Spark's own reader raises its usual error if such a column truly
    appears."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            p
            for p in glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isfile(p)
        )
        if not parts:
            return []
        probe = parts[0]
    try:
        schema = pq.read_schema(probe)
    except (OSError, pa.ArrowInvalid):
        return []

    return [
        field.name
        for field in schema
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    ]


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan (extension source format): columnar like parquet —
    predicate pushdown, column pruning, and stripe-level skipping all
    apply; schema optional since ORC files embed one."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def date_spine(
    lo_hi_df: "DataFrame", lo_col: str, hi_col: str
) -> "DataFrame":
    """Calendar-dimension generator (the dbt ``date_spine``
    primitive): one row per day between the bounds carried in a
    1-row frame, with the join-ready calendar attributes every
    reporting pipeline needs (year/month/day-of-week/weekend flag).

    The bounds stay IN-PLAN (a 1-row sequence explode from the
    aggregated frame) — no driver round-trip, so the spine composes
    under a single job with whatever derives the bounds.
    """
    from pyspark.sql import functions as F

    return (
        lo_hi_df.select(
            F.explode(
                F.sequence(F.col(lo_col), F.col(hi_col))
            ).alias("day")
        )
        .select(
            "day",
            F.year("day").alias("year"),
            F.month("day").alias("month"),
            F.dayofweek("day").alias("day_of_week"),
            F.dayofweek("day").isin(1, 7).alias("is_weekend"),
        )
    )
