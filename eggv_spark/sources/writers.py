"""Sink operators (SURVEY §2.1: SNK-01/SNK-02).

The reference writes one TSV per partition into a tempdir and then
concatenates them keeping one header (``eggv/dfio.py:22-100``).  In
Spark the partitioned write IS the native sink; single-file mode is
an export convenience via ``coalesce(1)`` — documented as unsuitable
for 100 GB+ outputs (SURVEY §7.5.5), where partitioned parquet is the
interchange format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_tsv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    """SNK-01/SNK-02: TSV sink, ``NA`` for nulls, header row.

    Reference: ``eggv/dfio.py:87-92`` (``sep='\\t', na_rep='NA'``);
    consolidation ``eggv/dfio.py:22-60``.

    ``single_file=True`` funnels through one task — fine for small
    exports, wrong for large outputs; callers at scale keep the
    default partitioned layout (or use parquet).
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).csv(path, sep="\t", header=True, nullValue="NA")


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Engine-native sink: partitioned parquet (optionally
    hive-partitioned by low-cardinality keys, e.g. chromosome) so
    downstream reads get partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows hash-clustered on ``bucket_by``
    into ``n_buckets`` files at WRITE time.  Joins/aggregations of two
    tables bucketed the same way need NO shuffle at read time — the
    shuffle is paid once at write and amortized over every downstream
    join (the scale play for repeatedly-joined fact tables, e.g.
    variant effects ⋈ genes on transcript, or lineitem ⋈ orders).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (interchange with non-columnar consumers)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """ORC sink (extension): columnar interchange for engines that
    prefer ORC (Hive/Trino ecosystems); same partitioned-directory
    layout rules as the parquet sink."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
