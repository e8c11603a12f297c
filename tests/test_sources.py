"""Source/sink tests: bucketed co-located joins, JSON round-trip,
single-file TSV export."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from eggv_spark.sources.readers import read_json, read_processed_tsv
from eggv_spark.sources.writers import (
    write_bucketed_table,
    write_json,
    write_tsv,
)
from eggv_spark.schemas import VARIANT_EFFECTS_SCHEMA


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    effects = spark.createDataFrame(
        [(i, "eff", f"T{i % 50}") for i in range(500)],
        ["rsid", "effect", "transcript"],
    )
    genes = spark.createDataFrame(
        [(f"T{i}", f"G{i}") for i in range(50)], ["transcript", "gene_id"]
    )
    write_bucketed_table(effects, "b_effects", ["transcript"], 8)
    write_bucketed_table(genes, "b_genes", ["transcript"], 8)
    try:
        # Disable broadcast so the join would otherwise shuffle both
        # sides; with matching bucketing it must shuffle NEITHER.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_effects").join(spark.table("b_genes"), "transcript")
        assert joined.count() == 500
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_effects")
        spark.sql("DROP TABLE IF EXISTS b_genes")


def test_corrupt_record_capture(spark, tmp_path):
    from eggv_spark.sources.readers import read_gvf, split_corrupt

    # 2nd line has 3 fields (malformed); 3rd has non-numeric start.
    gvf = tmp_path / "bad.gvf"
    gvf.write_text(
        "##gvf-version 1.07\n"
        "7\tdbSNP\tSNV\t100\t100\t.\t+\t.\tID=1;Dbxref=dbSNP_151:rs1\n"
        "7\tdbSNP\tbroken\n"
        "7\tdbSNP\tSNV\tnotanum\t100\t.\t+\t.\tID=2\n"
    )
    df = read_gvf(spark, str(gvf), capture_corrupt=True)
    good, bad = split_corrupt(df)
    assert good.count() == 1
    assert bad.count() == 2
    # default PERMISSIVE mode would have silently kept 3 rows
    assert read_gvf(spark, str(gvf)).count() == 3


def test_json_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "intron_variant", "T1"), (2, None, "T2")],
        VARIANT_EFFECTS_SCHEMA,
    )
    path = str(tmp_path / "effects_json")
    write_json(df, path)
    back = read_json(spark, path, VARIANT_EFFECTS_SCHEMA)
    assert sorted((r.rsid, r.effect) for r in back.collect()) == [
        (1, "intron_variant"), (2, None),
    ]


def test_single_file_tsv_export(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "T1"), (2, None, "T2")], VARIANT_EFFECTS_SCHEMA
    ).repartition(4)
    path = str(tmp_path / "single")
    write_tsv(df, path, single_file=True)
    files = glob.glob(os.path.join(path, "*.csv"))
    assert len(files) == 1  # one data file (SNK-02 consolidation)
    # NA null encoding round-trips to null on read.
    back = read_processed_tsv(spark, path, VARIANT_EFFECTS_SCHEMA)
    assert {r.rsid: r.effect for r in back.collect()} == {1: "a", 2: None}


def test_custom_gvf_datasource(spark, tmp_path):
    """Spark 4 Python DataSource API: per-file-partitioned GVF
    connector returns typed rows, skips directives, and fails loudly
    on malformed files (default FAILFAST mode)."""
    from eggv_spark.sources import gvf_datasource

    gvf_datasource.register(spark)
    for name in ("chr1.gvf", "chr2.gvf"):
        (tmp_path / name).write_text(
            "##gvf-version 1.07\n"
            "7\tdbSNP\tSNV\t100\t101\t.\t+\t.\tID=1;Dbxref=dbSNP_151:rs1\n"
        )
    df = spark.read.format("gvf").load(str(tmp_path / "*.gvf"))
    assert df.count() == 2
    assert df.schema["start"].dataType.typeName() == "long"
    # one partition per file
    assert df.rdd.getNumPartitions() == 2
    row = df.orderBy("seqid").first()
    assert (row["seqid"], row["start"], row["end"]) == ("7", 100, 101)

    # default mode fails AT THE SCAN with the file path in the error
    # (corruption must never be invisible)
    (tmp_path / "bad.gvf").write_text("not\ta\tgvf\trow\n")
    with pytest.raises(Exception, match="bad.gvf"):
        spark.read.format("gvf").load(str(tmp_path / "bad.gvf")).count()


def test_date_spine_attributes(spark):
    from pyspark.sql import functions as F

    from eggv_spark.sources.readers import date_spine

    bounds = spark.createDataFrame(
        [("2024-02-28", "2024-03-02")], "lo_s string, hi_s string"
    ).select(F.to_date("lo_s").alias("lo"), F.to_date("hi_s").alias("hi"))
    rows = {str(r.day): r for r in date_spine(bounds, "lo", "hi").collect()}
    # leap year: Feb 29 exists; 4 consecutive days
    assert sorted(rows) == [
        "2024-02-28", "2024-02-29", "2024-03-01", "2024-03-02"
    ]
    assert rows["2024-03-02"].is_weekend          # Saturday
    assert not rows["2024-02-29"].is_weekend      # Thursday
    assert rows["2024-03-01"].month == 3 and rows["2024-03-01"].year == 2024


def test_read_table_directory_shaped_with_nanos(spark, tmp_path):
    """Directory-shaped tables (the only shape at scale) must pass the
    nanos-footer probe: part files are probed, ns timestamps
    normalized to microsecond TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eggv_spark.sources.readers import read_table

    tdir = tmp_path / "events.parquet"
    tdir.mkdir()
    t = pa.table({
        "ts": pa.array([1_700_000_000_000_000_001, 1_700_000_000_000_001_500],
                       type=pa.timestamp("ns")),
        "v": pa.array([1, 2], type=pa.int64()),
    })
    pq.write_table(t.slice(0, 1), tdir / "part-000.parquet")
    pq.write_table(t.slice(1, 1), tdir / "part-001.parquet")

    df = read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r["v"] for r in df.collect())
    assert got == [1, 2]
