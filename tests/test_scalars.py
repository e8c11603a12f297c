"""Unit tests for the scalar function families (date/time, attr-map,
higher-order array math)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from eggv_spark.functions import scalars as SC


def test_date_parts(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 2, 29, 12, 0),)], ["ts"]
    )
    parts = SC.date_parts("ts")
    row = df.select(*[c.alias(n) for n, c in parts.items()]).collect()[0]
    assert (row.year, row.month, row.day) == (2024, 2, 29)
    assert row.dow == 5  # Thursday (1=Sunday)
    assert row.quarter == 1


def test_attr_map_null_semantics(spark):
    df = spark.createDataFrame(
        [("ID=1;Variant_seq=A;Dbxref=dbSNP_151:rs111",), ("ID=2",)], ["attr"]
    )
    out = df.select(
        SC.attr_field("attr", "Dbxref").alias("dbxref"),
        SC.attr_field("attr", "Variant_seq").alias("vseq"),
    ).collect()
    assert out[0].dbxref == "dbSNP_151:rs111"
    assert out[0].vseq == "A"
    assert out[1].dbxref is None  # missing key -> NULL, not ''
    assert out[1].vseq is None


def test_array_math(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, -3.0], [2.0, 0.0, 1.0])], ["a", "b"]
    )
    row = df.select(
        SC.dot("a", "b").alias("dot"),
        *[c.alias(n) for n, c in SC.array_stats("a").items()],
    ).collect()[0]
    assert row.dot == -1.0  # 2 + 0 - 3
    assert row.n_dims == 3
    assert row.vec_sum == 0.0
    assert row.vec_min == -3.0 and row.vec_max == 2.0
    assert row.n_positive == 2


def test_scalar_families_stay_jvm_side(spark):
    df = spark.createDataFrame([([1.0, 2.0],)], ["a"]).select(
        SC.dot("a", "a").alias("d"),
        SC.attr_field(F.lit("k=v"), "k").alias("v"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no Python UDFs anywhere


def test_canonical_url_collapses_cosmetic_variants(spark):
    from eggv_spark.functions.scalars import canonical_url

    urls = [
        "https://s1.example.com/p/7?utm_source=feed&utm_campaign=x",
        "https://WWW.S1.EXAMPLE.com/p/7/",
        "https://s1.example.com/p/7#section-2",
        "https://s1.example.com/p/7?ref=home",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == ["https://s1.example.com/p/7"] * 4
    # path case is SIGNIFICANT and preserved; real params survive
    df2 = spark.createDataFrame(
        [("https://A.example.com/Path?q=1&utm_medium=x",)], ["url"]
    )
    assert df2.select(canonical_url("url").alias("c")).first().c == (
        "https://a.example.com/Path?q=1"
    )


def test_split_sentences_indexes_after_filtering(spark):
    from eggv_spark.operators.text_analysis import split_sentences

    df = spark.createDataFrame(
        [(1, "One. Two sentences!  And... a third? Tail")],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r.sentence_idx, r.sentence, r.n_chars)
        for r in split_sentences(df).collect()
    )
    assert rows == [
        (0, "One", 3),
        (1, "Two sentences", 13),
        (2, "And", 3),
        (3, "a third", 7),
        (4, "Tail", 4),
    ]
