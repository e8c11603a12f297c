"""Fixture-level oracle checks for the round-9 operators, in the
form of tests/test_round6_staged_oracles.py: registry generators from
``__spark_entry__.py`` where the registry has one, fixture SQL here
otherwise.

Non-obvious encodings proven here:

- BM25's top-k boundary orders by the 4dp-ROUNDED score (plus id) so
  the cut is engine-deterministic;
- the Kneser–Ney chain derives context totals and continuation-type
  counts FROM the bigram-count table (one source of truth on both
  engines);
- energy distance reuses the sorted-pairwise identity
  Σ_{i<j}|x_j−x_i| = Σ_v v·c·(2p−c−n) over the distinct-value
  histogram — tie-safe, integer-exact;
- the hashed-BoW → logistic composite feeds the round-8 logistic CTE
  chain from a feature CTE instead of the embeddings table.
"""

from __future__ import annotations

import pandas as pd

from eggv_spark.registry.aggregates import _energy_oracle_sql
from eggv_spark.registry.composite import _hashed_classifier_oracle_sql
from eggv_spark.registry.multimodal import _image_hist_oracle_sql
from eggv_spark.registry.text import _bm25_oracle_sql, _kn_oracle_sql

TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
BH = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


DOCS = [
    (0, "the cat sat on the mat", "src0"),
    (1, "the dog sat on the log and the dog barked", "src0"),
    (2, "cats and dogs and cats again", "src1"),
    (3, "completely unrelated words here now", "src0"),
    (4, "the cat and the dog met on the mat", "src1"),
    (5, "mat mat mat cat", "src0"),
]


def test_bm25_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import bm25_topk

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r) for r in bm25_topk(df, ["cat", "mat", "dog"], k=4).collect()
    )
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    exp = sorted(
        con.execute(_bm25_oracle_sql(("cat", "mat", "dog"), 4)).fetchall()
    )
    assert got == exp


def test_kn_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import kneser_ney_logprob

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    got = sorted(tuple(r) for r in kneser_ney_logprob(df).collect())
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(_kn_oracle_sql()).fetchall())
    assert got == exp


def test_energy_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import energy_distance

    rows = [
        ("a", (i * 37) % 210 + (i % 3) * 5) for i in range(40)
    ] + [
        ("b", (i * 53) % 260 + (i % 4) * 7) for i in range(55)
    ]
    df = spark.createDataFrame(rows, ["g", "cents"])
    got = tuple(energy_distance(df, "g", "cents", "a", "b").collect()[0])
    con.register("events", pd.DataFrame(rows, columns=["g", "cents"]))
    exp = con.execute(
        _energy_oracle_sql("g", "cents", "a", "b")
    ).fetchall()[0]
    assert got == exp


def test_image_hist_oracle_matches_spark(spark, con):
    from eggv_spark.operators.multimodal import (
        image_channel_hist,
        synthesize_ppm_images,
    )

    rows = [(i, "x", "s") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in image_channel_hist(
            synthesize_ppm_images(docs, 8, 8), n_bins=4
        ).collect()
    )
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(_image_hist_oracle_sql(8, 8, 4)).fetchall())
    assert got == exp


def test_hashed_classifier_oracle_matches_spark(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.ml import logistic_regression_gd
    from eggv_spark.operators.text_analysis import with_hashed_features

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    feats = with_hashed_features(df, n_buckets=16).select(
        F.transform(
            "feature_vec",
            lambda v: v.cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
        ).alias("x"),
        (F.col("source") == "src1").cast("int").alias("label"),
    )
    got = tuple(
        logistic_regression_gd(
            feats, "x", "label", n_steps=2, lr=0.5, dim=16
        ).collect()[0]
    )
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    sql = _hashed_classifier_oracle_sql(16, 2, 0.5)
    exp = con.execute(sql).fetchall()[0]
    assert got == exp
