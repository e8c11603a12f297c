"""Fixture-level oracle checks for the round-8 operators, in the
form of tests/test_round6_staged_oracles.py: registry generators from
``__spark_entry__.py`` where the registry has one, fixture SQL here
otherwise.

Non-obvious encodings proven here:

- the iterative fits (logistic GD, PCA power iteration) unroll to
  per-step CTE chains over DuckDB list math (``list_dot_product`` +
  ``list_zip``/``list_transform`` element-wise updates, per-dimension
  gradients via an ``unnest(range(...))`` dimension spine);
- readability's syllable rule is ``len(regexp_extract_all(w,
  '[aeiouy]+'))`` — identical to Spark's ``regexp_count``;
- the PCA top-loading argmax tie-breaks by SMALLEST dim on both
  engines (ORDER BY abs DESC, d ASC LIMIT 1 vs the max-struct form).
"""

from __future__ import annotations

import pandas as pd

import __spark_entry__ as E


def _fixture_rows(n=90, dim=6):
    rows = []
    for i in range(n):
        v = [((i * 7 + d * 13) % 19 - 9) / 9.0 for d in range(dim)]
        v[1] *= 4.0
        y = 1 if (v[0] + 0.25 * v[1]) > 0 else 0
        rows.append((list(map(float, v)), y))
    return rows


def test_logistic_oracle_matches_spark(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.ml import logistic_regression_gd

    # the registry oracle reads the 10-class embeddings label and
    # binarizes it as label < 5, the same step its Spark builder runs
    rows = [(x, 2 if y else 7) for x, y in _fixture_rows()]
    df = spark.createDataFrame(rows, "embedding array<double>, label int")
    binary = df.select(
        "embedding", (F.col("label") < 5).cast("int").alias("label")
    )
    got = tuple(
        logistic_regression_gd(
            binary, "embedding", "label", n_steps=3, lr=0.4, dim=6
        ).collect()[0]
    )
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["embedding", "label"])
    )
    exp = con.execute(E._logistic_oracle_sql(6, 3, 0.4)).fetchall()[0]
    assert got == exp


def test_pca_oracle_matches_spark(spark, con):
    from eggv_spark.operators.ml import pca_power_iteration

    rows = _fixture_rows()
    df = spark.createDataFrame(rows, "embedding array<double>, label int")
    got = tuple(
        pca_power_iteration(df, "embedding", n_steps=4, dim=6).collect()[0]
    )
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["embedding", "label"])
    )
    exp = con.execute(E._pca_oracle_sql(6, 4)).fetchall()[0]
    assert got == exp


READABILITY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS t,
         list_filter(regexp_split_to_array(text, '[.!?]+'),
                     s -> trim(s) <> '') AS sents
  FROM documents
), counts AS (
  SELECT doc_id,
         greatest(len(sents), 1) AS n_sentences,
         greatest(len(t), 1) AS n_words,
         greatest(list_sum(list_transform(t, w ->
           greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 1)
           AS n_syllables
  FROM toks
)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
             - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
         AS flesch,
       round(0.39 * (n_words / CAST(n_sentences AS DOUBLE))
             + 11.8 * (n_syllables / CAST(n_words AS DOUBLE))
             - 15.59, 4) AS fk_grade
FROM counts
"""


def test_readability_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import readability_scores

    rows = [
        (0, "The cat sat. It was happy! Was it? yes"),
        (1, "supercalifragilistic expialidocious rhythm"),
        (2, "one two three four five six seven."),
        (3, "a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(tuple(r) for r in readability_scores(df).collect())
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert got == sorted(con.execute(READABILITY_SQL).fetchall())


def test_contamination_oracle_matches_spark(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.text_analysis import contamination_report

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "src0"),
        (1, "beta gamma delta nine ten eleven", "src0"),
        (2, "alpha beta gamma delta twelve", "src1"),
        (3, "completely different words here now", "src1"),
        (4, "gamma delta epsilon zeta eta", "src1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in contamination_report(
            df, F.col("source") == "src1", ngram_sizes=(3, 5)
        ).collect()
    )
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(E._contamination_oracle_sql((3, 5))).fetchall())
    assert got == exp


def test_dsir_oracle_matches_spark(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.text_analysis import dsir_log_weights

    rows = [
        (0, "high quality prose reads well and flows nicely", "src0"),
        (1, "spam spam buy now click here spam spam", "src0"),
        (2, "quality prose flows well here too friends", "src0"),
        (3, "high quality prose reads well indeed", "src1"),
        (4, "prose that flows and reads nicely wins", "src1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in dsir_log_weights(
            df, F.col("source") == "src1", n_buckets=256
        ).collect()
    )
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(E._dsir_oracle_sql(256, 1.0)).fetchall())
    assert got == exp
    # the spammy raw doc must score LOWER than the prose-like raw docs
    w = {r[0]: r[2] for r in got}
    assert w[1] < w[0] and w[1] < w[2]
