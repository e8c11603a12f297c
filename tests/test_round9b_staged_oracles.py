"""Fixture-level oracle checks for the second round-9 wave: each
operator on a small fixture against its registry generator from
``__spark_entry__.py``.

Non-obvious encodings proven here:

- Naive Bayes scores on a DENSE doc x class grid (floor-only classes
  included), prediction by row_number over (score DESC, label DESC) —
  the max-struct largest-label tie rule;
- token entropy's fold runs over the FIRST-OCCURRENCE-ordered
  distinct list on both engines (array_distinct / list_distinct both
  preserve first occurrence), so the float fold order is identical;
- Wasserstein keeps the integer numerator |p_a·n_b − p_b·n_a|·Δv
  exact in HUGEINT and divides once;
- the audio silence report recomputes from the WAV synthesis formula
  ((d*31 + i*17) % 4096 − 2048) with half-up ratio rounding.
"""

from __future__ import annotations

import pandas as pd

from eggv_spark.registry.aggregates import _wasserstein_oracle_sql
from eggv_spark.registry.ml import _naive_bayes_oracle_sql
from eggv_spark.registry.multimodal import _audio_silence_oracle_sql
from eggv_spark.registry.text import _ngram_diversity_oracle_sql

TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


DOCS = [
    (0, "spark spark table scan join", "src0"),
    (1, "table scan join filter spark", "src0"),
    (2, "cat dog cat dog bird bird bird", "src1"),
    (3, "dog cat bird dog cat", "src1"),
    (4, "spark table cat", "src0"),
    (5, "one one one one", "src2"),
]


def test_naive_bayes_oracle_matches_spark(spark, con):
    from eggv_spark.operators.ml import naive_bayes_fit

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    got = sorted(tuple(r) for r in naive_bayes_fit(df).collect())
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(_naive_bayes_oracle_sql()).fetchall())
    assert got == exp


def test_wasserstein_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import wasserstein_1d

    rows = [
        ("a", (i * 37) % 210 + (i % 3) * 5) for i in range(40)
    ] + [
        ("b", (i * 53) % 260 + (i % 4) * 7) for i in range(55)
    ]
    df = spark.createDataFrame(rows, ["g", "cents"])
    got = tuple(wasserstein_1d(df, "g", "cents", "a", "b").collect()[0])
    con.register("events", pd.DataFrame(rows, columns=["g", "cents"]))
    exp = con.execute(
        _wasserstein_oracle_sql("g", "cents", "a", "b")
    ).fetchall()[0]
    assert got == exp


TOKEN_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS t, list_distinct({TOKS}) AS d
  FROM documents
),
scored AS (
  SELECT doc_id, len(t) AS n_tokens, len(d) AS n_distinct,
         -list_sum(list_transform(d, w ->
            (len(list_filter(t, x -> x = w)) / CAST(len(t) AS DOUBLE))
            * ln(len(list_filter(t, x -> x = w))
                 / CAST(len(t) AS DOUBLE)))) AS h
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(h, 4) AS entropy,
       CASE WHEN n_distinct = 1 THEN 0.0
            ELSE round(h / ln(n_distinct), 4) END AS evenness
FROM scored
"""


def test_token_entropy_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import token_entropy

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    got = sorted(tuple(r) for r in token_entropy(df).collect())
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    exp = sorted(con.execute(TOKEN_ENTROPY_SQL).fetchall())
    assert got == exp


def test_ngram_diversity_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import ngram_diversity

    df = spark.createDataFrame(DOCS, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in ngram_diversity(df, "source", sizes=(1, 2, 3)).collect()
    )
    con.register(
        "documents", pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )
    sql = _ngram_diversity_oracle_sql("source", (1, 2, 3))
    exp = sorted(con.execute(sql).fetchall())
    assert got == exp


def test_audio_silence_oracle_matches_spark(spark, con):
    from eggv_spark.operators.multimodal import (
        audio_silence_report,
        synthesize_wav_audio,
    )

    rows = [(i, "x", "s") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in audio_silence_report(
            synthesize_wav_audio(docs, n_samples=64), threshold=512
        ).collect()
    )
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    exp = sorted(
        con.execute(_audio_silence_oracle_sql(64, 512)).fetchall()
    )
    assert got == exp
