"""Oracle checks for the round-9d wave: each operator, built through
its library call at sf0.001, against its registry generator from
``__spark_entry__.py``.

Non-obvious encodings proven here:

- the stump grid thresholds enter BOTH engines as parsed-double
  literals (DuckDB VALUES needs CAST(... AS DOUBLE): a bare -0.3 is
  DECIMAL(2,1) there), and `lneg`/`lpos` avoid the ln() name clash;
- HITS iterates in HUGEINT on the DuckDB side (exact 128-bit) vs
  DECIMAL(38,0) on Spark — both exact under the documented
  (Σw)^(2·rounds) < 1e38 bound, so they agree bit-for-bit before the
  single final normalization;
- MMR's redundancy multiplier is interpolated as repr(1.0 - lam):
  1.0 - 0.7 is 0.30000000000000004 in binary, and writing `0.3` in
  the SQL would diverge at the 6dp rounding boundary;
- RAKE's separator encoding (stopword -> '|' -> split -> trim ->
  drop empties) round-trips identically through Spark split(regex)
  and DuckDB string_split.
"""

from __future__ import annotations

from eggv_spark.registry.graph import _hits_oracle_sql, _trade_edges
from eggv_spark.registry.ml import _stump_oracle_sql
from eggv_spark.registry.similarity import _mmr_oracle_sql
from eggv_spark.registry.text import _rake_oracle_sql
from tests.conftest import SF_DIR, assert_matches_oracle


def test_stump_oracle_matches_spark_sf0001(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.ml import decision_stump_fit
    from eggv_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings").select(
        "embedding", (F.col("label") >= 5).cast("long").alias("label")
    )
    thresholds = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3)
    assert_matches_oracle(
        decision_stump_fit(emb, dim=16, thresholds=thresholds),
        con,
        _stump_oracle_sql(16, thresholds),
    )


def test_hits_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.graph import hits_scores

    edges = _trade_edges(spark, SF_DIR)
    assert_matches_oracle(
        hits_scores(edges, n_rounds=2), con, _hits_oracle_sql(2)
    )


def test_mmr_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.similarity import mmr_diversify
    from eggv_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    assert_matches_oracle(
        mmr_diversify(
            emb, query_id=0, dim=16, n_candidates=20, k=5, lam=0.7
        ),
        con,
        _mmr_oracle_sql(0, 16, 20, 5, 0.7),
    )


def test_rake_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.text_analysis import (
        RAKE_STOPWORDS,
        rake_keywords,
    )
    from eggv_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents")
    assert_matches_oracle(
        rake_keywords(docs, top_k=15),
        con,
        _rake_oracle_sql(15, RAKE_STOPWORDS),
    )
