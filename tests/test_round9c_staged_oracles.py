"""Oracle checks for the round-9c wave: each operator, built through
its library call on small fixtures and on the sf0.001 parquet tables,
against its registry generator from ``__spark_entry__.py``.

Non-obvious encodings proven here:

- kmeans_lloyd unrolls the Lloyd rounds as CTE chains with
  AS MATERIALIZED (the iterative-fit rule: inlining re-executes the
  chain per reference — exponential in the step count) and mirrors
  BOTH determinism pins: round(sqd, 6) argmin with (sqd, cid) order,
  and the DECIMAL(38,18) exact centroid sums;
- isotonic's minimax lattice works on exact integer prefix sums, so
  every range mean is one int/int double division — bit-identical;
- acf joins the zero-filled day spine to itself with DATE + INTEGER
  arithmetic (DuckDB lead() cannot take a variable offset);
- image entropy folds the intensity histogram via
  list(c ORDER BY v) → list_transform → list_sum — the same sorted
  sequential order as the Python decode loop, so the doubles agree
  bit-for-bit before the shared half-up 4dp rounding;
- embedding coherence reuses the DECIMAL centroid rule so per-row
  cosines are bit-identical and the n_low threshold count is exact.
"""

from __future__ import annotations

from eggv_spark.registry.composite import _coherence_gate_oracle_sql
from eggv_spark.registry.events import _acf_oracle_sql
from eggv_spark.registry.ml import (
    _isotonic_oracle_sql,
    _kmeans_lloyd_oracle_sql,
)
from eggv_spark.registry.multimodal import _image_entropy_oracle_sql
from eggv_spark.registry.similarity import _coherence_oracle_sql
from tests.conftest import SF_DIR, assert_matches_oracle


def test_kmeans_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.ml import kmeans_lloyd
    from eggv_spark.sources.readers import read_table

    df = read_table(spark, SF_DIR, "embeddings")
    assert_matches_oracle(
        kmeans_lloyd(df, k=4, n_steps=3, dim=16),
        con,
        _kmeans_lloyd_oracle_sql(k=4, n_steps=3, dim=16),
    )


def test_isotonic_oracle_matches_spark_sf0001(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.ml import isotonic_calibration
    from eggv_spark.sources.readers import read_table

    li = read_table(spark, SF_DIR, "lineitem")
    assert_matches_oracle(
        isotonic_calibration(
            li,
            F.round(F.col("l_discount") * 100).cast("long"),
            (F.col("l_returnflag") == "R").cast("long"),
        ),
        con,
        _isotonic_oracle_sql(
            "round(l_discount * 100)", "l_returnflag = 'R'", "lineitem"
        ),
    )


def test_acf_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.events import acf_lags
    from eggv_spark.sources.readers import read_table

    ev = read_table(spark, SF_DIR, "events")
    assert_matches_oracle(
        acf_lags(ev, "ts", n_lags=7), con, _acf_oracle_sql(7)
    )


def test_image_entropy_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.multimodal import (
        image_entropy_report,
        synthesize_ppm_images,
    )
    from eggv_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents")
    assert_matches_oracle(
        image_entropy_report(synthesize_ppm_images(docs)),
        con,
        _image_entropy_oracle_sql(48),
    )


def test_coherence_oracle_matches_spark_sf0001(spark, con):
    from eggv_spark.operators.similarity import embedding_coherence
    from eggv_spark.sources.readers import read_table

    df = read_table(spark, SF_DIR, "embeddings")
    assert_matches_oracle(
        embedding_coherence(df, dim=16, low_threshold=0.5),
        con,
        _coherence_oracle_sql(16, 0.5),
    )


def test_coherence_gate_oracle_matches_spark_sf0001(spark, con):
    from pyspark.sql import functions as F

    from eggv_spark.operators.similarity import centroid_cosine
    from eggv_spark.sources.readers import read_table

    df = read_table(spark, SF_DIR, "embeddings")
    thr = 0.5
    scored = centroid_cosine(df, dim=16)
    gate = scored.groupBy(F.col("_lbl").alias("label")).agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("_cos") >= thr).cast("long")).alias("n_kept"),
        F.round(
            F.sum((F.col("_cos") >= thr).cast("long"))
            / F.count("*"),
            4,
        ).alias("kept_share"),
        F.round(
            F.avg(F.when(F.col("_cos") >= thr, F.col("_cos"))), 4
        ).alias("avg_cos_kept"),
    )
    assert_matches_oracle(gate, con, _coherence_gate_oracle_sql(16, thr))
