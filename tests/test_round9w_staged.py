"""Staging tests for the twenty-fourth round-8 wave: streaming
growth-accounting states.
"""

from __future__ import annotations

from tests.conftest import SF_DIR, assert_matches_oracle


def test_stream_growth_matches_batch_decomposition(spark):
    from pyspark.sql import functions as F

    from eggv_spark.registry.streaming import _stream_growth_states
    from eggv_spark.operators.events import growth_accounting

    states = _stream_growth_states(spark, SF_DIR)
    per_day = (
        states.groupBy("day_epoch")
        .pivot("state", ["new", "retained", "resurrected"])
        .count()
        .na.fill(0)
    )
    batch = growth_accounting(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).select(
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("day_epoch"),
        "n_new", "n_retained", "n_resurrected",
    )
    j = per_day.join(batch, "day_epoch", "full_outer").collect()
    assert len(j) > 0
    for r in j:
        assert r["new"] == r["n_new"]
        assert r["retained"] == r["n_retained"]
        assert r["resurrected"] == r["n_resurrected"]


def test_stream_growth_oracle_sf0001(spark, con):
    from eggv_spark.registry.streaming import (
        _STREAM_GROWTH_SQL,
        _stream_growth_states,
    )

    assert_matches_oracle(
        _stream_growth_states(spark, SF_DIR), con, _STREAM_GROWTH_SQL
    )
