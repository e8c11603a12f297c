"""Materialization scope: nothing an operator builds outlives its query.

Every lineage cut goes through ``eggv_spark.materialize``, whose
default (``local``) mode is a ``localCheckpoint`` and never registers
a frame in the session-wide CacheManager.  A raw ``cache()`` /
``persist()`` inside an operator would leave the frame there after
the query ran, and later queries whose subplans match would silently
reuse it.  One registry entry per module that materializes
intermediates runs to a noop sink, then the cache must be empty.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

ENTRIES = (
    "graph_pagerank",
    "graph_hits",
    "ddp_minhash_neardup",
    "sim_ivf_topk",
    "logistic_regression_gd",
    "isotonic_calibration",
)


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_leaves_session_cache_empty(spark, name):
    import __spark_entry__ as E

    # frames other test modules cached must not mask a leak here
    spark.catalog.clearCache()
    E.queries()[name](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
