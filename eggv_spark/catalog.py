"""The named-query library and the test-data table list.

``TABLES`` names the ten test-data tables.  ``run_named_query``
resolves a query from the registry (``eggv_spark.registry``) by name —
the registry doubles as the engine's named-query library, and the
CLI's ``query`` subcommand is a thin shell over this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def query_registry() -> dict:
    """The named-query library: every registered analytics query,
    ``name -> (spark, sf_dir) -> DataFrame``.  Imports the registry
    lazily: it declares several hundred entries."""
    from eggv_spark.registry import BUILDERS

    return dict(BUILDERS)


def run_named_query(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Resolve ``name`` from the registry and build its DataFrame
    against ``sf_dir`` (lazy — caller chooses the action)."""
    registry = query_registry()
    if name not in registry:
        close = [n for n in registry if name in n]
        hint = f"; close matches: {close[:8]}" if close else ""
        raise KeyError(f"unknown query {name!r}{hint}")
    return registry[name](spark, sf_dir)
