"""The named-query library and the test-data table list.

``TABLES`` names the ten test-data tables.  ``run_named_query``
resolves a query from the driver registry
(``__spark_entry__.queries()``) by name — the registry doubles as the
engine's named-query library, and the CLI's ``query`` subcommand is a
thin shell over this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def query_registry() -> dict:
    """The named-query library: every registered analytics query,
    ``name -> (spark, sf_dir) -> DataFrame``.  Lazily imports the
    driver-contract module (which lives at the repo root, beside this
    package)."""
    import importlib
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    entry = importlib.import_module("__spark_entry__")
    return entry.queries()


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
