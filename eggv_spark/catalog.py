"""SQL catalog surface: expose the engine to plain-SQL users.

``register_tables`` publishes every test-data table as a temp view
(plus the ``explode_effects`` UDTF from
``functions.scalars.variant_effects_udtf``), so a user can drive the
engine with ``spark.sql(...)`` alone.  ``run_named_query`` resolves a
query from the driver registry (``__spark_entry__.queries()``) by
name — the registry doubles as the engine's named-query library, and
the CLI's ``query`` subcommand is a thin shell over this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def register_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> list[str]:
    """Create a temp view per parquet table under ``sf_dir`` and
    register the SQL UDTF; returns the view names registered.
    Missing tables are skipped (a data dir need not carry all ten).
    Each view is built by :func:`readers.read_table`, so SQL users see
    the same normalized timestamp types as every registry operator."""
    import os

    from eggv_spark.functions.scalars import register_udtfs
    from eggv_spark.sources.readers import read_table

    registered = []
    for name in tables or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
        registered.append(name)
    register_udtfs(spark)
    return registered


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
