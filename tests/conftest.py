"""Shared pytest fixtures: one small local SparkSession per test run
(the reference's analog is a module-scoped single-worker LocalCluster,
``tests/test_process.py:27-40`` — tests run the real engine,
miniaturized), one DuckDB connection over the sf0.001 tables, and the
one exact-row comparator every Spark-vs-DuckDB test goes through."""

from __future__ import annotations

import tempfile

import duckdb
import pytest

from eggv_spark.catalog import TABLES
from eggv_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    session = get_session(
        app_name="eggv-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # static conf: must be set at session build (bucketed-table tests)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="eggv-warehouse-"),
        },
    )
    yield session
    session.stop()


@pytest.fixture()
def con():
    """DuckDB connection with one view per ``catalog.TABLES`` table at
    sf0.001.  A test's own ``con.register(name, frame)`` shadows the
    view of the same name."""
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


def assert_matches_oracle(df, con, sql: str) -> None:
    """Exact, order-insensitive row equality of a Spark frame and a
    DuckDB query: positional tuples, no tolerance, no canonicalization."""
    got = sorted(tuple(r) for r in df.collect())
    exp = sorted(con.execute(sql).fetchall())
    assert got == exp, f"\ngot: {got[:6]}\nexp: {exp[:6]}"
