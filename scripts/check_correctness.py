"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at sf0.01 (or $SPARK_GRAFT_SF_DIR; legacy $SF_DIR honored) side by side
with its ``oracle_sql()`` and compares row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted
by all columns — mirroring the documented driver comparison).

Usage: python scripts/check_correctness.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from eggv_spark.catalog import TABLES
from eggv_spark.session import get_session


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalization: sort the RAW frame.

    pandas factorizes (hashes) every key column for a multi-column
    ``sort_values``, so list/dict-typed cells raise
    ``TypeError: unhashable type`` — exactly the round-3 driver error
    on ``txt_hashed_features``.  Do NOT stringify before sorting: that
    array-tolerant fallback is what let the replica green-light a
    query the driver could not verify (VERDICT r03, "What's wrong" 1).
    """
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object:
            bad = df[col].map(
                lambda v: isinstance(v, (list, dict, set, tuple, bytearray))
                or type(v).__module__ == "numpy" and getattr(v, "ndim", 0) > 0
            )
            if bad.any():
                raise TypeError(
                    f"non-scalar cells in column {col!r} "
                    "(driver canonicalizer cannot hash these)"
                )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _hash(df: pd.DataFrame) -> str:
    canon = _canonical(df)
    return str(pd.util.hash_pandas_object(canon.astype(str), index=False).sum())


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    only = set(sys.argv[1:])

    spark = get_session(
        "correctness", master="local[8]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false",
                     "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(spark_df)} rows (no oracle)")
            if len(spark_df) == 0:
                failures.append(name)
            continue
        try:
            oracle_df = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {exc}")
            continue

        problems = []
        if len(spark_df) != len(oracle_df):
            problems.append(f"rows {len(spark_df)} != {len(oracle_df)}")
        if sorted(spark_df.columns) != sorted(oracle_df.columns):
            problems.append(
                f"cols {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
            )
        if not problems:
            try:
                if _hash(spark_df) != _hash(oracle_df):
                    problems.append("value-hash mismatch")
                    s, o = _canonical(spark_df), _canonical(oracle_df)
                    diff = (
                        s.astype(str).compare(o.astype(str))
                        if s.shape == o.shape
                        else None
                    )
                    if diff is not None and not diff.empty:
                        print(diff.head(5))
            except TypeError as exc:
                problems.append(f"canonicalize error: {exc}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name} ({len(spark_df)} rows)")

    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
