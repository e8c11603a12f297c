"""What every family module shares: the ``register`` decorator and
the tables it fills, the test-data reader, scratch directories, and
the corpus and tokenizer SQL fragments that several families' oracles
embed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eggv_spark.sources.readers import read_table


#: Every registry entry, in declaration order: name -> builder
#: ``(spark, sf_dir) -> DataFrame``, and name -> its DuckDB oracle SQL.
BUILDERS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str):
    """Declare the decorated builder as registry entry ``name``, checked
    against ``oracle``: DuckDB SQL over the same tables that returns
    the same rows.  A name can be declared once."""
    if name in BUILDERS:
        raise ValueError(f"registry entry {name!r} is already declared")

    def declare(builder):
        BUILDERS[name] = builder
        ORACLES[name] = oracle
        return builder

    return declare


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit.  Queries that
    round-trip through a filesystem sink (CDC replay, dynamic
    overwrite, schema evolution, format round-trip, ...) need their
    files to outlive the lazily-returned DataFrame, so cleanup cannot
    be in-function; registering with atexit keeps repeated
    gate/driver runs from accumulating orphaned /tmp copies."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _docs_with_dups(spark, sf_dir):
    """Documents plus injected exact duplicates (every 10th doc
    re-tagged with id+1,000,000) so dedup outputs are non-trivial —
    the synthetic corpus itself has no exact dups."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )


_DUPDOCS_SQL = (
    "SELECT doc_id, text FROM documents"
    " UNION ALL"
    " SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"
)


_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
)


_SHINGLES_SQL = (
    "list_distinct(list_transform("
    " generate_series(1, greatest(len(t) - 2, 1)),"
    " i -> array_to_string(list_slice(t, i, i + 2), ' ')))"
)


_BASEHASH_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


def _copurchase_edges(spark, sf_dir):
    """Part co-purchase graph (parts co-ordered ≥2 times), with the
    co-order count kept as ``n_co`` — shared input of the triangle /
    k-core / Adamic–Adar / BFS graph queries."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pb")
    )
    return (
        li.join(other, (li["l_orderkey"] == other["_ok"])
                & (li["l_partkey"] < other["_pb"]))
        .groupBy(F.col("l_partkey").alias("x"), F.col("_pb").alias("y"))
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
