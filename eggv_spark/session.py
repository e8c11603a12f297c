"""Config-driven SparkSession factory.

Mirrors the role of the reference's cluster bootstrap
(``eggv/cluster.py:114-162``: LocalCluster / PBSCluster / custom
scheduler) — but Spark-native: one factory that yields a tuned
``SparkSession`` for local mode or defers to ``spark-submit`` masters
(yarn / k8s / standalone) in production.

Scale posture: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), explicit shuffle partitioning, Arrow enabled
for the few pandas-UDF operators, broadcast threshold left to AQE.
"""

from __future__ import annotations

import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession

#: Defaults chosen for correctness-at-scale: AQE handles post-shuffle
#: sizing and skew, Arrow accelerates the pandas-UDF extension ops,
#: and parquet readers keep partition pruning + predicate pushdown on.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # 128 MB input splits (reference used 150 MB dask blocks,
    # eggv/process.py:60); at 100 TB this yields ~800k tasks which is
    # fine for a 1000-executor cluster.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.session.timeZone": "UTC",
    # reliable-mode checkpoint files (materialize.py) are deleted once
    # the checkpointed frame is garbage collected, not left on disk
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Static conf: the codegen class cache is LRU and Spark's default
    # holds 100 classes, so a session that repeats a working set of more
    # than 100 recompiles every class on each repeat.  Measured distinct
    # classes (local[4]): gvf_annotate pipeline 68, the registry_mix
    # benchmark's six entries 171 (at 100, 166-167 of them recompiled
    # every warm pass), the first 50 registry entries at sf0.001 443.
    # A full registry sweep needs 5,873 (at most 79 per entry), so a
    # sweep still cycles this cache; only per-entry repeats hit it.
    "spark.sql.codegen.cache.maxEntries": "1024",
    # PySpark's DataFrame call-site capture wraps every Column and
    # DataFrame function: each call reads two confs, sets and clears the
    # JVM's PySparkCurrentOrigin over py4j, walks the Python stack and
    # retries a failing `import IPython`.  Turning it off halves the
    # py4j round trips of a warm benchmark pass (local[4], seed 2):
    # registry_mix 11,178-11,325 -> 5,500-5,746, gvf_annotate
    # 2,272-2,286 -> 1,214-1,320.  What an error loses: a runtime error
    # (e.g. an ANSI divide by zero) still raises with the same class and
    # message, and its `== DataFrame ==` block still names the operation
    # (by its JVM name: "divide", not "__truediv__"), but its "called
    # from" line is a JVM frame instead of the eggv_spark file:line.
    # Analysis errors are unchanged (classic PySpark analyzes eagerly, so
    # the traceback already points at the line).  Turn it back on with
    # extra_confs={"spark.python.sql.dataFrameDebugging.enabled": "true"}.
    # PySpark reads this conf once per process, at the first wrapped
    # call, from the then-active session, and caches False if no
    # session is active then.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_session(
    app_name: str = "eggv-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_confs: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master=None`` leaves the master to spark-submit / env (cluster
    deployments); tests and local runs pass ``local[N]``.
    ``shuffle_partitions=None`` defaults to 32 locally — on a real
    cluster pass ~2-3x total cores, or rely on AQE coalescing from a
    high initial value.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)

    confs = dict(_DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else 32
    )
    if extra_confs:
        confs.update(extra_confs)
    for key, value in confs.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
