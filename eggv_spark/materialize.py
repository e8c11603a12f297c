"""Intra-query materialization points, cluster-parameterizable.

This is the ONLY materialization path: nothing else in eggv_spark
calls ``cache``/``persist``/``checkpoint``.  Every re-consumed
intermediate (shingle tables, iterative round state, IVF indexes, the
pipeline's shared scans) is cut through :func:`materialize` (eager,
where the caller forces it right away) or :func:`materialize_lazy`.
The session conf ``spark.eggv.materialize.mode`` picks the mechanism
WITHOUT changing any plan shape:

- ``local`` (default): ``localCheckpoint`` — executor-local storage
  (MEMORY_AND_DISK), lineage truncated.  Right on local[N] and on
  clusters where re-running the query on executor loss is acceptable
  (the materialization lives inside ONE query invocation, so the
  blast radius of a lost replica is one query retry).
- ``reliable``: reliable ``checkpoint`` to ``spark.eggv.checkpoint.dir``
  (or an already-set ``SparkContext.setCheckpointDir``) — survives
  executor loss, the fault-tolerant posture for multi-hour 100 TB
  runs.  Both functions cut EAGERLY here, persisting the source only
  while the checkpoint writes: the lineage runs once, so consumers
  never see a second (possibly different) computation of it.
  Checkpoint files go once the frame is garbage collected (session.py).

Both modes cut the lineage at the same point; only the storage and
fault-tolerance contract differs.  Neither leaves anything in the
session-wide CacheManager, so nothing crosses a query invocation: no
query can silently reuse data another query materialized.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

MODE_CONF = "spark.eggv.materialize.mode"
DIR_CONF = "spark.eggv.checkpoint.dir"


def _mode(df: DataFrame) -> str:
    return df.sparkSession.conf.get(MODE_CONF, "local")


def _reliable(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt_dir = df.sparkSession.conf.get(DIR_CONF, None)
        if not ckpt_dir:
            raise ValueError(
                f"{MODE_CONF}=reliable needs a checkpoint directory: "
                f"set {DIR_CONF} or SparkContext.setCheckpointDir"
            )
        sc.setCheckpointDir(ckpt_dir)
    # a caller's own cache entry for this plan is used, never dropped
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        if owned:
            df.unpersist()


def materialize(df: DataFrame) -> DataFrame:
    """Eager materialization point (``df.transform(materialize)``)."""
    if _mode(df) == "reliable":
        return _reliable(df)
    return df.localCheckpoint(eager=True)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Lazy lineage-truncation point — materialized on first use by
    the consuming job.  Under AQE, Spark still runs the frame's
    shuffle stages when the cut is made (the final stage waits);
    ``reliable`` mode cuts eagerly."""
    if _mode(df) == "reliable":
        return _reliable(df)
    return df.localCheckpoint(eager=False)
