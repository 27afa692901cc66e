"""Lineage-truncating materialization with a fault-tolerance switch
(VERDICT r01 #3).

``localCheckpoint`` stores blocks in *executor memory*: fast, but on a
real cluster an executor loss mid-iteration kills the job because the
truncated lineage can't be recomputed. When the session has a reliable
checkpoint directory configured (``sparkContext.setCheckpointDir`` —
HDFS/S3 in production), iterative operators should write there
instead. This helper picks automatically, so:

- local[n] development / tests: no checkpoint dir → ``localCheckpoint``
  (zero extra I/O, the measured-fast path);
- cluster deployments: set a checkpoint dir once per session and every
  iterative operator becomes executor-loss-safe with no code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage, reliably when the
    session has a checkpoint dir, in executor memory otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist exactly the RDD a :func:`stage_checkpoint` pinned —
    unlike :func:`calorista_spark.cache.release_caches`, every other
    caller's pin survives. ``df`` must be the frame
    :func:`stage_checkpoint` returned (its plan is the checkpointed
    ``LogicalRDD``) and must not be read afterwards: its lineage is
    truncated, so the released blocks were the only copy. A reliable
    checkpoint persists nothing and releasing it is a no-op."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
