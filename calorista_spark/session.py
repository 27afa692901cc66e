"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (the SURVEY §4.3 north star: 100 TB,
~1000 executors) but is developed and tested on ``local[N]``. Every
default here is chosen to be correct at both ends:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion replace hand-tuned shuffle counts.
- Arrow on: pandas_udf / applyInPandas paths move columnar batches,
  not pickled rows. Driver-built tables enter plans as a
  ``LocalRelation`` through ``catalog.local_table``; above
  ``spark.sql.execution.arrow.localRelationThreshold`` they become
  JVM-side Arrow batches, still with no Python worker.
- ``spark.sql.shuffle.partitions`` stays modest locally; AQE coalesces
  it anyway, and on a real cluster the operator would set it near
  2-3x total cores (or rely on AQE's initial/max partition bounds).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def build_session(
    app_name: str = "calorista-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    Parameters mirror what a deployment would template: master comes
    from the cluster manager in production; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r14 optimization (guide §4 — the Python boundary): PySpark 4
        # wraps EVERY DataFrame/Column API call in a call-site capture
        # (a Python stack walk plus two extra py4j round-trips to set/
        # clear the JVM-side origin) so error messages can cite user
        # code. For a query engine composing hundreds of exprs per
        # query that is pure per-call overhead on the driver: measured
        # 0.37 s → 0.13 s to BUILD daily_totals' DataFrame (no action),
        # ~0.1-0.25 s per registered query. Scale-independent (driver-
        # side constant cost), so it helps identically on a cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: allow large-enough splits locally; a cluster
        # deployment tunes maxPartitionBytes to executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
