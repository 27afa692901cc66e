"""Table catalog over the driver-generated parquet test tables.

TESTDATA.md: TPC-H-ish star schema (region nation customer supplier
part orders lineitem) + an ``events`` stream table + LLM corpora
(``documents``, ``embeddings``), one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning on every scan. ``load_tables`` also registers
temp views so any operator can be expressed in Spark SQL as well.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are CONSTANT-SIZE (5 and 25 rows regardless of
# scale factor) and therefore always safe to hint-broadcast. supplier,
# part and customer are deliberately NOT here: TPC-H scales them
# linearly (10k/200k/150k rows × SF), so at the 100 TB north star a
# forced broadcast hint would OOM the driver — those joins must be left
# to AQE's size-based runtime decision instead.
#
# ENFORCED by read_table: every read of a table in this set carries
# F.broadcast, so any join against it is hint-broadcast without
# per-query hints. (The hint is inert outside joins.)
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _input_fingerprint(path: str):
    """(size, mtime) fingerprint of a parquet file or directory — a
    cached plan is only reused while the underlying bytes are
    provably the same ones it was planned over."""
    if os.path.isdir(path):
        out = []
        for n in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, n))
            out.append((n, st.st_size, st.st_mtime_ns))
        return tuple(out)
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def _plan_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, "_calorista_plan_cache", None)
    if cache is None:
        cache = {}
        spark._calorista_plan_cache = cache
    return cache


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read one catalog table. Plain parquet scan — filters and
    projections applied by callers reach the scan via Catalyst.
    ``fan_out=True`` widens an under-partitioned scan (see
    :func:`fan_out`) for CPU-heavy downstream stages.

    r14 (guide §5 — the driver should do almost no data work): the
    built DataFrame is memoized per (session, dir, table, fan_out,
    input fingerprint). A DataFrame is an immutable logical plan, so
    reuse is pure metadata: every action still scans the parquet
    bytes. Without the memo each of the ~400 read_table calls in a
    full registry pass re-listed and re-schema-read the same static
    file (~80-300 ms of driver/py4j work per call), and ``fan_out``
    re-ran physical planning just to count scan splits. The
    fingerprint (file sizes + mtimes) drops the cache the moment the
    driver regenerates testdata; the cache lives on the session
    object, so a fresh session (fresh tz/conf axes) never sees
    another session's plans."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    cache = _plan_cache(spark)
    key = (sf_dir, name, fan_out, _input_fingerprint(table_path(sf_dir, name)))
    df = cache.get(key)
    if df is not None:
        return df
    if name == "events":
        df = _read_events(spark, sf_dir)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    if name in BROADCAST_DIMS:
        from pyspark.sql import functions as F

        df = F.broadcast(df)
    if fan_out:
        df = globals()["fan_out"](df)
    cache[key] = df
    return df


def local_table(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A driver-built table (``rows`` of tuples in ``schema`` order)
    as a DataFrame that lives in the JVM.

    The rows go over as one Arrow table, so the plan is a
    ``LocalRelation`` whatever ``spark.sql.execution.arrow.pyspark.
    enabled`` says: scanning or broadcasting it runs no Spark job and
    forks no Python worker. ``spark.createDataFrame(list)`` instead
    plans a ``LogicalRDD`` over ``sc.parallelize``, which cuts even a
    3-row table into ``defaultParallelism`` tasks that each start a
    Python worker to unpickle their slice. ``schema`` (a StructType or
    DDL string) is kept as given, nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition an under-partitioned frame up to the
    session's default parallelism so CPU-heavy narrow stages
    (tokenize / md5 / vector folds) engage every core.

    Guarded: at production scale a multi-terabyte scan already yields
    more splits than cores and this is a no-op; only a
    single-small-file scan (which would otherwise pin the whole
    downstream pipeline to ONE task) pays the one tiny exchange.
    Never use upstream of rounded cross-row double aggregations whose
    oracle chains on the rounded values (e.g. IVF centroids) —
    repartitioning changes partial-aggregation order.

    r14: the decision is memoized on the DataFrame object — the
    ``getNumPartitions`` probe runs full physical planning (~100 ms of
    driver work), and with read_table's plan memo the same base-scan
    object flows through fan_out once per query."""
    memo = getattr(df, "_calorista_fan_out", None)
    if memo is not None:
        return memo
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    out = df if df.rdd.getNumPartitions() >= target else df.repartition(target)
    df._calorista_fan_out = out
    return out


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet, tolerating both historical ``ts`` layouts.

    Newer testdata stores ``ts`` as TIMESTAMP(MICROS), which Spark loads
    directly as TIMESTAMP_NTZ — pass it through untouched. Older files
    stored TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
    with ``nanosAsLong`` those load as BIGINT nanos, and we rebuild a
    TIMESTAMP_NTZ from them. ``convert_timezone('UTC', ...)`` pins the
    wall-clock value regardless of the session timezone, so results are
    identical under any driver session config (and match DuckDB's naive
    reads).
    """
    from pyspark.sql import functions as F

    # Harmless when ts is already a timestamp; required to load legacy
    # TIMESTAMP(NANOS) files at all.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(raw.dtypes).get("ts") != "bigint":
        # Already a timestamp type (micros layout) — no rebuild needed.
        return raw
    return raw.withColumn(
        "ts",
        # integer `div`, not `/`: at ~1.7e18 nanos a double division is
        # off by whole microseconds.
        F.convert_timezone(
            None, F.lit("UTC"), F.timestamp_micros(F.expr("ts div 1000"))
        ),
    )


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Read every table; optionally register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
