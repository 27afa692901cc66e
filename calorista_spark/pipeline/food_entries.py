"""The food-entries pipeline end-to-end (SURVEY §3.1/§3.2).

``sync``   = the batch ETL (reference main.py:173-220): fetch range →
             normalize → dedup → merge into the partitioned store.
``sections`` = the dashboard's four query sections
             (streamlit_app.py:225-602) as DataFrame pipelines over
             one shared store read — with pushdown the reference
             never had.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calorista_spark.functions.dates import (
    days_in_month,
    iso_week,
    iso_year,
    month_label,
    month_start,
)
from calorista_spark.operators.checkpoint import release_checkpoint, stage_checkpoint
from calorista_spark.operators.dedup import exact_dedup
from calorista_spark.operators.reshape import date_spine
from calorista_spark.sources.commitlog import CommitLogStore
from calorista_spark.sources.payload import normalize_day_payloads
from calorista_spark.sources.rest import DaySource, fetch_range

NUTRIENT_SUMS = ("calories", "carbohydrate", "fat", "protein")


def sync(
    spark: SparkSession,
    source: DaySource,
    store_path: str,
    start: str | datetime.date,
    end: str | datetime.date,
) -> DataFrame:
    """Reference main(): extract → dedup → load, idempotent (O-D4:
    re-running produces no duplicates because the merge is keyed on
    the fingerprint). Returns the post-sync store frame.

    r10 (VERDICT r9 #6): the store IS a :class:`CommitLogStore` —
    date-partition-scoped MERGE (only fetched dates rewrite, exactly
    the reference's per-date granularity, main.py:137-161), atomic
    manifest publication (no torn-write window on the ACTUAL ETL
    path), and every sync is a time-travelable version. The
    fingerprint embeds date_int, so the partition∈key contract holds.

    The source is read exactly once per sync. The merge consumes its
    batch twice (the touched-partition scoping aggregate, then the
    staged write), so the normalized, deduped batch is pinned with
    :func:`stage_checkpoint` first. Without the pin every day is
    fetched twice, and a live API that answers the second GET
    differently could land rows in a partition the first pass never
    marked as touched — stored beside that partition's carried files.
    The pin is released once the merge has committed or failed.
    """
    raw = fetch_range(spark, source, start, end)
    entries = normalize_day_payloads(raw.select("payload"))
    batch = stage_checkpoint(
        exact_dedup(
            entries,
            keys=["fingerprint"],
            keep_order=["date_int", "timestamp", "food_entry_id"],
        )
    )
    store = CommitLogStore(store_path)
    try:
        store.merge(spark, batch, keys=["fingerprint"], partition_by="date")
    finally:
        release_checkpoint(batch)
    return store.read(spark)


# --------------------------- dashboard sections ---------------------------


def latest_day_section(entries: DataFrame) -> DataFrame:
    """streamlit_app.py:225-264: latest date → totals + display rows."""
    latest = entries.agg(F.max("date").alias("date"))
    return (
        entries.join(F.broadcast(latest), "date")
        .groupBy("date")
        .agg(
            *[F.sum(c).alias(f"total_{c}") for c in NUTRIENT_SUMS],
            F.count(F.lit(1)).alias("n_entries"),
        )
    )


def daily_range_section(
    entries: DataFrame, start: str, end: str, densify: bool = True
) -> DataFrame:
    """streamlit_app.py:267-376: between-filter → daily sums → spine
    (missing days null, SURVEY §7). Rejects inverted ranges before
    planning (O-F4)."""
    from calorista_spark.functions.guards import validate_date_range

    validate_date_range(start, end)
    daily = (
        entries.filter(F.col("date").between(start, end))
        .groupBy("date")
        .agg(*[F.sum(c).alias(f"total_{c}") for c in NUTRIENT_SUMS])
    )
    if not densify:
        return daily.orderBy("date")
    spine = date_spine(entries.sparkSession, start, end).withColumnRenamed(
        "date", "spine_date"
    )
    return (
        F.broadcast(spine)
        .join(daily, F.col("spine_date") == F.col("date"), "left")
        .select(F.col("spine_date").alias("date"), *[f"total_{c}" for c in NUTRIENT_SUMS])
        .orderBy("date")
    )


def weekly_section(entries: DataFrame) -> DataFrame:
    """streamlit_app.py:378-508: ISO week grouping; averages divide by
    7 even for partial weeks (preserved quirk, SURVEY §7)."""
    grouped = entries.groupBy(
        iso_year("date").alias("iso_year"), iso_week("date").alias("iso_week")
    ).agg(
        *[F.sum(c).alias(f"total_{c}") for c in NUTRIENT_SUMS],
        F.min("date").alias("week_start"),
        F.countDistinct("date").alias("n_days"),
    )
    out = grouped
    for c in NUTRIENT_SUMS:
        out = out.withColumn(f"avg_daily_{c}", F.col(f"total_{c}") / 7)
    total_macros = sum(
        (F.col(f"total_{c}") for c in ("carbohydrate", "fat", "protein")),
        F.lit(0.0),
    )
    for c in ("carbohydrate", "fat", "protein"):
        out = out.withColumn(
            f"{c}_ratio",
            F.when(total_macros != 0, F.col(f"total_{c}") / total_macros * 100),
        )
    return out.orderBy("iso_year", "iso_week")


def monthly_section(entries: DataFrame) -> DataFrame:
    """streamlit_app.py:510-602: month buckets; averages divide by TRUE
    days-in-month (contrast with weekly /7 — both are the spec)."""
    grouped = entries.groupBy(
        month_start("date").alias("month_start"),
        month_label("date").alias("month_label"),
    ).agg(
        *[F.sum(c).alias(f"total_{c}") for c in NUTRIENT_SUMS],
        F.countDistinct("date").alias("n_days"),
    )
    out = grouped
    for c in NUTRIENT_SUMS:
        out = out.withColumn(
            f"avg_daily_{c}", F.col(f"total_{c}") / days_in_month("month_start")
        )
    return out.orderBy("month_start")
