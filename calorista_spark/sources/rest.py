"""REST range-source connector (SURVEY §2.1 S1–S6), distributed.

The reference fetches one day per sequential HTTP GET
(api.py:222-232). Here the date range becomes a DataFrame and the
fetch fans out across executors via ``mapInPandas`` — N days fetch in
parallel bounded by partition count, which is the whole point at
backfill scale (a 5-year backfill is ~1800 independent GETs).

Transport concerns map as:
- retries        → Spark task retries (``spark.task.maxFailures``)
                   plus the per-request retry inside the source fn
                   (reference api.py:109-119 retried twice)
- per-day errors → swallowed per row (``None`` payload → day skipped
                   downstream, reference api.py:230-231)
- auth           → the source callable carries its own signing; OAuth
                   token refresh is a driver-side concern done before
                   dispatch (tokens are read-only on executors)

Tests use ``FileFakeSource`` — the same interface backed by fixture
files, no network.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from calorista_spark.catalog import local_table

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# A day source is any picklable callable: date-iso-string → raw JSON
# payload string, or None for a failed/empty day.
DaySource = Callable[[str], "str | None"]

# An endpoint source generalizes that to any API method: (api_method,
# params-dict) → raw JSON payload or None. `oauth.SignedApiClient.get`
# satisfies it in production; FileFakeEndpointSource in tests.
EndpointSource = Callable[[str, dict], "str | None"]


class FileFakeSource:
    """Fixture-backed stand-in for the HTTP API: one ``<date>.json``
    file per day in a directory. Picklable (carries only the path)."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir

    def __call__(self, date_iso: str) -> str | None:
        path = os.path.join(self.fixture_dir, f"{date_iso}.json")
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return f.read()


class FileFakeEndpointSource:
    """Fixture-backed :data:`EndpointSource`: request
    ``(method, {k: v})`` reads ``<method>[__k=v[__k=v...]].json``
    (params key-sorted) from the fixture dir. Picklable."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir

    def __call__(self, api_method: str, params: dict) -> str | None:
        suffix = "".join(
            f"__{k}={params[k]}" for k in sorted(params or {})
        )
        path = os.path.join(self.fixture_dir, f"{api_method}{suffix}.json")
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return f.read()


def with_retries(source: DaySource, attempts: int = 3) -> DaySource:
    """S6: per-request retry wrapper (reference api.py:109-119 retried
    twice after the first try). Composes with Spark task retries
    (``spark.task.maxFailures``) — this layer absorbs transient
    request errors; task retry absorbs executor loss."""

    def wrapped(date_iso: str) -> str | None:
        last: Exception | None = None
        for _ in range(attempts):
            try:
                return source(date_iso)
            except Exception as exc:  # noqa: BLE001 — connector boundary
                last = exc
        raise last  # type: ignore[misc]

    return wrapped


def fetch_day(spark: SparkSession, source: DaySource, date: str) -> DataFrame:
    """S2: point source — the single-date specialization of the range
    fetch (reference api.py:127-145)."""
    return fetch_range(spark, source, date, date, max_parallel_fetches=1)


def fetch_month(spark: SparkSession, source: DaySource, year: int, month: int) -> DataFrame:
    """S3: month source (reference api.py:188-201) — a calendar-month
    date range; the REST month endpoint becomes a partition-pruned
    range fetch."""
    import calendar

    last = calendar.monthrange(year, month)[1]
    return fetch_range(
        spark, source, f"{year:04d}-{month:02d}-01", f"{year:04d}-{month:02d}-{last:02d}"
    )


def fetch_exercises(
    spark: SparkSession, source: EndpointSource, date: str | None = None
) -> DataFrame:
    """S5: exercises endpoint (reference api.py:147-159) — optional
    date filter forwarded to the REQUEST (server-side filtering, not a
    post-fetch Spark filter). One payload row; normalization is
    downstream (``sources/payload.py``)."""
    params = {"date": date} if date else {}
    payload = source("exercises.get", params)
    return local_table(
        spark,
        [(date, payload)],
        T.StructType(
            [
                T.StructField("date", T.StringType(), True),
                T.StructField("payload", T.StringType(), True),
            ]
        ),
    )


def search_foods(
    spark: SparkSession,
    source: EndpointSource,
    query: str,
    max_results: int = 10,
) -> DataFrame:
    """S5: food search with the LIMIT pushed into the request
    (reference api.py:161-174: ``max_results`` is a server-side
    parameter) — the connector-level analogue of Spark's limit
    pushdown; no over-fetch then discard."""
    payload = source(
        "foods.search",
        {"search_expression": query, "max_results": str(max_results)},
    )
    return local_table(
        spark,
        [(query, max_results, payload)],
        T.StructType(
            [
                T.StructField("query", T.StringType(), False),
                T.StructField("max_results", T.IntegerType(), False),
                T.StructField("payload", T.StringType(), True),
            ]
        ),
    )


def date_range_df(
    spark: SparkSession, start: str | datetime.date, end: str | datetime.date
) -> DataFrame:
    """Distributed date spine for the fetch fan-out."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(str(start))),
                F.to_date(F.lit(str(end))),
                F.expr("interval 1 day"),
            )
        ).alias("date")
    )


def fetch_range(
    spark: SparkSession,
    source: DaySource,
    start: str | datetime.date,
    end: str | datetime.date,
    max_parallel_fetches: int = 32,
) -> DataFrame:
    """S1: parallel per-day fetch → (date, payload) rows.

    Partition count caps request concurrency (the connector's rate
    limit); each partition runs the source serially, so total
    in-flight requests == min(partitions, task slots). Partitions
    beyond the slot count (``defaultParallelism``) would only queue,
    so the fan-out never exceeds it: the same concurrency from fewer
    Python tasks.
    """
    dates = date_range_df(spark, start, end)
    # spine length is closed-form — no Spark job for partition sizing
    d0 = datetime.date.fromisoformat(str(start))
    d1 = datetime.date.fromisoformat(str(end))
    n_days = (d1 - d0).days + 1
    parts = max(
        1,
        min(max_parallel_fetches, n_days, spark.sparkContext.defaultParallelism),
    )

    out_schema = T.StructType(
        [
            T.StructField("date", T.DateType(), False),
            T.StructField("payload", T.StringType(), True),
        ]
    )

    def _fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payloads = [source(d.isoformat()) for d in pdf["date"]]
            yield pd.DataFrame({"date": pdf["date"], "payload": payloads})

    return dates.repartition(parts).mapInPandas(_fetch, schema=out_schema)
