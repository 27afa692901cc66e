"""Source-connector variants (S2/S3/S6) + materialization (S12)."""

from __future__ import annotations

import json

import pytest

from calorista_spark.materialize import cached_view, refresh
from calorista_spark.sources.rest import (
    FileFakeSource,
    fetch_day,
    fetch_month,
    fetch_range,
    with_retries,
)


def _payload(n: int) -> str:
    return json.dumps({"food_entries": {"food_entry": [{"food_entry_id": str(n)}]}})


def test_fetch_day_point_source(spark, tmp_path):
    (tmp_path / "2024-05-05.json").write_text(_payload(1))
    out = fetch_day(spark, FileFakeSource(str(tmp_path)), "2024-05-05").collect()
    assert len(out) == 1 and out[0].payload is not None


def test_fetch_month_covers_calendar_month(spark, tmp_path):
    (tmp_path / "2024-02-29.json").write_text(_payload(1))  # leap day
    rows = fetch_month(spark, FileFakeSource(str(tmp_path)), 2024, 2).collect()
    assert len(rows) == 29  # leap February
    assert sum(r.payload is not None for r in rows) == 1


@pytest.mark.parametrize("end", ["2024-05-10", "2024-05-01"])
def test_fetch_range_fans_out_no_wider_than_task_slots(spark, tmp_path, end):
    # partitions beyond the slot count would only queue: the fan-out is
    # min(max_parallel_fetches, days, defaultParallelism)
    src = FileFakeSource(str(tmp_path))
    raw = fetch_range(spark, src, "2024-05-01", end)
    n_days = int(end[-2:])
    slots = spark.sparkContext.defaultParallelism
    assert raw.rdd.getNumPartitions() == min(32, n_days, slots)
    assert raw.count() == n_days


def test_with_retries_recovers_then_raises():
    calls = {"n": 0}

    def flaky(date_iso: str):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("transient")
        return "ok"

    assert with_retries(flaky, attempts=3)("2024-01-01") == "ok"

    def always_fails(date_iso: str):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        with_retries(always_fails, attempts=2)("2024-01-01")


def test_cached_view_roundtrip(spark):
    df = spark.range(10)
    cached_view(df, "t_cached")
    assert spark.catalog.isCached("t_cached")
    assert spark.table("t_cached").count() == 10
    refresh(spark, "t_cached")
    assert not spark.catalog.isCached("t_cached")
