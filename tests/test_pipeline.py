"""End-to-end food-entries pipeline tests (FIXTURES.md A1/A2):
fixture JSON days → fetch → normalize → dedup → merge → dashboard
sections. Covers the dict-vs-list payload ambiguity, malformed days,
idempotent re-sync, and changed-row upsert."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from calorista_spark.cache import cached_rdd_count
from calorista_spark.pipeline.food_entries import (
    daily_range_section,
    latest_day_section,
    monthly_section,
    sync,
    weekly_section,
)
from calorista_spark.sources.payload import normalize_day_payloads
from calorista_spark.sources.rest import FileFakeSource, fetch_range


def _entry(eid: str, date_int: int, cal: str = "100.5", **kw) -> dict:
    base = {
        "food_entry_id": eid,
        "date_int": str(date_int),
        "timestamp": f"17000{eid[-2:]}",
        "meal": kw.get("meal", "lunch"),
        "food_entry_name": kw.get("name", f"food-{eid}"),
        "food_entry_description": "desc",
        "calories": cal,
        "carbohydrate": "10.0",
        "fat": "5.5",
        "protein": "20.0",
    }
    base.update(kw.get("extra", {}))
    return base


def _day_payload(entries) -> str:
    # list → stays list; single dict → the reference's single-object day
    return json.dumps({"food_entries": {"food_entry": entries}})


DATE0 = datetime.date(2024, 3, 1)


def _write_fixtures(dir_path) -> None:
    d0 = int((DATE0 - datetime.date(1970, 1, 1)).days)
    # day 1: multi-entry list
    (dir_path / "2024-03-01.json").write_text(
        _day_payload([_entry("e01", d0), _entry("e02", d0, cal="50")])
    )
    # day 2: single-entry OBJECT (main.py:88-89)
    (dir_path / "2024-03-02.json").write_text(_day_payload(_entry("e03", d0 + 1)))
    # day 3: empty day (null envelope)
    (dir_path / "2024-03-03.json").write_text(json.dumps({"food_entries": None}))
    # day 4: malformed JSON
    (dir_path / "2024-03-04.json").write_text("{not json!!")
    # day 5: entry missing food_entry_id → dropped; plus a bad date_int
    bad = _entry("e05", d0 + 4)
    del bad["food_entry_id"]
    bad2 = _entry("e06", d0 + 4)
    bad2["date_int"] = "not-a-number"
    good = _entry("e07", d0 + 4, cal="not-numeric")  # coerces to 0.0
    (dir_path / "2024-03-05.json").write_text(_day_payload([bad, bad2, good]))
    # day 6: missing file (fetch returns None)


class CountingFakeSource(FileFakeSource):
    """:class:`FileFakeSource` that appends one line to
    ``<log_dir>/<date>.log`` per call, so calls made on executors are
    countable from the driver. Picklable (carries only two paths)."""

    def __init__(self, fixture_dir: str, log_dir: str):
        super().__init__(fixture_dir)
        self.log_dir = log_dir

    def __call__(self, date_iso: str) -> str | None:
        with open(os.path.join(self.log_dir, f"{date_iso}.log"), "a") as f:
            f.write("call\n")
        return super().__call__(date_iso)

    def calls(self) -> dict[str, int]:
        out = {}
        for name in os.listdir(self.log_dir):
            with open(os.path.join(self.log_dir, name)) as f:
                out[name.removesuffix(".log")] = len(f.readlines())
        return out


@pytest.fixture()
def fixture_dir(tmp_path):
    d = tmp_path / "days"
    d.mkdir()
    _write_fixtures(d)
    return d


def test_fetch_and_normalize_variants(spark, fixture_dir):
    raw = fetch_range(spark, FileFakeSource(str(fixture_dir)), "2024-03-01", "2024-03-06")
    assert raw.count() == 6  # every day produces a row; payload may be null
    entries = normalize_day_payloads(raw.select("payload"))
    rows = {r.food_entry_id: r for r in entries.collect()}
    # e01,e02 (list day), e03 (single-object day), e07 (valid despite bad cal)
    assert set(rows) == {"e01", "e02", "e03", "e07"}
    assert rows["e01"].calories == 100.5
    assert rows["e07"].calories == 0.0  # O-S11 coercion default
    assert rows["e03"].date == datetime.date(2024, 3, 2)
    assert rows["e01"].fingerprint.startswith("e01_")


def test_sync_idempotent_and_upsert(spark, fixture_dir, tmp_path):
    store = str(tmp_path / "store")
    src = FileFakeSource(str(fixture_dir))
    state1 = sync(spark, src, store, "2024-03-01", "2024-03-06")
    n1 = state1.count()
    assert n1 == 4

    # idempotence (O-D4): same range again → same store
    state2 = sync(spark, src, store, "2024-03-01", "2024-03-06")
    assert state2.count() == n1

    # changed row: e02's calories edited in the fixture → update branch
    d0 = int((DATE0 - datetime.date(1970, 1, 1)).days)
    (fixture_dir / "2024-03-01.json").write_text(
        _day_payload([_entry("e01", d0), _entry("e02", d0, cal="999")])
    )
    state3 = sync(spark, src, store, "2024-03-01", "2024-03-06")
    assert state3.count() == n1
    cal = state3.filter(F.col("food_entry_id") == "e02").collect()[0].calories
    assert cal == 999.0


def test_sync_reads_source_once_per_date(spark, fixture_dir, tmp_path):
    """The merge consumes its batch twice (partition scoping, then the
    staged write); the pinned batch keeps that to ONE fetch per date,
    on the first load and on a re-sync over a partitioned store, and
    the pin is released once the merge has committed."""
    store = str(tmp_path / "store")
    days = [f"2024-03-0{d}" for d in range(1, 7)]
    for attempt in range(2):
        log_dir = tmp_path / f"calls{attempt}"
        log_dir.mkdir()
        src = CountingFakeSource(str(fixture_dir), str(log_dir))
        pinned = cached_rdd_count(spark)
        assert sync(spark, src, store, days[0], days[-1]).count() == 4
        assert src.calls() == {d: 1 for d in days}
        assert cached_rdd_count(spark) == pinned


def test_dashboard_sections(spark, fixture_dir, tmp_path):
    store = str(tmp_path / "store")
    entries = sync(
        spark, FileFakeSource(str(fixture_dir)), store, "2024-03-01", "2024-03-06"
    )

    latest = latest_day_section(entries).collect()
    assert len(latest) == 1
    assert latest[0].date == datetime.date(2024, 3, 5)
    assert latest[0].total_calories == 0.0  # e07 coerced

    daily = daily_range_section(entries, "2024-03-01", "2024-03-05").collect()
    assert len(daily) == 5  # spine densifies all days
    by_date = {r.date: r.total_calories for r in daily}
    assert by_date[datetime.date(2024, 3, 1)] == 150.5
    assert by_date[datetime.date(2024, 3, 3)] is None  # null, not 0 (SURVEY §7)

    weekly = weekly_section(entries).collect()
    # Mar 1-2 2024 → ISO week 9; Mar 5 → ISO week 10
    assert [(w.iso_week, w.n_days) for w in weekly] == [(9, 2), (10, 1)]
    wk = weekly[0]
    assert wk.avg_daily_calories == pytest.approx(wk.total_calories / 7)
    ratios = wk.carbohydrate_ratio + wk.fat_ratio + wk.protein_ratio
    assert ratios == pytest.approx(100.0)

    monthly = monthly_section(entries).collect()
    assert len(monthly) == 1
    # March has 31 days — true days-in-month divisor (not 7)
    assert monthly[0].avg_daily_calories == pytest.approx(
        monthly[0].total_calories / 31
    )
