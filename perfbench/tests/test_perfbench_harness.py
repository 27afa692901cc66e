"""Tests of the benchmark harness: metric parsing, the status-store
harvester on a real query, the store model against the real pipeline,
and BENCHMARK.json against the metrics the harness emits.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime
import json
import os
from types import SimpleNamespace

import pytest

from datagen import generate
from ingest import COLUMNS, DayBook, StoreModel, normalize, value_hash
from spans import Harvester, Tracer, parse_metric
from worker import PER_LAYER, Context, layer_metrics
from workloads import WORKLOADS, DashboardQueries, noop

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.exchanges",
    "spark.rows_out",
    "queries.build_sql_execs",
)


@pytest.mark.parametrize(
    "text, value",
    [
        ("8,931", 8931.0),
        ("0 ms", 0.0),
        ("415 ms", 0.415),
        ("total (min, med, max (stageId: taskId))\n2.4 s (272 ms, 2.1 s, 2.1 s (stage 10.0: task 6))", 2.4),
        ("total (min, med, max (stageId: taskId))\n34.4 KiB (17.2 KiB, 17.2 KiB, 17.2 KiB (stage 5.0: task 3))", 34.4 * 1024),
        ("1018.0 KiB", 1018.0 * 1024),
        ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 5.0: task 3))", None),
    ],
)
def test_parse_metric(text, value):
    got = parse_metric(text)
    assert got == pytest.approx(value) if value is not None else got is None


def test_daily_totals_counts_repeat_and_parts_cover_the_op(spark, tmp_path):
    generate(str(tmp_path / "tables"), seed=5, sf=0.01)
    ctx = Context(SimpleNamespace(seed=5, scratch=str(tmp_path)), Tracer(True))
    ctx.spark = spark
    build = lambda: ctx.queries["daily_totals"](spark, ctx.data_dir)  # noqa: E731
    noop(build())  # the first execution in a JVM pays class loading
    ctx.harvester = Harvester(spark)
    wl = DashboardQueries(ctx)
    for cycle in (0, 1):
        wl.query_op("daily_totals", cycle, build, noop)

    per_op = []
    for op in wl.ops:
        view = SimpleNamespace(
            ops=[SimpleNamespace(cycle=0, span=op.span, wall_s=op.wall_s)],
            layer_stats=dict,
        )
        m = layer_metrics(ctx, view)
        per_op.append(m)
        assert m["queries.build_s"] + m["spark.exec_s"] == pytest.approx(
            op.wall_s, rel=0.10
        )
        assert m["spark.jobs"] >= 1 and m["spark.rows_out"] > 0
    assert {k: per_op[0][k] for k in COUNTS} == {k: per_op[1][k] for k in COUNTS}


def _served_window(book: DayBook, fixture_dir: str, first: datetime.date, days: int):
    window = [first + datetime.timedelta(days=i) for i in range(days)]
    book.advance(window)
    return window, book.write_window(fixture_dir, window)


def test_store_model_matches_the_pipeline(spark, tmp_path):
    from calorista_spark.pipeline import food_entries
    from calorista_spark.sources.commitlog import CommitLogStore
    from calorista_spark.sources.rest import FileFakeSource

    fixtures, store = str(tmp_path / "days"), str(tmp_path / "store")
    book, model = DayBook(seed=3, entries_per_day=6), StoreModel()
    start = datetime.date(2024, 1, 1)
    for k in range(3):  # overlapping windows
        window, served = _served_window(book, fixtures, start + datetime.timedelta(days=3 * k), 6)
        model.sync(served)
        food_entries.sync(spark, FileFakeSource(fixtures), store, window[0], window[-1])
    lo, hi = start, start + datetime.timedelta(days=4)
    cl = CommitLogStore(store)
    cl.update_where(spark, [("meal", "==", "dinner"), ("date", "between", (lo, hi))], {"fiber": 7.5})
    model.update("dinner", lo, hi, "fiber", 7.5)
    cl.delete_where(spark, [("meal", "==", "other"), ("date", "between", (lo, hi))])
    model.delete("other", lo, hi)
    rows = [r.asDict() for r in cl.read(spark).select(*COLUMNS).collect()]
    assert len(rows) == len(model.rows) > 0
    assert value_hash(rows) == value_hash(model.rows.values())


def test_normalize_follows_the_reference_semantics():
    entry = {"food_entry_id": "a", "date_int": "20000.0", "timestamp": "7", "calories": "n/a"}
    single = json.dumps({"food_entries": {"food_entry": entry}})
    (row,) = normalize(single)
    assert row["date"] == datetime.date(2024, 10, 4) and row["calories"] == 0.0
    assert row["fingerprint"] == "a_20000_7" and row["fiber"] == 0.0
    assert normalize(json.dumps({"food_entries": None})) == []
    assert normalize('{"food_entries": ') == []
    assert normalize("[1, 2]") == []
    no_id = dict(entry)
    del no_id["food_entry_id"]
    bad_date = dict(entry, food_entry_id="b", date_int="x")
    assert normalize(json.dumps({"food_entries": {"food_entry": [no_id, bad_date]}})) == []


def test_benchmark_json_names_what_the_harness_emits():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "units_per_s": "1/s"}
