"""Make the harness modules and the repository root importable, and
share one small Spark session across the harness tests."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for path in (BENCH, ROOT):
    if path not in sys.path:
        sys.path.insert(0, path)
# Spark's Python workers import the package from the repository root
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


@pytest.fixture(scope="session")
def spark():
    from calorista_spark.session import build_session

    s = build_session(app_name="perfbench-tests", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
