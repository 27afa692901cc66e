"""Tooling guard: the registry's pandas UDFs use the type-hinted form.

The legacy ``pandas_udf(type, PandasUDFType.SCALAR)`` form warns at
definition time, and the PQ UDFs are defined at module import, so the
warning would print on every interpreter (and Python worker) that
imports the query registry.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_registry_imports_without_pandas_udf_warning():
    proc = subprocess.run(
        [
            sys.executable,
            "-W",
            "error::UserWarning:pyspark.sql.pandas.functions",
            "-c",
            "import calorista_spark.queries",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr

