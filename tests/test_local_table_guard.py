"""Every list-built DataFrame in the package goes through
catalog.local_table: a ``createDataFrame`` over a Python list plans a
LogicalRDD whose scan tasks each start a Python worker."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "calorista_spark"

# createDataFrame may appear only here; every other list-built frame
# goes through catalog.local_table. The commit-log DV frame is built
# from a pandas frame, which already plans a LocalRelation.
ALLOWED = {
    ("catalog.py", "local_table"),
    ("sources/commitlog.py", "_dv_frame"),
}


def _create_dataframe_sites():
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
            ):
                sites.append((rel, func, node.lineno))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return sites


def test_create_dataframe_only_in_local_table_helper():
    sites = _create_dataframe_sites()
    stray = [s for s in sites if s[:2] not in ALLOWED]
    assert not stray, (
        "build driver-side tables with catalog.local_table, not "
        f"createDataFrame: {stray}"
    )
    assert sorted(s[:2] for s in sites) == sorted(ALLOWED)
