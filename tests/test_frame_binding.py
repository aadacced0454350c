"""Per-query tables reach their query as DataFrames bound for that call only:
no engine path or gate entry leaves a view in the session catalog, so tiles
running concurrently on one session cannot bind each other's tables."""

import ast
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a streaming memory sink registers its query name as a view, too
_VIEW = re.compile(
    r"createOrReplaceTempView|createTempView|createGlobalTempView|registerTempTable"
    r"""|format\(\s*["']memory["']"""
)


def _catalog(spark):
    return sorted(t.name for t in spark.catalog.listTables())


def _view_mentions(path, src):
    """Lines of *src* registering a view, minus those inside the entry's
    ``_rum_spans`` (its views stand in for database tables that
    ``sessions.session_list`` resolves by name)."""
    allowed = set()
    if os.path.basename(path) == "__spark_entry__.py":
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name == "_rum_spans":
                allowed.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{os.path.relpath(path, REPO)}:{i}"
        for i, line in enumerate(src.splitlines(), 1)
        if _VIEW.search(line) and i not in allowed
    ]


def test_no_view_registration_outside_rum_spans():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "hyperdx_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    found = []
    for path in paths:
        with open(path) as f:
            found += _view_mentions(path, f.read())
    assert not found, f"bind the table as a frame instead: {found}"


def test_guard_flags_a_view():
    src = (
        "def _rum_spans():\n    pass\n\ndf.createOrReplaceTempView('t')\ndf.registerTempTable('u')\n"
        "df.writeStream.format('memory').queryName('v')\ndf.writeStream.foreachBatch(f).queryName('w')\n"
    )
    assert _view_mentions(os.path.join(REPO, "hyperdx_spark", "x.py"), src) == [
        "hyperdx_spark/x.py:4", "hyperdx_spark/x.py:5", "hyperdx_spark/x.py:6"
    ]
    inside = "def _rum_spans():\n    df.createTempView('t')\n"
    assert _view_mentions(os.path.join(REPO, "__spark_entry__.py"), inside) == []
    assert _view_mentions(os.path.join(REPO, "hyperdx_spark", "x.py"), inside) == [
        "hyperdx_spark/x.py:2"
    ]


@pytest.mark.parametrize(
    "name", ["q_raw_sql_macros", "q_builder_sql", "q_gauge", "q_histogram", "q_stream_tail"]
)
def test_entries_leave_the_catalog_unchanged(spark, sf_dir, name):
    import __spark_entry__ as e

    before = _catalog(spark)
    df = getattr(e, name)(spark, sf_dir)
    assert _catalog(spark) == before
    assert df.count() > 0  # the bound frames outlive the call that bound them


def test_sql_with_frames_keeps_literal_braces(spark):
    from hyperdx_spark.macros import sql_with_frames

    t = spark.range(3).selectExpr("id", "concat('{', id, '}') AS s")
    before = _catalog(spark)
    rows = sql_with_frames(
        spark,
        "SELECT s, regexp_extract(s, '\\\\{(\\\\d)\\\\}', 1) AS d, '{t}' AS lit"
        " FROM `t` WHERE s RLIKE '^\\\\p{Punct}' ORDER BY id",
        t=t,
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("{0}", "0", "{t}"), ("{1}", "1", "{t}"), ("{2}", "2", "{t}")
    ]
    assert _catalog(spark) == before
