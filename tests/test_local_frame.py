"""``session.local_frame``, the one way driver-built rows enter Spark: the
rows, types and errors of ``spark.createDataFrame(list, schema)``, a
``LocalTableScan`` plan with no Python worker, and no other
``createDataFrame`` call in the engine."""

import ast
import os
import re
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import types as T

from hyperdx_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TS = datetime(2024, 1, 6, 0, 0)

# every schema the engine's call sites pass, with rows of the shapes they build
CASES = {
    "backtest": (
        [(TS, 73.0, True, 2, "ALERT"), (TS, 73.0, True, 2, "ntfy|title|ab")],
        "__timestamp timestamp, value double, exceeds boolean, streak long, state string",
    ),
    "sentinel": ([(TS,)], "ts timestamp"),
    "patterns": ([("error user <*> took <*> ms", 12)], "pattern string, n long"),
    "rowwhere": (
        [("fk|a=>b", datetime(1970, 1, 1), 0), ("rwexec|full", datetime(1970, 1, 1), 7)],
        "part string, __timestamp timestamp, cnt long",
    ),
    "pages": (
        [(1, 10, datetime(2024, 1, 2, 3, 4, 5, 678901), 99.5)],
        "rn bigint, event_id bigint, ts timestamp, value double",
    ),
    "render_cap": ([(1704067200, "error", 4.0)], "ts_s bigint, series string, value double"),
    "explain": ([("error web", "event has whole word error")], "query string, explanation string"),
    "fields": ([("event_id", "bigint")], "field string, type string"),
    "ann": (
        [("km|cent", 0, 1, 0.25, 0), ("kmp|cw", 3, 1, 2.0, 0)],
        "part string, query_id long, match_id long, cos double, rank int",
    ),
    "extapi": (
        [("extapi|s0", 1704067200, "a|b", 1.5), ("extapi|s1", 1704067200, "a|b", None)],
        "part string, ts_s bigint, series string, value double",
    ),
    "signals": (
        [("em", "p", 0.5, 0.25, 3.0, 1.0, "new"), ("sampled", "", 9.0, 8.0, 0.0, 0.0, "")],
        "part string, pattern string, cur double, base double,"
        " cur_n double, base_n double, status string",
    ),
    "waterfall": ([("pick|x", 0, "svc|op", 0.0)], "part string, k long, s string, v double"),
    "tmparam": ([("x|t|m|v", 2.0, 0.0)], "key string, v1 double, v2 double"),
    "distpat": ([("error user <*>", 3.0)], "key string, v1 double"),
    "dedup": (
        [(1, 1, True), (2, 1, False)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("group_id", T.LongType()),
            T.StructField("is_keeper", T.BooleanType()),
        ]),
    ),
    "cents": (
        [([(1, [0.5, -0.5]), (2, [1.0, 0.0])],)],
        T.StructType([T.StructField("__cents", T.ArrayType(T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("cvec", T.ArrayType(T.DoubleType())),
        ])))]),
    ),
    "codebook": ([([[[1.0, 2.0], [3.0, 4.0]], [[5.0, 6.0]]],)], "__cb array<array<array<double>>>"),
    "adc_tables": (
        [(7, 3, [[0.5, 1.5], [2.5]])],
        "cent_id long, query_id long, __tables array<array<double>>",
    ),
    "pca": (
        [([0.1, 0.2], [[1.0, 0.0], [0.0, 1.0]], [1.0, 2.0])],
        "__mean array<double>, __w array<array<double>>, __sc array<double>",
    ),
    "residual": ([(True,)], "residual boolean"),
    "int_and_null": ([(None, None), (5, "x")], "a int, b string"),
    "string_coercion": ([(1, True, 2.5)], "a string, b string, c string"),
    "map": ([({"a": 1, "b": None},), ({},), (None,)], "m map<string,bigint>"),
    "nested_time": (
        [(TS, {"k": TS}, [TS, None], (TS, 1))],
        "t timestamp, m map<string,timestamp>, a array<timestamp>,"
        " s struct<at: timestamp, n: int>",
    ),
    "not_null": (
        [(1, "a")],
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("s", T.StringType(), False),
        ]),
    ),
    "empty": ([], "ColumnIdentifier string, Key string, Values array<string>"),
    "no_columns": ([], T.StructType([])),
    "no_columns_rows": ([(), ()], T.StructType([])),
}


@pytest.fixture
def new_york(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(CASES))
def test_rows_and_types_equal_the_list_path(spark, name):
    rows, schema = CASES[name]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_rows_equal_the_list_path_away_from_utc(spark, new_york):
    rows, schema = CASES["nested_time"]
    assert local_frame(spark, rows, schema).collect() == (
        spark.createDataFrame(rows, schema).collect()
    )


def test_naive_and_aware_datetimes_keep_their_instants(spark, new_york):
    rows = [
        (datetime(2024, 7, 1, 12, 0),),  # driver-local wall time (EDT)
        (datetime(2024, 1, 1, 12, 0),),  # EST
        (datetime(2024, 3, 10, 2, 30),),  # inside the spring-forward gap
        (datetime(2024, 11, 3, 1, 30),),  # the repeated hour
        (datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc),),
        (datetime(2024, 1, 1, 12, 0, 0, 5, tzinfo=timezone(timedelta(hours=5, minutes=30))),),
    ]

    def micros(df):
        return [r[0] for r in df.selectExpr("unix_micros(t)").collect()]

    want = micros(spark.createDataFrame(rows, "t timestamp"))
    assert micros(local_frame(spark, rows, "t timestamp")) == want
    assert want[0] == 1719849600 * 10**6  # 12:00 EDT is 16:00 UTC
    assert want[4] == 1704110400 * 10**6


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(True,)], "a long"),  # bool for long
        ([(1.0,)], "a long"),  # float for long
        ([(1,)], "a double"),  # int for double
        ([("2024-01-01",)], "t timestamp"),  # string for timestamp
        ([([1.0, "x"],)], "a array<double>"),  # wrong element type
        ([(1, 2, 3)], "a long, b long"),  # wrong arity
        ([(1 << 40,)], "a int"),  # out of range
        ([(None,)], T.StructType([T.StructField("a", T.LongType(), False)])),
    ],
)
def test_bad_rows_raise_the_list_path_error(spark, rows, schema):
    with pytest.raises((PySparkTypeError, PySparkValueError)) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(want.value)) as got:
        local_frame(spark, rows, schema)
    assert got.value.getCondition() == want.value.getCondition()
    assert str(got.value) == str(want.value)


@pytest.mark.parametrize("name", ["backtest", "cents", "no_columns_rows"])
def test_plan_is_a_local_table_scan(spark, name):
    rows, schema = CASES[name]
    plan = _plan(local_frame(spark, rows, schema))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_list_path_plan_is_an_rdd_scan(spark):
    # what the plan test above tells apart
    rows, schema = CASES["backtest"]
    assert "ExistingRDD" in _plan(spark.createDataFrame(rows, schema))


def _create_frame_mentions(path, src):
    """Lines of *src* calling ``createDataFrame(``, minus those inside
    ``session.local_frame``."""
    allowed = set()
    if path.endswith(os.path.join("hyperdx_spark", "session.py")):
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{os.path.relpath(path, REPO)}:{i}"
        for i, line in enumerate(src.splitlines(), 1)
        if re.search(r"createDataFrame\(", line) and i not in allowed
    ]


def test_no_create_data_frame_outside_local_frame():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "hyperdx_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    found = []
    for path in paths:
        with open(path) as f:
            found += _create_frame_mentions(path, f.read())
    assert not found, f"use session.local_frame instead: {found}"


def test_guard_flags_a_create_data_frame():
    src = "df = spark.createDataFrame(rows, schema)\n"
    assert _create_frame_mentions(os.path.join(REPO, "hyperdx_spark", "x.py"), src) == [
        "hyperdx_spark/x.py:1"
    ]
