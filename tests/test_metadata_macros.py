"""Metadata/autocomplete ops + raw-SQL macro expansion."""

from __future__ import annotations

from datetime import datetime

import pytest

from hyperdx_spark import macros, metadata
from hyperdx_spark.io import load_table

RANGE = (datetime(2024, 1, 1), datetime(2024, 2, 1))


# ---------------------------------------------------------------- macros


def test_macro_time_filter_and_interval():
    sql = macros.replace_macros(
        "SELECT $__timeInterval(ts) b, count(*) FROM t WHERE $__timeFilter(ts) GROUP BY 1",
        date_range=RANGE,
        interval_seconds=300,
    )
    assert "ts >= timestamp_millis(1704067200000)" in sql
    assert "ts <= timestamp_millis(1706745600000)" in sql
    assert "floor(unix_timestamp(ts) / 300)" in sql
    assert "$__" not in sql


def test_macro_longest_name_wins():
    sql = macros.replace_macros(
        "SELECT $__fromTime_ms, $__fromTime", date_range=RANGE
    )
    # fromTime_ms must not be corrupted by the fromTime replacement
    assert sql.count("timestamp_millis(1704067200000)") == 2
    assert "_ms" not in sql


def test_macro_source_table_and_filters():
    sql = macros.replace_macros(
        "SELECT * FROM $__sourceTable WHERE $__filters",
        date_range=RANGE,
        table="events",
    )
    assert "FROM `events`" in sql and "(1=1" in sql
    sql = macros.replace_macros(
        "SELECT * FROM $__sourceTable(gauge)",
        date_range=RANGE,
        metric_tables={"gauge": "metrics_gauge"},
    )
    assert "`metrics_gauge`" in sql
    with pytest.raises(ValueError):
        macros.replace_macros("SELECT * FROM $__sourceTable", date_range=RANGE)
    with pytest.raises(ValueError):
        macros.replace_macros(
            "SELECT * FROM $__sourceTable",
            date_range=RANGE,
            metric_tables={"gauge": "g"},
        )


def test_macro_args_bracket_aware():
    sql = macros.replace_macros(
        "WHERE $__dt(toDate(a, 'x,y'), b)", date_range=RANGE
    )
    assert "toDate(a, 'x,y') >= to_date" in sql


def test_macro_runs_on_spark(spark, sf_dir):
    sql = macros.replace_macros(
        "SELECT $__timeInterval(ts) AS b, count(*) AS n FROM $__sourceTable"
        " WHERE $__timeFilter(ts) GROUP BY 1",
        date_range=RANGE,
        interval_seconds=86400,
        table="events",
    )
    events = load_table(spark, sf_dir, "events")
    rows = macros.sql_with_frames(spark, sql, events=events).collect()
    assert len(rows) == 30 and sum(r["n"] for r in rows) == 1000


# ---------------------------------------------------------------- metadata


def test_get_all_fields(spark):
    df = spark.createDataFrame(
        [(1, {"a": "b"}, (2, "x"))],
        "id long, m map<string,string>, s struct<n:long,t:string>",
    )
    fields = dict(metadata.get_all_fields(df))
    assert fields["id"] == "bigint"
    assert fields["m"].startswith("map<")
    assert fields["s.n"] == "bigint"
    assert fields["s.t"] == "string"


def test_map_and_json_keys(spark):
    df = spark.createDataFrame(
        [({"a": "1", "b": "2"}, '{"x": 1}'), ({"a": "3"}, '{"y": 2}')],
        "m map<string,string>, j string",
    )
    assert [r["key"] for r in metadata.get_map_keys(df, "m").collect()] == ["a", "b"]
    assert [r["key"] for r in metadata.get_json_keys(df, "j").collect()] == ["x", "y"]
    assert metadata.get_map_values(df, "m", "a") == ["1", "3"]


def test_key_values_and_distribution(spark, events):
    kv = metadata.get_key_values(
        events, ["event_type", "user_id % 3"], max_values_per_key=10
    ).collect()[0]
    assert len(kv["key0"]) == 5
    assert kv["key1"] == ["0", "1", "2"]

    dist = metadata.get_values_distribution(events, "event_type").collect()
    assert len(dist) == 5
    assert abs(sum(r["pct"] for r in dist) - 100.0) < 0.01
    assert dist[0]["count"] >= dist[-1]["count"]


def test_get_all_key_values_batched(spark, sf_dir):
    from hyperdx_spark.io import load_table
    from hyperdx_spark.metadata import get_all_key_values

    ev = load_table(spark, sf_dir, "events")
    out = get_all_key_values(
        ev, ["event_type", "cast(user_id % 2 as string)"], chunk_size=1
    )
    assert set(out) == {"event_type", "cast(user_id % 2 as string)"}
    assert out["cast(user_id % 2 as string)"] == ["0", "1"]
    assert len(out["event_type"]) >= 3


def _mv_fixture(spark):
    """The getKeyValuesWithMVs int-test shape: a base table with
    environment/service/status_code/region and a metadata rollup MV that
    materializes the first three only."""
    from datetime import datetime

    base = spark.createDataFrame(
        [
            (datetime(2025, 1, 1, 0, 1), "production", "api", "200", "us-east"),
            (datetime(2025, 1, 1, 0, 2), "staging", "web", "404", "us-west"),
            (datetime(2025, 1, 1, 0, 3), "production", "worker", "500", "eu-west"),
        ],
        "Timestamp timestamp, environment string, service string,"
        " status_code string, region string",
    )
    mv_rows = []
    for r in base.collect():
        for col in ("environment", "service", "status_code"):
            mv_rows.append((r["Timestamp"], col, col, r[col]))
    mv = spark.createDataFrame(
        mv_rows,
        "Timestamp timestamp, ColumnIdentifier string, Key string, Value string",
    )
    return base, mv


def test_get_key_values_with_mvs_routing(spark):
    """metadata.int.test.ts:299-433 twins: MV-materialized keys come from
    the rollup, unmaterialized keys fall back to the base table, no-MV and
    no-source route everything raw, and empty keys return {}."""
    from datetime import datetime

    from hyperdx_spark.metadata import get_key_values_with_mvs

    base, mv = _mv_fixture(spark)
    rng = (datetime(2025, 1, 1), datetime(2025, 1, 2))
    routes = {k: (k, k) for k in ("environment", "service", "status_code")}

    out = get_key_values_with_mvs(
        base, ["environment", "service", "status_code"],
        mv_df=mv, mv_routes=routes, date_range=rng,
    )
    assert set(out["environment"]) == {"production", "staging"}
    assert set(out["service"]) == {"api", "web", "worker"}
    assert set(out["status_code"]) == {"200", "404", "500"}

    # 'region' is NOT in the MV -> base-table fallback alongside an MV key
    out = get_key_values_with_mvs(
        base, ["environment", "region"], mv_df=mv, mv_routes=routes,
        date_range=rng,
    )
    assert set(out["environment"]) == {"production", "staging"}
    assert set(out["region"]) == {"us-east", "us-west", "eu-west"}

    # no MV / no source -> everything raw
    for kwargs in ({"mv_df": None}, {"mv_df": mv, "mv_routes": None}):
        out = get_key_values_with_mvs(
            base, ["environment", "service"], date_range=rng, **kwargs
        )
        assert set(out["environment"]) == {"production", "staging"}
        assert set(out["service"]) == {"api", "web", "worker"}

    assert get_key_values_with_mvs(base, [], mv_df=mv, mv_routes=routes) == {}


def test_metadata_mv_key_values_window_and_cap(spark):
    """getMetadataMVKeyValues semantics: empty values dropped, the window
    is granularity-ALIGNED (end rounded up covers a partial bucket), and
    values cap like groupUniqArray(N)."""
    from datetime import datetime

    from hyperdx_spark.metadata import (
        get_aligned_date_range,
        get_metadata_mv_key_values,
    )

    assert get_aligned_date_range(
        (datetime(2025, 1, 1, 0, 0, 30), datetime(2025, 1, 1, 0, 2, 30)),
        "1 minute",
    ) == (datetime(2025, 1, 1, 0, 0), datetime(2025, 1, 1, 0, 3))
    # already-aligned end stays put
    assert get_aligned_date_range(
        (datetime(2025, 1, 1), datetime(2025, 1, 2)), "1 hour"
    ) == (datetime(2025, 1, 1), datetime(2025, 1, 2))

    mv = spark.createDataFrame(
        [
            (datetime(2025, 1, 1, 0, 0), "env", "env", "a"),
            (datetime(2025, 1, 1, 0, 2, 10), "env", "env", "b"),  # partial bucket
            (datetime(2025, 1, 1, 0, 0), "env", "env", ""),       # dropped
            (datetime(2025, 1, 2, 5, 0), "env", "env", "late"),   # outside
        ],
        "Timestamp timestamp, ColumnIdentifier string, Key string, Value string",
    )
    out = get_metadata_mv_key_values(
        mv, {"env": ["env"]},
        date_range=(datetime(2025, 1, 1, 0, 0, 30), datetime(2025, 1, 1, 0, 2, 30)),
        granularity="1 minute",
    ).collect()
    assert len(out) == 1 and out[0]["Values"] == ["a", "b"]
    capped = get_metadata_mv_key_values(
        mv, {"env": ["env"]},
        date_range=(datetime(2025, 1, 1), datetime(2025, 1, 2)),
        granularity="1 minute", max_values_per_key=1,
    ).collect()
    assert len(capped[0]["Values"]) == 1


def test_lucene_explain():
    from hyperdx_spark.lucene.explain import explain_query

    # explicit quoted = the eq path (queryParser.ts:281-296): raw term
    assert explain_query('level:"error"') == "'level' is error"
    assert explain_query("level:err") == "'level' contains err"
    assert explain_query("-level:err") == "'level' does not contain err"
    assert explain_query("level:err*") == "'level' starts with err"
    assert explain_query("duration:>=100") == "'duration' is greater than or equal to 100"
    assert explain_query("level:*") == "'level' is not null"
    # implicit bare terms without a per-context implicit expression are
    # token searches (genEnglishExplanation int cases, ts:349-370)
    assert explain_query("bar") == "event has whole word bar"
    assert explain_query('"timed out"') == 'event has whole word "timed out"'
    assert explain_query("*bar*") == "event contains bar"
    # unparseable query -> the reference's fallback line (ts:2181-2201)
    assert explain_query("a AND (") == "Message containing a AND ("
    # range wording: queryParser.test.ts:757-775 english cases — per-bound
    # (exclusive) suffixes, negation reads 'is not between'
    assert explain_query("duration:[1 TO 5]") == "'duration' is between 1 and 5"
    assert (
        explain_query("duration:{100 TO 500}")
        == "'duration' is between 100 (exclusive) and 500 (exclusive)"
    )
    assert (
        explain_query("duration:[100 TO 500}")
        == "'duration' is between 100 and 500 (exclusive)"
    )
    assert (
        explain_query("duration:{100 TO 500]")
        == "'duration' is between 100 (exclusive) and 500"
    )
    assert (
        explain_query("-duration:{100 TO 500}")
        == "'duration' is not between 100 (exclusive) and 500 (exclusive)"
    )
    assert (
        explain_query("foo bar", implicit_name="event")
        == "event contains foo AND event contains bar"
    )


def test_get_key_values_faceted(spark, sf_dir):
    from hyperdx_spark.io import load_table
    from hyperdx_spark.metadata import get_key_values

    ev = load_table(spark, sf_dir, "events")
    all_vals = get_key_values(ev, ["event_type"]).collect()[0]["key0"]
    faceted = get_key_values(
        ev, ["event_type"], facet_condition="value >= 45"
    ).collect()[0]["key0"]
    assert set(faceted) <= set(all_vals)
    # facet must actually restrict to matching rows
    from pyspark.sql import functions as F

    expected = sorted(
        r["event_type"]
        for r in ev.where(F.col("value") >= 45).select("event_type").distinct().collect()
    )
    assert list(faceted) == expected


# ------------------------------------ raw-SQL query params (rawSqlParams.ts)

def test_raw_sql_params_by_display_type():
    from datetime import datetime

    from hyperdx_spark.macros import bind_raw_sql_params, raw_sql_params

    rng = (datetime(2024, 1, 1), datetime(2024, 1, 2))
    line = raw_sql_params(display_type="line", date_range=rng, granularity="5 minute")
    assert line == {
        "startDateMilliseconds": 1704067200000,
        "endDateMilliseconds": 1704153600000,
        "intervalSeconds": 300,
        "intervalMilliseconds": 300000,
    }
    # value charts bind only the range bounds
    num = raw_sql_params(display_type="number", date_range=rng)
    assert set(num) == {"startDateMilliseconds", "endDateMilliseconds"}
    # search binds nothing; auto granularity resolves via the ladder
    assert raw_sql_params(display_type="search", date_range=rng) == {}
    auto = raw_sql_params(display_type="line", date_range=rng)  # 1 day span
    assert auto["intervalSeconds"] * 60 >= 86400  # <= 60 buckets

    # rawSqlParams.test.ts edge bindings walked (r12):
    # :117 — 1-hour range, auto -> 60s / 60000ms
    hour = (datetime(2024, 1, 1), datetime(2024, 1, 1, 1))
    a = raw_sql_params(display_type="line", date_range=hour)
    assert (a["intervalSeconds"], a["intervalMilliseconds"]) == (60, 60000)
    # :98 — explicit granularity wins over the ladder
    g = raw_sql_params(display_type="line", date_range=hour, granularity="5 minute")
    assert (g["intervalSeconds"], g["intervalMilliseconds"]) == (300, 300000)
    # :57 — Line with NO dateRange: interval params bind 0 (the literal
    # 'auto' string parses to 0 in convertGranularityToSeconds), range
    # bounds stay unbound (undefined)
    none_line = raw_sql_params(display_type="line")
    assert none_line == {"intervalSeconds": 0, "intervalMilliseconds": 0}
    # :16 — Table with no dateRange binds nothing
    assert raw_sql_params(display_type="table") == {}
    # :138 — displayType defaults to Table: range bounds only
    d = raw_sql_params(date_range=rng)
    assert set(d) == {"startDateMilliseconds", "endDateMilliseconds"}

    sql = (
        "SELECT window(ts, {intervalSeconds:Int64}) FROM t "
        "WHERE ts >= timestamp_millis({startDateMilliseconds:Int64})"
    )
    bound = bind_raw_sql_params(sql, line)
    assert "{" not in bound and "300" in bound

    import pytest as _pt

    with _pt.raises(ValueError):
        bind_raw_sql_params("SELECT {nope:Int64}", line)
    with _pt.raises(ValueError):
        raw_sql_params(display_type="hologram", date_range=rng)


def test_key_values_filters_empty_and_null(spark):
    """Twin of metadata.test.ts:734 — nulls and empty strings are removed
    from every key's value list; falsy-but-real values ('0') are kept."""
    from hyperdx_spark import metadata

    df = spark.createDataFrame(
        [("value1",), (None,), ("",), ("value2",), ("0",)], "c string"
    )
    vals = metadata.get_key_values(df, ["c"]).collect()[0]["key0"]
    assert vals == ["0", "value1", "value2"]


def test_key_values_empty_keys_returns_empty(spark):
    """Twin of metadata.test.ts:758 — zero keys: empty result, no scan."""
    from hyperdx_spark import metadata

    df = spark.createDataFrame([("x",)], "c string")
    out = metadata.get_key_values(df, [])
    assert out.columns == [] and out.count() == 0


def test_key_values_row_cap_applies_by_default(spark):
    """The sampling row cap is the DEFAULT (metadata.ts sampledData CTE);
    sample_rows=None is the disableRowLimit path and sees every row."""
    from hyperdx_spark import metadata

    df = spark.createDataFrame([(f"v{i:03d}",) for i in range(30)], "c string")
    capped = metadata.get_key_values(
        df, ["c"], sample_rows=5, max_values_per_key=50
    ).collect()[0]["key0"]
    assert len(capped) == 5
    full = metadata.get_key_values(
        df, ["c"], sample_rows=None, max_values_per_key=50
    ).collect()[0]["key0"]
    assert len(full) == 30


# ---- raw-SQL chart validation (validateRawSqlChartConfig.test.ts) -----------

from hyperdx_spark.macros import (  # noqa: E402
    get_source_dependent_macros_used,
    get_source_table_macro_arg_counts,
    validate_raw_sql_chart_config,
    validate_raw_sql_for_alert,
)


def test_source_dependent_macros_used():
    assert get_source_dependent_macros_used("SELECT 1") == []
    assert get_source_dependent_macros_used("WHERE $__filters") == ["filters"]
    assert get_source_dependent_macros_used(
        "FROM $__sourceTable WHERE $__filters"
    ) == ["filters", "sourceTable"]
    # word boundary: $__filtersExtra is not $__filters
    assert get_source_dependent_macros_used("SELECT $__filtersExtra") == []


def test_validate_rawsql_interval_required_for_time_series():
    out = validate_raw_sql_chart_config(
        "SELECT count(*) FROM t WHERE $__timeFilter(ts)", display_type="line"
    )
    assert any("interval" in e for e in out["errors"])
    # non-time-series display types don't need it
    out = validate_raw_sql_chart_config(
        "SELECT count(*) FROM t WHERE $__timeFilter(ts)", display_type="table"
    )
    assert out["errors"] == []
    # interval macro present -> no error
    out = validate_raw_sql_chart_config(
        "SELECT $__timeInterval(ts), count(*) FROM t WHERE $__timeFilter(ts)",
        display_type="line",
    )
    assert out["errors"] == []
    # a literal {intervalSeconds:Int64} param also counts
    out = validate_raw_sql_chart_config(
        "SELECT ts div {intervalSeconds:Int64}, count(*) FROM t"
        " WHERE $__timeFilter(ts)",
        display_type="line",
    )
    assert out["errors"] == []


def test_validate_rawsql_time_filter_warning():
    out = validate_raw_sql_chart_config("SELECT count(*) FROM t")
    assert any("time range" in w for w in out["warnings"])
    out = validate_raw_sql_chart_config(
        "SELECT count(*) FROM t WHERE $__timeFilter(ts)"
    )
    assert not any("time range" in w for w in out["warnings"])
    # direct {param} references count too
    out = validate_raw_sql_chart_config(
        "SELECT count(*) FROM t WHERE ts >= {startDateMilliseconds:Int64}"
        " AND ts <= {endDateMilliseconds:Int64}"
    )
    assert not any("time range" in w for w in out["warnings"])


def test_validate_rawsql_dashboard_tile_macros():
    sql = "SELECT count(*) FROM t WHERE $__timeFilter(ts)"
    out = validate_raw_sql_chart_config(sql, is_dashboard_tile=False)
    assert out["warnings"] == []
    out = validate_raw_sql_chart_config(sql, is_dashboard_tile=True)
    assert any("$__sourceTable" in w for w in out["warnings"])
    assert any("$__filters" in w for w in out["warnings"])
    full = (
        "SELECT count(*) FROM $__sourceTable"
        " WHERE $__timeFilter(ts) AND $__filters"
    )
    out = validate_raw_sql_chart_config(full, is_dashboard_tile=True)
    assert out["warnings"] == []


def test_validate_rawsql_no_source_errors():
    out = validate_raw_sql_chart_config(
        "SELECT * FROM $__sourceTable WHERE $__timeFilter(ts)",
        has_source=False,
    )
    assert any("no source is selected" in e for e in out["errors"])
    # both macros named when both are used
    out = validate_raw_sql_chart_config(
        "SELECT * FROM $__sourceTable WHERE $__filters", has_source=False
    )
    assert any(
        "$__filters and $__sourceTable" in e for e in out["errors"]
    )
    # no source-dependent macros -> no error
    out = validate_raw_sql_chart_config(
        "SELECT 1 WHERE $__timeFilter(ts)", has_source=False
    )
    assert out["errors"] == []


def test_validate_rawsql_metrics_source_mismatch():
    # non-metrics source + $__sourceTable(<metricType>) -> error
    out = validate_raw_sql_chart_config(
        "SELECT * FROM $__sourceTable(gauge) WHERE $__timeFilter(ts)",
        table="events",
    )
    assert any("not a metrics source" in e for e in out["errors"])
    # metrics source + bare $__sourceTable -> error
    out = validate_raw_sql_chart_config(
        "SELECT * FROM $__sourceTable WHERE $__timeFilter(ts)",
        metric_tables={"gauge": "metrics_gauge"},
    )
    assert any("specify a metric type" in e for e in out["errors"])
    # matched usages are clean
    assert validate_raw_sql_chart_config(
        "SELECT * FROM $__sourceTable WHERE $__timeFilter(ts)", table="events"
    )["errors"] == []
    assert validate_raw_sql_chart_config(
        "SELECT $__timeInterval(ts) FROM $__sourceTable(gauge)"
        " WHERE $__timeFilter(ts)",
        display_type="line",
        metric_tables={"gauge": "metrics_gauge"},
    )["errors"] == []


def test_validate_rawsql_metric_interval_interplay():
    # metricTables provided -> macros resolve -> missing-interval error fires
    sql = "SELECT * FROM $__sourceTable(gauge) WHERE $__timeFilter(ts)"
    out = validate_raw_sql_chart_config(
        sql, display_type="line", metric_tables={"gauge": "mg"}
    )
    assert any("interval" in e for e in out["errors"])
    # metricTables missing -> resolution fails -> interval error silently
    # skipped, but the source-type mismatch still reports
    out = validate_raw_sql_chart_config(sql, display_type="line", table="t")
    assert not any("interval" in e for e in out["errors"])
    assert any("not a metrics source" in e for e in out["errors"])


def test_validate_rawsql_degrades_on_malformed_macros():
    # unmatched parens while typing: no exception, degraded output
    for sql, kw in (
        ("SELECT * FROM $__sourceTable( WHERE x", dict(table="t")),
        ("SELECT * WHERE $__filters(", dict(table="t")),
        ("SELECT * FROM $__sourceTable(", dict(has_source=False)),
    ):
        out = validate_raw_sql_chart_config(sql, **kw)
        assert isinstance(out["errors"], list)


def test_validate_rawsql_for_alert():
    out = validate_raw_sql_for_alert(
        "SELECT count(*) FROM t", display_type="search"
    )
    assert any("does not support raw SQL alerts" in e for e in out["errors"])
    out = validate_raw_sql_for_alert(
        "SELECT count(*) FROM t WHERE $__timeFilter(ts)", display_type="number"
    )
    assert out["errors"] == [] and out["warnings"] == []
    out = validate_raw_sql_for_alert(
        "SELECT count(*) FROM t", display_type="line"
    )
    assert any("interval" in e for e in out["errors"])
    assert any("start and end date" in w for w in out["warnings"])


def test_source_table_macro_arg_counts():
    assert get_source_table_macro_arg_counts("SELECT 1") == []
    assert get_source_table_macro_arg_counts(
        "FROM $__sourceTable JOIN $__sourceTable(gauge)"
    ) == [0, 1]


def test_list_metrics_cursor_roundtrip():
    """listMetricsCursor.test.ts: base64 round-trips for every queryable
    kind incl. unicode names; decode rejects malformed input, missing
    fields, and unknown kinds (None, never an exception)."""
    from hyperdx_spark.metadata import (
        decode_metrics_cursor as dec,
        encode_metrics_cursor as enc,
    )

    for kind in ("gauge", "sum", "histogram", "exponential histogram"):
        c = enc(kind, "http.server.request.duration")
        assert dec(c) == {"kind": kind,
                          "lastName": "http.server.request.duration"}
    c = enc("gauge", "system.cpu.utilization-µ.naïve")
    assert dec(c)["lastName"] == "system.cpu.utilization-µ.naïve"
    assert dec("!!!not base64!!!") is None
    assert dec("") is None
    import base64

    assert dec(base64.b64encode(b"[1,2]").decode()) is None
    assert dec(base64.b64encode(b'{"kind":"summary","lastName":"x"}').decode()) is None
    assert dec(base64.b64encode(b'{"kind":"gauge"}').decode()) is None


def test_list_metrics_keyset_pagination(spark):
    """listMetrics.ts paging loop: kind order, MetricName keyset cursor,
    ILIKE pattern, unit/description projection when present, the +1-row
    more-data probe, cross-kind page fill."""
    from datetime import datetime

    from hyperdx_spark.metadata import decode_metrics_cursor, list_metrics

    gauge = spark.createDataFrame(
        [(f"g.metric.{i:02d}", datetime(2024, 1, 1, i), f"u{i}", f"d{i}")
         for i in range(6)],
        "MetricName string, TimeUnix timestamp, MetricUnit string,"
        " MetricDescription string",
    )
    # sum table without the optional OTel columns
    summ = spark.createDataFrame(
        [(f"s.metric.{i}", datetime(2024, 1, 1, i)) for i in range(3)],
        "MetricName string, TimeUnix timestamp",
    )
    tables = {"gauge": gauge, "sum": summ}

    # page 1: limit 4 -> 4 gauge entries + a cursor into gauge
    out = list_metrics(tables, limit=4)
    assert [m["name"] for m in out["metrics"]] == [
        "g.metric.00", "g.metric.01", "g.metric.02", "g.metric.03",
    ]
    assert out["metrics"][0] == {
        "name": "g.metric.00", "kind": "gauge", "unit": "u0",
        "description": "d0",
    }
    c = decode_metrics_cursor(out["next_cursor"])
    assert c == {"kind": "gauge", "lastName": "g.metric.03"}

    # page 2 resumes mid-gauge and fills across kinds (sum rows lack
    # unit/description and omit the keys)
    out = list_metrics(tables, cursor=out["next_cursor"], limit=4)
    assert [(m["name"], m["kind"]) for m in out["metrics"]] == [
        ("g.metric.04", "gauge"), ("g.metric.05", "gauge"),
        ("s.metric.0", "sum"), ("s.metric.1", "sum"),
    ]
    assert "unit" not in out["metrics"][2]
    c = decode_metrics_cursor(out["next_cursor"])
    assert c == {"kind": "sum", "lastName": "s.metric.1"}

    # final page: no more-data probe hit -> no cursor
    out = list_metrics(tables, cursor=out["next_cursor"], limit=4)
    assert [m["name"] for m in out["metrics"]] == ["s.metric.2"]
    assert out["next_cursor"] is None

    # kind pin + ILIKE pattern + time window
    out = list_metrics(tables, kind="gauge", name_pattern="%METRIC.0[12]%")
    assert out["metrics"] == []  # ILIKE is not regex: brackets literal
    out = list_metrics(tables, kind="gauge", name_pattern="%metric.0_%")
    assert len(out["metrics"]) == 6
    out = list_metrics(
        tables, kind="gauge",
        date_range=(datetime(2024, 1, 1, 2), datetime(2024, 1, 1, 4)),
    )
    assert [m["name"] for m in out["metrics"]] == [
        "g.metric.02", "g.metric.03", "g.metric.04",
    ]


def test_describe_metric_reference_twin(spark):
    """describeMetric.ts:163-480: unit/description anyLast (only when the
    OTel columns exist), per-Map-column attribute keys, per-key sampled
    distinct values (null-map-miss '' filtered AFTER the distinct cap),
    the 12-key sampling cap with truncated_keys recorded."""
    from datetime import datetime

    from hyperdx_spark.metadata import describe_metric

    rows = [
        ("cpu", datetime(2024, 1, 1, i % 5), "s", "CPU time",
         {"host": f"h{i % 3}", "env": "prod" if i % 2 else "stage"},
         {f"k{j}": "v" for j in range(11)})
        for i in range(20)
    ] + [("other", datetime(2024, 1, 1), "x", "other metric",
          {"host": "zz"}, {})]
    df = spark.createDataFrame(
        rows,
        "MetricName string, TimeUnix timestamp, MetricUnit string,"
        " MetricDescription string, ResourceAttributes map<string,string>,"
        " Attributes map<string,string>",
    )
    out = describe_metric(df, "cpu")
    assert out["unit"] == "s" and out["description"] == "CPU time"
    assert sorted(out["attribute_keys"]["ResourceAttributes"]) == ["env", "host"]
    assert len(out["attribute_keys"]["Attributes"]) == 11
    # 13 keys total, cap 12: one key lands in truncated_keys
    meta = out["attribute_values_meta"]
    assert len(meta["sampled_keys"]) == 12 and len(meta["truncated_keys"]) == 1
    assert set(out["attribute_values"]["ResourceAttributes['host']"]) == {
        "h0", "h1", "h2",
    }
    assert set(out["attribute_values"]["ResourceAttributes['env']"]) == {
        "prod", "stage",
    }
    # the other metric's rows never leak in
    assert "zz" not in out["attribute_values"]["ResourceAttributes['host']"]

    # without the OTel columns: no unit/description keys at all
    slim = df.select("MetricName", "TimeUnix", "ResourceAttributes")
    out = describe_metric(slim, "cpu")
    assert "unit" not in out and "description" not in out
    assert "host" in out["attribute_keys"]["ResourceAttributes"]

    # value cap: >10 distinct values trims per key
    many = spark.createDataFrame(
        [("m", {"k": f"val{i}"}) for i in range(25)],
        "MetricName string, Attributes map<string,string>",
    )
    out = describe_metric(many, "m")
    assert len(out["attribute_values"]["Attributes['k']"]) == 10


def test_sql_suggestions_reference_twin():
    """useSqlSuggestions.test.tsx: double-quote detection outside
    single-quoted strings, the corrected rewrite (verbatim port incl. its
    quote-state quirk), message wording."""
    from hyperdx_spark.macros import (
        correct_double_quotes as c,
        detect_double_quotes as d,
        sql_suggestions,
    )

    assert d('SeverityText = "error"')
    assert not d("SeverityText = 'John \"Doe\"'")  # inside single quotes
    assert not d("SeverityText = 'err'")
    assert not d("")
    assert c('SeverityText = "error"') == "SeverityText = 'error'"
    assert c(
        'SeverityText = "error" OR SeverityText = "info" OR'
        ' SeverityText = "debug" OR SeverityText = "warn"'
    ) == (
        "SeverityText = 'error' OR SeverityText = 'info' OR"
        " SeverityText = 'debug' OR SeverityText = 'warn'"
    )
    assert c("SeverityText = 'O\\'Reilly' AND company = \"Acme\"") == (
        "SeverityText = 'O\\'Reilly' AND company = 'Acme'"
    )
    assert c("SeverityText = 'single' OR SeverityText = \"double\"") == (
        "SeverityText = 'single' OR SeverityText = 'double'"
    )
    s = sql_suggestions('a = "x"')
    assert len(s) == 1
    assert s[0]["user_message"]("where") == (
        'ClickHouse does not support double quotes (") but they were'
        " detected in WHERE. Switch to single quotes?"
    )
    assert s[0]["corrected"] == "a = 'x'"
    assert sql_suggestions("a = 'x'") is None
