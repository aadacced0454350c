"""Raw-SQL macro expansion (Grafana-style ``$__...`` template macros).

Parity target: ``packages/common-utils/src/macros.ts`` — macro set :45-150
(fromTime/toTime[_ms], timeFilter[_ms], dateFilter, dateTimeFilter/dt,
timeInterval[_ms], interval_s), bracket-aware argument parsing :211-238,
longest-name-first replacement and filters/sourceTable handling :288-369.
Expansions emit Spark SQL instead of ClickHouse SQL; the template then runs
through :func:`sql_with_frames`, which binds its tables as DataFrames for
that one call.
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import Optional

NO_FILTERS = "(1=1 /** no filters applied */)"


def _split_args(inner: str) -> list[str]:
    """Split on top-level commas (bracket/quote aware)."""
    args, depth, cur, quote = [], 0, "", None
    for ch in inner:
        if quote:
            cur += ch
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur += ch
        elif ch in "([":
            depth += 1
            cur += ch
        elif ch in ")]":
            depth -= 1
            cur += ch
        elif ch == "," and depth == 0:
            args.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        args.append(cur.strip())
    return args


def _parse_args(s: str) -> tuple[list[str], int]:
    """Parse an optional parenthesized argument list at the start of *s*.
    Returns (args, consumed_chars); consumed 0 when there is no '('."""
    if not s.startswith("("):
        return [], 0
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return _split_args(s[1:i]), i + 1
    raise ValueError("Failed to parse macro arguments: unbalanced parens")


def _ms(dt: datetime) -> int:
    return int(dt.timestamp() * 1000)


def replace_macros(
    sql_template: str,
    *,
    date_range: tuple[datetime, datetime],
    interval_seconds: int = 60,
    table: Optional[str] = None,
    metric_tables: Optional[dict[str, str]] = None,
    filters_sql: Optional[str] = None,
) -> str:
    """Expand every ``$__macro[(args)]`` occurrence into Spark SQL."""
    start_ms, end_ms = _ms(date_range[0]), _ms(date_range[1])
    from_ts = f"timestamp_millis({start_ms})"
    to_ts = f"timestamp_millis({end_ms})"

    def one_arg(name, args):
        if len(args) != 1:
            raise ValueError(f"Macro '{name}' expects 1 argument(s), but got {len(args)}")
        return args[0]

    def source_table(args):
        if len(args) > 1:
            raise ValueError(f"Macro 'sourceTable' expects 0-1 argument(s), but got {len(args)}")
        if table is None and not metric_tables:
            raise ValueError("Macro '$__sourceTable' requires a source to be selected")
        if not args:
            if metric_tables:
                raise ValueError(
                    "Macro '$__sourceTable(metricType)' requires a metricType"
                    " when a metrics source is selected"
                )
            return f"`{table}`"
        if not metric_tables:
            raise ValueError(
                "Macro '$__sourceTable(metricType)' requires a metrics source"
            )
        mt = args[0]
        if mt not in metric_tables:
            raise ValueError(
                f"Macro '$__sourceTable(metricType)': no table for '{mt}'"
            )
        return f"`{metric_tables[mt]}`"

    def bucket(col, step_expr):
        return (
            f"timestamp_seconds(CAST(floor(unix_timestamp({col}) / {step_expr})"
            f" AS BIGINT) * {step_expr})"
        )

    replacements = {
        "timeFilter_ms": lambda a: f"{one_arg('timeFilter_ms', a)} >= {from_ts}"
        f" AND {one_arg('timeFilter_ms', a)} <= {to_ts}",
        "timeInterval_ms": lambda a: bucket(one_arg("timeInterval_ms", a), interval_seconds),
        "dateTimeFilter": lambda a: _dt_filter(a, from_ts, to_ts),
        "timeFilter": lambda a: f"{one_arg('timeFilter', a)} >= {from_ts}"
        f" AND {one_arg('timeFilter', a)} <= {to_ts}",
        "timeInterval": lambda a: bucket(one_arg("timeInterval", a), interval_seconds),
        "fromTime_ms": lambda a: from_ts,
        "toTime_ms": lambda a: to_ts,
        "dateFilter": lambda a: f"{one_arg('dateFilter', a)} >= to_date({from_ts})"
        f" AND {one_arg('dateFilter', a)} <= to_date({to_ts})",
        "sourceTable": source_table,
        "interval_s": lambda a: str(interval_seconds),
        "fromTime": lambda a: from_ts,
        "filters": lambda a: filters_sql or NO_FILTERS,
        "toTime": lambda a: to_ts,
        "dt": lambda a: _dt_filter(a, from_ts, to_ts),
    }

    def _dt_filter(args, f, t):
        if len(args) != 2:
            raise ValueError(f"Macro 'dt' expects 2 argument(s), but got {len(args)}")
        date_col, time_col = args
        return (
            f"({date_col} >= to_date({f}) AND {date_col} <= to_date({t}))"
            f" AND ({time_col} >= {f} AND {time_col} <= {t})"
        )

    sql = sql_template
    # longest name first so $__timeFilter_ms isn't matched by $__timeFilter
    for name in sorted(replacements, key=len, reverse=True):
        pattern = re.compile(rf"\$__{name}\b")
        while True:
            m = pattern.search(sql)
            if m is None:
                break
            args, consumed = _parse_args(sql[m.end():])
            replacement = replacements[name](args)
            sql = sql[: m.start()] + replacement + sql[m.end() + consumed:]
    return sql


def sql_with_frames(spark, sql: str, **frames):
    """Run expanded *sql* with each backtick-quoted table named in *frames*
    (``$__sourceTable`` emits `` `name` ``) bound to that DataFrame for this
    call only: PySpark's ``spark.sql(text, name=frame)`` formatter binds it
    under a unique view name and drops the view before returning. Every
    other brace is doubled so the formatter keeps it literal
    (Lucene-compiled SQL carries ``\\p{Punct}``)."""
    text = sql.replace("{", "{{").replace("}", "}}")
    for name in frames:
        text = text.replace(f"`{name}`", f"`{{{name}}}`")
    return spark.sql(text, **frames)


TIME_RANGE_MACROS = (
    "timeFilter", "timeFilter_ms", "dateFilter", "dateTimeFilter", "dt",
    "fromTime", "toTime", "fromTime_ms", "toTime_ms",
)

# Macros that only resolve against a selected source (macros.ts:175)
SOURCE_DEPENDENT_MACROS = ("filters", "sourceTable")

INTERVAL_MACROS = ("timeInterval", "timeInterval_ms", "interval_s")


def has_macro(sql: str, name: str) -> bool:
    return re.search(rf"\$__{name}\b", sql) is not None


def _find_macros(sql: str, name: str) -> list[list[str]]:
    """Arg lists for every ``$__name[(args)]`` occurrence (macros.ts
    findMacros); raises on malformed (unbalanced) argument lists."""
    out = []
    for m in re.finditer(rf"\$__{name}\b", sql):
        args, _ = _parse_args(sql[m.end():])
        out.append(args)
    return out


def get_source_dependent_macros_used(sql_template: str) -> list[str]:
    """Which of SOURCE_DEPENDENT_MACROS the SQL references (macros.ts:252);
    callers warn/error when these are used without a source to resolve."""
    return [m for m in SOURCE_DEPENDENT_MACROS if has_macro(sql_template, m)]


def get_source_table_macro_arg_counts(sql_template: str) -> list[int]:
    """Argument count per ``$__sourceTable`` usage — 0 bare, 1 with a
    metricType (macros.ts:263)."""
    return [len(a) for a in _find_macros(sql_template, "sourceTable")]


# ---------------------------------------------------------------------------
# Raw-SQL chart validation (core/utils.ts:1353-1535 parity)
# ---------------------------------------------------------------------------

TIME_SERIES_DISPLAY_TYPES = ("line", "stacked_bar")
RAW_SQL_ALERT_DISPLAY_TYPES = ("line", "stacked_bar", "number")

_VALIDATION_RANGE = (datetime(1970, 1, 2), datetime(1970, 1, 3))


def display_type_supports_raw_sql_alerts(display_type: Optional[str]) -> bool:
    return (display_type or "").lower() in RAW_SQL_ALERT_DISPLAY_TYPES


def _raw_sql_time_range_status(
    sql_template: str,
    *,
    display_type: Optional[str],
    table: Optional[str],
    metric_tables: Optional[dict],
    has_source: bool = True,
) -> Optional[dict]:
    """Which time-range/interval bindings the resolved SQL carries
    (core/utils.ts:1390-1418 getRawSqlTimeRangeStatus). ``None`` when macro
    resolution fails — expansion throws frequently while a user is still
    typing (unbalanced args, source mismatches), and the per-macro
    validators below report those specifically.

    Repo spelling: the reference's expansions emit ``{param:Type}``
    references, so it string-checks the resolved SQL for the param names;
    ours splice concrete values, so interval/time-filter presence checks
    the TEMPLATE's macros plus any literal ``{param:...}`` placeholders
    (bound later by :func:`bind_raw_sql_params`) — same verdict.
    """
    try:
        # resolve with the config's own source bindings: no source means
        # $__sourceTable fails to resolve, so the status degrades to None
        # exactly as the reference's replaceMacros-throws path does
        resolved_table = table
        if not has_source:
            resolved_table, metric_tables = None, None
        elif resolved_table is None and not metric_tables:
            resolved_table = "__t"
        replace_macros(
            sql_template,
            date_range=_VALIDATION_RANGE,
            table=resolved_table,
            metric_tables=metric_tables,
        )
    except ValueError:
        return None
    has_param = lambda p: re.search(r"\{\s*" + p + r"\s*:", sql_template) is not None
    return {
        "is_time_series": (display_type or "").lower() in TIME_SERIES_DISPLAY_TYPES,
        "has_interval": (
            any(has_macro(sql_template, m) for m in INTERVAL_MACROS)
            or has_param("intervalSeconds")
            or has_param("intervalMilliseconds")
        ),
        "has_time_filter": (
            any(has_macro(sql_template, m) for m in TIME_RANGE_MACROS)
            or (has_param("startDateMilliseconds") and has_param("endDateMilliseconds"))
        ),
    }


def validate_raw_sql_chart_config(
    sql_template: str,
    *,
    display_type: Optional[str] = "table",
    is_dashboard_tile: bool = False,
    has_source: bool = True,
    table: Optional[str] = None,
    metric_tables: Optional[dict] = None,
) -> dict:
    """Chart-editor lint for raw-SQL tiles (core/utils.ts:1461-1535
    ``validateRawSqlChartConfig``): returns {"errors": [...], "warnings":
    [...]}. Time-series display types must carry an interval binding; every
    raw-SQL chart should carry the date-range binding; dashboard tiles
    should reference $__sourceTable and $__filters; source-dependent macros
    without a source are errors; $__sourceTable's metricType argument must
    match whether the source is a metrics source. Malformed macro args
    degrade to whatever was accumulated rather than throwing (the user is
    still typing)."""
    errors: list[str] = []
    warnings: list[str] = []
    try:
        status = _raw_sql_time_range_status(
            sql_template,
            display_type=display_type,
            table=table,
            metric_tables=metric_tables,
            has_source=has_source,
        )
        if status:
            if status["is_time_series"] and not status["has_interval"]:
                errors.append(
                    "SQL must include an interval parameter or macro"
                    " (e.g. $__interval_s) for this display type."
                )
            if not status["has_time_filter"]:
                warnings.append(
                    "SQL should include start and end date parameters or"
                    " macros (e.g. $__timeFilter) so this chart respects"
                    " the selected time range."
                )
        if is_dashboard_tile:
            if not has_macro(sql_template, "sourceTable"):
                warnings.append(
                    "SQL should include the $__sourceTable macro so this"
                    " tile queries its configured source."
                )
            if not has_macro(sql_template, "filters"):
                warnings.append(
                    "SQL should include the $__filters macro so dashboard"
                    " filters apply to this tile."
                )
        if not has_source:
            used = get_source_dependent_macros_used(sql_template)
            if used:
                names = " and ".join(f"$__{m}" for m in used)
                which = "these macros" if len(used) > 1 else "this macro"
                errors.append(
                    f"SQL uses {names} but no source is selected — select a"
                    f" source so {which} can resolve correctly."
                )
        else:
            arg_counts = get_source_table_macro_arg_counts(sql_template)
            is_metrics_source = bool(metric_tables)
            if any(c > 0 for c in arg_counts) and not is_metrics_source:
                errors.append(
                    "SQL uses $__sourceTable(<metricType>) but the selected"
                    " source is not a metrics source — use a bare"
                    " $__sourceTable instead."
                )
            if any(c == 0 for c in arg_counts) and is_metrics_source:
                errors.append(
                    "SQL uses a bare $__sourceTable but the selected source"
                    " is a metrics source — specify a metric type, e.g."
                    " $__sourceTable(gauge)."
                )
    except ValueError:
        # malformed macro args while typing — keep what was accumulated
        pass
    return {"errors": errors, "warnings": warnings}


def validate_raw_sql_for_alert(
    sql_template: str,
    *,
    display_type: Optional[str] = None,
    table: Optional[str] = None,
    metric_tables: Optional[dict] = None,
) -> dict:
    """Alert-specific raw-SQL lint (core/utils.ts:1420-1455): the display
    type must support raw-SQL alerts; time-series alerts need an interval
    binding; a missing date-range binding is a warning."""
    errors: list[str] = []
    warnings: list[str] = []
    if not display_type_supports_raw_sql_alerts(display_type):
        errors.append(
            f"Display type {display_type} does not support raw SQL alerts."
        )
    status = _raw_sql_time_range_status(
        sql_template,
        display_type=display_type,
        table=table,
        metric_tables=metric_tables,
    )
    if status:
        if status["is_time_series"] and not status["has_interval"]:
            errors.append(
                "SQL used for alerts must include an interval parameter or macro."
            )
        if not status["has_time_filter"]:
            warnings.append(
                "SQL used for alerts should include start and end date"
                " parameters or macros."
            )
    return {"errors": errors, "warnings": warnings}


# ---------------------------------------------------------------------------
# Raw-SQL query params (rawSqlParams.ts parity)
# ---------------------------------------------------------------------------

# Which named params each display type binds (rawSqlParams.ts
# QUERY_PARAMS_BY_DISPLAY_TYPE): time charts get the interval params too,
# value/table charts only the range bounds, search/heatmap/markdown none.
RAW_SQL_PARAMS_BY_DISPLAY_TYPE: dict[str, tuple[str, ...]] = {
    "line": (
        "startDateMilliseconds",
        "endDateMilliseconds",
        "intervalSeconds",
        "intervalMilliseconds",
    ),
    "stacked_bar": (
        "startDateMilliseconds",
        "endDateMilliseconds",
        "intervalSeconds",
        "intervalMilliseconds",
    ),
    "table": ("startDateMilliseconds", "endDateMilliseconds"),
    "pie": ("startDateMilliseconds", "endDateMilliseconds"),
    "bar": ("startDateMilliseconds", "endDateMilliseconds"),
    "number": ("startDateMilliseconds", "endDateMilliseconds"),
    "search": (),
    "heatmap": (),
    "markdown": (),
    "event_patterns": (),
}

_PARAM_RE = re.compile(r"\{(\w+)\s*:\s*\w+\}")  # {name:Int64} placeholders


def raw_sql_params(
    *,
    display_type: str = "table",
    date_range: Optional[tuple[datetime, datetime]] = None,
    granularity: Optional[str] = None,
) -> dict[str, int]:
    """Compute the bound values for a raw-SQL tile's named query params
    (rawSqlParams.ts QUERY_PARAMS): dashboard range bounds in epoch millis
    and the effective bucket interval ('auto' resolves via the granularity
    ladder against the date range). Defaults mirror the reference:
    displayType falls back to Table (renderChartConfig.ts
    renderRawSqlChartConfig; rawSqlParams.test.ts:138), and 'auto' with NO
    date range stays the literal string 'auto', whose
    convertGranularityToSeconds parse yields 0 (core/utils.ts:471-485;
    rawSqlParams.test.ts:57-74 pins intervalSeconds 0)."""
    from hyperdx_spark.granularity import auto_granularity, granularity_seconds

    values: dict[str, int] = {}
    if date_range is not None:
        values["startDateMilliseconds"] = _ms(date_range[0])
        values["endDateMilliseconds"] = _ms(date_range[1])
    g = granularity or "auto"
    if g == "auto":
        interval = granularity_seconds(auto_granularity(date_range)) if date_range else 0
    else:
        interval = granularity_seconds(g)
    values["intervalSeconds"] = interval
    values["intervalMilliseconds"] = interval * 1000
    wanted = RAW_SQL_PARAMS_BY_DISPLAY_TYPE.get(display_type.lower())
    if wanted is None:
        raise ValueError(f"unknown display type: {display_type!r}")
    return {k: values[k] for k in wanted if k in values}


def bind_raw_sql_params(sql: str, params: dict[str, int]) -> str:
    """Substitute ClickHouse-style ``{name:Type}`` placeholders with their
    bound integer values (the Spark analogue of CH server-side params —
    values here are engine-computed ints, never user strings, so literal
    splicing is injection-safe)."""

    def sub(m: "re.Match[str]") -> str:
        name = m.group(1)
        if name not in params:
            raise ValueError(f"unbound query param: {{{name}}}")
        return str(int(params[name]))

    return _PARAM_RE.sub(sub, sql)


def detect_double_quotes(text: str) -> bool:
    """app hooks/useSqlSuggestions.tsx DoubleQuoteSuggestion.detect: a
    double quote OUTSIDE single-quoted strings (backslash-escaped single
    quotes don't close the string). Reference-faithful quirk, pinned: the
    escaped flag is NOT reset by ordinary characters (the JS has the same
    behavior), so a backslash earlier in the text makes the next single
    quote read as escaped — e.g. a '\\\\' path literal desyncs the
    in-string state and can suppress detection."""
    in_single = False
    escaped = False
    for ch in text:
        if ch == "'":
            if escaped:
                escaped = False
            else:
                in_single = not in_single
        elif ch == '"':
            if in_single:
                continue
            return True
        elif ch == "\\":
            escaped = True
    return False


def correct_double_quotes(text: str) -> str:
    """DoubleQuoteSuggestion.correct, ported VERBATIM including its
    single-quote state handling (which differs from detect(): an
    UNESCAPED quote does not toggle the in-string state there — the
    corrector only ever runs on inputs detect() fired on, where the
    pinned reference cases all behave as users expect)."""
    in_single = False
    escaped = False
    out = []
    for ch in text:
        if ch == "'":
            if escaped:
                in_single = not in_single
            else:
                escaped = False
            out.append(ch)
        elif ch == '"':
            out.append('"' if in_single else "'")
        elif ch == "\\":
            escaped = True
            out.append(ch)
        else:
            out.append(ch)
    return "".join(out)


def sql_suggestions(text: str):
    """useSqlSuggestions: run every suggestion engine; None when nothing
    fires. Each suggestion carries the user message builder and the
    corrected text."""
    out = []
    if detect_double_quotes(text):
        out.append(
            {
                "user_message": lambda key: (
                    "ClickHouse does not support double quotes (\") but"
                    f" they were detected in {key.upper()}. Switch to"
                    " single quotes?"
                ),
                "corrected": correct_double_quotes(text),
            }
        )
    return out or None
