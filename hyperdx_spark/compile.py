"""ChartConfig -> Spark SQL compiler.

Ref: hyperdxio/hyperdx ``packages/common-utils/src/core/renderChartConfig.ts``
— the clause renderers (renderSelectList 697-802, renderWhere 1141-1282,
renderGroupBy 1284-1306, renderHaving 1433-1452, renderOrderBy 1454-1479,
renderLimit 1481-1494), the aggFn dispatcher (aggFnExpr 500-669) and the
series-limit CTE (1308-1431).

One lowering: like renderChartConfig.ts, :func:`render_chart_sql` turns a
config into ONE SQL statement, and :func:`compile_chart_config` runs it with
a single ``macros.sql_with_frames`` call that binds the source table, CTE
inputs and series pin as that call's frames — a handful of py4j round trips
per statement, not one per Column. ``builder_sql.builder_to_raw_sql``
renders the same statement with ``$__`` macros in place of the bound time
filter, bucket and table. Catalyst does what the reference delegated to
ClickHouse — filter pushdown to parquet, column pruning, whole-stage codegen;
aggregations are built-in functions (map-side partial aggregation); the
series-limit cap is a broadcast left-semi join (the top-N side is <= N rows
by construction, so no shuffle of the big side at any scale).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from datetime import datetime
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

from hyperdx_spark.display import has_positive_series_limit
from hyperdx_spark.functions.chcompat import _split_args, translate_expr
from hyperdx_spark.granularity import auto_granularity, granularity_seconds
from hyperdx_spark.lucene.serializer import SearchQueryBuilder, _sql_str
from hyperdx_spark.macros import sql_with_frames
from hyperdx_spark.sqlident import sql_ident
from hyperdx_spark.model import (
    ChartConfig,
    QuerySettings,
    SelectCol,
    Source,
    SortSpec,
    SqlAstFilter,
    SqlFilter,
)

DEFAULT_SETTINGS = QuerySettings()


def _num(expr: str) -> str:
    """ClickHouse ``toFloat64OrDefault(toString(x))`` numeric-coercion
    semantics (renderChartConfig.ts:518-522): non-numeric -> 0.0, NULL stays
    NULL (skipped by aggregates)."""
    return (
        f"CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS DOUBLE) "
        f"ELSE coalesce(try_cast({expr} AS DOUBLE), CAST(0.0 AS DOUBLE)) END"
    )


def _weight(expr: str) -> str:
    """Sample-rate weight: ``greatest(toUInt64OrZero(toString(w)), 1)``
    (renderChartConfig.ts:556)."""
    return f"greatest(coalesce(try_cast({expr} AS BIGINT), 0), 1)"


@dataclass
class _Ctx:
    config: ChartConfig
    source: Source
    builder: SearchQueryBuilder
    settings: QuerySettings
    ts_expr: str
    bucket_seconds: Optional[int]
    # every token of a multi-column timestampValueExpression; the time
    # filter is emitted on ALL of them (partition pruning on the coarse
    # Date column + precision on the DateTime one), bucketing on ts_expr
    ts_filter_exprs: Sequence[str] = ()
    # Render mode: compile passes the bound values, builder_to_raw_sql the
    # $__sourceTable / $__timeFilter / $__timeInterval macros.
    table: str = ""  # FROM relation, `with` aliases already projected
    columns: Optional[Sequence[str]] = None  # its column names; None = unknown
    time_filter: Optional[Callable[[str, bool], str]] = None  # (expr, is_date)
    bucket: Optional[Callable[[str], str]] = None  # ts expr -> bucket
    extra_where: Sequence[str] = ()
    series_ranking: Optional[str] = None  # bound top-N relation (chunk pin)


def split_and_trim_with_bracket(s: str) -> list[str]:
    """Top-level comma split, bracket/quote aware — exact
    splitAndTrimWithBracket port (core/utils.ts:84-134) including its
    quirks: blank segments are dropped, bracket counters may go negative,
    and an input left unbalanced at the end yields NO trailing segment
    (the flush only happens on a top-level comma)."""

    def escaped(i: int) -> bool:
        n = 0
        j = i - 1
        while j >= 0 and s[j] == "\\":
            n += 1
            j -= 1
        return n % 2 == 1

    paren = square = 0
    in_s = in_d = False
    res: list[str] = []
    cur = ""
    for i in range(len(s) + 1):
        c = "," if i == len(s) else s[i]
        if c == '"' and not in_s and not escaped(i):
            in_d = not in_d
            cur += c
            continue
        if c == "'" and not in_d and not escaped(i):
            in_s = not in_s
            cur += c
            continue
        if not in_s and not in_d:
            if c == "(":
                paren += 1
            elif c == ")":
                paren -= 1
            elif c == "[":
                square += 1
            elif c == "]":
                square -= 1
        if c == "," and paren == 0 and square == 0 and not in_s and not in_d:
            t = cur.strip()
            if t:
                res.append(t)
            cur = ""
        else:
            cur += c
    return res


_TO_START_OF_RE = re.compile(r"(toStartOf\w+)\s*\(")


def parse_to_start_of_function(expr: str) -> Optional[tuple[str, str, str]]:
    """core/utils.ts:966-1003 parseToStartOfFunction: a single top-level
    ``toStartOfX(...)`` call (nothing before it, one expression) parsed to
    ``(function, column_argument, formatted_remaining_args)``; anything
    else — wrapped, negated, multi-expression, unbalanced — is None."""
    parts = split_and_trim_with_bracket(expr)
    if len(parts) != 1:
        return None
    m = _TO_START_OF_RE.search(expr)
    if not m:
        return None
    if expr[: m.start()].strip() != "":
        return None
    args_start = expr.index(m.group(0)) + len(m.group(0))
    args_end = expr.rfind(")")
    if args_end < args_start:
        return None
    args = split_and_trim_with_bracket(expr[args_start:args_end])
    if not args:
        return None
    remaining = f", {', '.join(args[1:])}" if len(args) > 1 else ""
    return m.group(1).strip(), args[0], remaining


def optimize_timestamp_value_expression(
    timestamp_value_expression: str, primary_key: Optional[str]
) -> str:
    """core/utils.ts:1012-1042 optimizeTimestampValueExpression: when the
    table's sort key leads with a rollup of the timestamp
    (``toStartOfHour(ts), ..., ts``), append that rollup to the timestamp
    expression so range filters also constrain the COARSE prefix of the
    key — in ClickHouse that is primary-index pruning; in this engine the
    multi-column timestamp machinery (pick_bucket_timestamp_expr) turns
    every listed expression into a pushed scan filter, which is the same
    partition/row-group pruning win. Collection stops at the first key
    expression that IS the timestamp (raw, toUnixTimestamp* or
    toDateTime*-wrapped) — rollups listed after the exact column add no
    pruning."""
    if not primary_key or not timestamp_value_expression:
        return timestamp_value_expression
    out = [timestamp_value_expression]
    ts = timestamp_value_expression.strip()
    for pk_expr in split_and_trim_with_bracket(primary_key):
        parsed = parse_to_start_of_function(pk_expr)
        if (
            pk_expr == ts
            # Quirk kept from the reference: the two `includes` checks test
            # the UNTRIMMED expression (core/utils.ts:1025-1029), so a
            # whitespace-padded timestampValueExpression keeps scanning past
            # a wrapped key entry instead of breaking.
            or (
                pk_expr.startswith("toUnixTimestamp")
                and timestamp_value_expression in pk_expr
            )
            or (
                pk_expr.startswith("toDateTime")
                and timestamp_value_expression in pk_expr
            )
        ):
            break
        if parsed is not None and parsed[1] == ts:
            out.append(pk_expr)
    return ", ".join(out)


def _dtypes(schema: Optional[StructType]) -> dict:
    return {f.name: f.dataType.simpleString() for f in schema.fields} if schema else {}


def pick_bucket_timestamp_expr(
    ts_value_expression: str, schema: Optional[StructType]
) -> tuple[str, list[str]]:
    """Multi-column timestamp support (core/utils.ts:192-263
    ``pickBucketTimestampColumn``, renderChartConfig.ts:2266-2288): a
    source may list several timestamp expressions ("EventDate, EventTime")
    — bucket on the highest-precision one (TimestampType preferred over
    DateType), filter on every one so the coarse column prunes partitions.
    Returns (bucket_expr, all_exprs)."""
    parts = [translate_expr(p) for p in _split_args(ts_value_expression)]
    if len(parts) <= 1:
        return parts[0] if parts else "", parts
    dtypes = _dtypes(schema)

    def precision(expr: str) -> int:
        t = dtypes.get(expr.strip().strip("`"), "")
        if t.startswith("timestamp"):
            return 2
        if t == "date":
            return 0
        return 1  # unknown expression: assume timestamp-like
    best = max(parts, key=precision)
    return best, parts


def _xlate(source: Optional[Source], expr: str) -> str:
    """CH-compat translation + materialized-column substitution
    (fastifySQL, renderChartConfig.ts:209-341) for raw SQL expressions."""
    out = translate_expr(expr)
    mf = getattr(source, "materialized_fields", None) if source else None
    if mf:
        from hyperdx_spark.functions.materialize import substitute

        out = substitute(out, mf)
    return out


def _condition_sql(ctx: _Ctx, condition: str, language: str) -> str:
    if language == "lucene":
        return ctx.builder.build(condition)
    return _xlate(ctx.source, condition)


def _agg_expr(ctx: _Ctx, sc: SelectCol) -> tuple[str, str]:
    """One DerivedColumn -> (SQL aggregate expression, alias).

    Mirrors aggFnExpr (renderChartConfig.ts:500-669) incl. the sample-weighted
    family (553-624) when the source declares sampleRateExpression.
    """
    fn = sc.agg_fn
    val = _xlate(ctx.source, sc.value_expression) if sc.value_expression else ""
    cond = (
        _condition_sql(ctx, sc.agg_condition, sc.agg_condition_language)
        if sc.agg_condition
        else None
    )
    w = ctx.source.sample_rate_expression
    w_sql = _weight(_xlate(ctx.source, w)) if w else None

    def gated(inner: str, extra_null_guard: Optional[str] = None) -> str:
        """Wrap with the aggCondition: <fn>If(x, cond AND x IS NOT NULL)."""
        if cond is None:
            return inner
        guard = cond if extra_null_guard is None else f"(({cond}) AND ({extra_null_guard}) IS NOT NULL)"
        return f"CASE WHEN {guard} THEN {inner} ELSE NULL END"

    alias = sc.alias or (f"{fn}({sc.value_expression})" if fn else sc.value_expression)

    if fn in (None, "none"):
        return val, alias
    if fn == "count":
        if w_sql:  # sample-weighted count = sum(weight)
            return f"sum({gated(w_sql)})", alias
        if cond:
            return f"count_if({cond})", alias
        return "count(*)", alias
    if fn == "count_distinct":
        inner = gated(val, extra_null_guard=val)
        if ctx.settings.approx_count_distinct:
            return f"approx_count_distinct({inner})", alias
        return f"count(DISTINCT {inner})", alias
    if fn in ("sum", "avg", "min", "max"):
        x = _num(val)
        if w_sql and fn == "sum":
            x = f"({x}) * ({w_sql})"
            return f"sum({gated(x, extra_null_guard=val)})", alias
        if w_sql and fn == "avg":
            num = f"sum({gated(f'({x}) * ({w_sql})', extra_null_guard=val)})"
            den = f"sum({gated(w_sql, extra_null_guard=val)})"
            return f"({num} / {den})", alias
        return f"{fn}({gated(x, extra_null_guard=val)})", alias
    if fn == "quantile":
        level = sc.level if sc.level is not None else 0.5
        x = gated(_num(val), extra_null_guard=val)
        if w_sql:
            # sample-weighted quantile (quantileTDigestWeighted analogue,
            # renderChartConfig.ts:598-607): Spark's exact percentile takes
            # an integer frequency — identical to repeating each value
            # weight times, no UDAF needed
            return f"percentile({x}, {level}, CAST({w_sql} AS BIGINT))", alias
        if ctx.settings.approx_quantiles:
            return (
                f"approx_percentile({x}, {level}, {ctx.settings.quantile_accuracy})",
                alias,
            )
        return f"percentile({x}, {level})", alias
    if fn == "last_value":
        # deterministic argMax(x, ts) (renderChartConfig.ts:1942)
        x = gated(val, extra_null_guard=val)
        return f"max_by({x}, CASE WHEN ({x}) IS NOT NULL THEN {ctx.ts_expr} END)", alias
    if fn == "any":
        return f"any_value({gated(val, extra_null_guard=val)})", alias
    # merge combinators over rollup state columns (mv.py). count state is a
    # plain partial count (summed), avg state a struct(sum, cnt), distinct
    # state an HLL sketch (uniqState/uniqMerge analogue).
    if fn in ("count_merge", "sum_merge"):
        return f"sum({val})", alias
    if fn in ("min_merge", "max_merge"):
        return f"{fn[:3]}({val})", alias
    if fn == "avg_merge":
        return f"(sum(({val}).sum) / sum(({val}).cnt))", alias
    if fn == "count_distinct_merge":
        return f"hll_sketch_estimate(hll_union_agg({val}))", alias
    if fn == "quantile_merge":
        # merge histogram states (map<qvalue,count>) into one sorted entry
        # array; the quantile itself is computed by a post-aggregation
        # projection (see _quantile_from_entries) so the array is
        # materialized once per group instead of per reference
        return (
            f"array_sort(flatten(transform(collect_list({val}), m -> map_entries(m))))",
            alias,
        )
    raise ValueError(f"unsupported aggFn: {fn!r} (metrics aggs live in hyperdx_spark.metrics)")


def _quantile_post_sql(sql: str, cols: Sequence[str], col: str, level: float) -> str:
    """Type-7 (linear interpolation, rank h = (total-1)*level) weighted
    quantile over a sorted array<struct<key double, value long>> histogram —
    the expanded-multiset definition Spark ``percentile`` and DuckDB
    ``quantile_cont`` both use, evaluated without expanding.

    Staged as three nested SELECTs so each O(state) aggregate() walk runs
    exactly ONCE per row: Catalyst's CollapseProject keeps non-cheap
    multi-referenced expressions in their own projection, and interpreted
    HOFs get no codegen subexpression elimination, so textual splicing
    would re-walk the state per reference."""
    e = sql_ident(col)
    tot, wk = sql_ident(f"__qt_{col}"), sql_ident(f"__qw_{col}")
    h = f"(({tot}) - 1) * CAST({level!r} AS DOUBLE)"
    i0 = f"CAST(floor({h}) AS BIGINT)"
    i1 = f"least({i0} + 1, ({tot}) - 1)"
    walk = (
        f"aggregate({e}, "
        "named_struct('cum', CAST(0 AS BIGINT), "
        "'v0', CAST(NULL AS DOUBLE), 'v1', CAST(NULL AS DOUBLE)), "
        "(acc, x) -> named_struct("
        "'cum', acc.cum + x.value, "
        f"'v0', coalesce(acc.v0, CASE WHEN acc.cum + x.value > {i0} THEN x.key END), "
        f"'v1', coalesce(acc.v1, CASE WHEN acc.cum + x.value > {i1} THEN x.key END)))"
    )
    q = (
        f"CASE WHEN ({tot}) > 0 THEN "
        f"({wk}).v0 + (({h}) - floor({h})) * (({wk}).v1 - ({wk}).v0) END"
    )
    sql = f"SELECT *, aggregate({e}, CAST(0 AS BIGINT), (a, x) -> a + x.value) AS {tot} FROM ({sql})"
    sql = f"SELECT *, {walk} AS {wk} FROM ({sql})"
    proj = ", ".join(f"{q} AS {e}" if c == col else sql_ident(c) for c in cols)
    return f"SELECT {proj} FROM ({sql})"


def _where_sql(ctx: _Ctx) -> list[str]:
    """renderWhere (renderChartConfig.ts:1141-1282): AND of time filter,
    search condition, OR-of-aggConditions pushdown, filters array."""
    cfg = ctx.config
    conds: list[str] = []
    if ctx.time_filter is not None:
        # Multi-column timestamps: the filter goes on EVERY listed column —
        # Date columns get date bounds (partition pruning), DateTime ones
        # the precise bounds (timeFilterExpr 909-996).
        dtypes = _dtypes(ctx.builder.schema)
        for expr in (ctx.ts_filter_exprs or [ctx.ts_expr]):
            conds.append(ctx.time_filter(expr, dtypes.get(expr.strip().strip("`")) == "date"))
    if cfg.where:
        conds.append(_condition_sql(ctx, cfg.where, cfg.where_language))
    # aggCondition pushdown: only when every select has one (1165-1193)
    if isinstance(cfg.select, (list, tuple)) and cfg.select:
        sel_conds = [
            _condition_sql(ctx, sc.agg_condition, sc.agg_condition_language)
            for sc in cfg.select
            if sc.agg_condition
        ]
        if len(sel_conds) == len(list(cfg.select)):
            conds.append(" OR ".join(f"({c})" for c in sel_conds))
    for flt in cfg.filters:
        if isinstance(flt, SqlAstFilter):
            right = flt.right
            # _sql_str escapes backslashes before quotes — a trailing
            # backslash in the value cannot swallow the closing quote
            literal = isinstance(right, str) and flt.right_is_literal
            right_sql = _sql_str(right) if literal else str(right)
            conds.append(f"({_xlate(ctx.source, flt.left)}) {flt.operator} {right_sql}")
        elif isinstance(flt, SqlFilter):
            cond_sql = _condition_sql(ctx, flt.condition, flt.type)
            kv = getattr(ctx.source, "text_index_kv", None)
            if kv and flt.type == "sql":
                # rewriteSqlFilterWithKvItems (renderChartConfig.ts:1218-1222):
                # only sql-typed filters entries are rewritten
                from hyperdx_spark.functions.kvindex import rewrite_kv_filters

                cond_sql = rewrite_kv_filters(cond_sql, kv)
            conds.append(cond_sql)
        else:
            raise TypeError(f"unknown filter {flt!r}")
    return conds + list(ctx.extra_where)


def with_aliases_sql(
    config: ChartConfig, table: str, columns: Optional[Sequence[str]]
) -> tuple[str, Optional[list[str]]]:
    """Scalar expression aliases (`with` + isSubquery:false — renderWith,
    renderChartConfig.ts:1606-1608 emits `(sql) AS name`): a ClickHouse
    expression alias is visible anywhere in the query, so each is projected
    onto the source BEFORE filters — a WHERE referencing a select alias then
    resolves (Event Patterns alias threading, HDX-1879). An alias replaces a
    same-named column in place. Returns (relation, its column names)."""
    cols = list(columns) if columns is not None else None
    for name, alias_sql in config.with_aliases:
        e = f"({_xlate(config.source, alias_sql)}) AS {sql_ident(name)}"
        if cols is None:
            proj = f"*, {e}"
        else:
            if name not in cols:
                cols.append(name)
            proj = ", ".join(e if c == name else sql_ident(c) for c in cols)
        table = f"(SELECT {proj} FROM {table})"
    return table, cols


def render_chart_sql(ctx: _Ctx) -> str:
    """The one statement for ``ctx.config`` (renderChartConfig.ts:2247-2332)
    in the render mode ``ctx`` carries. Each step is a nested SELECT, so
    Catalyst sees the plan the DataFrame-building compiler gave it; ORDER BY
    sits in the last SELECT block and resolves from its child as
    ``orderBy`` did."""
    config = ctx.config
    where = _where_sql(ctx)
    body = f"FROM {ctx.table}"
    if where:
        body += " WHERE " + " AND ".join(f"({c})" for c in where)
    is_agg = isinstance(config.select, (list, tuple)) and any(
        sc.agg_fn not in (None, "none") for sc in config.select
    )
    if not is_agg:
        return _order_limit_sql(ctx, f"SELECT {_projection(ctx)} {body}", False)

    ts_alias = config.timestamp_alias
    keys: list[str] = []
    key_names: list[str] = []
    if ctx.bucket is not None:
        keys.append(f"{ctx.bucket(ctx.ts_expr)} AS {sql_ident(ts_alias)}")
        key_names.append(ts_alias)
    for i, g in enumerate(_xlate(ctx.source, g) for g in config.group_by):
        known = g in ctx.columns if ctx.columns is not None else g.isidentifier()
        key_names.append(g if known else f"__group_{i}")
        keys.append(f"{g} AS {sql_ident(key_names[-1])}")
    selects: Sequence[SelectCol] = config.select  # type: ignore[assignment]
    aggs = [_agg_expr(ctx, sc) for sc in selects]
    aliases = [a for _, a in aggs]
    sql = f"SELECT {', '.join(keys + [f'{e} AS {sql_ident(a)}' for e, a in aggs])} {body}"
    if keys:
        sql += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(keys)))
    cols = key_names + aliases
    # quantile_merge post-step: type-7 weighted quantile over the merged
    # (sorted) histogram entries — a scalar projection over the tiny
    # aggregated rows, any level served by the same state
    for sc, alias in zip(selects, aliases):
        if sc.agg_fn == "quantile_merge":
            level = sc.level if sc.level is not None else 0.5
            sql = _quantile_post_sql(sql, cols, alias, level)
    if not config.select_group_by:
        cols = aliases
        sql = f"SELECT {', '.join(map(sql_ident, cols))} FROM ({sql})"
    group_names = [n for n in key_names if n != ts_alias]
    if config.having:
        having = _condition_sql(ctx, config.having, config.having_language)
        sql = f"SELECT * FROM ({sql}) WHERE {having}"
    # Gates mirror renderSeriesLimitCte (renderChartConfig.ts:1317-1333):
    # a positive INTEGER seriesLimit (0 = unlimited, null = unset, floats
    # rejected), a group-by, a granularity (non-granular charts never cap
    # — pie/bar tiles reinterpret seriesLimit as a plain LIMIT via
    # display.convert_to_categorical_chart_config instead), and group
    # columns present in the output (selectGroupBy !== false).
    if (
        has_positive_series_limit(config.series_limit)
        and group_names
        and ctx.bucket is not None
        and config.select_group_by
    ):
        sql = _series_limit_sql(
            f"({sql})", cols, group_names, aliases[0] if aliases else None,
            config.series_limit, ranking=ctx.series_ranking,
        )
    if config.fill_nulls is not None and ctx.bucket_seconds is not None and config.date_range:
        sql = _fill_sql(
            f"({sql})", ts_alias, group_names, aliases,
            config.date_range, ctx.bucket_seconds, config.fill_nulls,
        )
    return _order_limit_sql(ctx, sql, True)


def _projection(ctx: _Ctx) -> str:
    sel = ctx.config.select
    if isinstance(sel, str):
        sel = sel.strip() or (ctx.source.default_table_select_expression or "*")
        return ", ".join(_xlate(ctx.source, e) for e in _split_args(sel))
    cols = [f"{e} AS {sql_ident(a)}" for e, a in (_agg_expr(ctx, sc) for sc in sel)]
    return ", ".join(cols) or "*"


def _series_limit_sql(
    rel: str,
    cols: Sequence[str],
    group_names: Sequence[str],
    value_alias: Optional[str],
    n: int,
    *,
    finite_guard: bool = False,
    ranking: Optional[str] = None,
) -> str:
    """Top-N series semi-join (__hdx_series_limit CTE,
    renderChartConfig.ts:1308-1431) over relation *rel* with columns *cols*:
    rank groups by max of the plotted value, keep top N. The ranking side
    is <= N rows -> broadcast semi-join, the big side never reshuffles.

    Groups with a NULL component are excluded from the RANKING (the CTE's
    per-column ``IS NOT NULL`` filter, ts:1406-1410) — without it a NULL
    group could win a top-N slot and then be dropped by the semi-join,
    returning fewer than N real series. Empty-string groups are kept (no
    ``!= ''`` check — pinned by the reference's seriesLimit tests).

    ``finite_guard`` is the ratio-mode rank ``max(if(isFinite(r), r, -inf))``
    (ts:1398-1403): a ratio bucket with a zero denominator yields ±inf/NaN,
    which would otherwise hand top-N slots to whichever groups hit a sparse
    bucket.

    A given ``ranking`` relation (the chunked path's top-N over the full
    date range, ``windows.chunked_chart``) replaces the one ranked from
    *rel*, so every chunk keeps the same series.
    """
    g = ", ".join(map(sql_ident, group_names))
    if ranking is None:
        v, inf = sql_ident(value_alias), "CAST('Infinity' AS DOUBLE)"
        ranked = (
            f"CASE WHEN NOT (isnan({v}) OR {v} = {inf} OR {v} = -{inf}) THEN {v} ELSE -{inf} END"
            if finite_guard
            else f"CASE WHEN isnan({v}) THEN NULL ELSE {v} END"
        )
        not_null = " AND ".join(f"{sql_ident(c)} IS NOT NULL" for c in group_names)
        order = ", ".join(f"{sql_ident(c)} ASC" for c in group_names)
        ranking = (
            f"(SELECT {g} FROM (SELECT {g}, max({ranked}) AS `__peak` FROM {rel}"
            f" WHERE {not_null} GROUP BY {g}"
            f" ORDER BY `__peak` DESC NULLS LAST, {order} LIMIT {int(n)}))"
        )
    return (
        f"SELECT {', '.join(map(sql_ident, cols))} FROM {rel} LEFT SEMI JOIN"
        f" (SELECT /*+ BROADCAST */ * FROM {ranking}) AS `__hdx_series_limit` USING ({g})"
    )


def _apply_series_limit(
    out: DataFrame,
    group_names: list[str],
    value_alias: Optional[str],
    n: int,
    *,
    finite_guard: bool = False,
    ranking: Optional[DataFrame] = None,
) -> DataFrame:
    """:func:`_series_limit_sql` over the frame *out*."""
    if value_alias is None or not group_names:
        return out
    frames = {"__hdx_out": out} if ranking is None else {"__hdx_out": out, "__hdx_rank": ranking}
    sql = _series_limit_sql(
        "`__hdx_out`", out.columns, group_names, value_alias, n,
        finite_guard=finite_guard, ranking=None if ranking is None else "`__hdx_rank`",
    )
    return sql_with_frames(out.sparkSession, sql, **frames)


def _fill_sql(
    rel: str,
    ts_alias: str,
    group_names: Sequence[str],
    value_aliases: Sequence[str],
    date_range: tuple[datetime, datetime],
    step: int,
    fill_value: float,
) -> str:
    """Zero-fill empty buckets (ChartUtils.tsx fillNulls/generateEmptyBuckets)
    of relation *rel*.

    The spine is (buckets x observed groups): buckets come from a generated
    range (tiny — <= max_buckets rows), groups from the aggregated result
    (small), so the join is a broadcast against the already-aggregated data.
    Only the right side of a left-outer join can be broadcast, so the hint
    goes on the AGGREGATED side (bounded by max_buckets x seriesLimit
    groups); the spine stays the streamed side.
    """
    start, end = date_range
    lo = int(start.timestamp() // step) * step
    hi = int(end.timestamp() // step) * step
    keys = [sql_ident(c) for c in (ts_alias, *group_names)]
    spine = f"(SELECT timestamp_seconds(id) AS {keys[0]} FROM range({lo}, {hi + 1}, {step}))"
    if group_names:
        spine += f" CROSS JOIN (SELECT /*+ BROADCAST */ DISTINCT {', '.join(keys[1:])} FROM {rel})"
    # F.lit's types: an int stays an integer, a float is a DOUBLE (a bare
    # 0.0 would parse as DECIMAL)
    lit = f"CAST('{fill_value!r}' AS DOUBLE)" if isinstance(fill_value, float) else str(int(fill_value))
    vals = [f"coalesce({sql_ident(a)}, {lit}) AS {sql_ident(a)}" for a in value_aliases]
    return (
        f"SELECT {', '.join(keys + vals)} FROM {spine}"
        f" LEFT JOIN (SELECT /*+ BROADCAST */ * FROM {rel}) USING ({', '.join(keys)})"
    )


def _fill_buckets(
    spark: SparkSession,
    out: DataFrame,
    ts_alias: str,
    group_names: list[str],
    value_aliases: list[str],
    date_range: tuple[datetime, datetime],
    step: int,
    fill_value: float,
) -> DataFrame:
    """:func:`_fill_sql` over the frame *out*."""
    sql = _fill_sql("`__hdx_out`", ts_alias, group_names, value_aliases, date_range, step, fill_value)
    return sql_with_frames(spark, sql, __hdx_out=out)


def _order_limit_sql(ctx: _Ctx, sql: str, is_agg: bool) -> str:
    cfg = ctx.config
    order = cfg.order_by
    sort: list[str] = []
    if is_agg and ctx.bucket is not None:
        # time bucket prepended for granular charts (renderChartConfig.ts:1454)
        sort.append(f"{sql_ident(cfg.timestamp_alias)} ASC")
    if isinstance(order, str) and order.strip():
        for part in _split_args(order):
            part = part.strip()
            desc = part.upper().endswith(" DESC")
            if desc or part.upper().endswith(" ASC"):
                part = part.rsplit(None, 1)[0]
            sort.append(f"{_xlate(ctx.source, part)} {'DESC' if desc else 'ASC'}")
    elif isinstance(order, (list, tuple)):
        for spec in order:
            assert isinstance(spec, SortSpec)
            direction = "DESC" if spec.order == "DESC" else "ASC"
            sort.append(f"{_xlate(ctx.source, spec.value_expression)} {direction}")
    if sort:
        sql += " ORDER BY " + ", ".join(sort)
    if cfg.limit is not None:
        sql += f" LIMIT {int(cfg.limit)}"
    if cfg.offset:
        sql += f" OFFSET {int(cfg.offset)}"
    return sql


def compile_chart_config(
    spark: SparkSession,
    config: ChartConfig,
    sf_dir: Optional[str] = None,
    df: Optional[DataFrame] = None,
    settings: Optional[QuerySettings] = None,
) -> DataFrame:
    """Compile *config* to a lazy DataFrame (renderChartConfig.ts:2247-2332):
    one rendered statement, run by one ``sql_with_frames`` call.

    A pure function of (config, tables): the tables are bound for that call
    only, so concurrent compiles cannot interfere."""
    return _compile(spark, config, sf_dir, df, settings or DEFAULT_SETTINGS)


def _with_sql(defs: Sequence[tuple[str, str]]) -> str:
    if not defs:
        return ""
    return "WITH " + ", ".join(f"{sql_ident(n)} AS ({b})" for n, b in defs) + " "


def _compile(
    spark: SparkSession, config: ChartConfig, sf_dir: Optional[str],
    df: Optional[DataFrame], settings: QuerySettings,
    tables: Optional[dict[str, DataFrame]] = None,
    series_pin: Optional[DataFrame] = None,
) -> DataFrame:
    """*tables*: named inputs a source may read besides the sf_dir tables
    (``mv.compile_with_mv``'s rollups); *series_pin*: the chunk's top-N
    ranking (``windows.chunked_chart``). Every frame is bound under a
    reserved name (``__hdx_f<i>``), never a table's own, so
    ``sql_with_frames``' backtick substitution cannot meet a column."""
    frames: dict[str, DataFrame] = {}

    def bind(frame: DataFrame) -> str:
        name = next((n for n, f in frames.items() if f is frame), f"__hdx_f{len(frames)}")
        frames[name] = frame
        return sql_ident(name)

    def analyze(defs, rel: str) -> StructType:
        # one extra analysis, paid only by a CTE source or `with` aliases
        return sql_with_frames(spark, _with_sql(defs) + f"SELECT * FROM {rel}", **frames).schema

    def render(cfg: ChartConfig, df=None, pin=None, defs=()) -> str:
        # CTEs (renderWith): each sub-config renders to a WITH clause that
        # later CTEs and the outer query read by name — one statement, one
        # Catalyst plan (no materialization between CTE and outer query)
        own: list[tuple[str, str]] = []
        for name, sub in cfg.ctes:
            own.append((name, render(sub, defs=(*defs, *own))))
        scope = (*defs, *own)
        if df is None and cfg.source.table in dict(scope):
            rel = sql_ident(cfg.source.table)
            schema = analyze(scope, rel)
        else:
            if df is None:
                df = (tables or {}).get(cfg.source.table)
            if df is None:
                df = _load(spark, cfg, sf_dir)
            rel, schema = bind(df), df.schema
        rel, _ = with_aliases_sql(cfg, rel, schema.names)
        if cfg.with_aliases:
            schema = analyze(scope, rel)
        ts_expr, ts_filter_exprs = pick_bucket_timestamp_expr(
            cfg.source.timestamp_value_expression, schema
        )
        granularity = cfg.granularity
        if granularity == "auto":
            if cfg.date_range is None:
                raise ValueError("granularity='auto' requires date_range")
            granularity = auto_granularity(cfg.date_range, settings.max_buckets)
        step = granularity_seconds(granularity) if granularity else None
        ctx = _Ctx(
            config=cfg,
            source=cfg.source,
            builder=SearchQueryBuilder(schema, cfg.source),
            settings=settings,
            ts_expr=ts_expr,
            bucket_seconds=step,
            ts_filter_exprs=ts_filter_exprs,
            table=rel,
            columns=schema.names,
            time_filter=_bound_time_filter(cfg) if cfg.date_range is not None else None,
            bucket=(
                lambda ts: f"timestamp_seconds(CAST(unix_timestamp({ts}) / {step} AS BIGINT) * {step})"
            ) if step is not None else None,
            series_ranking=bind(pin) if pin is not None else None,
        )
        return _with_sql(own) + render_chart_sql(ctx)

    sql = render(config, df, series_pin)
    return sql_with_frames(spark, sql, **frames)


def _bound_time_filter(config: ChartConfig) -> Callable[[str, bool], str]:
    """Inclusive BETWEEN, matching timeFilterExpr (renderChartConfig.ts:
    863-997); exclusive end after MV rewrite (materializedViews.ts:548-556).
    A bound is the instant ``F.lit(bound)`` denotes — a naive datetime read
    in the driver's local time zone, as PySpark's converter reads it."""
    lo, hi = (f"timestamp_micros({TimestampType().toInternal(d)})" for d in config.date_range)
    op = "<=" if config.date_range_end_inclusive else "<"

    def time_filter(expr: str, is_date: bool) -> str:
        if is_date:
            return f"({expr}) >= to_date({lo}) AND ({expr}) <= to_date({hi})"
        return f"({expr}) >= {lo} AND ({expr}) {op} {hi}"

    return time_filter


def _load(spark: SparkSession, config: ChartConfig, sf_dir: Optional[str]) -> DataFrame:
    table = config.source.table
    if sf_dir is None or not os.path.exists(os.path.join(sf_dir, f"{table}.parquet")):
        return spark.table(table)  # an externally-registered view
    from hyperdx_spark.io import load_table

    # push the time range onto the raw nanos column so the parquet
    # scan prunes row groups (see io.load_table docstring); with a
    # multi-column timestamp any single listed column bounds the
    # same range, so the first identifier token is a valid pushdown
    tf = None
    if config.date_range is not None:
        for part in _split_args(config.source.timestamp_value_expression):
            ts_col = part.strip().strip("`")
            if ts_col.isidentifier():
                tf = (ts_col, config.date_range[0], config.date_range[1])
                break
    return load_table(
        spark, sf_dir, table, time_filter=tf, end_inclusive=config.date_range_end_inclusive
    )
