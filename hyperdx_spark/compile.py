"""ChartConfig -> DataFrame compiler.

Ref: hyperdxio/hyperdx ``packages/common-utils/src/core/renderChartConfig.ts``
— the clause renderers (renderSelectList 697-802, renderWhere 1141-1282,
renderGroupBy 1284-1306, renderHaving 1433-1452, renderOrderBy 1454-1479,
renderLimit 1481-1494), the aggFn dispatcher (aggFnExpr 500-669) and the
series-limit CTE (1308-1431).

Spark-first design: the output is a *lazy* DataFrame (the logical plan is the
IR). Catalyst then does what the reference delegated to ClickHouse — filter
pushdown to parquet, column pruning, partition pruning on the time predicate,
whole-stage codegen for every expression below. Aggregations are expressed
with built-in functions only (map-side partial aggregation for free); the
series-limit cap is a broadcast left-semi join (the top-N side is <= N rows
by construction, so no shuffle of the big side at any scale).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperdx_spark.display import has_positive_series_limit
from hyperdx_spark.functions.chcompat import _split_args, translate_expr
from hyperdx_spark.granularity import auto_granularity, granularity_seconds
from hyperdx_spark.lucene.serializer import SearchQueryBuilder, _sql_str
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


def pick_bucket_timestamp_expr(
    ts_value_expression: str, df: DataFrame
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
    dtypes = dict(df.dtypes)

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
        if w_sql and fn == "count":  # unreachable; count handled above
            pass
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


def _quantile_post(out: DataFrame, col: str, level: float) -> DataFrame:
    """Type-7 (linear interpolation, rank h = (total-1)*level) weighted
    quantile over a sorted array<struct<key double, value long>> histogram —
    the expanded-multiset definition Spark ``percentile`` and DuckDB
    ``quantile_cont`` both use, evaluated without expanding.

    Staged as separate projections so each O(state) aggregate() walk runs
    exactly ONCE per row: Catalyst's CollapseProject keeps non-cheap
    multi-referenced expressions in their own projection, and interpreted
    HOFs get no codegen subexpression elimination, so textual splicing
    would re-walk the state per reference."""
    e = f"`{col}`"
    tot, wk = f"__qt_{col}", f"__qw_{col}"
    h = f"((`{tot}`) - 1) * CAST({level!r} AS DOUBLE)"
    i0 = f"CAST(floor({h}) AS BIGINT)"
    i1 = f"least({i0} + 1, (`{tot}`) - 1)"
    walk = (
        f"aggregate({e}, "
        "named_struct('cum', CAST(0 AS BIGINT), "
        "'v0', CAST(NULL AS DOUBLE), 'v1', CAST(NULL AS DOUBLE)), "
        "(acc, x) -> named_struct("
        "'cum', acc.cum + x.value, "
        f"'v0', coalesce(acc.v0, CASE WHEN acc.cum + x.value > {i0} THEN x.key END), "
        f"'v1', coalesce(acc.v1, CASE WHEN acc.cum + x.value > {i1} THEN x.key END)))"
    )
    return (
        out.withColumn(tot, F.expr(f"aggregate({e}, CAST(0 AS BIGINT), (a, x) -> a + x.value)"))
        .withColumn(wk, F.expr(walk))
        .withColumn(
            col,
            F.expr(
                f"CASE WHEN (`{tot}`) > 0 THEN "
                f"(`{wk}`).v0 + (({h}) - floor({h})) * ((`{wk}`).v1 - (`{wk}`).v0) END"
            ),
        )
        .drop(tot, wk)
    )


def _where_clauses(ctx: _Ctx, df: DataFrame) -> list[Column]:
    """renderWhere (renderChartConfig.ts:1141-1282): AND of time filter,
    search condition, OR-of-aggConditions pushdown, filters array."""
    cfg = ctx.config
    conds: list[Column] = []
    if cfg.date_range is not None:
        start, end = cfg.date_range
        dtypes = dict(df.dtypes)
        # inclusive BETWEEN, matching timeFilterExpr (renderChartConfig.ts:863-997);
        # exclusive end after MV rewrite (materializedViews.ts:548-556).
        # Multi-column timestamps: emit the filter on EVERY listed column —
        # Date columns get date bounds (partition pruning), DateTime ones
        # the precise bounds (timeFilterExpr 909-996).
        for expr in (ctx.ts_filter_exprs or [ctx.ts_expr]):
            ts = F.expr(expr)
            if dtypes.get(expr.strip().strip("`")) == "date":
                conds.append(
                    (ts >= F.to_date(F.lit(start))) & (ts <= F.to_date(F.lit(end)))
                )
                continue
            upper = (ts <= F.lit(end)) if cfg.date_range_end_inclusive else (ts < F.lit(end))
            conds.append((ts >= F.lit(start)) & upper)
    if cfg.where:
        conds.append(F.expr(_condition_sql(ctx, cfg.where, cfg.where_language)))
    # aggCondition pushdown: only when every select has one (1165-1193)
    if isinstance(cfg.select, (list, tuple)) and cfg.select:
        sel_conds = [
            _condition_sql(ctx, sc.agg_condition, sc.agg_condition_language)
            for sc in cfg.select
            if sc.agg_condition
        ]
        if len(sel_conds) == len(list(cfg.select)):
            conds.append(F.expr("(" + " OR ".join(f"({c})" for c in sel_conds) + ")"))
    for flt in cfg.filters:
        if isinstance(flt, SqlAstFilter):
            right = flt.right
            if isinstance(right, str) and flt.right_is_literal:
                # _sql_str escapes backslashes before quotes — a trailing
                # backslash in the value cannot swallow the closing quote
                right_sql = _sql_str(right)
            else:
                right_sql = str(right)
            conds.append(F.expr(f"({_xlate(ctx.source, flt.left)}) {flt.operator} {right_sql}"))
        elif isinstance(flt, SqlFilter):
            cond_sql = _condition_sql(ctx, flt.condition, flt.type)
            kv = getattr(ctx.source, "text_index_kv", None)
            if kv and flt.type == "sql":
                # rewriteSqlFilterWithKvItems (renderChartConfig.ts:1218-1222):
                # only sql-typed filters entries are rewritten
                from hyperdx_spark.functions.kvindex import rewrite_kv_filters

                cond_sql = rewrite_kv_filters(cond_sql, kv)
            conds.append(F.expr(cond_sql))
        else:
            raise TypeError(f"unknown filter {flt!r}")
    return conds


def _bucket_col(ctx: _Ctx) -> Column:
    """Epoch-aligned time bucket — matches DuckDB time_bucket for the ladder
    steps, deterministic at any scale (no session-local alignment)."""
    step = ctx.bucket_seconds
    return F.timestamp_seconds(
        (F.unix_timestamp(F.expr(ctx.ts_expr)) / step).cast("long") * step
    )


def compile_chart_config(
    spark: SparkSession,
    config: ChartConfig,
    sf_dir: Optional[str] = None,
    df: Optional[DataFrame] = None,
    settings: Optional[QuerySettings] = None,
) -> DataFrame:
    """Compile *config* to a lazy DataFrame (renderChartConfig.ts:2247-2332).

    A pure function of (config, tables): nothing is registered on the
    session, so concurrent compiles cannot interfere."""
    return _compile(spark, config, sf_dir, df, settings or DEFAULT_SETTINGS, {})


def _compile(
    spark: SparkSession, config: ChartConfig, sf_dir: Optional[str],
    df: Optional[DataFrame], settings: QuerySettings, ctes: dict[str, DataFrame],
    series_pin: Optional[DataFrame] = None,
) -> DataFrame:
    source = config.source
    # CTEs (renderWith): each sub-config compiles to a lazy frame in a
    # compile-local map that later CTEs and the outer query resolve first,
    # so the whole query stays one Catalyst plan (no materialization
    # between CTE and outer query)
    if config.ctes:
        ctes = dict(ctes)
        for name, sub_cfg in config.ctes:
            ctes[name] = _compile(spark, sub_cfg, sf_dir, None, settings, ctes).alias(name)
    if df is None:
        df = ctes.get(source.table)
    if df is None:
        import os as _os

        in_sf_dir = sf_dir is not None and _os.path.exists(
            _os.path.join(sf_dir, f"{source.table}.parquet")
        )
        if not in_sf_dir:
            # an externally-registered view
            df = spark.table(source.table)
        else:
            from hyperdx_spark.io import load_table

            # push the time range onto the raw nanos column so the parquet
            # scan prunes row groups (see io.load_table docstring); with a
            # multi-column timestamp any single listed column bounds the
            # same range, so the first identifier token is a valid pushdown
            tf = None
            if config.date_range is not None:
                for part in _split_args(source.timestamp_value_expression):
                    ts_col = part.strip().strip("`")
                    if ts_col.isidentifier():
                        tf = (ts_col, config.date_range[0], config.date_range[1])
                        break
            df = load_table(
                spark, sf_dir, source.table, time_filter=tf,
                end_inclusive=config.date_range_end_inclusive,
            )

    # Scalar expression aliases (`with` + isSubquery:false — renderWith,
    # renderChartConfig.ts:1606-1608 emits `(sql) AS name`): a ClickHouse
    # expression alias is visible anywhere in the query, so project it onto
    # the source BEFORE filters — a WHERE referencing a select alias then
    # resolves (Event Patterns alias threading, HDX-1879). Without an alias
    # map threaded, such a filter fails analysis — same failure the
    # reference pins ("Unknown identifier").
    for alias_name, alias_sql in config.with_aliases:
        df = df.withColumn(alias_name, F.expr(_xlate(source, alias_sql)))

    ts_expr, ts_filter_exprs = pick_bucket_timestamp_expr(
        source.timestamp_value_expression, df
    )
    granularity = config.granularity
    if granularity == "auto":
        if config.date_range is None:
            raise ValueError("granularity='auto' requires date_range")
        granularity = auto_granularity(config.date_range, settings.max_buckets)
    bucket_seconds = granularity_seconds(granularity) if granularity else None

    ctx = _Ctx(
        config=config,
        source=source,
        builder=SearchQueryBuilder(df.schema, source),
        settings=settings,
        ts_expr=ts_expr,
        bucket_seconds=bucket_seconds,
        ts_filter_exprs=ts_filter_exprs,
    )

    for cond in _where_clauses(ctx, df):
        df = df.where(cond)

    ts_alias = config.timestamp_alias
    group_exprs = [_xlate(source, g) for g in config.group_by]

    is_agg = isinstance(config.select, (list, tuple)) and any(
        sc.agg_fn not in (None, "none") for sc in config.select
    )

    if is_agg:
        selects: Sequence[SelectCol] = config.select  # type: ignore[assignment]
        keys: list[Column] = []
        if bucket_seconds is not None:
            keys.append(_bucket_col(ctx).alias(ts_alias))
        key_names = [ts_alias] if bucket_seconds is not None else []
        for i, g in enumerate(group_exprs):
            name = g if g in df.columns else f"__group_{i}"
            keys.append(F.expr(g).alias(name))
            key_names.append(name)
        aggs = []
        aliases = []
        for sc in selects:
            expr_sql, alias = _agg_expr(ctx, sc)
            aggs.append(F.expr(expr_sql).alias(alias))
            aliases.append(alias)
        if keys:
            out = df.groupBy(*keys).agg(*aggs)
        else:
            out = df.agg(*aggs)
        # quantile_merge post-step: type-7 weighted quantile over the merged
        # (sorted) histogram entries — a scalar projection over the tiny
        # aggregated rows, any level served by the same state
        for sc, alias in zip(selects, aliases):
            if sc.agg_fn == "quantile_merge":
                level = sc.level if sc.level is not None else 0.5
                out = _quantile_post(out, alias, level)
        if not config.select_group_by:
            out = out.select(*(a for a in aliases))
        value_alias = aliases[0] if aliases else None
        group_names = [n for n in key_names if n != ts_alias]
        if config.having:
            out = out.where(F.expr(_condition_sql(ctx, config.having, config.having_language)))
        # Gates mirror renderSeriesLimitCte (renderChartConfig.ts:1317-1333):
        # a positive INTEGER seriesLimit (0 = unlimited, null = unset, floats
        # rejected), a group-by, a granularity (non-granular charts never cap
        # — pie/bar tiles reinterpret seriesLimit as a plain LIMIT via
        # display.convert_to_categorical_chart_config instead), and group
        # columns present in the output (selectGroupBy !== false).
        if (
            has_positive_series_limit(config.series_limit)
            and group_names
            and bucket_seconds is not None
            and config.select_group_by
        ):
            out = _apply_series_limit(
                out, group_names, value_alias, config.series_limit, ranking=series_pin
            )
        if config.fill_nulls is not None and bucket_seconds is not None and config.date_range:
            out = _fill_buckets(
                spark, out, ts_alias, group_names, aliases,
                config.date_range, bucket_seconds, config.fill_nulls,
            )
    else:
        out = _project(ctx, df)

    out = _order_limit(ctx, out, is_agg)
    return out


def _project(ctx: _Ctx, df: DataFrame) -> DataFrame:
    cfg = ctx.config
    sel = cfg.select
    if isinstance(sel, str):
        sel = sel.strip() or (ctx.source.default_table_select_expression or "*")
        exprs = [_xlate(ctx.source, e) for e in _split_args(sel)]
        return df.selectExpr(*exprs)
    cols = []
    for sc in sel:
        expr_sql, alias = _agg_expr(ctx, sc)  # agg_fn none -> verbatim
        cols.append(F.expr(expr_sql).alias(alias))
    return df.select(*cols) if cols else df


def _apply_series_limit(
    out: DataFrame,
    group_names: list[str],
    value_alias: Optional[str],
    n: int,
    *,
    finite_guard: bool = False,
    ranking: Optional[DataFrame] = None,
) -> DataFrame:
    """Top-N series semi-join (__hdx_series_limit CTE,
    renderChartConfig.ts:1308-1431): rank groups by max of the plotted value,
    keep top N. The ranking side is <= N rows -> broadcast semi-join, the big
    side never reshuffles.

    Groups with a NULL component are excluded from the RANKING (the CTE's
    per-column ``IS NOT NULL`` filter, ts:1406-1410) — without it a NULL
    group could win a top-N slot and then be dropped by the semi-join,
    returning fewer than N real series. Empty-string groups are kept (no
    ``!= ''`` check — pinned by the reference's seriesLimit tests).

    ``finite_guard`` is the ratio-mode rank ``max(if(isFinite(r), r, -inf))``
    (ts:1398-1403): a ratio bucket with a zero denominator yields ±inf/NaN,
    which would otherwise hand top-N slots to whichever groups hit a sparse
    bucket.

    A given ``ranking`` (the chunked path's top-N over the full date range,
    ``windows.chunked_chart``) replaces the one ranked from *out*, so every
    chunk keeps the same series.
    """
    if value_alias is None or not group_names:
        return out
    if ranking is None:
        v = F.col(value_alias)
        if finite_guard:
            ranked_v = F.when(
                ~(F.isnan(v) | (v == float("inf")) | (v == float("-inf"))), v
            ).otherwise(F.lit(float("-inf")))
        else:
            ranked_v = F.when(F.isnan(v), None).otherwise(v)
        peak = F.max(ranked_v)
        not_null = reduce_and([F.col(g).isNotNull() for g in group_names])
        ranking = (
            out.where(not_null)
            .groupBy(*[F.col(g) for g in group_names])
            .agg(peak.alias("__peak"))
            .orderBy(F.desc_nulls_last("__peak"), *[F.asc(g) for g in group_names])
            .limit(n)
            .select(*group_names)
        )
    cols = out.columns
    return out.join(F.broadcast(ranking), on=group_names, how="left_semi").select(*cols)


def reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


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
    """Zero-fill empty buckets (ChartUtils.tsx fillNulls/generateEmptyBuckets).

    The spine is (buckets x observed groups): buckets come from a generated
    sequence (tiny — <= max_buckets rows), groups from the aggregated result
    (small), so the join is a broadcast against the already-aggregated data.
    """
    start, end = date_range
    lo = int(start.timestamp() // step) * step
    hi = int(end.timestamp() // step) * step
    spine = spark.range(lo, hi + 1, step).select(
        F.timestamp_seconds(F.col("id")).alias(ts_alias)
    )
    if group_names:
        groups = out.select(*group_names).distinct()
        spine = spine.crossJoin(F.broadcast(groups))
    # Hint the AGGREGATED side: Spark can only broadcast the right side of
    # a left-outer join (a build-left hint is silently ignored with a
    # HintErrorLogger WARN — VERDICT r7 #5). `out` is post-aggregation and
    # bounded by max_buckets x seriesLimit groups, so it is the scale-safe
    # side to broadcast; the spine stays the streamed side.
    filled = spine.join(F.broadcast(out), on=[ts_alias] + group_names, how="left")
    vals = [
        F.coalesce(F.col(a), F.lit(fill_value)).alias(a) for a in value_aliases
    ]
    return filled.select(ts_alias, *group_names, *vals)


def _order_limit(ctx: _Ctx, out: DataFrame, is_agg: bool) -> DataFrame:
    cfg = ctx.config
    order = cfg.order_by
    sort_cols: list[Column] = []
    if is_agg and ctx.bucket_seconds is not None:
        # time bucket prepended for granular charts (renderChartConfig.ts:1454)
        sort_cols.append(F.col(cfg.timestamp_alias).asc())
    if isinstance(order, str) and order.strip():
        for part in _split_args(order):
            part = part.strip()
            desc = part.upper().endswith(" DESC")
            if desc or part.upper().endswith(" ASC"):
                part = part.rsplit(None, 1)[0]
            col = F.expr(_xlate(ctx.source, part))
            sort_cols.append(col.desc() if desc else col.asc())
    elif isinstance(order, (list, tuple)):
        for spec in order:
            assert isinstance(spec, SortSpec)
            col = F.expr(_xlate(ctx.source, spec.value_expression))
            sort_cols.append(col.desc() if spec.order == "DESC" else col.asc())
    if sort_cols:
        out = out.orderBy(*sort_cols)
    if cfg.offset:
        out = out.offset(cfg.offset)
    if cfg.limit is not None:
        out = out.limit(cfg.limit)
    return out
