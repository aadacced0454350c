"""Builder-config → editable raw-SQL template conversion.

Parity target: ``packages/common-utils/src/core/builderToRawSql.ts`` —
renders a builder ChartConfig as a raw-SQL template using the dynamic
``$__`` macros ($__timeFilter, $__timeInterval, $__sourceTable, $__filters)
in place of bound date/interval/table values, or returns a user-facing
reason the config can't be represented as one editable SQL statement.

Display-type aware (builderToRawSql.ts:142-156): the same per-display-type
transform the chart itself runs is applied before templating — pie/bar
through :func:`~hyperdx_spark.display.convert_to_categorical_chart_config`
(seriesLimit -> LIMIT + injected ordering), number (granularity+groupBy
dropped), table (default row limit + stable ordering) — so the template's
query shape matches the live query. Time-series display types are handled
inline: they always bucket via the $__timeInterval macro (the reference
defaults granularity to 'auto'), and a seriesLimit macro-izes the
``__hdx_series_limit`` ranking CTE with its LIMIT inlined
(builderToRawSql.test.ts:197).

The generated template is executable by this engine's own macro path
(``macros.replace_macros`` + ``macros.sql_with_frames``) and
must produce the same result as compiling the DISPLAY-CONVERTED config —
the driver entry asserts exactly that. For time-series display types that
means granularity defaults to 'auto' (a line chart ALWAYS buckets, even if
the builder config carried no granularity — builderToRawSql.ts:159), with
the concrete interval bound at replace_macros time.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql.types import StructType

from hyperdx_spark.compile import _Ctx, _agg_expr, _condition_sql, _xlate
from hyperdx_spark.display import (
    convert_to_categorical_chart_config,
    convert_to_number_chart_config,
    convert_to_table_chart_config,
    has_positive_series_limit,
)
from hyperdx_spark.lucene.serializer import SearchQueryBuilder
from hyperdx_spark.model import (
    ChartConfig,
    QuerySettings,
    SelectCol,
    SortSpec,
    SqlAstFilter,
    SqlFilter,
)

from hyperdx_spark.macros import TIME_SERIES_DISPLAY_TYPES

# Display types that support raw-SQL chart configs (builderToRawSql.ts:19-26)
RAW_SQL_DISPLAY_TYPES = ("table", "line", "stacked_bar", "pie", "bar", "number")


@dataclass
class RenderedSqlTemplate:
    """Either the generated SQL template or a user-facing error."""

    sql: Optional[str] = None
    error: Optional[str] = None

    @property
    def is_error(self) -> bool:
        return self.error is not None


def builder_to_raw_sql(
    cfg: ChartConfig,
    schema: Optional[StructType] = None,
    settings: Optional[QuerySettings] = None,
    display_type: str = "line",
) -> RenderedSqlTemplate:
    """Render *cfg* as a macro-templated raw SQL string.

    ``schema`` is needed when any condition uses the Lucene language (the
    serializer is schema-aware); SQL-language configs convert without it.
    """
    if not isinstance(cfg.select, (list, tuple)):
        return RenderedSqlTemplate(
            error="This chart type cannot be auto-converted to SQL."
        )
    if not cfg.source or not cfg.source.table:
        return RenderedSqlTemplate(
            error="Auto-converting to SQL requires a source to be selected."
        )
    if (display_type or "line").lower() not in RAW_SQL_DISPLAY_TYPES:
        return RenderedSqlTemplate(
            error="This chart type cannot be auto-converted to SQL."
        )
    if cfg.ctes:
        return RenderedSqlTemplate(
            error="CTE pipelines cannot be auto-converted to a single SQL statement."
        )
    if cfg.fill_nulls is not None:
        return RenderedSqlTemplate(
            error="Null-filling is a client feature and is not part of the"
            " SQL statement."
        )
    needs_lucene = (cfg.where and cfg.where_language == "lucene") or any(
        sc.agg_condition and sc.agg_condition_language == "lucene"
        for sc in cfg.select
    ) or (cfg.having and cfg.having_language == "lucene")
    if needs_lucene and schema is None:
        return RenderedSqlTemplate(
            error="Lucene conditions need the source schema to convert;"
            " pass schema=df.schema."
        )

    # Per-display-type transform, mirroring the live chart's own rewrite
    # (builderToRawSql.ts:142-156). Time-series stays untransformed — its
    # granularity is the $__timeInterval macro rather than a resolved value.
    dt = (display_type or "line").lower()
    is_time_series = dt in TIME_SERIES_DISPLAY_TYPES
    if dt in ("pie", "bar"):
        cfg = convert_to_categorical_chart_config(cfg)
    elif dt == "number":
        cfg = convert_to_number_chart_config(cfg)
    elif dt == "table":
        cfg = convert_to_table_chart_config(cfg)

    source = cfg.source
    builder = SearchQueryBuilder(schema or StructType([]), source)
    ts = source.timestamp_value_expression
    # time-series templates always bucket (granularity defaults to 'auto' —
    # builderToRawSql.ts:159); other display types never do (the conversions
    # above dropped granularity)
    is_granular = is_time_series
    ctx = _Ctx(
        config=cfg,
        source=source,
        builder=builder,
        settings=settings or QuerySettings(),
        ts_expr=_xlate(source, ts),
        bucket_seconds=None,  # the template buckets via $__timeInterval
        ts_filter_exprs=(),
    )

    group_exprs = [_xlate(source, g) for g in cfg.group_by]
    select_parts: list[str] = []
    group_parts: list[str] = []
    if is_granular:
        select_parts.append(f"$__timeInterval({_xlate(source, ts)}) AS {cfg.timestamp_alias}")
        group_parts.append(str(len(select_parts)))
    for g in group_exprs:
        select_parts.append(g)
        group_parts.append(str(len(select_parts)))
    is_agg = any(sc.agg_fn not in (None, "none") for sc in cfg.select)
    first_agg_expr: Optional[str] = None
    for sc in cfg.select:
        expr_sql, alias = _agg_expr(ctx, sc)
        if first_agg_expr is None and sc.agg_fn not in (None, "none"):
            first_agg_expr = expr_sql
        select_parts.append(f"{expr_sql} AS `{alias}`")

    where_parts = [f"$__timeFilter({_xlate(source, ts)})"]
    if cfg.where:
        where_parts.append(f"({_condition_sql(ctx, cfg.where, cfg.where_language)})")
    for flt in cfg.filters:
        if isinstance(flt, SqlFilter):
            where_parts.append(f"({_condition_sql(ctx, flt.condition, flt.type)})")
        elif isinstance(flt, SqlAstFilter):
            from hyperdx_spark.lucene.serializer import _sql_str

            right = flt.right
            right_sql = (
                _sql_str(right)
                if isinstance(right, str) and flt.right_is_literal
                else str(right)
            )
            where_parts.append(f"(({_xlate(source, flt.left)}) {flt.operator} {right_sql})")
    where_parts.append("$__filters")

    # Series-limit ranking CTE, macro-ized with its LIMIT inlined
    # (renderSeriesLimitCte shape; gated exactly as the compiler is:
    # positive integer, time-series/granular, group-by, derived selects)
    cte_sql = ""
    emit_series_cte = (
        has_positive_series_limit(cfg.series_limit)
        and is_time_series
        and bool(group_exprs)
        and is_agg
        and cfg.select_group_by
        and first_agg_expr is not None
    )
    if emit_series_cte:
        g_aliases = [f"`__g_{i}`" for i in range(len(group_exprs))]
        inner_select = (
            [f"$__timeInterval({_xlate(source, ts)}) AS `__bucket`"]
            + [f"{g} AS {a}" for g, a in zip(group_exprs, g_aliases)]
            + [f"{first_agg_expr} AS `__hdx_series_rank`"]
        )
        not_null = [f"{g} IS NOT NULL" for g in group_exprs]
        cte_sql = (
            "WITH `__hdx_series_limit` AS (\n"
            f"  SELECT {', '.join(g_aliases)} FROM (\n"
            f"    SELECT {', '.join(inner_select)}\n"
            "    FROM $__sourceTable\n"
            "    WHERE " + "\n      AND ".join(where_parts + not_null) + "\n"
            f"    GROUP BY {', '.join(str(i + 1) for i in range(1 + len(group_exprs)))}\n"
            "  )\n"
            f"  GROUP BY {', '.join(g_aliases)}\n"
            f"  ORDER BY max(`__hdx_series_rank`) DESC, {', '.join(g_aliases)}\n"
            f"  LIMIT {int(cfg.series_limit)}\n"
            ")\n"
        )
        tuple_sql = ", ".join(group_exprs)
        where_parts.append(
            f"({tuple_sql}) IN (SELECT * FROM `__hdx_series_limit`)"
        )

    sql = cte_sql + "SELECT " + ",\n       ".join(select_parts)
    sql += "\nFROM $__sourceTable"
    sql += "\nWHERE " + "\n  AND ".join(where_parts)
    if is_agg and group_parts:
        sql += "\nGROUP BY " + ", ".join(group_parts)
    if cfg.having:
        sql += f"\nHAVING {_condition_sql(ctx, cfg.having, cfg.having_language)}"
    order = cfg.order_by
    if isinstance(order, str) and order.strip():
        sql += f"\nORDER BY {order}"
    elif isinstance(order, (list, tuple)) and order:
        parts = []
        for spec in order:
            assert isinstance(spec, SortSpec)
            parts.append(f"{_xlate(source, spec.value_expression)} {spec.order}")
        sql += "\nORDER BY " + ", ".join(parts)
    elif is_agg and is_granular:
        sql += f"\nORDER BY {cfg.timestamp_alias}"
    if cfg.limit is not None:
        sql += f"\nLIMIT {cfg.limit}"
        if cfg.offset:
            sql += f" OFFSET {cfg.offset}"
    return RenderedSqlTemplate(sql=sql)
