"""Builder-config → editable raw-SQL template conversion.

Parity target: ``packages/common-utils/src/core/builderToRawSql.ts`` — a
builder ChartConfig as a raw-SQL template with the ``$__`` macros in place
of bound values, or a user-facing reason it can't be one editable statement.

The statement is the compiler's own (:func:`~hyperdx_spark.compile.render_chart_sql`)
in template mode: ``$__timeFilter(…)``/``$__dateFilter(…)``,
``$__timeInterval(…)`` and ``$__sourceTable`` where compile binds the time
range, bucket step and source frame, plus ``$__filters``. So the template
has the compiled query's shape by construction (the ``__hdx_series_limit``
ranking included, LIMIT inlined — builderToRawSql.test.ts:197), and run
through ``macros.replace_macros`` + ``macros.sql_with_frames`` it returns
what compiling the DISPLAY-CONVERTED config returns.

This module keeps the refusals and the per-display-type transform
(builderToRawSql.ts:142-156): pie/bar through
:func:`~hyperdx_spark.display.convert_to_categorical_chart_config`
(seriesLimit -> LIMIT + injected ordering), number (granularity+groupBy
dropped), table (default row limit + stable ordering). Time-series types
always bucket via $__timeInterval (builderToRawSql.ts:159), the interval
bound at replace_macros time.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql.types import StructType

from hyperdx_spark.compile import (
    _Ctx,
    pick_bucket_timestamp_expr,
    render_chart_sql,
    with_aliases_sql,
)
from hyperdx_spark.display import (
    convert_to_categorical_chart_config,
    convert_to_number_chart_config,
    convert_to_table_chart_config,
)
from hyperdx_spark.lucene.serializer import SearchQueryBuilder
from hyperdx_spark.model import ChartConfig, QuerySettings

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
    if dt in ("pie", "bar"):
        cfg = convert_to_categorical_chart_config(cfg)
    elif dt == "number":
        cfg = convert_to_number_chart_config(cfg)
    elif dt == "table":
        cfg = convert_to_table_chart_config(cfg)

    source = cfg.source
    ts_expr, ts_filter_exprs = pick_bucket_timestamp_expr(
        source.timestamp_value_expression, schema
    )
    table, columns = with_aliases_sql(
        cfg, "$__sourceTable", schema.names if schema is not None else None
    )
    ctx = _Ctx(
        config=cfg,
        source=source,
        builder=SearchQueryBuilder(schema or StructType([]), source),
        settings=settings or QuerySettings(),
        ts_expr=ts_expr,
        bucket_seconds=None,  # no concrete step: fill is refused above
        ts_filter_exprs=ts_filter_exprs,
        table=table,
        columns=columns,
        time_filter=lambda e, is_date: f"$__{'dateFilter' if is_date else 'timeFilter'}({e})",
        # time-series templates always bucket (granularity defaults to
        # 'auto' — builderToRawSql.ts:159); other display types never do
        # (the conversions above dropped granularity)
        bucket=(lambda e: f"$__timeInterval({e})") if dt in TIME_SERIES_DISPLAY_TYPES else None,
        extra_where=("$__filters",),
    )
    return RenderedSqlTemplate(sql=render_chart_sql(ctx))
