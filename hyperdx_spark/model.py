"""Query IR — the ChartConfig data model.

Mirrors the reference's Zod schemas (hyperdxio/hyperdx
``packages/common-utils/src/types.ts``):

* ``Source``        — types.ts:1746-1759 (BaseSourceSchema) + kind-specific
                      role expressions (logs types.ts:1813-1849, traces
                      types.ts:1852-1892).
* ``SelectCol``     — types.ts:390-416 (DerivedColumnSchema): aggFn +
                      valueExpression + per-series aggCondition + alias.
* ``SqlFilter`` / ``SqlAstFilter`` — types.ts:826-843.
* ``ChartConfig``   — types.ts:1269-1332 (builder config): select / from /
                      where / groupBy / having / orderBy / limit +
                      granularity, filters, seriesLimit, ratio mode.

Expressions are Spark SQL strings (the reference splices raw ClickHouse SQL
the same way — renderChartConfig.ts:703); the ClickHouse-function compat shim
(functions/chcompat.py) rewrites common CH idioms before parsing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Literal, Optional, Sequence, Union

AggFn = Literal[
    "avg",
    "count",
    "count_distinct",
    "last_value",
    "max",
    "min",
    "quantile",
    "sum",
    "any",
    "none",
    "increase",
    # internal merge combinators over rollup state columns — the reference's
    # `<agg>Merge` passthrough (types.ts:181-183), emitted by the MV rewrite
    # (mv.py), never written by users directly
    "count_merge",
    "sum_merge",
    "avg_merge",
    "min_merge",
    "max_merge",
    "count_distinct_merge",
    "quantile_merge",
]

Language = Literal["sql", "lucene"]


@dataclass
class Source:
    """A semantic lens over one physical table (ref types.ts:1723-1759).

    Every semantic role is an *expression*, never a hardcoded column, so the
    engine works over arbitrary schemas.
    """

    table: str  # table name under sf_dir (or a registered view)
    kind: Literal["log", "trace", "session", "metric"] = "log"
    timestamp_value_expression: str = "ts"
    implicit_column_expression: Optional[str] = None  # full-text body
    severity_text_expression: Optional[str] = None
    trace_id_expression: Optional[str] = None
    span_id_expression: Optional[str] = None
    service_name_expression: Optional[str] = None
    body_expression: Optional[str] = None
    duration_expression: Optional[str] = None
    duration_precision: int = 3
    sample_rate_expression: Optional[str] = None  # enables sample-weighted aggs
    default_table_select_expression: Optional[str] = None
    # Row side-panel roles (ref types.ts log/trace sources; consumed by
    # rowdata.build_row_lookup_config — DBRowDataPanel.tsx:43-190)
    displayed_timestamp_value_expression: Optional[str] = None
    known_columns_list_expression: Optional[str] = None  # SELECT-* fallback
    status_code_expression: Optional[str] = None  # trace severity role
    span_name_expression: Optional[str] = None  # trace body role
    # Trace waterfall/breakdown roles (mcp/tools/trace/*.ts)
    parent_span_id_expression: Optional[str] = None
    span_kind_expression: Optional[str] = None
    status_message_expression: Optional[str] = None
    event_attributes_expression: Optional[str] = None
    # DEPRECATED application-side row predicate (types.ts logs sources;
    # honored for backward compatibility by build_search_chart_config, which
    # prepends it as a SQL filter so every consumer of the source sees the
    # same row set — searchChartConfig.ts:124-137). Not real tenant
    # isolation; use storage-level access control for that.
    table_filter_expression: Optional[str] = None
    # Materialized-column substitution (fastifySQL,
    # core/renderChartConfig.ts:209-341): logical accessor -> physical column.
    # Keys in any spelling: "props.k", "props['k']",
    # "JSONExtractString(props, 'k')", "get_json_object(props, '$.k')".
    materialized_fields: dict = field(default_factory=dict)
    # Text-index kv-items rewrite (rewriteSqlFilterWithKvItems,
    # core/renderChartConfig.ts:357-490): map column name ->
    # functions.kvindex.KvItemsInfo describing the materialized
    # "k<sep>v" items array; applied to `filters` entries of type "sql".
    text_index_kv: dict = field(default_factory=dict)


@dataclass
class SelectCol:
    """One derived output column (ref types.ts:390-416)."""

    value_expression: str = ""
    agg_fn: Optional[AggFn] = None
    agg_condition: Optional[str] = None
    agg_condition_language: Language = "lucene"
    alias: Optional[str] = None
    level: Optional[float] = None  # quantile level


@dataclass
class SqlFilter:
    condition: str
    type: Language = "sql"


@dataclass
class SqlAstFilter:
    """Structured comparison filter (ref types.ts:826-836); invertible."""

    operator: Literal["=", "<", ">", "!=", "<=", ">="]
    left: str
    right: Union[str, int, float]
    right_is_literal: bool = True
    type: str = "sql_ast"


Filter = Union[SqlFilter, SqlAstFilter]


@dataclass
class SortSpec:
    value_expression: str
    order: Literal["ASC", "DESC"] = "DESC"


@dataclass
class ChartConfig:
    """The query IR compiled by hyperdx_spark.compile (ref types.ts:1269-1332)."""

    source: Source
    # CTEs (renderWith, renderChartConfig.ts:1549-1617; types.ts:1307-1332):
    # each name -> sub-config compiled first into a compile-local frame;
    # the outer query (or another CTE) references it by table name.
    # The reference nests one level; we allow CTEs referencing earlier CTEs.
    ctes: "Sequence[tuple[str, ChartConfig]]" = field(default_factory=list)
    # Scalar expression aliases — the reference's `with` entries with
    # isSubquery: false (renderWith, renderChartConfig.ts:1606-1608 renders
    # `(sql) AS name`): name -> SQL expression, projected onto the source
    # before filters/selects so a WHERE can reference a select alias.
    # This is how Event Patterns threads the source's alias map (HDX-1879,
    # renderChartConfig.test.ts:1272-1326) so a filter like
    # `service = 'api'` resolves when the source only exposes
    # `ServiceName as service`.
    with_aliases: Sequence[tuple[str, str]] = field(default_factory=list)
    # str = raw select-list SQL passthrough; list = derived columns
    select: Union[str, Sequence[SelectCol]] = ""
    where: str = ""
    where_language: Language = "lucene"
    filters: Sequence[Filter] = field(default_factory=list)
    group_by: Sequence[str] = field(default_factory=list)
    select_group_by: bool = True  # echo group cols into SELECT
    granularity: Optional[str] = None  # '5 minute' | 'auto' | None
    date_range: Optional[tuple[datetime, datetime]] = None
    # False after MV-rollup rewrite: aligned range, end-exclusive so the next
    # rollup bucket is not swept in (materializedViews.ts:548-556)
    date_range_end_inclusive: bool = True
    having: Optional[str] = None
    having_language: Language = "sql"
    order_by: Union[str, Sequence[SortSpec], None] = None
    limit: Optional[int] = None
    offset: int = 0
    series_limit: Optional[int] = None  # top-N series cap (ref renderChartConfig.ts:1308)
    fill_nulls: Optional[float] = None  # zero-fill empty buckets (ChartUtils fillNulls)
    timestamp_alias: str = "__timestamp"  # name of the emitted bucket column


@dataclass
class QuerySettings:
    """Per-call engine knobs (ref types.ts:1735-1739 + team settings)."""

    approx_quantiles: bool = True  # ClickHouse quantile() is t-digest => approx is the faithful default
    approx_count_distinct: bool = False  # team setting uniqCombined64 analogue
    quantile_accuracy: int = 10000
    max_buckets: int = 60  # auto-granularity target (core/utils.ts:40)
