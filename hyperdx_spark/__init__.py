"""hyperdx_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of hyperdxio/hyperdx.

The reference (see /root/reference, SURVEY.md) is an observability platform
whose execution engine is a query *compiler*: a declarative ChartConfig plus a
Lucene-like search language is compiled to SQL and executed by ClickHouse.
Here, Spark plays ClickHouse's role: ChartConfig compiles to a lazy
``pyspark.sql.DataFrame`` logical plan and Catalyst/Tungsten/AQE provide the
physical execution (pushdown, pruning, codegen, shuffle planning).

Layout:
    model        ChartConfig / Source / filter dataclasses (ref: common-utils/src/types.ts)
    compile      ChartConfig -> DataFrame               (ref: core/renderChartConfig.ts)
    lucene/      search-language parser + Column serializer (ref: queryParser.ts)
    granularity  auto time-bucket ladder                (ref: core/utils.ts)
    metrics      OTel metric semantics (gauge/sum/histogram) (ref: renderChartConfig.ts, core/histogram.ts)
    post         result merging / ratio / null-fill     (ref: clickhouse/index.ts, ChartUtils.tsx)
    metadata     field/key/value discovery              (ref: core/metadata.ts)
    analytics/   event deltas, Drain patterns, heatmap  (ref: core/eventDeltas.ts, drain/)
    alerts       threshold evaluation + state machine   (ref: tasks/checkAlerts)
    macros       raw-SQL time macros + named query params (ref: macros.ts, rawSqlParams.ts)
    filters      dashboard FilterState -> predicates    (ref: filters.ts)
    promql       native PromQL evaluator                (ref: routers/api/prometheus.ts)
    pipeline/    large-scale training-data ops (dedup, ANN, text, multimodal, sampling)
"""

from hyperdx_spark.session import get_spark, tune_session
from hyperdx_spark.io import load_table
from hyperdx_spark.model import ChartConfig, Source, SelectCol, SortSpec, SqlFilter, SqlAstFilter
from hyperdx_spark.compile import compile_chart_config
from hyperdx_spark.display import (
    convert_to_categorical_chart_config,
    convert_to_number_chart_config,
    convert_to_table_chart_config,
    convert_to_time_chart_config,
    resolve_rendered_series_cap,
)

__all__ = [
    "get_spark",
    "tune_session",
    "load_table",
    "ChartConfig",
    "Source",
    "SelectCol",
    "SortSpec",
    "SqlFilter",
    "SqlAstFilter",
    "compile_chart_config",
    "convert_to_categorical_chart_config",
    "convert_to_number_chart_config",
    "convert_to_table_chart_config",
    "convert_to_time_chart_config",
    "resolve_rendered_series_cap",
]

__version__ = "0.1.0"
