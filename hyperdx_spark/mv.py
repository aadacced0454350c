"""Materialized-view (rollup) rewrite — aggregate retargeting onto
pre-aggregated rollup tables.

Parity target: hyperdxio/hyperdx
``packages/common-utils/src/core/materializedViews.ts`` — MV configuration
(types.ts:1784-1800), coverage checks (granularity multiple
:306-345, date-range containment :357-373), per-select conversion to
``-Merge`` aggregates (:380-465), config retargeting with aligned
end-exclusive date range (:474-560), and best-candidate selection by row
estimate (:565-770).

Spark-first design: rollup "state" columns are plain re-aggregable values
(the ``SimpleAggregateFunction`` path, materializedViews.ts:207-222) —
partial counts summed, sums summed, min/max re-applied — plus two genuine
state encodings Spark supports natively:

* avg state  -> ``struct(sum double, cnt long)`` merged as ``sum(sum)/sum(cnt)``
  (the ``AggregateFunction(avg)`` analogue),
* count_distinct state -> an HLL sketch column via ``hll_sketch_agg``
  merged with ``hll_union_agg`` + ``hll_sketch_estimate`` (the
  ``uniqState``/``uniqMerge`` analogue — binary, mergeable, columnar).

* quantile state -> ``map<quantized value, count>`` (fixed-precision
  histogram: values quantized to ``floor(v*scale+0.5)/scale``). The
  ``AggregateFunction(quantile)`` t-digest analogue
  (materializedViews.ts:225-275): mergeable by entry concatenation, bounded
  by the distinct quantized values, level-independent (one state answers any
  quantile, weighted or not). Merge computes a type-7 weighted quantile over
  the histogram (same definition as Spark ``percentile`` / DuckDB
  ``quantile_cont``), so results match a direct quantile over the quantized
  values exactly.

At 100 TB the rollup read replaces the raw scan with a table that is
``raw_rows / (bucket_width * avg_series_cardinality)`` smaller; the rollup
itself is written partitioned by bucket date so the rewritten query's time
filter prunes partitions.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperdx_spark.functions.chcompat import translate_expr
from hyperdx_spark.granularity import auto_granularity, granularity_seconds
from hyperdx_spark.model import ChartConfig, SelectCol, Source

# materializedViews.ts:375 — custom count() expressions silently mis-aggregate
_COUNT_FN_RE = re.compile(r"\bcount(if)?\s*\(", re.IGNORECASE)

# user aggFn -> merge combinator emitted into the rewritten select
_MERGE_FN = {
    "count": "count_merge",
    "sum": "sum_merge",
    "avg": "avg_merge",
    "min": "min_merge",
    "max": "max_merge",
    "count_distinct": "count_distinct_merge",
    "quantile": "quantile_merge",
}


@dataclass
class AggregatedColumn:
    """One rollup column (types.ts:1769-1777): state of ``agg_fn`` over
    ``source_column``, stored as ``mv_column``. count needs no source.

    ``quantile_scale`` (quantile state only): values are quantized to
    ``floor(v*scale + 0.5)/scale`` before counting — the fixed-precision
    analogue of the reference's ``AggregateFunction(quantile)`` t-digest
    (materializedViews.ts:225-275); state size is bounded by the distinct
    quantized values, and any quantile level can be asked of the same state."""

    agg_fn: str
    mv_column: str
    source_column: Optional[str] = None
    quantile_scale: int = 100


@dataclass
class MVConfig:
    """Rollup-table description (types.ts:1784-1800)."""

    path: str  # parquet directory of the rollup table
    dimension_columns: Sequence[str]
    min_granularity: str  # e.g. '1 hour' — the rollup's bucket width
    timestamp_column: str  # bucket column name in the rollup
    aggregated_columns: Sequence[AggregatedColumn] = field(default_factory=list)
    min_date: Optional[datetime] = None  # earliest bucket present
    # the base table this rollup was built from (tryOptimizeConfig's
    # `config.from == source.from` check, materializedViews.ts:620-626);
    # None = accept any config (caller vouches)
    source_table: Optional[str] = None


@dataclass
class MVExplanation:
    """materializedViews.ts:471-477 MVOptimizationExplanation."""

    success: bool
    errors: list[str]
    mv: MVConfig
    row_estimate: Optional[int] = None


# --------------------------------------------------------------------------
# Granularity inference from the MV's SELECT SQL
# --------------------------------------------------------------------------

# CH named bucketing functions -> granularity (materializedViews.ts:31-39)
_NAMED_BUCKETS = {
    "toStartOfSecond": "1 second",
    "toStartOfMinute": "1 minute",
    "toStartOfFiveMinutes": "5 minute",
    "toStartOfTenMinutes": "10 minute",
    "toStartOfFifteenMinutes": "15 minute",
    "toStartOfHour": "1 hour",
    "toStartOfDay": "1 day",
}
_INTERVAL_UNITS = {"second", "minute", "hour", "day"}
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_INTERVAL_LIT_RE = re.compile(r"(?is)^INTERVAL\s+(\d+)\s+([a-z]+)$")


def _skip_quoted(s: str, start: int) -> int:
    """Index just past the region quoted at ``s[start]`` (', \" or `),
    honoring backslash escapes."""
    quote = s[start]
    i = start + 1
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            i += 2
            continue
        if s[i] == quote:
            return i + 1
        i += 1
    return len(s)


def _to_start_of_calls(s: str) -> list[tuple[str, str]]:
    """(function, inner-args) for every top-level ``toStartOf*`` CALL in
    *s*, in order — skipping quoted strings and backticked identifiers so
    literals mentioning the token never count (materializedViews.ts
    findToStartOfCalls behavior)."""
    from hyperdx_spark.functions.chcompat import _find_close

    out: list[tuple[str, str]] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            i = _skip_quoted(s, i)
            continue
        if i > 0 and (s[i - 1].isalnum() or s[i - 1] == "_"):
            i += 1
            continue
        m = _IDENT_RE.match(s, i)
        if not m:
            i += 1
            continue
        ident, j = m.group(0), m.end()
        if ident.startswith("toStartOf"):
            k = j
            while k < n and s[k] in " \t\r\n":
                k += 1
            if k < n and s[k] == "(":
                try:
                    close = _find_close(s, k)
                except ValueError:
                    break  # unterminated call — stop scanning
                out.append((ident, s[k + 1 : close]))
                i = close + 1
                continue
        i = j
    return out


def infer_granularity_from_mv_select(as_select: str) -> Optional[str]:
    """Granularity of a rollup, read off its defining SELECT
    (``inferGranularityFromMVSelect``, materializedViews.ts:160-178):
    the first recognized bucketing call wins — a named ``toStartOfX`` maps
    directly; ``toStartOfInterval(col, INTERVAL n unit[, ...])`` parses
    the literal (plural units accepted, unknown units skipped). Returns
    None when the select contains no recognizable bucketing — callers
    then declare ``MVConfig.min_granularity`` by hand as before."""
    from hyperdx_spark.functions.chcompat import _split_args

    for fn, inner in _to_start_of_calls(as_select):
        if fn in _NAMED_BUCKETS:
            return _NAMED_BUCKETS[fn]
        if fn == "toStartOfInterval":
            args = _split_args(inner)
            if len(args) < 2:
                continue
            m = _INTERVAL_LIT_RE.match(args[1].strip())
            if not m:
                continue
            num, unit = int(m.group(1)), m.group(2).lower()
            if unit.endswith("s"):
                unit = unit[:-1]  # one plural 's' only, like the reference
            if num > 0 and unit in _INTERVAL_UNITS:
                return f"{num} {unit}"
    return None


# --------------------------------------------------------------------------
# Rollup construction
# --------------------------------------------------------------------------

def rollup_dataframe(
    base: DataFrame, mv: MVConfig, ts_expr: str
) -> DataFrame:
    """Aggregate *base* into the rollup shape described by *mv*.

    Equivalent of the reference's AggregatingMergeTree MV SELECT: one row per
    (bucket, dims) carrying re-aggregable state columns.
    """
    step = granularity_seconds(mv.min_granularity)
    ts = F.expr(translate_expr(ts_expr))
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(ts) / step).cast("long") * step
    ).alias(mv.timestamp_column)

    def _keys():
        return [bucket] + [
            F.expr(translate_expr(d)).alias(d) for d in mv.dimension_columns
        ]

    key_names = [mv.timestamp_column] + list(mv.dimension_columns)
    aggs = []
    quantile_cols: list[AggregatedColumn] = []
    for ac in mv.aggregated_columns:
        fn = ac.agg_fn
        src = F.expr(translate_expr(ac.source_column)) if ac.source_column else None
        if fn == "count":
            aggs.append(F.count(F.lit(1)).alias(ac.mv_column))
        elif fn == "sum":
            aggs.append(F.sum(src.cast("double")).alias(ac.mv_column))
        elif fn == "min":
            aggs.append(F.min(src).alias(ac.mv_column))
        elif fn == "max":
            aggs.append(F.max(src).alias(ac.mv_column))
        elif fn == "avg":
            aggs.append(
                F.struct(
                    F.sum(src.cast("double")).alias("sum"),
                    F.count(src).alias("cnt"),
                ).alias(ac.mv_column)
            )
        elif fn == "count_distinct":
            aggs.append(F.hll_sketch_agg(src).alias(ac.mv_column))
        elif fn == "quantile":
            quantile_cols.append(ac)
        else:
            raise ValueError(
                f"aggFn {fn!r} has no persistable rollup state in Spark"
            )
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("__rollup_rows")]
    out = base.groupBy(*_keys()).agg(*aggs)
    # quantile state: map<quantized value, count> built in its own two-level
    # aggregation and joined back on the rollup key (build-time cost only;
    # both sides are already partitioned by the group key)
    for ac in quantile_cols:
        src = F.expr(translate_expr(ac.source_column))
        qv = (
            F.floor(src.cast("double") * F.lit(float(ac.quantile_scale)) + F.lit(0.5))
            / F.lit(float(ac.quantile_scale))
        ).alias("__qv")
        q = (
            base.where(src.isNotNull())
            .groupBy(*_keys(), qv)
            .agg(F.count(F.lit(1)).alias("__qc"))
            .groupBy(*[F.col(k) for k in key_names])
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("__qv", "__qc")))
                ).alias(ac.mv_column)
            )
        )
        # Null-safe equality per key: NULL dimension values never match in a
        # plain equi-join, which would leave those groups with a NULL quantile
        # state while the raw-table query returns a value.
        q = q.select(
            *[F.col(k).alias(f"__qk_{i}") for i, k in enumerate(key_names)],
            ac.mv_column,
        )
        cond = None
        for i, k in enumerate(key_names):
            c = out[k].eqNullSafe(q[f"__qk_{i}"])
            cond = c if cond is None else (cond & c)
        out = out.join(q, cond, "left").drop(
            *[f"__qk_{i}" for i in range(len(key_names))]
        )
    return out


def write_rollup(
    base: DataFrame, mv: MVConfig, ts_expr: str, mode: str = "overwrite"
) -> None:
    """Materialize the rollup at ``mv.path``, partitioned by bucket date so
    the rewritten query's time filter prunes whole partitions."""
    out = rollup_dataframe(base, mv, ts_expr)
    out = out.withColumn("__bucket_date", F.to_date(F.col(mv.timestamp_column)))
    out.write.mode(mode).partitionBy("__bucket_date").parquet(mv.path)


# --------------------------------------------------------------------------
# Coverage checks + rewrite
# --------------------------------------------------------------------------

def _supports_granularity(mv: MVConfig, cfg: ChartConfig, max_buckets: int) -> Optional[str]:
    """materializedViews.ts:306-345. Returns an error string or None."""
    if not cfg.granularity and not cfg.date_range:
        return None
    gran = cfg.granularity or "auto"
    if gran == "auto":
        if not cfg.date_range:
            return "auto granularity requires a date range"
        gran = auto_granularity(cfg.date_range, max_buckets)
    chart_s = granularity_seconds(gran)
    mv_s = granularity_seconds(mv.min_granularity)
    if chart_s >= mv_s and chart_s % mv_s == 0:
        return None
    if cfg.granularity:
        return (
            "Granularity must be a multiple of the view's granularity"
            f" ({mv.min_granularity})."
        )
    return (
        "The selected date range is too short for the granularity of this"
        " materialized view."
    )


def _supports_date_range(mv: MVConfig, cfg: ChartConfig) -> Optional[str]:
    """materializedViews.ts:357-373."""
    if mv.min_date is None:
        return None
    if cfg.date_range is None:
        return (
            "The selected date range includes dates for which this view does"
            " not contain data."
        )
    if cfg.date_range[0] >= mv.min_date:
        return None
    return (
        "The selected date range includes dates for which this view does not"
        " contain data."
    )


def _aligned_range(
    date_range: tuple[datetime, datetime], mv_granularity: str
) -> tuple[datetime, datetime]:
    """core/utils.ts:1043-1058 getAlignedDateRange: floor start, ceil end."""
    step = granularity_seconds(mv_granularity)

    def floor(dt: datetime) -> datetime:
        epoch = int(dt.timestamp())
        return datetime.fromtimestamp(epoch - epoch % step, tz=dt.tzinfo)

    start, end = date_range
    aligned_end = floor(end)
    if aligned_end < end:
        aligned_end += timedelta(seconds=step)
    return floor(start), aligned_end


def _convert_select(mv: MVConfig, sc: SelectCol) -> SelectCol:
    """materializedViews.ts:380-465 convertSelectToMaterializedViewSelect."""
    if _COUNT_FN_RE.search(sc.value_expression or ""):
        raise ValueError(
            "Custom count() expressions are not supported with materialized views."
        )
    if sc.agg_fn in (None, "none"):
        # bare projection: must be a stored dimension (the reference defers
        # this to the EXPLAIN check; we verify statically)
        if sc.value_expression not in mv.dimension_columns:
            raise ValueError(
                f"Column '{sc.value_expression}' is not a dimension of this view."
            )
        return sc
    if sc.agg_condition:
        # conditional aggregates cannot be applied over pre-aggregated state
        raise ValueError(
            "Aggregate conditions are not supported with materialized views."
        )
    merge_fn = _MERGE_FN.get(sc.agg_fn)
    if merge_fn is None:
        raise ValueError(
            f"The aggregate function {sc.agg_fn} is not available for"
            f" column '{sc.value_expression}'."
        )
    match = next(
        (
            ac
            for ac in mv.aggregated_columns
            if ac.agg_fn == sc.agg_fn
            and (sc.agg_fn == "count" or ac.source_column == sc.value_expression)
        ),
        None,
    )
    if match is None:
        raise ValueError(
            f"The aggregate function {sc.agg_fn} is not available for"
            f" column '{sc.value_expression}'."
        )
    return SelectCol(
        value_expression=match.mv_column,
        agg_fn=merge_fn,
        alias=sc.alias or f"{sc.agg_fn}({sc.value_expression})",
        level=sc.level,
    )


def try_rewrite_with_mv(
    cfg: ChartConfig, mv: MVConfig, max_buckets: int = 60
) -> MVExplanation:
    """materializedViews.ts:474-560 tryConvertConfigToMaterializedViewSelect.

    On success ``MVExplanation.success`` is True and ``rewritten(cfg, mv)``
    yields the retargeted config; errors list why coverage failed otherwise.
    """
    errors: list[str] = []
    if not isinstance(cfg.select, (list, tuple)):
        errors.append("Only array-based select statements are supported.")
        return MVExplanation(False, errors, mv)
    if mv.source_table is not None and cfg.source.table != mv.source_table:
        return MVExplanation(
            False, [f"This view is built from '{mv.source_table}', not"
                    f" '{cfg.source.table}'."], mv
        )
    err = _supports_date_range(mv, cfg)
    if err:
        return MVExplanation(False, [err], mv)
    err = _supports_granularity(mv, cfg, max_buckets)
    if err:
        return MVExplanation(False, [err], mv)
    for g in cfg.group_by:
        if g not in mv.dimension_columns:
            errors.append(f"Group-by column '{g}' is not a dimension of this view.")
    for sc in cfg.select:
        try:
            _convert_select(mv, sc)
        except ValueError as ex:
            errors.append(str(ex))
    if errors:
        return MVExplanation(False, errors, mv)
    return MVExplanation(True, [], mv, row_estimate=_row_estimate(mv))


def rewritten(cfg: ChartConfig, mv: MVConfig) -> ChartConfig:
    """The retargeted config (only valid after a successful check)."""
    new_select = [_convert_select(mv, sc) for sc in cfg.select]
    new_range = cfg.date_range
    end_inclusive = cfg.date_range_end_inclusive
    if cfg.date_range is not None:
        new_range = _aligned_range(cfg.date_range, mv.min_granularity)
        end_inclusive = False
    return ChartConfig(
        source=Source(
            table=mv.path,
            kind=cfg.source.kind,
            timestamp_value_expression=mv.timestamp_column,
        ),
        select=new_select,
        where=cfg.where,
        where_language=cfg.where_language,
        filters=list(cfg.filters),
        group_by=list(cfg.group_by),
        select_group_by=cfg.select_group_by,
        granularity=cfg.granularity,
        date_range=new_range,
        date_range_end_inclusive=end_inclusive,
        having=cfg.having,
        having_language=cfg.having_language,
        order_by=cfg.order_by,
        limit=cfg.limit,
        offset=cfg.offset,
        series_limit=cfg.series_limit,
        fill_nulls=cfg.fill_nulls,
        timestamp_alias=cfg.timestamp_alias,
    )


def _row_estimate(mv: MVConfig) -> Optional[int]:
    """Rollup size from parquet footers (the reference's EXPLAIN row
    estimate, materializedViews.ts:640-700) — metadata only, no scan."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        total = 0
        for f in glob.glob(os.path.join(mv.path, "**", "*.parquet"), recursive=True):
            total += pq.read_metadata(f).num_rows
        return total
    except Exception:
        return None


def _mv_frame(spark: SparkSession, mv: MVConfig, date_range) -> DataFrame:
    """The rollup parquet, partition-pruned to *date_range* (the rewritten
    config's aligned range) on the partition column itself — the ts filter
    compile adds can't reach directory pruning."""
    mv_df = spark.read.parquet(mv.path)
    if "__batch" in mv_df.columns:
        # stream-maintained rollup (streaming/mv_maintain.py): parts keyed by
        # micro-batch id; reads merge states across parts, so the part id is
        # irrelevant here
        mv_df = mv_df.drop("__batch")
    if "__bucket_date" in mv_df.columns:
        if date_range is not None:
            start, end = date_range
            mv_df = mv_df.where(
                F.col("__bucket_date").between(
                    F.to_date(F.lit(start)), F.to_date(F.lit(end))
                )
            )
        mv_df = mv_df.drop("__bucket_date")
    return mv_df


def _smallest(wins: list[MVExplanation]) -> MVExplanation:
    return min(
        wins, key=lambda e: e.row_estimate if e.row_estimate is not None else float("inf")
    )


def compile_with_mv(
    spark: SparkSession,
    cfg: ChartConfig,
    mvs: Sequence[MVConfig],
    sf_dir: Optional[str] = None,
    df: Optional[DataFrame] = None,
    settings=None,
) -> tuple[DataFrame, list[MVExplanation]]:
    """materializedViews.ts:565-770 optimizeConfig: try every candidate MV,
    pick the smallest covering rollup by row estimate, else fall back to the
    raw table. CTE sub-configs are optimized independently first
    (tryOptimizeConfig's config.with pass, :565-640) — a rewritten CTE
    reads its rollup frame, bound for this compile only under
    ``__hdx_mv_<cte name>``, while the outer query is untouched.
    Returns (DataFrame, per-MV explanations for the outer config)."""
    from dataclasses import replace as _replace

    from hyperdx_spark.compile import DEFAULT_SETTINGS, _compile

    settings = settings or DEFAULT_SETTINGS
    frames: dict[str, DataFrame] = {}
    if cfg.ctes:
        new_ctes = []
        for name, sub in cfg.ctes:
            sub_wins = [
                e for e in (try_rewrite_with_mv(sub, mv) for mv in mvs) if e.success
            ]
            if sub_wins:
                best = _smallest(sub_wins).mv
                sub = rewritten(sub, best)
                table = f"__hdx_mv_{name}"
                frames[table] = _mv_frame(spark, best, sub.date_range)
                sub = _replace(sub, source=_replace(sub.source, table=table))
            new_ctes.append((name, sub))
        cfg = _replace(cfg, ctes=new_ctes)

    explanations = [try_rewrite_with_mv(cfg, mv) for mv in mvs]
    winners = [e for e in explanations if e.success]
    if winners:
        best = _smallest(winners).mv
        new_cfg = rewritten(cfg, best)
        mv_df = _mv_frame(spark, best, new_cfg.date_range)
        return _compile(spark, new_cfg, None, mv_df, settings), explanations
    return _compile(spark, cfg, sf_dir, df, settings, frames), explanations


_TO_INTERVAL_FN_RE = re.compile(r"toInterval(Second|Minute|Hour|Day)\((\d+)\)")
_SUMMING_ENGINE_RE = re.compile(r"SummingMergeTree\((\(?[^(]*)\)")


def infer_timestamp_column_granularity(
    select_expressions: "Sequence[str]", timestamp_column: str
) -> Optional[str]:
    """app utils/materializedViews.ts:185-246
    inferTimestampColumnGranularity: among an MV's select expressions,
    the one bucketing *timestamp_column* decides the rollup granularity —
    the named toStartOfX table extended with ``toDate`` (1 day) and
    ``toDateTime`` (1 second), and ``toStartOfInterval`` accepting BOTH
    the ``INTERVAL n unit`` literal and the ``toIntervalX(n)`` function
    form. None when no expression matches (the setup form then asks)."""
    expr = next(
        (
            e
            for e in select_expressions
            if re.search(r"toStartOf|toDate", e) and timestamp_column in e
        ),
        None,
    )
    if expr is None:
        return None
    named = {**_NAMED_BUCKETS, "toDate": "1 day", "toDateTime": "1 second"}
    for fn, granularity in named.items():
        if f"{fn}(" in expr:
            return granularity
    if "toStartOfInterval(" in expr:
        m = re.search(r"(?i)INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?\)", expr)
        if m:
            return f"{m.group(1)} {m.group(2).lower()}"
        m = _TO_INTERVAL_FN_RE.search(expr)
        if m:
            return f"{m.group(2)} {m.group(1).lower()}"
    return None


def parse_summed_columns(engine_full: Optional[str]) -> Optional[set]:
    """app utils/materializedViews.ts:248-265 parseSummedColumns: the
    column set a SummingMergeTree engine declares for summing — the
    engine params (optionally one paren layer deep), split with bracket
    awareness. None for other engines or a param-less declaration (which
    sums every numeric column)."""
    if not engine_full or not engine_full.startswith("SummingMergeTree"):
        return None
    m = _SUMMING_ENGINE_RE.search(engine_full)
    if not m:
        return None
    params = m.group(1)
    if params.startswith("(") and params.endswith(")"):
        params = params[1:-1]
    if not params:
        return None
    from hyperdx_spark.compile import split_and_trim_with_bracket

    return set(split_and_trim_with_bracket(params))


def get_source_table_column(
    agg_fn: str,
    target_column_name: str,
    source_table_columns: "Sequence[str]",
    select_expressions: "Sequence[str]" = (),
) -> Optional[str]:
    """app utils/materializedViews.ts:275-330 getSourceTableColumn: map a
    rollup TARGET column back to its SOURCE column — count aggregates
    read no column (''), a ``prefix__suffix`` target resolves when the
    suffix IS a source column, else the MV select expression ENDING with
    the target name is word-searched for a source column."""
    if agg_fn == "count":
        return ""
    parts = target_column_name.split("__")
    suffix = parts[1] if len(parts) > 1 else None
    if suffix and suffix in source_table_columns:
        return suffix
    matching = next(
        (e for e in select_expressions if e.endswith(target_column_name)),
        None,
    )
    if matching:
        for col in source_table_columns:
            if re.search(rf"\b{re.escape(col)}\b", matching):
                return col
    return None
