"""OTel metric semantics — gauge, sum/counter rate, increase, histogram.

Ref: hyperdxio/hyperdx ``core/renderChartConfig.ts`` (translateMetricChartConfig
1686-2173) and ``core/histogram.ts``. The reference rewrites the ChartConfig
into CTE pipelines; here each rewrite is a DataFrame transformation chain.

Series identity: the reference hashes (ScopeAttributes, ResourceAttributes,
Attributes) with cityHash64 (histogram.ts:61-62); we hash the same tuple with
``xxhash64`` — identity-only use, never persisted.

Scale notes:
* Per-series window functions shuffle once on the series hash; state per
  series is one row (lag) — bounded memory, AQE handles skewed series.
* Bucketed aggregation after the window reuses the same partitioning when the
  series hash is in the grouping key (no second shuffle for the inner agg).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hyperdx_spark.sqlident import sql_ident


def default_metric_alias(
    agg_fn: str, metric_name: str, *, is_delta: bool = False
) -> str:
    """setChartSelectsAlias (renderChartConfig.ts:128-147): the value-column
    alias a metric select gets when the user left it unset —
    ``increase(name)``, ``agg(delta(name))`` for isDelta gauges, else
    ``agg(name)``. These aliases head the joined meta when a multi-metric
    select splits into per-metric queries (splitChartConfigs ts:149-167 +
    mergeResultSets seeding; see post.merge_result_sets)."""
    if agg_fn == "increase":
        return f"increase({metric_name})"
    if is_delta:
        return f"{agg_fn}(delta({metric_name}))"
    return f"{agg_fn}({metric_name})"


def metric_name_filter(
    metric_name: str,
    metric_name_sql: Optional[str] = None,
    *,
    name_col: str = "MetricName",
) -> Column:
    """``createMetricNameFilter`` (renderChartConfig.ts:67-75): the k8s
    semantic-convention migration path passes ``metricNameSql`` — a
    condition matching BOTH the old and the new metric name via OR — and
    every metric query uses it over the plain equality when present.
    The SQL goes through the CH-compat shim, so conditions written in
    ClickHouse idiom keep working."""
    if metric_name_sql:
        from hyperdx_spark.functions.chcompat import translate_expr

        return F.expr(translate_expr(metric_name_sql))
    return F.col(name_col) == metric_name


def _bucket(ts: Column, step: int) -> Column:
    return F.timestamp_seconds((F.unix_timestamp(ts) / step).cast("long") * step)


def gauge_bucket(
    df: DataFrame,
    *,
    ts: str,
    value: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    group_cols: Sequence[str] = (),
    agg: str = "avg",
    bucket_alias: str = "__timestamp",
    value_alias: str = "value",
    is_delta: bool = False,
) -> DataFrame:
    """Gauge chart (renderChartConfig.ts:1725-1819).

    Per (series, time-bucket) take ``last_value(Value)`` = argMax(Value, ts),
    then apply the user aggregation across series per (bucket, groups).

    ``is_delta`` (renderDeltaExpression, renderChartConfig.ts:1655-1684):
    the per-(series, bucket) value becomes the extrapolated delta
    ``(argMax - argMin) * interval / time_diff`` (Prometheus ``delta()``
    behavior; 0 when the bucket has a single sample).
    """
    b = _bucket(F.col(ts), bucket_seconds).alias(bucket_alias)
    v, t = F.col(value).cast("double"), F.col(ts)
    if is_delta:
        value_diff = F.max_by(v, t) - F.min_by(v, t)
        time_diff = (F.unix_timestamp(F.max(t)) - F.unix_timestamp(F.min(t))).cast("double")
        per_series = F.when(
            time_diff > 0, value_diff * F.lit(float(bucket_seconds)) / time_diff
        ).otherwise(F.lit(0.0))
    else:
        per_series = F.max_by(v, t)
    inner = (
        df.groupBy(b, *[F.col(c) for c in set(series_cols) | set(group_cols)])
        .agg(per_series.alias("__last"))
    )
    outer_agg = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": F.count,
    }[agg]
    return (
        inner.groupBy(bucket_alias, *group_cols)
        .agg(outer_agg(F.col("__last")).alias(value_alias))
    )


def counter_rate(
    df: DataFrame,
    *,
    ts: str,
    value: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    group_cols: Sequence[str] = (),
    bucket_alias: str = "__timestamp",
    value_alias: str = "rate",
    is_delta: bool = False,
) -> DataFrame:
    """Monotonic-counter rate (renderChartConfig.ts:1820-2075).

    Cumulative temporality: per-row Rate = value - lag(value) within the
    series, **reset-clamped** to ``greatest(delta, 0)`` (a counter reset
    yields 0, not the Prometheus reset=current convention — documented
    divergence at renderChartConfig.ts:1878-1884). The first sample of a
    series has no previous row and contributes nothing. Delta temporality:
    rows pass through as-is. Bucket value = sum(Rate).
    """
    if is_delta:
        rated = df.withColumn("__rate", F.col(value).cast("double"))
    else:
        w = Window.partitionBy(*[F.col(c) for c in series_cols]).orderBy(F.col(ts))
        prev = F.lag(F.col(value), 1).over(w)
        delta = F.col(value).cast("double") - prev.cast("double")
        rated = df.withColumn(
            "__rate", F.when(prev.isNull(), None).otherwise(F.greatest(delta, F.lit(0.0)))
        )
    b = _bucket(F.col(ts), bucket_seconds).alias(bucket_alias)
    return (
        rated.groupBy(b, *[F.col(c) for c in group_cols])
        .agg(F.sum("__rate").alias(value_alias))
    )


def counter_increase(
    df: DataFrame,
    *,
    ts: str,
    value: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    group_cols: Sequence[str] = (),
    top_groups: int = 20,
    bucket_alias: str = "__timestamp",
    value_alias: str = "increase",
) -> DataFrame:
    """``increase`` agg (renderChartConfig.ts:1971-2060): counter-rate summed
    across series, with the fixed top-20-groups cap ranked by total increase
    (empty groups excluded). The cap is a broadcast semi-join."""
    rates = counter_rate(
        df,
        ts=ts,
        value=value,
        series_cols=series_cols,
        bucket_seconds=bucket_seconds,
        group_cols=group_cols,
        bucket_alias=bucket_alias,
        value_alias=value_alias,
    )
    if not group_cols:
        return rates
    ranking = (
        rates.where(F.coalesce(*[F.col(g).cast("string") for g in group_cols]) != "")
        .groupBy(*group_cols)
        .agg(F.sum(value_alias).alias("__total"))
        .orderBy(F.desc_nulls_last("__total"), *[F.asc(g) for g in group_cols])
        .limit(top_groups)
        .select(*group_cols)
    )
    cols = rates.columns
    return rates.join(F.broadcast(ranking), on=list(group_cols), how="left_semi").select(*cols)


def histogram_count(
    df: DataFrame,
    *,
    ts: str,
    count: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    group_cols: Sequence[str] = (),
    temporality_col: Optional[str] = None,
    bucket_alias: str = "__timestamp",
    value_alias: str = "count",
) -> DataFrame:
    """Explicit-bounds histogram total-count chart (core/histogram.ts:89-135).

    Cumulative temporality: per-series delta of ``Count`` with reset
    detection — when the count decreases the series restarted, so the new
    current count IS the delta; the first sample contributes 0. Delta
    temporality rows pass through. Bucket value = sum(delta).

    ``temporality_col``: 1 = delta, 2 = cumulative per row; None = all
    cumulative. The reference partitions the window by (groups, attr_hash,
    bounds_hash, temporality); pass bounds/temporality columns in
    ``series_cols`` for the same isolation.

    Expression trees are SQL text staged through ``selectExpr`` (one parse
    RPC per projection) — same discipline as :func:`exp_histogram_quantile`;
    the original Column form lives on as the reference twin in
    ``tests/test_hist_sql_twin.py`` (bit-identical output required).
    """
    q = sql_ident
    part = (
        "PARTITION BY " + ", ".join(q(c) for c in series_cols) + " "
        if series_cols
        else ""
    )
    over = f"OVER ({part}ORDER BY {q(ts)})"
    cur = f"CAST({q(count)} AS BIGINT)"
    d = df.selectExpr("*", f"lag({cur}, 1) {over} AS __prev")
    cum_delta = (
        f"CASE WHEN __prev IS NULL THEN 0 WHEN {cur} < __prev THEN {cur} "
        f"ELSE {cur} - __prev END"
    )
    if temporality_col is None:
        delta = cum_delta
    else:
        t = q(temporality_col)
        delta = (
            f"CASE WHEN {t} = 1 THEN {cur} WHEN {t} = 2 THEN ({cum_delta}) "
            "ELSE 0 END"
        )
    bucket = (
        f"timestamp_seconds(CAST(unix_timestamp({q(ts)}) / "
        f"{int(bucket_seconds)} AS BIGINT) * {int(bucket_seconds)})"
    )
    d = d.selectExpr(
        f"{bucket} AS {q(bucket_alias)}",
        *[q(c) for c in group_cols],
        f"({delta}) AS __delta",
    )
    return d.groupBy(bucket_alias, *group_cols).agg(
        F.expr(f"sum(__delta) AS {q(value_alias)}")
    )


def exp_histogram_count(
    df: DataFrame,
    *,
    ts: str,
    start_ts: str,
    count: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    group_cols: Sequence[str] = (),
    temporality_col: Optional[str] = None,
    bucket_alias: str = "__timestamp",
    value_alias: str = "count",
) -> DataFrame:
    """Exponential-histogram total count (histogram.ts:279-330).

    Reset detection uses StartTimeUnix: a point is ignored when it is the
    series' first or when start==ts; a changed start time or a decreased
    count restarts the series (delta = current); otherwise delta =
    current - previous.

    SQL-text construction (see :func:`histogram_count`); Column twin pinned
    in ``tests/test_hist_sql_twin.py``.
    """
    q = sql_ident
    part = (
        "PARTITION BY " + ", ".join(q(c) for c in series_cols) + " "
        if series_cols
        else ""
    )
    over = f"OVER ({part}ORDER BY {q(ts)})"
    cur = f"CAST({q(count)} AS BIGINT)"
    d = df.selectExpr(
        "*",
        f"lag({cur}, 1) {over} AS __prev",
        f"lag({q(start_ts)}, 1) {over} AS __prev_start",
    )
    cum_delta = (
        f"CASE WHEN __prev IS NULL OR ({q(start_ts)} = {q(ts)}) THEN 0 "
        f"WHEN ({q(start_ts)} != __prev_start) OR ({cur} < __prev) "
        f"THEN {cur} ELSE {cur} - __prev END"
    )
    if temporality_col is None:
        delta = cum_delta
    else:
        t = q(temporality_col)
        delta = (
            f"CASE WHEN {t} = 1 THEN {cur} WHEN {t} = 2 THEN ({cum_delta}) "
            "ELSE 0 END"
        )
    bucket = (
        f"timestamp_seconds(CAST(unix_timestamp({q(ts)}) / "
        f"{int(bucket_seconds)} AS BIGINT) * {int(bucket_seconds)})"
    )
    d = d.selectExpr(
        f"{bucket} AS {q(bucket_alias)}",
        *[q(c) for c in group_cols],
        f"({delta}) AS __delta",
    )
    return d.groupBy(bucket_alias, *group_cols).agg(
        F.expr(f"sum(__delta) AS {q(value_alias)}")
    )


# --------------------------------------------------------------------------
# Exponential-histogram SQL fragment builders
# --------------------------------------------------------------------------
# Construction-cost twins of the former Column-by-Column builders: each
# helper returns Spark-SQL TEXT for the same expression semantics (same ops,
# same literal types, same CASE order), so one parse RPC per projection
# replaces thousands of py4j Column round trips — exp_histogram_quantile was
# 2141 RPCs (≈2.1 s of pure driver latency) before any job ran.  Exactness
# is pinned by tests/test_exp_hist_sql_twin.py (the original Column
# implementation, kept verbatim there, must produce bit-identical output)
# plus the tests/test_metrics.py goldens and the strict q_exp_histogram
# oracle gate.

_SQL_EMPTY_LONGS = "CAST(array() AS ARRAY<BIGINT>)"


def _sql_index_range(off: str, cnt: str) -> str:
    """sequence(off, off+len-1) — empty array when counts is empty (sequence
    with reversed bounds would otherwise count DOWN)."""
    return (
        f"CASE WHEN size({cnt}) > 0 THEN sequence(CAST({off} AS BIGINT), "
        f"CAST({off} AS BIGINT) + size({cnt}) - 1) ELSE {_SQL_EMPTY_LONGS} END"
    )


def _sql_resize(arr: str, n: str) -> str:
    """ClickHouse arrayResize(arr, n) with 0-fill (n >= 0)."""
    padded = (
        f"concat({arr}, array_repeat(CAST(0 AS BIGINT), "
        f"greatest(({n}) - size({arr}), 0)))"
    )
    return f"slice({padded}, 1, {n})"


def _sql_downscale(cnt: str, off: str, div: str, noff: str) -> str:
    """Merge 2^shift adjacent exponential buckets into one (scale reduction):
    normalized bucket j sums source buckets whose floor(index/divisor) == j.
    Equivalent to the reference's arraySplit-on-divisibility + arraySum
    (histogram.ts:396-421)."""
    off_l = f"CAST({off} AS BIGINT)"
    norm_last = (
        f"CAST(FLOOR(CAST(({off_l} + size({cnt}) - 1) AS DOUBLE) / ({div})) "
        f"AS BIGINT)"
    )
    return (
        f"CASE WHEN size({cnt}) = 0 THEN {_SQL_EMPTY_LONGS} "
        f"ELSE transform(sequence({noff}, {norm_last}), j -> "
        f"aggregate(zip_with({cnt}, "
        f"sequence({off_l}, {off_l} + size({cnt}) - 1), "
        f"(c, i) -> CASE WHEN CAST(FLOOR(CAST(i AS DOUBLE) / ({div})) "
        f"AS BIGINT) = j THEN c ELSE 0 END), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)) END"
    )


def exp_histogram_quantile(
    df: DataFrame,
    *,
    ts: str,
    start_ts: str,
    scale: str,
    zero_count: str,
    pos_offset: str,
    pos_counts: str,
    neg_offset: str,
    neg_counts: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    level: float,
    group_cols: Sequence[str] = (),
    temporality_col: Optional[str] = None,
    bucket_alias: str = "__timestamp",
    value_alias: str = "p",
) -> DataFrame:
    """Exponential-histogram quantile (core/histogram.ts:332-661), the
    reference's hardest pipeline, as a pure DataFrame plan:

    1. normalize every series to the minimum Scale in range — merge
       2^shift adjacent buckets, floor-divide offsets;
    2. cumulative-temporality series -> per-sample deltas: previous counts
       are shifted to the current index window (arrayResize/Concat/Slice
       equivalent), element-wise subtracted; StartTimeUnix change, zero/count
       decrease, or dropped-on-alignment counts => reset (delta = current);
       first sample or start==ts => no contribution;
    3. UNION delta-temporality rows unchanged;
    4. sumMap(indexes, counts) across series per (time bucket, groups) —
       implemented as posexplode + group-sum (distributed, no array-size
       assumption);
    5. assemble ascending-value bucket order [reversed negatives, zero,
       positives], cumulative-sum, pick the first non-empty bucket with
       cum >= level*total;
    6. log-linear interpolation: ±exp2((index + fraction) * 2^-Scale); the
       zero bucket returns exactly 0.

    All array math is Spark higher-order functions over plain column
    references (cheap under interpreted HOF eval; OTel exp histograms have
    ≤ ~320 buckets).

    The expression trees are built as SQL text staged through ``selectExpr``
    projections (one parse RPC each) — the Column-by-Column form was 2141
    py4j RPCs of pure driver latency.  tests/test_exp_hist_sql_twin.py keeps
    that original form as a reference twin and asserts bit-identical output.
    """
    gcols = list(group_cols)
    q = sql_ident
    gsel = [q(c) for c in gcols]
    min_scale = df.agg(F.min(F.col(scale)).alias("__min_scale"))
    d = df.crossJoin(F.broadcast(min_scale)).selectExpr(
        "*",
        f"CAST(power(2.0D, CAST(({q(scale)} - __min_scale) AS INT)) AS BIGINT)"
        " AS __div",
    )
    side_off = [
        f"CAST(FLOOR(CAST({q(off_c)} AS DOUBLE) / __div) AS BIGINT)"
        f" AS __{side}_off"
        for side, off_c in (("pos", pos_offset), ("neg", neg_offset))
    ]
    d = d.selectExpr("*", *side_off)
    side_cnt = [
        f"CASE WHEN __div = 1 THEN CAST({q(cnt_c)} AS ARRAY<BIGINT>) ELSE "
        + _sql_downscale(
            f"CAST({q(cnt_c)} AS ARRAY<BIGINT>)", q(off_c), "__div",
            f"__{side}_off",
        )
        + f" END AS __{side}_cnt"
        for side, off_c, cnt_c in (
            ("pos", pos_offset, pos_counts),
            ("neg", neg_offset, neg_counts),
        )
    ]
    d = d.selectExpr(
        f"{q(ts)} AS __ts",
        f"{q(start_ts)} AS __start",
        "__min_scale AS __scale",
        f"CAST({q(zero_count)} AS BIGINT) AS __zero",
        "__pos_off",
        "__neg_off",
        *side_cnt,
        *[q(c) for c in dict.fromkeys([*series_cols, *gcols])],
        (
            f"{q(temporality_col)} AS __temp"
            if temporality_col is not None
            else "2 AS __temp"
        ),
    )

    # ---- cumulative branch: align previous counts, delta, reset detection
    part = (
        "PARTITION BY " + ", ".join(q(c) for c in series_cols) + " "
        if series_cols
        else ""
    )
    over = f"OVER ({part}ORDER BY __ts)"
    cum = d.where(F.col("__temp") == 2).selectExpr(
        "*",
        f"lag(__pos_cnt, 1) {over} AS __pos_prev",
        f"lag(__pos_off, 1) {over} AS __pos_prev_off",
        f"lag(__neg_cnt, 1) {over} AS __neg_prev",
        f"lag(__neg_off, 1) {over} AS __neg_prev_off",
        f"lag(__zero, 1) {over} AS __prev_zero",
        f"lag(__start, 1) {over} AS __prev_start",
        f"lag(__ts, 1) {over} IS NULL AS __is_first",
    )
    cum = cum.selectExpr(
        "*",
        *[
            e
            for side in ("pos", "neg")
            for e in (
                f"coalesce(__{side}_prev, {_SQL_EMPTY_LONGS}) AS __{side}_prevc",
                f"coalesce(__{side}_prev_off, __{side}_off) AS __{side}_prevoff",
            )
        ],
    )
    aligned = {
        side: _sql_resize(
            f"concat(array_repeat(CAST(0 AS BIGINT), "
            f"greatest(CAST((__{side}_prevoff - __{side}_off) AS INT), 0)), "
            f"slice(__{side}_prevc, "
            f"1 + greatest(CAST((__{side}_off - __{side}_prevoff) AS INT), 0), "
            f"greatest(size(__{side}_prevc), 1)))",
            f"size(__{side}_cnt)",
        )
        for side in ("pos", "neg")
    }
    cum = cum.selectExpr(
        "*",
        f"{aligned['pos']} AS __pos_aligned",
        f"{aligned['neg']} AS __neg_aligned",
    )
    asum = "aggregate({0}, CAST(0 AS BIGINT), (a, x) -> a + x)"
    cum = cum.selectExpr(
        "*",
        "zip_with(__pos_cnt, __pos_aligned, (a, b) -> a - b) AS __pos_deltas",
        "zip_with(__neg_cnt, __neg_aligned, (a, b) -> a - b) AS __neg_deltas",
    ).selectExpr(
        "*",
        *[
            f"(coalesce(array_min(__{side}_deltas) < 0, false) OR "
            f"({asum.format(f'__{side}_prevc')} > "
            f"{asum.format(f'__{side}_aligned')})) AS __{side}_decreased"
            for side in ("pos", "neg")
        ],
    )
    cum = cum.selectExpr(
        "*", "(__is_first OR (__start = __ts)) AS __use_zero"
    ).selectExpr(
        "*",
        "coalesce((NOT __use_zero) AND ((__start != __prev_start) OR "
        "(__zero < __prev_zero) OR __pos_decreased OR __neg_decreased), true)"
        " AS __use_current",
    )

    def _branch(side: str) -> "tuple[str, str]":
        rng = _sql_index_range(f"__{side}_off", f"__{side}_cnt")
        idxs = (
            f"CASE WHEN __use_zero THEN {_SQL_EMPTY_LONGS} ELSE {rng} END"
            f" AS __{side}_i"
        )
        cnts = (
            f"CASE WHEN __use_zero THEN {_SQL_EMPTY_LONGS} "
            f"WHEN __use_current THEN __{side}_cnt "
            f"ELSE __{side}_deltas END AS __{side}_c"
        )
        return idxs, cnts

    pos_i, pos_c = _branch("pos")
    neg_i, neg_c = _branch("neg")
    cum_out = cum.selectExpr(
        "__ts",
        "__scale",
        *gsel,
        "CASE WHEN __use_zero THEN 0 WHEN __use_current THEN __zero "
        "ELSE __zero - __prev_zero END AS __zero_d",
        pos_i,
        pos_c,
        neg_i,
        neg_c,
    )

    # ---- delta-temporality branch passes through
    delta_out = d.where(F.col("__temp") == 1).selectExpr(
        "__ts",
        "__scale",
        *gsel,
        "__zero AS __zero_d",
        _sql_index_range("__pos_off", "__pos_cnt") + " AS __pos_i",
        "__pos_cnt AS __pos_c",
        _sql_index_range("__neg_off", "__neg_cnt") + " AS __neg_i",
        "__neg_cnt AS __neg_c",
    )
    unioned = cum_out.unionByName(delta_out)

    # ---- sumMap across series per (bucket, groups): explode (side, idx, cnt)
    exploded = unioned.selectExpr(
        f"timestamp_seconds(CAST(unix_timestamp(__ts) / {bucket_seconds} "
        f"AS BIGINT) * {bucket_seconds}) AS {q(bucket_alias)}",
        *gsel,
        "__scale",
        "explode(concat("
        "array(named_struct('side', 0, 'idx', CAST(0 AS BIGINT), "
        "'cnt', CAST(__zero_d AS BIGINT))), "
        "zip_with(__pos_i, __pos_c, (i, c) -> named_struct("
        "'side', 1, 'idx', i, 'cnt', CAST(c AS BIGINT))), "
        "zip_with(__neg_i, __neg_c, (i, c) -> named_struct("
        "'side', -1, 'idx', i, 'cnt', CAST(c AS BIGINT))))) AS __e",
    )
    summed = exploded.groupBy(
        bucket_alias, *gcols, F.col("__e.side").alias("__side"), F.col("__e.idx").alias("__idx")
    ).agg(F.sum("__e.cnt").alias("__cnt"), F.first("__scale").alias("__scale"))

    # ---- assemble ascending-value order: sort key (side, side*idx)
    assembled = summed.groupBy(bucket_alias, *gcols).agg(
        F.expr(
            "array_sort(collect_list(named_struct('s', __side, "
            "'k', __side * __idx, 'idx', __idx, 'cnt', __cnt)))"
        ).alias("__b"),
        F.first("__scale").alias("__scale"),
    )
    lvl = f"{float(level)!r}D"
    assembled = assembled.selectExpr(
        "*", "transform(__b, s -> CAST(s.cnt AS DOUBLE)) AS __counts"
    ).selectExpr(
        "*",
        "transform(__counts, (x, i) -> aggregate(slice(__counts, 1, i + 1),"
        " CAST(0.0 AS DOUBLE), (a, c) -> a + c)) AS __cum",
    ).selectExpr(
        "*",
        f"{lvl} * element_at(__cum, -1) AS __rank",
        "element_at(__cum, -1) AS __total",
    ).selectExpr(
        "*",
        "array_position(zip_with(__cum, __counts, "
        "(c, n) -> n > 0 AND c >= __rank), true) AS __i",
    )
    assembled = assembled.where(
        (F.col("__total") > 0) & (F.col("__i") > 0)
    ).selectExpr(
        "*",
        "element_at(__b, CAST(__i AS INT)) AS __sel",
        "CASE WHEN __i <= 1 THEN 0.0D "
        "ELSE element_at(__cum, CAST((__i - 1) AS INT)) END AS __cum_before",
    )
    frac = "((__rank - __cum_before) / element_at(__counts, CAST(__i AS INT)))"
    inv_scale = "power(2.0D, -CAST(__scale AS DOUBLE))"
    value = (
        f"CASE WHEN __sel.s < 0 THEN -power(2.0D, "
        f"(CAST(__sel.idx AS DOUBLE) + 1 - {frac}) * {inv_scale}) "
        f"WHEN __sel.s > 0 THEN power(2.0D, "
        f"(CAST(__sel.idx AS DOUBLE) + {frac}) * {inv_scale}) "
        f"ELSE 0.0D END"
    )
    return assembled.selectExpr(
        q(bucket_alias), *gsel, f"{value} AS {q(value_alias)}"
    )


def histogram_quantile(
    df: DataFrame,
    *,
    ts: str,
    bucket_counts: str,
    explicit_bounds: str,
    series_cols: Sequence[str],
    bucket_seconds: int,
    level: float,
    group_cols: Sequence[str] = (),
    bucket_alias: str = "__timestamp",
    value_alias: str = "p",
    cumulative: bool = True,
) -> DataFrame:
    """Explicit-bounds histogram quantile (core/histogram.ts:137-250).

    1. per-series element-wise delta of ``BucketCounts`` vs the previous
       sample (reset if any element decreased or the bounds changed -> use
       current counts as the delta);
    2. element-wise sum of deltas across series per (time bucket, groups);
    3. cumulative sum across buckets, rank = level * total, find the first
       histogram bucket whose cumulative count exceeds the rank;
    4. linear interpolation within [lower_bound, upper_bound]; the last
       bucket is unbounded (+inf) -> its lower bound is returned; rank in
       the first bucket interpolates from 0.

    All array math uses Spark higher-order functions (zip_with, aggregate,
    transform) — JVM-side, no UDFs.

    Expression trees are SQL text staged through ``selectExpr`` projections
    (one parse RPC each, SQL lambdas instead of py4j-built Python lambdas) —
    same discipline as :func:`exp_histogram_quantile`.  The original Column
    form is the reference twin in ``tests/test_hist_sql_twin.py``
    (bit-identical output required).  Per-row CASE short-circuiting keeps
    ``element_at(..., 0)`` unevaluated for not-found ranks, exactly like the
    lazy ``when``/``otherwise`` chain it replaces.
    """
    q = sql_ident
    gsel = [q(c) for c in group_cols]
    cur = q(bucket_counts)
    if cumulative:
        part = (
            "PARTITION BY " + ", ".join(q(c) for c in series_cols) + " "
            if series_cols
            else ""
        )
        over = f"OVER ({part}ORDER BY {q(ts)})"
        d = df.selectExpr(
            "*",
            f"lag({cur}, 1) {over} AS __prev",
            f"lag({q(explicit_bounds)}, 1) {over} AS __prev_bounds",
        )
        # reset detection: any element decreased, length or bounds changed
        reset = (
            f"__prev IS NULL OR (size({cur}) != size(__prev)) OR "
            f"(__prev_bounds != {q(explicit_bounds)}) OR "
            f"exists(zip_with({cur}, __prev, (a, b) -> a < b), x -> x)"
        )
        # first-point rows: the reference keeps the current counts when the
        # series starts (histogram.ts reset semantics: current<prev -> current)
        delta = (
            f"CASE WHEN {reset} THEN CAST({cur} AS ARRAY<DOUBLE>) "
            f"ELSE zip_with({cur}, __prev, (a, b) -> CAST((a - b) AS DOUBLE)) "
            "END"
        )
        deltad = d.selectExpr("*", f"({delta}) AS __delta")
    else:
        deltad = df.selectExpr(
            "*", f"CAST({cur} AS ARRAY<DOUBLE>) AS __delta"
        )

    bucket = (
        f"timestamp_seconds(CAST(unix_timestamp({q(ts)}) / "
        f"{int(bucket_seconds)} AS BIGINT) * {int(bucket_seconds)})"
    )
    # element-wise sum across series (sumForEach): explode to (idx, cnt) and
    # re-assemble — distributed, no size assumption on the arrays
    exploded = deltad.selectExpr(
        f"{bucket} AS {q(bucket_alias)}",
        *gsel,
        f"{q(explicit_bounds)} AS __bounds",
        "posexplode(__delta) AS (__idx, __cnt)",
    )
    summed = exploded.groupBy(bucket_alias, *group_cols, "__bounds", "__idx").agg(
        F.expr("sum(__cnt) AS __cnt")
    )
    assembled = summed.groupBy(bucket_alias, *group_cols, "__bounds").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "named_struct('__idx', __idx, '__cnt', __cnt))), s -> s.__cnt)"
            " AS __counts"
        )
    )
    # cumulative distribution + rank -> interpolate (histogram.ts:205-250)
    out = assembled.selectExpr(
        "*",
        "transform(__counts, (x, i) -> aggregate(slice(__counts, 1, i + 1),"
        " CAST(0.0 AS DOUBLE), (a, b) -> a + b)) AS __cum",
        f"{float(level)!r}D * aggregate(__counts, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x) AS __rank",
    ).selectExpr(
        # idx of first bucket with cum >= rank; 1-based, 0 = not found
        "*",
        "array_position(transform(__cum, c -> c >= __rank), true) AS __i",
    )
    lower = (
        "CASE WHEN __i <= 1 THEN 0.0D "
        "ELSE element_at(__bounds, int(__i) - 1) END"
    )
    cum_before = (
        "CASE WHEN __i <= 1 THEN 0.0D "
        "ELSE element_at(__cum, int(__i) - 1) END"
    )
    frac = (
        "CASE WHEN element_at(__counts, int(__i)) > 0 "
        f"THEN (__rank - ({cum_before})) / element_at(__counts, int(__i)) "
        "ELSE 0.0D END"
    )
    value = (
        "CASE WHEN __i = 0 THEN NULL "
        f"WHEN NOT (__i <= size(__bounds)) THEN ({lower}) "
        f"ELSE ({lower}) + (element_at(__bounds, int(__i)) - ({lower}))"
        f" * ({frac}) END"
    )
    return out.selectExpr(
        q(bucket_alias), *gsel, f"({value}) AS {q(value_alias)}"
    )


SUPPORTED_METRIC_TYPES = ("gauge", "sum", "histogram", "exponential histogram")


def require_supported_metric_type(metric_type: str) -> str:
    """Parity with translateMetricChartConfig's terminal branch
    (renderChartConfig.ts:2172): summary (and unknown) metric tables exist
    in the schema but have no chart translation — error loudly instead of
    silently mis-aggregating."""
    t = metric_type.strip().lower()
    if t not in SUPPORTED_METRIC_TYPES:
        raise ValueError(
            f"Unsupported metric type: {metric_type}. Supported: "
            + ", ".join(SUPPORTED_METRIC_TYPES)
        )
    return t


def metric_to_raw_sql(
    metric_type: str,
    *,
    ts: str = "ts",
    value: str = "value",
    series_cols: Sequence[str],
    agg: str = "avg",
    metric_name: Optional[str] = None,
    metric_name_sql: Optional[str] = None,
    name_col: str = "MetricName",
    where_sql: Optional[str] = None,
    bucket_alias: str = "__timestamp",
    value_alias: Optional[str] = None,
    bucket_counts: str = "BucketCounts",
    explicit_bounds: str = "ExplicitBounds",
    level: float = 0.5,
) -> str:
    """Single-series metric chart -> editable raw-SQL template
    (builderToRawSql.ts:93-132 + its metric test family,
    builderToRawSql.test.ts:211-350): gauge and sum (counter-rate) metric
    line charts render as one macro-templated SQL statement using
    $__timeInterval / $__timeFilter / $__sourceTable(metricType) /
    $__filters; the executed template must equal :func:`gauge_bucket` /
    :func:`counter_rate` / :func:`histogram_quantile` on the same data
    (pytest-asserted). Histogram templates (r10) express the full pipeline
    — reset-detected element-wise deltas, cross-series element sums,
    cumulative rank + linear interpolation — as one statement of Spark SQL
    higher-order functions (zip_with/exists/transform/aggregate), the same
    JVM expressions the DataFrame path compiles to.

    Multi-series and non-time-series metric charts are not convertible —
    same user-facing errors as the reference.
    """
    mt = metric_type.lower()
    if mt not in ("gauge", "sum", "histogram"):
        raise ValueError(f"unsupported metric type for SQL conversion: {metric_type!r}")
    if agg not in ("avg", "sum", "min", "max", "count"):
        raise ValueError(f"unsupported aggregation: {agg!r}")

    from hyperdx_spark.functions.chcompat import translate_expr
    from hyperdx_spark.lucene.serializer import _sql_str

    where_parts = [f"$__timeFilter({ts})"]
    if metric_name_sql:
        where_parts.append(f"({translate_expr(metric_name_sql)})")
    elif metric_name is not None:
        where_parts.append(f"{sql_ident(name_col)} = {_sql_str(metric_name)}")
    if where_sql:
        where_parts.append(f"({where_sql})")
    where_parts.append("$__filters")
    where = "\n  AND ".join(where_parts)
    series = ", ".join(f"`{c}`" for c in series_cols)
    v = f"CAST(`{value}` AS DOUBLE)"

    if mt == "gauge":
        alias = value_alias or "value"
        # per (series, bucket) last sample, then the user agg across series
        return (
            f"SELECT `{bucket_alias}`, {agg}(`__last`) AS `{alias}`\n"
            "FROM (\n"
            f"  SELECT $__timeInterval({ts}) AS `{bucket_alias}`, {series},\n"
            f"         max_by({v}, `{ts}`) AS `__last`\n"
            "  FROM $__sourceTable(gauge)\n"
            f"  WHERE {where}\n"
            f"  GROUP BY {', '.join(str(i + 1) for i in range(1 + len(series_cols)))}\n"
            ")\n"
            f"GROUP BY `{bucket_alias}`\n"
            f"ORDER BY `{bucket_alias}`"
        )

    if mt == "sum":
        # reset-clamped per-series lag delta, summed per bucket. The first
        # sample of a series has no previous row and contributes nothing.
        alias = value_alias or "rate"
        lag_v = f"lag({v}) OVER (PARTITION BY {series} ORDER BY `{ts}`)"
        return (
            f"SELECT `{bucket_alias}`, sum(`__rate`) AS `{alias}`\n"
            "FROM (\n"
            f"  SELECT $__timeInterval({ts}) AS `{bucket_alias}`,\n"
            f"         CASE WHEN {lag_v} IS NULL THEN NULL\n"
            f"              ELSE greatest({v} - {lag_v}, 0.0) END AS `__rate`\n"
            "  FROM $__sourceTable(sum)\n"
            f"  WHERE {where}\n"
            ")\n"
            f"GROUP BY `{bucket_alias}`\n"
            f"ORDER BY `{bucket_alias}`"
        )

    # histogram quantile (core/histogram.ts:137-250 as one SQL statement):
    # reset-detected element-wise deltas over a per-series WINDOW, explode +
    # per-index sums across series, reassembled counts -> cumulative
    # distribution -> rank -> linear interpolation. Same higher-order
    # expressions the DataFrame path (histogram_quantile) compiles to.
    alias = value_alias or "p"
    bc, eb = f"`{bucket_counts}`", f"`{explicit_bounds}`"
    lag_bc = f"lag({bc}) OVER w"
    lag_eb = f"lag({eb}) OVER w"
    lvl = float(level)
    return f"""WITH deltas AS (
  SELECT $__timeInterval({ts}) AS `{bucket_alias}`, {eb} AS __bounds,
         CASE WHEN {lag_bc} IS NULL
                OR size({bc}) != size({lag_bc})
                OR {lag_eb} != {eb}
                OR exists(zip_with({bc}, {lag_bc}, (a, b) -> a < b), x -> x)
              THEN CAST({bc} AS ARRAY<DOUBLE>)
              ELSE zip_with({bc}, {lag_bc}, (a, b) -> CAST(a - b AS DOUBLE))
         END AS __delta
  FROM $__sourceTable(histogram)
  WHERE {where}
  WINDOW w AS (PARTITION BY {series} ORDER BY `{ts}`)
),
summed AS (
  SELECT `{bucket_alias}`, __bounds, pe.pos AS __idx, sum(pe.col) AS __cnt
  FROM deltas LATERAL VIEW posexplode(__delta) pe
  GROUP BY 1, 2, 3
),
assembled AS (
  SELECT `{bucket_alias}`, __bounds,
         transform(array_sort(collect_list(struct(__idx, __cnt))),
                   s -> s.__cnt) AS __counts
  FROM summed GROUP BY 1, 2
),
ranked AS (
  SELECT *,
         CAST({lvl!r} AS DOUBLE)
           * aggregate(__counts, CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS __rank,
         transform(__counts, (x, i) ->
           aggregate(slice(__counts, 1, i + 1), CAST(0.0 AS DOUBLE),
                     (a, b) -> a + b)) AS __cum
  FROM assembled
),
located AS (
  SELECT *,
         array_position(transform(__cum, c -> c >= __rank), true) AS __i
  FROM ranked
)
SELECT `{bucket_alias}`,
       CASE WHEN __i = 0 THEN NULL
            WHEN __i > size(__bounds) THEN
              CASE WHEN __i <= 1 THEN CAST(0.0 AS DOUBLE)
                   ELSE element_at(__bounds, int(__i) - 1) END
            ELSE (CASE WHEN __i <= 1 THEN CAST(0.0 AS DOUBLE)
                       ELSE element_at(__bounds, int(__i) - 1) END)
                 + (element_at(__bounds, int(__i))
                    - (CASE WHEN __i <= 1 THEN CAST(0.0 AS DOUBLE)
                            ELSE element_at(__bounds, int(__i) - 1) END))
                 * (CASE WHEN element_at(__counts, int(__i)) > 0
                         THEN (__rank - (CASE WHEN __i <= 1 THEN CAST(0.0 AS DOUBLE)
                                              ELSE element_at(__cum, int(__i) - 1) END))
                              / element_at(__counts, int(__i))
                         ELSE CAST(0.0 AS DOUBLE) END)
       END AS `{alias}`
FROM located
ORDER BY `{bucket_alias}`"""
