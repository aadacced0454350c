"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline ops; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every SQL-expressible entry. Column names and
value rounding are aligned on both sides (doubles rounded to 4; large sums
done in DECIMAL(38,6) so partition order can't perturb the hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from datetime import datetime
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from hyperdx_spark.compile import compile_chart_config
from hyperdx_spark.io import export_csv, load_table
from hyperdx_spark.lucene.explain import explain_query
from hyperdx_spark.metadata import get_all_fields
from hyperdx_spark.model import (
    ChartConfig,
    QuerySettings,
    SelectCol,
    Source,
    SqlAstFilter,
    SqlFilter,
)
from hyperdx_spark.session import local_frame, overlapped, tune_session
from hyperdx_spark import metrics
from hyperdx_spark.pipeline import dedup, multimodal, similarity, text
from hyperdx_spark.post import compute_ratio, format_time_chart, previous_period
from hyperdx_spark.windows import offset_paginated_search

RANGE = (datetime(2024, 1, 1), datetime(2024, 2, 1))
EXACT = QuerySettings(approx_quantiles=False)
TIME_WHERE = "ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-02-01'"


def _src() -> Source:
    return Source(
        table="events",
        kind="log",
        timestamp_value_expression="ts",
        implicit_column_expression="concat_ws(' ', event_type, props)",
        severity_text_expression="event_type",
        service_name_expression="event_type",
    )


def _round4(df: DataFrame) -> DataFrame:
    """Round every double column to 4 decimals (hash stability across
    engines / partition orders); oracles apply ROUND(x, 4) identically.

    One parsed projection instead of a py4j RPC per column (r16 RPC
    discipline); the ``df.schema`` probe itself is the one analysis pass
    the query pays anyway at execution."""
    exprs = [
        f"round(`{f.name}`, 4) AS `{f.name}`"
        if isinstance(f.dataType, DoubleType)
        else f"`{f.name}`"
        for f in df.schema.fields
    ]
    return df.selectExpr(*exprs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: lucene-filtered error-rate
    time series through the full ChartConfig compiler."""
    tune_session(spark)
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", alias="cnt"),
            SelectCol(agg_fn="avg", value_expression="value", alias="avg_v"),
        ],
        where="error",
        where_language="lucene",
        granularity="1 day",
        group_by=["event_type"],
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir="/root/testdata/sf0.001"))


# --------------------------------------------------------------------------
# §2.2/2.6/2.8 search: projection + lucene predicates + order/limit
# --------------------------------------------------------------------------

def q_search(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select="event_id, ts, event_type, value",
        where="event_type:error value:>=30",
        where_language="lucene",
        order_by="ts DESC, event_id DESC",
        limit=200,
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_SEARCH = f"""
SELECT event_id, ts, event_type, value FROM events
WHERE {TIME_WHERE} AND lower(event_type) LIKE '%error%' AND value >= 30
ORDER BY ts DESC, event_id DESC LIMIT 200
"""

# --------------------------------------------------------------------------
# §2.4 aggregations + §2.1 time bucketing + lucene implicit search
# --------------------------------------------------------------------------

def q_timeseries_error_5m(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="error",
        where_language="lucene",
        granularity="5 minute",
        group_by=["event_type"],
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_TIMESERIES = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 300) * 300 * 1000000) AS __timestamp,
       event_type, count(*) AS cnt
FROM events
WHERE {TIME_WHERE}
  AND list_contains(list_filter(string_split_regex(lower(concat_ws(' ', event_type, props)), '[[:punct:][:space:][:cntrl:]]+'), t -> t != ''), 'error')
GROUP BY 1, 2
"""


def q_multi_agg(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="sum", value_expression="value", alias="sum_v"),
            SelectCol(agg_fn="avg", value_expression="value", alias="avg_v"),
            SelectCol(agg_fn="min", value_expression="value", alias="min_v"),
            SelectCol(agg_fn="max", value_expression="value", alias="max_v"),
            SelectCol(agg_fn="quantile", value_expression="value", level=0.9, alias="p90_v"),
            SelectCol(agg_fn="count_distinct", value_expression="user_id", alias="users"),
        ],
        group_by=["event_type"],
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir=sf_dir, settings=EXACT))


_NUMV = "CASE WHEN value IS NULL THEN NULL ELSE coalesce(try_cast(value AS DOUBLE), 0.0) END"
O_MULTI_AGG = f"""
SELECT event_type,
       round(sum({_NUMV}), 4) AS sum_v,
       round(avg({_NUMV}), 4) AS avg_v,
       round(min({_NUMV}), 4) AS min_v,
       round(max({_NUMV}), 4) AS max_v,
       round(quantile_cont({_NUMV}, 0.9), 4) AS p90_v,
       count(DISTINCT user_id) AS users
FROM events WHERE {TIME_WHERE}
GROUP BY 1
"""


def q_conditional_agg(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", agg_condition="event_type:error", alias="errors"),
            SelectCol(agg_fn="count", agg_condition="event_type:click", alias="clicks"),
        ],
        granularity="1 day",
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_CONDITIONAL = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) FILTER (lower(event_type) LIKE '%error%') AS errors,
       count(*) FILTER (lower(event_type) LIKE '%click%') AS clicks
FROM events
WHERE {TIME_WHERE}
  AND (lower(event_type) LIKE '%error%' OR lower(event_type) LIKE '%click%')
GROUP BY 1
"""


def q_having(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="avg", value_expression="value", alias="avg_v")],
        group_by=["event_type"],
        having="avg_v > 10",
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir=sf_dir, settings=EXACT))


O_HAVING = f"""
SELECT event_type, round(avg({_NUMV}), 4) AS avg_v
FROM events WHERE {TIME_WHERE}
GROUP BY 1 HAVING avg({_NUMV}) > 10
"""

# --------------------------------------------------------------------------
# §2.6 top-N series cap (broadcast semi-join)
# --------------------------------------------------------------------------

def q_series_limit(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        series_limit=2,
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_SERIES_LIMIT = f"""
WITH b AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         event_type, count(*) AS cnt
  FROM events WHERE {TIME_WHERE} GROUP BY 1, 2),
top AS (SELECT event_type FROM b GROUP BY 1 ORDER BY max(cnt) DESC, event_type LIMIT 2)
SELECT b.* FROM b SEMI JOIN top USING (event_type)
"""

# --------------------------------------------------------------------------
# §2.11 zero-fill of empty buckets
# --------------------------------------------------------------------------

def q_fill_zero(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where='event_type:"signup"',
        granularity="6 hour",
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 8)),
        fill_nulls=0.0,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_FILL_ZERO = """
WITH c AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 21600) * 21600 * 1000000) AS b,
         count(*) AS cnt
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-08'
    AND event_type = 'signup'
  GROUP BY 1),
spine AS (SELECT make_timestamp(s * 1000000) AS b
          FROM generate_series(1704067200, 1704672000, 21600) t(s))
SELECT spine.b AS __timestamp, coalesce(c.cnt::DOUBLE, 0.0) AS cnt
FROM spine LEFT JOIN c USING (b)
"""

# --------------------------------------------------------------------------
# §1.4/2.8 JSON dot-path field resolution
# --------------------------------------------------------------------------

def q_json_path(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="props.k:>=50",
        where_language="lucene",
        granularity="1 day",
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_JSON_PATH = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) AS cnt
FROM events
WHERE {TIME_WHERE}
  AND try_cast(coalesce(json_extract_string(props, '$.k'), '') AS DOUBLE) >= 50
GROUP BY 1
"""

# --------------------------------------------------------------------------
# §2.4 last_value (deterministic argMax)
# --------------------------------------------------------------------------

def q_last_value(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="last_value", value_expression="value", alias="last_v")],
        group_by=["event_type"],
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir=sf_dir))


O_LAST_VALUE = f"""
SELECT event_type, round(arg_max(value, ts), 4) AS last_v
FROM events WHERE {TIME_WHERE} GROUP BY 1
"""

# --------------------------------------------------------------------------
# §2.3/2.11 ratio series
# --------------------------------------------------------------------------

def q_error_ratio(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", agg_condition="event_type:error", alias="errors"),
            SelectCol(agg_fn="count", alias="total"),
        ],
        granularity="1 day",
        date_range=RANGE,
    )
    df = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    out = compute_ratio(df, numerator="errors", denominator="total").select(
        "__timestamp", "ratio"
    )
    return _round4(out)


O_ERROR_RATIO = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       round(count(*) FILTER (lower(event_type) LIKE '%error%')::DOUBLE / count(*), 4) AS ratio
FROM events WHERE {TIME_WHERE} GROUP BY 1
"""


def q_share_of_total(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        date_range=RANGE,
    )
    df = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    out = compute_ratio(
        df, numerator="cnt", denominator="cnt", mode="share_of_total", alias="share"
    ).select("__timestamp", "event_type", "share")
    return _round4(out)


O_SHARE = f"""
WITH b AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         event_type, count(*) AS cnt
  FROM events WHERE {TIME_WHERE} GROUP BY 1, 2)
SELECT __timestamp, event_type,
       round(cnt::DOUBLE / sum(cnt::DOUBLE) OVER (PARTITION BY __timestamp), 4) AS share
FROM b
"""

# --------------------------------------------------------------------------
# §2.9 metric semantics on the events stream
# --------------------------------------------------------------------------

def q_gauge_last(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = metrics.gauge_bucket(
        ev, ts="ts", value="value", series_cols=["user_id"],
        group_cols=["event_type"], bucket_seconds=86400, agg="avg", value_alias="v",
    )
    return _round4(out)


O_GAUGE = """
WITH g AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         user_id, event_type, arg_max(value, ts) AS lastv
  FROM events GROUP BY 1, 2, 3)
SELECT __timestamp, event_type, round(avg(lastv), 4) AS v FROM g GROUP BY 1, 2
"""


def q_counter_rate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = metrics.counter_rate(
        ev, ts="ts", value="value", series_cols=["event_type"],
        group_cols=["event_type"], bucket_seconds=86400, value_alias="rate",
    )
    return _round4(out)


O_COUNTER_RATE = """
WITH d AS (
  SELECT event_type, ts, value,
         lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
  FROM events)
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type,
       round(sum(CASE WHEN prev IS NULL THEN NULL ELSE greatest(value - prev, 0) END), 4) AS rate
FROM d GROUP BY 1, 2
"""


def q_increase_top3(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = metrics.counter_increase(
        ev, ts="ts", value="value", series_cols=["event_type"],
        group_cols=["event_type"], bucket_seconds=86400, top_groups=3,
        value_alias="inc",
    )
    return _round4(out)


O_INCREASE = """
WITH d AS (
  SELECT event_type, ts, value,
         lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
  FROM events),
r AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         event_type,
         sum(CASE WHEN prev IS NULL THEN NULL ELSE greatest(value - prev, 0) END) AS inc
  FROM d GROUP BY 1, 2),
top AS (
  SELECT event_type FROM r GROUP BY 1
  ORDER BY sum(inc) DESC NULLS LAST, event_type LIMIT 3)
SELECT __timestamp, event_type, round(inc, 4) AS inc FROM r SEMI JOIN top USING (event_type)
"""

# --------------------------------------------------------------------------
# §2.9 histogram metrics — synthesized histogram series over events so the
# array pipelines are oracle-checkable relationally
# --------------------------------------------------------------------------

def q_hist_count(spark, sf_dir):
    """Cumulative Count series with periodic resets (rn % 50) per event_type."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("ts", "event_id")
    )
    series = ev.withColumn("cnt", (rn % 50).cast("long"))
    out = metrics.histogram_count(
        series, ts="ts", count="cnt", series_cols=["event_type"],
        bucket_seconds=86400, group_cols=["event_type"], value_alias="total",
    )
    return out


O_HIST_COUNT = """
WITH s AS (
  SELECT event_type, ts,
         (row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) % 50)::BIGINT AS cnt
  FROM events),
d AS (
  SELECT event_type, ts, cnt,
         lag(cnt) OVER (PARTITION BY event_type ORDER BY ts) AS prev
  FROM s)
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type,
       sum(CASE WHEN prev IS NULL THEN 0
                WHEN cnt < prev THEN cnt
                ELSE cnt - prev END)::BIGINT AS total
FROM d GROUP BY 1, 2
"""


def q_hist_quantile(spark, sf_dir):
    """Explicit-bounds histogram p51.7: per (event_type, hour) delta
    histograms of `value` with bounds 50..450, quantile per day."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 3600).cast("long") * 3600
    ).alias("h")
    idx = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int").alias("i")
    counts = ev.groupBy(hour, F.col("event_type"), idx).agg(F.count("*").alias("c"))
    rows = (
        counts.groupBy("h", "event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("i", "c"))).alias("m"))
        .select(
            "h",
            "event_type",
            F.transform(
                F.sequence(F.lit(0), F.lit(9)),
                lambda j: F.coalesce(F.element_at(F.col("m"), j.cast("int")), F.lit(0)),
            ).alias("counts"),
            F.array(*[F.lit(50.0 * i) for i in range(1, 10)]).alias("bounds"),
        )
    )
    out = metrics.histogram_quantile(
        rows, ts="h", bucket_counts="counts", explicit_bounds="bounds",
        series_cols=["event_type"], bucket_seconds=86400, level=0.517,
        cumulative=False, value_alias="p50",
    )
    return _round4(out)


O_HIST_QUANTILE = """
WITH c AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         least(floor(value / 50), 9)::INT AS i, count(*)::DOUBLE AS c
  FROM events GROUP BY 1, 2),
t AS (
  SELECT *, sum(c) OVER (PARTITION BY __timestamp ORDER BY i) AS cum,
         0.517 * sum(c) OVER (PARTITION BY __timestamp) AS rank
  FROM c),
pick AS (
  SELECT __timestamp, min(i) AS i FROM t WHERE cum >= rank GROUP BY 1)
SELECT t.__timestamp,
       round(CASE WHEN t.i >= 9 THEN 450.0
             ELSE 50.0 * t.i + 50.0 * (t.rank - (t.cum - t.c)) / t.c END, 4) AS p50
FROM t JOIN pick ON t.__timestamp = pick.__timestamp AND t.i = pick.i
"""


def q_exp_hist_quantile(spark, sf_dir):
    """Exponential-histogram p48.3 with mixed scales (error series at scale 1,
    everything else at scale 0) — exercises downscale-merge + zero bucket."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 3600).cast("long") * 3600
    ).alias("h")
    scale = F.when(F.col("event_type") == "error", 1).otherwise(0)
    idx = (F.floor("value").cast("long") % 8).alias("i")
    zero = (
        ev.groupBy(hour, "event_type")
        .agg(F.count_if(F.col("value") < 1).alias("zero"))
    )
    pairs = (
        ev.where(F.col("value") >= 1)
        .groupBy(hour, F.col("event_type"), idx)
        .agg(F.count("*").alias("c"))
    )
    arrays = (
        pairs.groupBy("h", "event_type")
        .agg(
            F.min("i").alias("off"),
            F.max("i").alias("mx"),
            F.map_from_entries(F.collect_list(F.struct("i", "c"))).alias("m"),
        )
        .select(
            "h", "event_type", "off",
            F.transform(
                F.sequence(F.col("off"), F.col("mx")),
                lambda j: F.coalesce(F.element_at(F.col("m"), j), F.lit(0)).cast("long"),
            ).alias("pos"),
        )
    )
    rows = (
        zero.join(arrays, on=["h", "event_type"], how="left")
        .select(
            "h", "event_type",
            scale.alias("scale"),
            F.col("zero").cast("long").alias("zero"),
            F.coalesce("off", F.lit(0)).alias("pos_off"),
            F.coalesce("pos", F.array().cast("array<long>")).alias("pos"),
            F.lit(0).cast("long").alias("neg_off"),
            F.array().cast("array<long>").alias("neg"),
            F.lit(1).alias("temp"),
        )
    )
    out = metrics.exp_histogram_quantile(
        rows, ts="h", start_ts="h", scale="scale", zero_count="zero",
        pos_offset="pos_off", pos_counts="pos", neg_offset="neg_off",
        neg_counts="neg", series_cols=["event_type"], bucket_seconds=86400,
        level=0.483, temporality_col="temp", value_alias="p",
    )
    return _round4(out)


O_EXP_HIST_QUANTILE = """
WITH e AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS d,
         event_type, value,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS scale
  FROM events),
entries AS (
  SELECT d, 0 AS side, 0::BIGINT AS i, count(*) FILTER (value < 1)::DOUBLE AS c
  FROM e GROUP BY d
  UNION ALL
  SELECT d, 1 AS side,
         (floor(value)::BIGINT % 8) // (CASE WHEN scale = 1 THEN 2 ELSE 1 END) AS i,
         count(*)::DOUBLE AS c
  FROM e WHERE value >= 1 GROUP BY d, 2, 3),
t AS (
  SELECT *, sum(c) OVER (PARTITION BY d ORDER BY side, i) AS cum,
         0.483 * sum(c) OVER (PARTITION BY d) AS rank
  FROM entries),
pick AS (
  SELECT DISTINCT ON (d) d, side, i
  FROM t WHERE c > 0 AND cum >= rank ORDER BY d, side, i)
SELECT t.d AS __timestamp,
       round(CASE WHEN t.side = 0 THEN 0.0
             ELSE pow(2.0, t.i + (t.rank - (t.cum - t.c)) / t.c) END, 4) AS p
FROM t JOIN pick ON t.d = pick.d AND t.side = pick.side AND t.i = pick.i
"""

# --------------------------------------------------------------------------
# §2.11 heatmap bucketing
# --------------------------------------------------------------------------

def q_heatmap(spark, sf_dir):
    """Reference heatmap bounds algorithm (DBHeatmapChart.tsx:409-510):
    part 'log' = quantile(0.01) lower + true-max upper + effectiveMin cap +
    widthBucket over ln; part 'lin' = quantile(0.001) lower, raw min, linear
    widthBucket.  Oracle re-derives the full algorithm in SQL."""
    from hyperdx_spark.analytics.heatmap import heatmap_parts

    # r16: both scales share ONE bounds aggregate and ONE bucket pass
    # (2 input scans instead of 4); heatmap_parts is pytest-asserted
    # row-identical to the composed two-heatmap() union this replaced.
    ev = load_table(spark, sf_dir, "events")
    return heatmap_parts(
        ev, ts="ts", value="value", bucket_seconds=86400, n_buckets=80,
        parts=(("log", "log"), ("lin", "linear")),
    )


O_HEATMAP = """
WITH bounds AS (
  SELECT quantile_disc(CASE WHEN value >= 0 THEN value END, 0.01) AS mn_log,
         quantile_disc(CASE WHEN value >= 0 THEN value END, 0.001) AS mn_lin,
         max(value) AS mx
  FROM events
), eff AS (
  SELECT mx, mn_lin,
         greatest(mn_log,
                  CASE WHEN mx * 1e-4 = 0 OR isnan(mx * 1e-4)
                       THEN 1e-4 ELSE mx * 1e-4 END) AS em
  FROM bounds
)
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       CASE WHEN ln(greatest(value, em)) < ln(em) THEN 0
            WHEN ln(greatest(value, em)) >= ln(mx) THEN 81
            ELSE (floor((ln(greatest(value, em)) - ln(em))
                        / (ln(mx) - ln(em)) * 80) + 1)::INT
       END AS x_bucket,
       count(*) AS count,
       'log' AS part
FROM events, eff WHERE mx > em GROUP BY 1, 2
UNION ALL
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       CASE WHEN value < mn_lin THEN 0
            WHEN value >= mx THEN 81
            ELSE (floor((value - mn_lin) / (mx - mn_lin) * 80) + 1)::INT
       END AS x_bucket,
       count(*) AS count,
       'lin' AS part
FROM events, eff WHERE mx > mn_lin GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.1 raw-SQL macros + §2.8 metadata/autocomplete ops
# --------------------------------------------------------------------------

def q_raw_sql_macros(spark, sf_dir):
    from hyperdx_spark import macros

    sql = macros.replace_macros(
        "SELECT $__timeInterval(ts) AS __timestamp, event_type, count(*) AS n"
        " FROM $__sourceTable WHERE $__timeFilter(ts) AND $__filters"
        " GROUP BY 1, 2",
        date_range=RANGE,
        interval_seconds=86400,
        table="events",
        filters_sql="value >= 10",
    )
    events = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    return macros.sql_with_frames(spark, sql, events=events)


O_RAW_SQL_MACROS = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type, count(*) AS n
FROM events WHERE {TIME_WHERE} AND value >= 10
GROUP BY 1, 2
"""


def q_key_values(spark, sf_dir):
    from hyperdx_spark import metadata

    ev = load_table(spark, sf_dir, "events")
    kv = metadata.get_key_values(
        ev, ["event_type", "cast(user_id % 3 as string)"], max_values_per_key=20
    )
    # explode the per-key arrays to (key, value) rows — scalar columns hash
    # identically across engines, array stringification does not
    return kv.select(
        F.lit("event_type").alias("key"), F.explode("key0").alias("value")
    ).unionByName(
        kv.select(F.lit("user_mod3").alias("key"), F.explode("key1").alias("value"))
    )


O_KEY_VALUES = """
WITH kv AS (
  SELECT list_slice(list_sort(list(DISTINCT event_type)), 1, 20) AS key0,
         list_slice(list_sort(list(DISTINCT (user_id % 3)::VARCHAR)), 1, 20) AS key1
  FROM events)
SELECT 'event_type' AS key, unnest(key0) AS value FROM kv
UNION ALL
SELECT 'user_mod3' AS key, unnest(key1) AS value FROM kv
"""


def q_values_distribution(spark, sf_dir):
    from hyperdx_spark import metadata

    ev = load_table(spark, sf_dir, "events")
    return metadata.get_values_distribution(ev, "event_type", top=10)


O_VALUES_DISTRIBUTION = """
WITH c AS (SELECT event_type AS value, count(*) AS count FROM events GROUP BY 1)
SELECT value, count, round(count::DOUBLE / sum(count) OVER () * 100, 4) AS pct
FROM c ORDER BY count DESC, value LIMIT 10
"""

# --------------------------------------------------------------------------
# §4 MV rollup rewrite — hourly rollup answers a daily chart (mv.py)
# --------------------------------------------------------------------------

def q_mv_rollup(spark, sf_dir):
    """Build an hourly rollup of events, then answer a daily chart from it
    via the MV rewrite (materializedViews.ts parity). The oracle computes
    the same answer from the raw table — results must be identical."""
    import tempfile

    from hyperdx_spark.mv import AggregatedColumn, MVConfig, compile_with_mv

    mv = MVConfig(
        path=os.path.join(tempfile.mkdtemp(prefix="hdx_mv_"), "events_hourly"),
        dimension_columns=["event_type"],
        min_granularity="1 hour",
        timestamp_column="bucket_ts",
        aggregated_columns=[
            AggregatedColumn("count", "cnt_state"),
            AggregatedColumn("sum", "sum_value", source_column="value"),
            AggregatedColumn("min", "min_value", source_column="value"),
            AggregatedColumn("max", "max_value", source_column="value"),
        ],
    )
    from hyperdx_spark.mv import write_rollup

    write_rollup(load_table(spark, sf_dir, "events"), mv, "ts")
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", alias="cnt"),
            SelectCol(agg_fn="sum", value_expression="value", alias="sum_v"),
            SelectCol(agg_fn="min", value_expression="value", alias="min_v"),
            SelectCol(agg_fn="max", value_expression="value", alias="max_v"),
        ],
        group_by=["event_type"],
        granularity="1 day",
        date_range=RANGE,
    )
    df, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    if not expl[0].success:  # the rewrite MUST engage for this entry
        raise RuntimeError(f"MV rewrite failed: {expl[0].errors}")
    return _round4(df)


O_MV_ROLLUP = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v,
       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
FROM events WHERE {TIME_WHERE} GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# Structured Streaming live tail -> watermarked windowed agg (streaming/)
# --------------------------------------------------------------------------

def q_stream_tail(spark, sf_dir):
    """Live-tail pipeline run to completion with Trigger.AvailableNow: seed
    an ingest dir with two days of events, stream 6-hour windowed counts
    with a 1-hour watermark, return the day-1 buckets (all closed by the
    final watermark, so the emitted set is deterministic)."""
    import tempfile

    from hyperdx_spark.streaming import live_tail, windowed_agg

    seed = tempfile.mkdtemp(prefix="hdx_ingest_")
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(datetime(2024, 1, 1)))
        & (F.col("ts") < F.lit(datetime(2024, 1, 3)))
    )
    ev.coalesce(2).write.mode("overwrite").parquet(seed)
    stream = live_tail(spark, seed, _src())
    agg = windowed_agg(
        stream,
        _src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        window="6 hours",
        watermark="1 hour",
        group_by=["event_type"],
    )
    rows = []  # closed buckets only (append mode): a few dozen rows
    q = (
        agg.writeStream.foreachBatch(lambda b, _: rows.extend(b.collect()))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    out = local_frame(spark, rows, agg.schema)
    return out.where(F.col("__timestamp") < F.lit(datetime(2024, 1, 2)))


O_STREAM_TAIL = """
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 21600) * 21600 * 1000000) AS __timestamp,
       event_type, count(*) AS cnt
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.11 chunked querying — progressive windows, union equals one query
# --------------------------------------------------------------------------

def q_chunked_union(spark, sf_dir):
    """Chunked chart execution (useChartConfig.tsx:73-135): the date range
    splits into the 15m/6h/6h/12h/24h... ladder, each chunk runs
    independently, and the union must equal the single-query answer (the
    oracle computes the latter)."""
    from hyperdx_spark.windows import run_chunked

    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="error",
        where_language="lucene",
        granularity="1 day",
        group_by=["event_type"],
        date_range=RANGE,
    )
    return run_chunked(spark, cfg, sf_dir=sf_dir)


O_CHUNKED_UNION = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type, count(*) AS cnt
FROM events
WHERE {TIME_WHERE}
  AND list_contains(list_filter(string_split_regex(lower(concat_ws(' ', event_type, props)), '[[:punct:][:space:][:cntrl:]]+'), t -> t != ''), 'error')
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.1 PromQL adapter — query_range evaluated natively on Spark (promql.py)
# --------------------------------------------------------------------------

def q_promql(spark, sf_dir):
    """PromQL `sum by (event_type) (sum_over_time(events_value[1d]))` at
    daily steps — the events table exposed as a Prometheus-style samples
    table. The oracle replays the same window join in SQL."""
    from hyperdx_spark.promql import PromQLEngine

    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events_value").alias("__name__"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
    )
    eng = PromQLEngine(ev)
    out = eng.query_range(
        spark,
        "sum by (event_type) (sum_over_time(events_value[1d]))",
        datetime(2024, 1, 2),
        datetime(2024, 1, 8),
        86400,
    )
    return out.select(
        F.col("__step").alias("__timestamp"),
        "event_type",
        F.round("value", 4).alias("value"),
    )


O_PROMQL = """
WITH steps AS (
  SELECT make_timestamp(e * 1000000) AS step
  FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-02')::BIGINT,
                                      epoch(TIMESTAMP '2024-01-08')::BIGINT,
                                      86400)) AS e)
)
SELECT step AS __timestamp, event_type, round(sum(value), 4) AS value
FROM steps JOIN events ON ts > step - INTERVAL 1 DAY AND ts <= step
GROUP BY 1, 2
"""

def _promql_samples(spark, sf_dir):
    """events as a Prometheus-style samples table (one series per type)."""
    return load_table(spark, sf_dir, "events").select(
        F.lit("events_value").alias("__name__"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
    )


def q_promql_hist_quantile(spark, sf_dir):
    """The canonical latency panel: histogram_quantile(0.9, sum by (le)
    (rate(ev_bucket[4h]))) over synthesized cumulative bucket counters
    (le in 25/50/75/+Inf) at 6h steps."""
    from pyspark.sql import Window
    from hyperdx_spark.promql import PromQLEngine

    ev = load_table(spark, sf_dir, "events")
    hour = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 3600).cast("long") * 3600
    ).alias("h")
    hourly = ev.groupBy(hour).agg(
        F.count_if(F.col("value") <= 25).alias("c25"),
        F.count_if(F.col("value") <= 50).alias("c50"),
        F.count_if(F.col("value") <= 75).alias("c75"),
        F.count("*").alias("cinf"),
    )
    long = hourly.selectExpr(
        "h", "stack(4, '25', c25, '50', c50, '75', c75, '+Inf', cinf) AS (le, c)"
    )
    w = Window.partitionBy("le").orderBy("h")
    samples = long.select(
        F.lit("ev_bucket").alias("__name__"),
        F.col("h").alias("ts"),
        F.sum("c").over(w).cast("double").alias("value"),
        "le",
    )
    out = PromQLEngine(samples).query_range(
        spark,
        "histogram_quantile(0.9, sum by (le) (rate(ev_bucket[4h])))",
        datetime(2024, 1, 2),
        datetime(2024, 1, 8),
        21600,
    )
    return out.where(F.col("value").isNotNull()).select(
        F.col("__step").alias("__timestamp"), F.round("value", 4).alias("value")
    )


O_PROMQL_HIST_QUANTILE = """
WITH hours AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600 * 1000000) AS h,
         count(*) FILTER (value <= 25) AS c25,
         count(*) FILTER (value <= 50) AS c50,
         count(*) FILTER (value <= 75) AS c75,
         count(*) AS cinf
  FROM events GROUP BY 1),
cum AS (
  SELECT h,
         sum(c25) OVER (ORDER BY h)::DOUBLE AS v25,
         sum(c50) OVER (ORDER BY h)::DOUBLE AS v50,
         sum(c75) OVER (ORDER BY h)::DOUBLE AS v75,
         sum(cinf) OVER (ORDER BY h)::DOUBLE AS vinf
  FROM hours),
d AS (
  SELECT h, lag(h) OVER (ORDER BY h) AS ph,
         v25 - lag(v25) OVER (ORDER BY h) AS d25,
         v50 - lag(v50) OVER (ORDER BY h) AS d50,
         v75 - lag(v75) OVER (ORDER BY h) AS d75,
         vinf - lag(vinf) OVER (ORDER BY h) AS dinf
  FROM cum),
steps AS (
  SELECT make_timestamp(e * 1000000) AS step
  FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-02')::BIGINT,
                                      epoch(TIMESTAMP '2024-01-08')::BIGINT,
                                      21600)) AS e)),
r AS (
  SELECT step, sum(d25) / 14400.0 AS r25, sum(d50) / 14400.0 AS r50,
         sum(d75) / 14400.0 AS r75, sum(dinf) / 14400.0 AS rinf
  FROM steps JOIN d ON h <= step AND ph >= step - INTERVAL 4 HOUR
  GROUP BY 1),
q AS (
  SELECT step,
    CASE
      WHEN rinf IS NULL OR rinf <= 0 THEN NULL
      WHEN r25 >= 0.9 * rinf THEN
        CASE WHEN r25 - 0 > 0 THEN 0 + (25.0 - 0) * ((0.9 * rinf - 0) / (r25 - 0)) END
      WHEN r50 >= 0.9 * rinf THEN
        CASE WHEN r50 - r25 > 0 THEN 25.0 + (50.0 - 25.0) * ((0.9 * rinf - r25) / (r50 - r25)) END
      WHEN r75 >= 0.9 * rinf THEN
        CASE WHEN r75 - r50 > 0 THEN 50.0 + (75.0 - 50.0) * ((0.9 * rinf - r50) / (r75 - r50)) END
      ELSE 75.0 END AS value
  FROM r)
SELECT step AS __timestamp, round(value, 4) AS value FROM q WHERE value IS NOT NULL
"""


def q_promql_offset(spark, sf_dir):
    """`offset 1d` modifier: yesterday's daily sums reported on today's
    step axis."""
    from hyperdx_spark.promql import PromQLEngine

    out = PromQLEngine(_promql_samples(spark, sf_dir)).query_range(
        spark,
        "sum by (event_type) (sum_over_time(events_value[1d] offset 1d))",
        datetime(2024, 1, 3),
        datetime(2024, 1, 9),
        86400,
    )
    return out.select(
        F.col("__step").alias("__timestamp"),
        "event_type",
        F.round("value", 4).alias("value"),
    )


O_PROMQL_OFFSET = """
WITH steps AS (
  SELECT make_timestamp(e * 1000000) AS step
  FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-03')::BIGINT,
                                      epoch(TIMESTAMP '2024-01-09')::BIGINT,
                                      86400)) AS e)
)
SELECT step AS __timestamp, event_type, round(sum(value), 4) AS value
FROM steps JOIN events
  ON ts > step - INTERVAL 2 DAY AND ts <= step - INTERVAL 1 DAY
GROUP BY 1, 2
"""


def q_promql_absent(spark, sf_dir):
    """absent(): value 1 at every step where the selector matches nothing."""
    from hyperdx_spark.promql import PromQLEngine

    out = PromQLEngine(_promql_samples(spark, sf_dir)).query_range(
        spark,
        'absent(events_value{event_type="nosuch"})',
        datetime(2024, 1, 2),
        datetime(2024, 1, 8),
        86400,
    )
    return out.select(F.col("__step").alias("__timestamp"), "value")


O_PROMQL_ABSENT = """
SELECT make_timestamp(e * 1000000) AS __timestamp, 1.0 AS value
FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-02')::BIGINT,
                                    epoch(TIMESTAMP '2024-01-08')::BIGINT,
                                    86400)) AS e)
"""

# --------------------------------------------------------------------------
# §2.1 CTEs, §2.4 sample-weighted aggs, §2.3 correlation semi-join
# --------------------------------------------------------------------------

def q_cte_two_level(spark, sf_dir):
    """CTE pipeline (renderWith): hourly error counts -> daily peak."""
    inner = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="error",
        where_language="lucene",
        granularity="1 hour",
        group_by=["event_type"],
        date_range=RANGE,
    )
    outer = ChartConfig(
        source=Source(table="__hdx_cte_hourly", timestamp_value_expression="__timestamp"),
        ctes=[("__hdx_cte_hourly", inner)],
        select=[SelectCol(agg_fn="max", value_expression="cnt", alias="peak_hourly")],
        granularity="1 day",
        group_by=["event_type"],
        date_range=RANGE,
    )
    return compile_chart_config(spark, outer, sf_dir=sf_dir)


O_CTE_TWO_LEVEL = f"""
WITH hourly AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600 * 1000000) AS h,
         event_type, count(*) AS cnt
  FROM events
  WHERE {TIME_WHERE}
    AND list_contains(list_filter(string_split_regex(lower(concat_ws(' ', event_type, props)), '[[:punct:][:space:][:cntrl:]]+'), t -> t != ''), 'error')
  GROUP BY 1, 2)
SELECT make_timestamp((floor(epoch(h))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type, max(cnt)::DOUBLE AS peak_hourly
FROM hourly GROUP BY 1, 2
"""


def q_sample_weighted(spark, sf_dir):
    """Sample-weighted aggregations (renderChartConfig.ts:553-624): the
    source declares sampleRateExpression; count becomes sum(weight), sum
    becomes sum(x*w), avg becomes sum(x*w)/sum(w). Weight here is the
    deterministic 1 + user_id % 4."""
    src = Source(
        table="events",
        timestamp_value_expression="ts",
        sample_rate_expression="1 + user_id % 4",
    )
    cfg = ChartConfig(
        source=src,
        select=[
            SelectCol(agg_fn="count", alias="est_count"),
            SelectCol(agg_fn="sum", value_expression="value", alias="est_sum"),
            SelectCol(agg_fn="avg", value_expression="value", alias="est_avg"),
        ],
        group_by=["event_type"],
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir=sf_dir))


O_SAMPLE_WEIGHTED = f"""
SELECT event_type,
       sum(greatest(coalesce(try_cast(1 + user_id % 4 AS BIGINT), 0), 1))::BIGINT AS est_count,
       round(sum({_NUMV} * greatest(1 + user_id % 4, 1)), 4) AS est_sum,
       round(sum({_NUMV} * greatest(1 + user_id % 4, 1))
             / sum(greatest(1 + user_id % 4, 1)), 4) AS est_avg
FROM events WHERE {TIME_WHERE}
GROUP BY 1
"""


def q_gauge_delta(spark, sf_dir):
    """Gauge isDelta variant (renderDeltaExpression): per (series, day)
    extrapolated delta (argMax - argMin) * interval / time_diff. Samples
    are pre-deduped per (ts, series) so argMax/argMin tie-breaking cannot
    differ between engines."""
    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    samples = ev.groupBy("ts", "event_type").agg(F.max("value").alias("value"))
    out = metrics.gauge_bucket(
        samples,
        ts="ts",
        value="value",
        series_cols=["event_type"],
        bucket_seconds=86400,
        group_cols=["event_type"],
        agg="sum",
        is_delta=True,
    )
    return _round4(out)


O_GAUGE_DELTA = f"""
WITH samples AS (
  SELECT ts, event_type, max(value) AS value
  FROM events WHERE {TIME_WHERE} GROUP BY 1, 2),
per AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         event_type,
         arg_max(value, ts) - arg_min(value, ts) AS vd,
         floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS td
  FROM samples GROUP BY 1, 2)
SELECT __timestamp, event_type,
       round(CASE WHEN td > 0 THEN vd * 86400.0 / td ELSE 0 END, 4) AS value
FROM per
"""


def q_weighted_quantile(spark, sf_dir):
    """Sample-weighted quantile (quantileTDigestWeighted analogue): Spark's
    exact percentile with an integer frequency; the oracle repeats each
    value weight times via generate_series."""
    src = Source(
        table="events",
        timestamp_value_expression="ts",
        sample_rate_expression="1 + user_id % 4",
    )
    cfg = ChartConfig(
        source=src,
        select=[
            SelectCol(agg_fn="quantile", value_expression="value", level=0.5, alias="p50"),
            SelectCol(agg_fn="quantile", value_expression="value", level=0.9, alias="p90"),
        ],
        group_by=["event_type"],
        date_range=RANGE,
    )
    return _round4(compile_chart_config(spark, cfg, sf_dir=sf_dir))


O_WEIGHTED_QUANTILE = f"""
WITH expanded AS (
  SELECT event_type, {_NUMV} AS v
  FROM events JOIN (VALUES (1),(2),(3),(4)) s(i)
    ON s.i <= greatest(1 + user_id % 4, 1)
  WHERE {TIME_WHERE})
SELECT event_type,
       round(quantile_cont(v, 0.5), 4) AS p50,
       round(quantile_cont(v, 0.9), 4) AS p90
FROM expanded GROUP BY 1
"""


def q_correlated_semi_join(spark, sf_dir):
    """Trace<->log-style correlation (SURVEY §2.3): events of users who had
    an error event in the range — a broadcast left-semi join on the
    correlation key, the Spark form of the reference's `IN (SELECT ...)`
    key-lookup queries."""
    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    errs = ev.where(F.lower("event_type").contains("error")).select("user_id").distinct()
    out = (
        ev.join(F.broadcast(errs), on="user_id", how="left_semi")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("users"),
        )
    )
    return out


O_CORRELATED_SEMI = f"""
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
FROM events
WHERE {TIME_WHERE} AND user_id IN (
  SELECT DISTINCT user_id FROM events
  WHERE {TIME_WHERE} AND lower(event_type) LIKE '%error%')
GROUP BY 1
"""

# --------------------------------------------------------------------------
# §2.10 alert evaluation — distributed backtest over daily error counts
# --------------------------------------------------------------------------

_NTFY_WEBHOOKS = {
    "wh-slack-1": {"id": "wh-slack-1", "name": "slack-alerts", "service": "slack",
                   "url": "https://hooks.example/slack"},
    "wh-gen-1": {"id": "wh-gen-1", "name": "generic-alerts", "service": "generic",
                 "url": "https://hooks.example/gen"},
}
# exercises eq (strict ===), is_match (fires its notify only on view match),
# '@webhook-<name-prefix>' resolution, and the appended default action
_NTFY_TEMPLATE = (
    '{{#if (eq state "ALERT")}}sev:high{{/if}}'
    '{{#is_match "service" "error-search"}} svc-match @webhook-generic '
    "{{/is_match}}"
)


def _notify_rows(bt_rows, cfg):
    """Notify flow under the gate (VERDICT r12 #4): for every fired ALERT
    bucket among the collected backtest rows *bt_rows*, run the full
    ``render_alert_notifications`` pipeline — outer render, directive
    extraction (default '@'-action + is_match-gated name-prefix action),
    webhook resolution, per-channel inner render, slack/generic request
    building — and return md5 hashes of the pure string outputs as extra
    backtest row tuples (state = 'ntfy|<kind>|<hex>') that the DuckDB oracle
    rebuilds from the same deterministic inputs (template.ts:556-768).
    Takes rows and returns rows, so the caller computes the backtest once.
    Buckets render from their UTC instants: ``collect()`` returns naive
    driver-local wall times, which the renderer would read as UTC."""
    import hashlib
    from datetime import timedelta, timezone

    from hyperdx_spark import webhooks

    rows = []
    for r in bt_rows:
        if r["state"] != "ALERT":
            continue
        start = r["__timestamp"].astimezone(timezone.utc)
        end = start + timedelta(days=1)
        title = webhooks.build_title("errors", r["value"])
        rendered, reqs = webhooks.render_alert_notifications(
            title=title,
            hdx_link="https://hdx.example/s/1",
            alert_id="alert-1",
            webhooks_by_id=_NTFY_WEBHOOKS,
            channel_type="webhook",
            webhook_id="wh-slack-1",
            cfg=cfg,
            state="ALERT",
            value=r["value"],
            start_time=start,
            end_time=end,
            source="saved_search",
            template=_NTFY_TEMPLATE,
            view={"state": "ALERT", "service": "error-search"},
        )

        def h(s: str) -> str:
            return hashlib.md5(s.encode("utf-8")).hexdigest()

        pay = [("title", h(title)), ("rendered", h(rendered))]
        for wh, (_url, hdrs, body) in reqs:
            pay.append((wh["service"], h(body)))
            if "Idempotency-Key" in hdrs:
                pay.append(("gidem", hdrs["Idempotency-Key"]))
        rows.extend(
            (start, r["value"], True, r["streak"], f"ntfy|{kind}|{hx}")
            for kind, hx in pay
        )
    return rows


def q_alert_backtest(spark, sf_dir):
    from hyperdx_spark import alerts

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "error")
        .groupBy(
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / 86400).cast("long") * 86400
            ).alias("__timestamp")
        )
        .agg(F.count("*").cast("double").alias("value"))
    )
    cfg = alerts.AlertConfig(threshold=65, num_consecutive_windows=2)
    bt = alerts.backtest(daily, cfg)
    bt_rows = bt.collect()  # one row per daily bucket
    return local_frame(spark, bt_rows + _notify_rows(bt_rows, cfg), bt.schema)


# shared CTE prefix: daily error counts -> backtest state machine -> fired
# buckets -> exact rendered strings -> ntfy hash rows. O_ALERT_BACKTEST and
# O_STREAM_NOTIFY both ride it (the streaming entry must produce the SAME
# notification hashes the batch path does).
_O_BT_CTES = r"""
WITH v AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         count(*)::DOUBLE AS value
  FROM events WHERE event_type = 'error' GROUP BY 1),
d AS (SELECT *, (value >= 65) AS exceeds FROM v),
g AS (SELECT *, sum(CASE WHEN NOT exceeds THEN 1 ELSE 0 END)
               OVER (ORDER BY __timestamp) AS grp FROM d),
s AS (
  SELECT *, CASE WHEN exceeds THEN
      row_number() OVER (PARTITION BY grp ORDER BY __timestamp)
      - (CASE WHEN first_value(exceeds) OVER (PARTITION BY grp ORDER BY __timestamp) THEN 0 ELSE 1 END)
    ELSE 0 END AS streak
  FROM g),
bt AS (
  SELECT __timestamp, value, exceeds, streak,
         CASE WHEN NOT exceeds THEN 'OK'
              WHEN streak >= 2 THEN 'ALERT'
              ELSE 'PENDING' END AS state
  FROM s),
-- notify flow twin (template.ts:556-768): rebuild the exact rendered
-- strings for every fired daily bucket and hash them like the Spark side
fired AS (
  SELECT __timestamp, value, streak,
         value::BIGINT::VARCHAR AS vs,
         strftime(__timestamp, '%b') || ' ' || day(__timestamp)::VARCHAR
           || ' 12:00:00 AM' AS d1,
         strftime(__timestamp + INTERVAL 1 DAY, '%b') || ' '
           || day(__timestamp + INTERVAL 1 DAY)::VARCHAR || ' 12:00:00 AM' AS d2,
         (floor(epoch(__timestamp))::BIGINT * 1000)::VARCHAR AS stms,
         (floor(epoch(__timestamp + INTERVAL 1 DAY))::BIGINT * 1000)::VARCHAR AS etms
  FROM bt WHERE state = 'ALERT'),
strs AS (
  SELECT __timestamp, value, streak, stms, etms,
    '🚨 Alert for "errors" - ' || vs || ' lines found' AS title,
    chr(10) || vs || ' lines found, which meets or exceeds the threshold of 65 lines'
      || chr(10) || 'Time Range (UTC): [' || d1 || ' - ' || d2 || ')'
      || chr(10) || 'sev:high ' || chr(10) || '```' || chr(10) || chr(10) || '```' AS rendered,
    '\ud83d\udea8 Alert for \"errors\" - ' || vs || ' lines found' AS etitle,
    '\n' || vs || ' lines found, which meets or exceeds the threshold of 65 lines'
      || '\nTime Range (UTC): [' || d1 || ' - ' || d2 || ')'
      || '\nsev:high svc-match   \n```\n\n```' AS ebody,
    sha256('{"alertId":"alert-1","channel":{"type":"webhook","id":"wh-gen-1"},"isGrouped":false}') AS eid
  FROM fired),
pay AS (
  SELECT __timestamp, value, streak, 'title' AS kind, md5(title) AS hx FROM strs
  UNION ALL
  SELECT __timestamp, value, streak, 'rendered', md5(rendered) FROM strs
  UNION ALL
  SELECT __timestamp, value, streak, 'slack',
    md5('{"text": "' || etitle || '", "blocks": [{"type": "section", "text":'
        || ' {"type": "mrkdwn", "text": "*<https://hdx.example/s/1 | '
        || etitle || '>*\n' || ebody || '"}}]}')
  FROM strs
  UNION ALL
  SELECT __timestamp, value, streak, 'generic',
    md5('{"text": "' || etitle || ' | ' || ebody
        || ' | https://hdx.example/s/1 | ALERT | ' || stms || ' | ' || etms
        || ' | ' || eid || '"}')
  FROM strs
  UNION ALL
  SELECT __timestamp, value, streak, 'gidem',
    sha256('{"eventId":"' || eid || '","startTime":"' || stms
           || '","endTime":"' || etms || '","state":"ALERT"}')
  FROM strs)
"""

O_ALERT_BACKTEST = _O_BT_CTES + r"""
SELECT __timestamp, value, exceeds, streak, state FROM bt
UNION ALL
SELECT __timestamp, value, true AS exceeds, streak,
       'ntfy|' || kind || '|' || hx AS state
FROM pay
"""

# the streaming composition's oracle: the ALERT hashes are the SAME pay
# rows; the OK resolution rows (first non-breach bucket after a run whose
# latest state was ALERT — checkAlerts/index.ts:1318-1343) rebuild the
# state='OK' strings (template.ts:669-700 resolved body, ✅ title, per-send
# view state so the eq-"ALERT" block renders empty)
O_STREAM_NOTIFY = _O_BT_CTES.rstrip() + r""",
res0 AS (
  SELECT __timestamp, value, exceeds,
         lag(state) OVER (ORDER BY __timestamp) AS prev_state
  FROM bt),
res AS (
  SELECT __timestamp, value,
         value::BIGINT::VARCHAR AS vs,
         strftime(__timestamp, '%b') || ' ' || day(__timestamp)::VARCHAR
           || ' 12:00:00 AM' AS d1,
         strftime(__timestamp + INTERVAL 1 DAY, '%b') || ' '
           || day(__timestamp + INTERVAL 1 DAY)::VARCHAR || ' 12:00:00 AM' AS d2,
         (floor(epoch(__timestamp))::BIGINT * 1000)::VARCHAR AS stms,
         (floor(epoch(__timestamp + INTERVAL 1 DAY))::BIGINT * 1000)::VARCHAR AS etms
  FROM res0 WHERE NOT exceeds AND prev_state = 'ALERT'),
okstrs AS (
  SELECT __timestamp, value, stms, etms,
    '✅ Alert for "errors" - ' || vs || ' lines found' AS title,
    'The alert has been resolved.' || chr(10) || 'Time Range (UTC): ['
      || d1 || ' - ' || d2 || ')' || chr(10) || ' ' AS rendered,
    '\u2705 Alert for \"errors\" - ' || vs || ' lines found' AS etitle,
    'The alert has been resolved.\nTime Range (UTC): [' || d1 || ' - '
      || d2 || ')\n svc-match   ' AS ebody,
    sha256('{"alertId":"alert-1","channel":{"type":"webhook","id":"wh-gen-1"},"isGrouped":false}') AS eid
  FROM res),
okpay AS (
  SELECT __timestamp, value, 'title' AS kind, md5(title) AS hx FROM okstrs
  UNION ALL
  SELECT __timestamp, value, 'rendered', md5(rendered) FROM okstrs
  UNION ALL
  SELECT __timestamp, value, 'slack',
    md5('{"text": "' || etitle || '", "blocks": [{"type": "section", "text":'
        || ' {"type": "mrkdwn", "text": "*<https://hdx.example/s/1 | '
        || etitle || '>*\n' || ebody || '"}}]}')
  FROM okstrs
  UNION ALL
  SELECT __timestamp, value, 'generic',
    md5('{"text": "' || etitle || ' | ' || ebody
        || ' | https://hdx.example/s/1 | OK | ' || stms || ' | ' || etms
        || ' | ' || eid || '"}')
  FROM okstrs
  UNION ALL
  SELECT __timestamp, value, 'gidem',
    sha256('{"eventId":"' || eid || '","startTime":"' || stms
           || '","endTime":"' || etms || '","state":"OK"}')
  FROM okstrs)
SELECT __timestamp, value, true AS exceeds, streak,
       'ntfy|' || kind || '|' || hx AS state
FROM pay
UNION ALL
SELECT __timestamp, value, false AS exceeds, 0::BIGINT AS streak,
       'okntfy|' || kind || '|' || hx AS state
FROM okpay
"""


def q_stream_notify(spark, sf_dir):
    """The streaming alert→notify composition under the gate (VERDICT r12
    task #6): the reference's cron loop (checkAlerts/index.ts:1110-1420)
    run as ONE Structured Streaming job over a seeded copy of the error
    events — readStream → 1-day watermarked windowed count → per-bucket
    streak state machine → full notification render + webhook request
    building — and every delivered notification (ALERT and the OK
    resolutions, index.ts:1318-1343) emitted as the same md5 rows the
    batch ``ntfy`` part produces. The oracle rebuilds the exact strings in
    SQL, so a green row proves streamed == batch == reference templates.

    A sentinel error event 40 days past the data advances the final
    watermark so every real daily bucket closes and emits; the sentinel's
    own bucket never closes and is never evaluated."""
    import hashlib
    import tempfile
    from datetime import timedelta

    from hyperdx_spark import alerts, webhooks
    from hyperdx_spark.streaming import (
        live_tail,
        stream_alert_notifications,
        windowed_agg,
    )

    seed = tempfile.mkdtemp(prefix="hdx_ntfy_seed_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("ts")
    )
    mx = ev.agg(F.max("ts")).first()[0]
    sentinel = datetime(mx.year, mx.month, mx.day) + timedelta(days=40)
    ev.unionByName(
        local_frame(spark, [(sentinel,)], "ts timestamp")
    ).coalesce(1).write.mode("overwrite").parquet(seed)

    src = Source(table="events", timestamp_value_expression="ts")
    agg = windowed_agg(
        live_tail(spark, seed, src),
        src,
        select=[SelectCol(agg_fn="count", alias="value")],
        window="1 day",
        watermark="0 seconds",
        group_by=[],
    )
    cfg = alerts.AlertConfig(threshold=65, num_consecutive_windows=2)
    notes: list[dict] = []
    q = stream_alert_notifications(
        agg,
        cfg,
        on_notify=notes.append,
        notify_kwargs=dict(
            title=lambda v, s: webhooks.build_title("errors", v, state=s),
            hdx_link="https://hdx.example/s/1",
            alert_id="alert-1",
            webhooks_by_id=_NTFY_WEBHOOKS,
            channel_type="webhook",
            webhook_id="wh-slack-1",
            source="saved_search",
            template=_NTFY_TEMPLATE,
            view={"state": "ALERT", "service": "error-search"},
        ),
        bucket_duration=timedelta(days=1),
        trigger_available_now=True,
    )
    q.awaitTermination(600)

    def h(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    rows = []
    for d in notes:
        pre = "ntfy" if d["state"] == "ALERT" else "okntfy"
        pay = [("title", h(d["title"])), ("rendered", h(d["rendered"]))]
        for wh, (_url, hdrs, body) in d["requests"]:
            pay.append((wh["service"], h(body)))
            if "Idempotency-Key" in hdrs:
                pay.append(("gidem", hdrs["Idempotency-Key"]))
        rows.extend(
            (
                d["ts"],
                d["value"],
                d["state"] == "ALERT",
                d["streak"],
                f"{pre}|{kind}|{hx}",
            )
            for kind, hx in pay
        )
    return local_frame(
        spark,
        rows,
        "__timestamp timestamp, value double, exceeds boolean,"
        " streak long, state string",
    )

# --------------------------------------------------------------------------
# §2.11 Drain pattern mining + event deltas
# --------------------------------------------------------------------------

def q_log_patterns(spark, sf_dir):
    """Drain template mining over synthesized log bodies. The 200k sample
    (the q_emerging_signals envelope) covers every row at any sf the
    driver or judge runs (<= sf0.2 events), so templates and counts are
    deterministic and oracle-checkable — r14: the old 10k sample silently
    under-covered sf0.1 (100k events) and the 'patterns' counts came out
    ~10x low against the full-count oracle."""
    from hyperdx_spark.analytics import drain

    ev = load_table(spark, sf_dir, "events")
    bodies = ev.select(
        F.concat(
            F.col("event_type"), F.lit(" user "), (F.col("user_id") % 7).cast("string"),
            F.lit(" took "), F.floor("value").cast("string"), F.lit(" ms"),
        ).alias("body")
    )
    patterns = drain.mine_patterns(bodies, text_col="body", sample_size=200_000)
    return local_frame(
        spark,
        [(p.pattern, p.sample_count) for p in patterns],
        "pattern string, n long",
    )


O_LOG_PATTERNS = """
SELECT event_type || ' user <*> took <*> ms' AS pattern, count(*) AS n
FROM events GROUP BY event_type
"""


def q_event_deltas(spark, sf_dir):
    """Rank properties whose value distributions separate error events from
    the rest (distributed event-deltas)."""
    from hyperdx_spark.analytics import event_deltas

    ev = load_table(spark, sf_dir, "events")
    props = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("vbucket"), F.floor(F.col("value") / 100).cast("int").cast("string"),
        F.lit("user_mod"), (F.col("user_id") % 5).cast("string"),
    )
    out = event_deltas.rank_properties(
        ev, target=F.col("event_type") == "error", properties=props
    )
    return _round4(out.select("key", "base_score", "score"))


O_EVENT_DELTAS = """
WITH kv AS (
  SELECT (event_type = 'error') AS t, 'k' AS k, coalesce(json_extract_string(props, '$.k'), '') AS v FROM events
  UNION ALL
  SELECT (event_type = 'error'), 'vbucket', (floor(value / 100)::INT)::VARCHAR FROM events
  UNION ALL
  SELECT (event_type = 'error'), 'user_mod', (user_id % 5)::VARCHAR FROM events),
occ AS (SELECT t, k, count(*) AS n FROM kv GROUP BY 1, 2),
gated AS (SELECT kv.* FROM kv JOIN occ USING (t, k) WHERE occ.n >= 5),
vo AS (SELECT t, k, v, count(*)::DOUBLE AS c FROM gated GROUP BY 1, 2, 3),
sides AS (
  SELECT k, v, sum(c) FILTER (t) AS tc, sum(c) FILTER (NOT t) AS bc
  FROM vo GROUP BY 1, 2),
tot AS (
  SELECT k, v, coalesce(tc, 0) AS tc, coalesce(bc, 0) AS bc,
         sum(coalesce(tc, 0)) OVER (PARTITION BY k) AS tsum,
         sum(coalesce(bc, 0)) OVER (PARTITION BY k) AS bsum
  FROM sides),
scored AS (
  SELECT k,
         max(CASE WHEN tsum > 0 AND bsum > 0
                  THEN abs(tc / tsum * 100 - bc / bsum * 100)
                  ELSE (CASE WHEN tsum > 0 THEN tc ELSE bc END)
                       / (CASE WHEN tsum > 0 THEN tsum ELSE bsum END) * 100 END) AS raw,
         count(*) AS nv, max(tsum) AS tsum, max(bsum) AS bsum
  FROM tot GROUP BY 1)
SELECT k AS key,
       round(CASE WHEN tsum > 0 AND bsum > 0 THEN raw
             WHEN nv > 1 THEN raw ELSE 0 END, 4) AS base_score,
       round(CASE WHEN tsum > 0 AND bsum > 0 THEN raw
             WHEN nv > 1 THEN raw ELSE 0 END, 4) AS score
FROM scored
"""

# --------------------------------------------------------------------------
# TPC-H-style relational analytics (joins / wide aggs)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    from hyperdx_spark.io import ensure_min_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,6)"
    # Exact decimal sums, emitted as DOUBLE: decimal->double conversion is
    # correctly rounded in both Spark (BigDecimal.doubleValue) and DuckDB, so
    # both engines produce bit-identical doubles from the same exact sum.
    # Averages are derived from the exact sums (one IEEE division), never from
    # float-ordered avg() whose partial-sum order is nondeterministic.
    # Decimal(38) aggregation is BigDecimal-backed (no codegen primitive),
    # so the narrow projection is widened to full task parallelism when the
    # scan under-partitions (small-file case only — no-op at scale; decimal
    # addition is exactly associative, the sums are partition-invariant).
    # r16: hash-spread on l_extendedprice (high-cardinality, already in
    # the projection) instead of round-robin — keyless repartition pays a
    # whole-row local sort (SPARK-23207 retry determinism); a column hash
    # is deterministic per row, so it needs no sort, and decimal addition
    # is partition-invariant.
    narrow = ensure_min_parallelism(
        li.where(F.col("l_shipdate") <= F.lit(datetime(2000, 9, 2))).select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        ),
        key_cols=["l_extendedprice"],
        # where/select are narrow — same partitioning as the scan; probing
        # the memoized scan frame lets the partition-count memo hit (io.py)
        probe=li,
    )
    # r16: each aggregate/projection is one parsed SQL expression (inline
    # alias) instead of a 4-6-RPC Column tree — identical expressions
    # (integer literal 1, left-assoc products, same cast points); see
    # dedup.shingle_rows construction note
    out = (
        narrow
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"sum(cast(l_quantity AS {dec})) AS _sum_qty"),
            F.expr(f"sum(cast(l_extendedprice AS {dec})) AS _sum_base_price"),
            F.expr(
                f"sum(cast(l_extendedprice * (1 - l_discount) AS {dec}))"
                " AS _sum_disc_price"
            ),
            F.expr(
                "sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
                f" AS {dec})) AS _sum_charge"
            ),
            F.expr(f"sum(cast(l_discount AS {dec})) AS _sum_disc"),
            F.expr("count(*) AS count_order"),
        )
        .selectExpr(
            "l_returnflag",
            "l_linestatus",
            "cast(_sum_qty AS double) AS sum_qty",
            "cast(_sum_base_price AS double) AS sum_base_price",
            "cast(_sum_disc_price AS double) AS sum_disc_price",
            "cast(_sum_charge AS double) AS sum_charge",
            "cast(_sum_qty AS double) / count_order AS avg_qty",
            "cast(_sum_base_price AS double) / count_order AS avg_price",
            "cast(_sum_disc AS double) / count_order AS avg_disc",
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


O_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(38,6))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(38,6))::DOUBLE AS sum_base_price,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(38,6))::DOUBLE AS sum_disc_price,
       sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(38,6))::DOUBLE AS sum_charge,
       sum(l_quantity::DECIMAL(38,6))::DOUBLE / count(*) AS avg_qty,
       sum(l_extendedprice::DECIMAL(38,6))::DOUBLE / count(*) AS avg_price,
       sum(l_discount::DECIMAL(38,6))::DOUBLE / count(*) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 demo. Join-strategy policy (VERDICT r6 #3): `customer`
    grows with scale factor (150k x sf rows), so it gets NO broadcast
    hint — AQE picks broadcast at bench scale and falls back to a
    shuffle join at cluster scale, where a forced broadcast would OOM
    the driver. Only fixed-size dims (nation=25, region=5 rows) are
    hard-hinted in these demo entries."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,6)"
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit(datetime(1998, 3, 15)))
            & (F.col("l_shipdate") > F.lit(datetime(1998, 3, 15)))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
            ).alias("_revenue")
        )
        .orderBy(F.desc("_revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey", "o_orderdate", "o_orderpriority",
            F.col("_revenue").cast("double").alias("revenue"),
        )
    )
    return out


O_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(38,6))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_tpch_q5ish(spark, sf_dir):
    """TPC-H Q5-ish demo. customer/supplier scale with sf (150k/10k x sf
    rows) so they carry NO broadcast hint — AQE decides (broadcast at
    bench scale, shuffle join at cluster scale). nation (25 rows) and
    region (5 rows) are fixed-size and keep the hard hint."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dec = "decimal(38,6)"
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(
            (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
            & (F.col("o_orderdate") < F.lit(datetime(1997, 1, 1)))
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
            ).alias("_revenue"),
            F.count("*").alias("n_items"),
        )
        .select(
            "r_name", "n_name",
            F.col("_revenue").cast("double").alias("revenue"),
            "n_items",
        )
    )
    return out


O_TPCH_Q5 = """
SELECT r_name, n_name,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(38,6))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2
"""


def q_top_customers(spark, sf_dir):
    """Top-spend demo. `customer` is sf-scaled, so no broadcast hint —
    AQE broadcasts at bench scale and shuffles at cluster scale (see
    q_tpch_q3's docstring for the policy)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,6)"
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(dec)).alias("_total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("_total_spend"), F.asc("c_custkey"))
        .limit(10)
        .select(
            "c_custkey", "c_name",
            F.col("_total_spend").cast("double").alias("total_spend"),
            "n_orders",
        )
    )


O_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       sum(o_totalprice::DECIMAL(38,6))::DOUBLE AS total_spend,
       count(*)::BIGINT AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey LIMIT 10
"""

# --------------------------------------------------------------------------
# Training-data pipeline: text analysis
# --------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """Corpus text signals per source: token/quality/language stats, char
    entropy (Arrow worker), Gopher duplicate-line fraction, PII audit counts
    (email/ipv4 regex hits), GPT-2 pre-token counts (bpe_token_count), and
    the paper filter tiers — Gopher quality conjunction (Rae'21 A1.1) and
    C4 page-keep (Raffel'20 §2.2) — each DuckDB-replayed rule for rule."""
    docs = load_table(spark, sf_dir, "documents")
    # single-row-group parquet delivers 1-2 scan partitions regardless of
    # maxPartitionBytes; widen once so the Arrow worker AND the top-term
    # explode use every core (no-op when the scan already has enough tasks)
    from hyperdx_spark.io import ensure_min_parallelism

    # guarded probe (VERDICT r7 #4); r16: doc_id hash instead of
    # round-robin skips the sort-before-repartition (see io.py)
    docs = ensure_min_parallelism(docs, key_cols=["doc_id"])
    from hyperdx_spark.pipeline import bpe as _bpe

    pii = text.pii_counts("text")
    docs = text.gopher_repetition_signals(docs)  # r8: Rae'21 A1.1 family
    out = (
        # FUSED pass (text.corpus_signals): all eight per-doc text signals —
        # tokens/quality/language (analyze), entropy, duplicate-line
        # fraction, Gopher conjunction, C4 keep — in ONE Arrow worker with
        # one text decode per doc, bit-identical to the composed Column
        # operators (pytest-asserted signal-by-signal). The composed form
        # re-derived the token/word/line arrays per signal family through
        # interpreted HOFs — ~5× this per byte (round-4 profile). The
        # JVM-regex signals (PII counts, GPT-2 pre-token count) stay
        # Column-side: they're single codegen'd regex passes.
        text.corpus_signals(docs)
        # r16: one withColumns map per dependency tier instead of five
        # withColumn calls (each a driver RPC); __bpev reads __bpeids so
        # it lands in a second map — intermediate column ORDER shifts
        # (__bpev appended last) but the aggregate below reads by name
        .withColumns(
            {
                "__bpe": text.bpe_token_count("text"),
                "__bpeids": _bpe.encode_token_ids(
                    "text", [("e", "r"), ("t", "h"), ("i", "n"), ("o", "u")]
                ),
                "__n_email": pii["email"],
                "__n_ipv4": pii["ipv4"],
            }
        )
        .withColumns({"__bpev": F.size("__bpeids").cast("long")})
        # trained-vocab encoding: ONE Arrow pass (bpe.encode_token_ids over
        # bpe.build_vocab) serves BOTH gate columns — the token count is
        # size(ids) by construction, so the r10 encode_token_count pass is
        # subsumed rather than run alongside (keeps the text tier at the
        # same pass count at sf10). The merge pairs use pairwise-DISJOINT
        # character sets, so the token STREAM is exactly a leftmost-first
        # regex scan '(er|th|in|ou|.)' per pre-token piece: counts replay
        # as len(piece) - per-pair greedy replace counts, ids as a CASE
        # lookup over the scan; chars outside the 12-token vocab -> -1.
        .groupBy("source")
        .agg(
            # r16: each aggregate is one parsed SQL expression (alias
            # inline — the separate .alias() call was one more RPC each)
            # instead of a 3-5-RPC Column tree — same expressions, ~140
            # fewer driver round trips per construction (see
            # dedup.shingle_rows note)
            F.expr("count(*) AS n_docs"),
            F.expr("sum(__sig.n_tokens) AS total_tokens"),
            F.expr("round(avg(__sig.quality), 4) AS avg_quality"),
            F.expr("round(avg(__sig.stopword_ratio), 4) AS avg_sw_ratio"),
            F.expr("count_if(__sig.lang_pred = 'en') AS n_en"),
            F.expr("round(avg(__sig.char_entropy), 4) AS avg_entropy"),
            F.expr("round(avg(__sig.dup_line_frac), 4) AS avg_dup_line"),
            F.expr("sum(__n_email) AS n_email"),
            F.expr("sum(__n_ipv4) AS n_ipv4"),
            F.expr("sum(__bpe) AS total_bpe_tokens"),
            F.expr("sum(__bpev) AS total_vocab_tokens"),
            F.expr(
                "sum(aggregate(__bpeids, cast(0 AS bigint), (a, x) -> a + x))"
                " AS vocab_id_sum"
            ),
            F.expr("sum(size(filter(__bpeids, x -> x = -1))) AS n_unk_ids"),
            F.expr("count_if(__sig.gopher_pass) AS n_gopher_pass"),
            F.expr("count_if(__sig.c4_keep) AS n_c4_keep"),
            # r8: the Gopher REPETITION family (gopher_repetition_signals)
            # — paragraph dup fracs, top-2-gram and dup-5-gram character
            # coverage, each DuckDB-replayed expression for expression (the
            # full 13-signal conjunction is pytest-oracled vs an
            # independent reference, test_pipeline_fuzz)
            F.expr("round(avg(__rep.dup_para_frac), 4) AS avg_dup_para"),
            F.expr(
                "round(avg(__rep.dup_line_char_frac), 4) AS avg_dup_line_char"
            ),
            F.expr("round(avg(__rep.top_2gram_char_frac), 4) AS avg_top2"),
            F.expr("round(avg(__rep.dup_5gram_char_frac), 4) AS avg_dup5"),
        )
    )
    # vocabulary tier: most frequent token per source (text.vocabulary's
    # explode -> (token, group) aggregate shape, scoped per source).
    # r16: SQL-text construction (one parse per projection, inline
    # tokenizer — identical to text.tokens); DESC/ASC keep Spark's default
    # NULLS LAST/FIRST, same as F.desc/F.asc
    from hyperdx_spark.pipeline.text import TOKEN_SPLIT as _TSPLIT

    tt = (
        docs.selectExpr(
            "source",
            f"explode(filter(split(lower(text), '{_TSPLIT}'),"
            " t -> t != '')) AS t",
        )
        .groupBy("source", "t")
        .agg(F.expr("count(*) AS cnt"))
    )
    tt1 = (
        tt.selectExpr(
            "source", "t", "cnt",
            "row_number() OVER (PARTITION BY source"
            " ORDER BY cnt DESC, t ASC) AS rn",
        )
        .where("rn = 1")
        .selectExpr("source", "t AS top_term", "cnt AS top_term_tf")
    )
    return out.join(tt1, on="source")


_TOKS = "list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t != '')"
_SW = "['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','that','this','with','as','for','on','at','by','from','not','but','had','has','have','he','she','they','we','you','i','his','her','its']"
_SW_RATIO = (
    f"(CASE WHEN len({_TOKS}) > 0 THEN "
    f"len(list_filter({_TOKS}, t -> list_contains({_SW}, t)))::DOUBLE / len({_TOKS}) "
    f"ELSE 0.0 END)"
)
_N = "length(text)::DOUBLE"
_PUNCT = r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))"
_DIGIT = f"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
_QUALITY = (
    f"((least({_N} / 500.0, 1.0)"
    f" + (1.0 - least({_PUNCT}::DOUBLE / greatest({_N}, 1.0) * 5.0, 1.0))"
    f" + (1.0 - least({_DIGIT}::DOUBLE / greatest({_N}, 1.0) * 5.0, 1.0))"
    f" + least({_SW_RATIO} * 4.0, 1.0)) / 4.0)"
)
# char entropy via H = log2(n) - sum_c cnt*log2(cnt) / n (the same identity
# the Spark run-length fold uses; O(distinct x n) is fine at oracle doc sizes)
_CHARS = "string_split_regex(lower(text), '')"
_ENTROPY = (
    f"(CASE WHEN length(text) > 0 THEN log2(len({_CHARS}))"
    f" - list_sum(list_transform(list_distinct({_CHARS}),"
    f" d -> len(list_filter({_CHARS}, c -> c = d))::DOUBLE"
    f" * log2(len(list_filter({_CHARS}, c -> c = d))::DOUBLE)))"
    f" / len({_CHARS}) ELSE 0.0 END)"
)
_LINES = "list_filter(string_split(text, chr(10)), l -> trim(l) != '')"
_DUP_LINE = (
    f"(CASE WHEN len({_LINES}) > 0 THEN"
    f" (len({_LINES}) - len(list_distinct({_LINES})))::DOUBLE / len({_LINES})"
    f" ELSE 0.0 END)"
)
_EMAIL_PAT = "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'"
_IPV4_PAT = r"'\b(?:\d{1,3}\.){3}\d{1,3}\b'"
# GPT-2 pre-tokenizer piece count (text.bpe_token_count replay): the pattern
# splits identically under Java regex and RE2; whitespace-run pieces excluded
_BPE_PAT_SQL = "'" + text.BPE_PRETOKEN_PATTERN.replace("'", "''") + "'"
_BPE_COUNT = (
    f"len(list_filter(regexp_extract_all(text, {_BPE_PAT_SQL}),"
    r" p -> regexp_matches(p, '\S')))"
)

# trained-vocab token count (bpe.encode_token_count with the disjoint-pair
# merge list [er, th, in, ou]): every piece starts as per-char tokens, each
# merge application removes one token, and with pairwise-disjoint character
# sets each pair's greedy application count equals an independent
# left-to-right replace on the original piece — tokens = len - sum_p occ(p)
_BPEV_PAIRS = ["er", "th", "in", "ou"]
# r11: id replay of bpe.encode_token_ids. The token stream per pre-token
# piece is a leftmost-first RE2 scan (pairs before the single-char '.');
# ids hardcoded to the expected build_vocab output (sorted merge-part chars
# then merge-order tokens), unknown chars -> -1.
_BPEV_TOKENS = (
    f"flatten(list_transform(regexp_extract_all(text, {_BPE_PAT_SQL}),"
    " p -> regexp_extract_all(p, '(?s)er|th|in|ou|.')))"
)
_BPEV_ID = (
    "CASE t WHEN 'e' THEN 0 WHEN 'h' THEN 1 WHEN 'i' THEN 2 WHEN 'n' THEN 3"
    " WHEN 'o' THEN 4 WHEN 'r' THEN 5 WHEN 't' THEN 6 WHEN 'u' THEN 7"
    " WHEN 'er' THEN 8 WHEN 'th' THEN 9 WHEN 'in' THEN 10 WHEN 'ou' THEN 11"
    " ELSE -1 END"
)
_BPEV_COUNT = (
    f"coalesce(list_sum(list_transform(regexp_extract_all(text, {_BPE_PAT_SQL}),"
    " p -> length(p)"
    + "".join(
        f" - (length(p) - length(replace(p, '{pr}', ''))) // 2"
        for pr in _BPEV_PAIRS
    )
    + ")), 0)"
)

# Gopher quality-filter conjunction (text.gopher_flags replay, paper
# thresholds) and the C4 page-keep flag (text.c4_flags replay)
_WORDS = r"list_filter(string_split_regex(trim(text), '\s+'), w -> w != '')"
_LINES = "list_filter(string_split(text, chr(10)), l -> trim(l) != '')"
_GOPHER_PASS = f"""(
  len({_WORDS}) BETWEEN 50 AND 100000
  AND (CASE WHEN len({_WORDS}) > 0 THEN
        coalesce(list_sum(list_transform({_WORDS}, w -> length(w))), 0)::DOUBLE
        / len({_WORDS}) ELSE 0.0 END) BETWEEN 3.0 AND 10.0
  AND (CASE WHEN len({_WORDS}) > 0 THEN
        (length(text) - length(replace(text, '#', ''))
         + (length(text) - length(replace(text, '...', ''))) / 3.0)::DOUBLE
        / len({_WORDS}) ELSE 0.0 END) <= 0.1
  AND (CASE WHEN len({_LINES}) > 0 THEN
        len(list_filter({_LINES}, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
                                        OR ltrim(l) LIKE '•%'))::DOUBLE
        / len({_LINES}) ELSE 0.0 END) <= 0.9
  AND (CASE WHEN len({_LINES}) > 0 THEN
        len(list_filter({_LINES}, l -> rtrim(l) LIKE '%...'
                                        OR rtrim(l) LIKE '%…'))::DOUBLE
        / len({_LINES}) ELSE 0.0 END) <= 0.3
  AND (CASE WHEN len({_WORDS}) > 0 THEN
        len(list_filter({_WORDS}, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
        / len({_WORDS}) ELSE 0.0 END) >= 0.8
  AND len(list_filter(['the','be','to','of','and','that','have','with'],
                      s -> list_contains({_TOKS}, s))) >= 2
)"""
_C4_CLEANED = (
    f"array_to_string(list_filter({_LINES},"
    " l -> (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!' OR rtrim(l) LIKE '%?'"
    " OR rtrim(l) LIKE '%\"')"
    r" AND len(list_filter(string_split_regex(trim(l), '\s+'), w -> w != ''))"
    " >= 3), chr(10))"
)
_C4_KEEP = f"""(
  NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{{')
  AND len(list_filter(string_split_regex({_C4_CLEANED}, '[.!?]'),
                      s -> trim(s) != '')) >= 5
)"""
# r8 Gopher repetition family (text.gopher_repetition_signals replay).
# Space-only strip on line/paragraph elements (the worker's p.strip(' '));
# words are ASCII-\\s runs; gram join is ' ' (injective — words carry no
# whitespace); list slices are 1-based INCLUSIVE in DuckDB. Every list is
# bound ONCE as a CTE column and the lambdas reference the column — the
# naive inline-the-expression-in-every-lambda form recomputes the gram
# list per element and goes combinatorial (>10 min at sf0.01; this runs
# in seconds).
_REP_CTE = r"""
rep AS (
  SELECT doc_id, source, coalesce(length(text), 0) AS nchars,
         list_filter(string_split(text, chr(10) || chr(10)),
                     p -> trim(p, ' ') != '') AS paras,
         list_filter(string_split(text, chr(10)),
                     l -> trim(l, ' ') != '') AS lns,
         list_filter(string_split_regex(text, '\s+'), w -> w != '') AS ws
  FROM documents),
repg AS (
  SELECT *,
         list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1]) AS g2,
         list_transform(generate_series(1, len(ws) - 4),
                        i -> array_to_string(ws[i:i + 4], ' ')) AS g5
  FROM rep),
repm AS (
  SELECT *,
         list_max(list_transform(list_distinct(g2),
                  g -> len(list_filter(g2, x -> x = g)))) AS mx2
  FROM repg),
repsig AS (
  SELECT doc_id, source,
    CASE WHEN len(paras) > 0 THEN
      (len(paras) - len(list_distinct(paras)))::DOUBLE / len(paras)
      ELSE 0.0 END AS dup_para_frac,
    CASE WHEN coalesce(list_sum(list_transform(lns, l -> length(l))), 0) > 0
      THEN (list_sum(list_transform(lns, l -> length(l)))
            - list_sum(list_transform(list_distinct(lns),
                                      l -> length(l))))::DOUBLE
           / list_sum(list_transform(lns, l -> length(l)))
      ELSE 0.0 END AS dup_line_char_frac,
    CASE WHEN len(g2) > 0 AND nchars > 0 AND mx2 >= 2 THEN
      least(mx2 * length(list_min(list_filter(list_distinct(g2),
              g -> len(list_filter(g2, x -> x = g)) = mx2)))::DOUBLE
            / nchars, 1.0)
      ELSE 0.0 END AS top2_frac,
    CASE WHEN len(g5) > 0 AND nchars > 0 THEN
      least(coalesce(list_sum(list_transform(
              list_distinct(flatten(list_transform(
                generate_series(1, len(g5)),
                i -> CASE WHEN len(list_filter(g5, x -> x = g5[i])) >= 2
                     THEN generate_series(i, i + 4)
                     ELSE [] END))),
              p -> length(ws[p]))), 0)::DOUBLE / nchars, 1.0)
      ELSE 0.0 END AS dup5_frac
  FROM repm),
repagg AS (
  SELECT source,
         round(avg(dup_para_frac), 4) AS avg_dup_para,
         round(avg(dup_line_char_frac), 4) AS avg_dup_line_char,
         round(avg(top2_frac), 4) AS avg_top2,
         round(avg(dup5_frac), 4) AS avg_dup5
  FROM repsig GROUP BY 1)
"""

O_TEXT_STATS = f"""
WITH {_REP_CTE},
agg AS (
  SELECT source,
       count(*) AS n_docs,
       sum(len({_TOKS}))::BIGINT AS total_tokens,
       round(avg({_QUALITY}), 4) AS avg_quality,
       round(avg({_SW_RATIO}), 4) AS avg_sw_ratio,
       count(*) FILTER ({_SW_RATIO} >= 0.08) AS n_en,
       round(avg({_ENTROPY}), 4) AS avg_entropy,
       round(avg({_DUP_LINE}), 4) AS avg_dup_line,
       sum(len(regexp_extract_all(text, {_EMAIL_PAT})))::BIGINT AS n_email,
       sum(len(regexp_extract_all(text, {_IPV4_PAT})))::BIGINT AS n_ipv4,
       sum({_BPE_COUNT})::BIGINT AS total_bpe_tokens,
       sum({_BPEV_COUNT})::BIGINT AS total_vocab_tokens,
       sum(coalesce(list_sum(list_transform({_BPEV_TOKENS},
           t -> {_BPEV_ID})), 0))::BIGINT AS vocab_id_sum,
       sum(coalesce(len(list_filter({_BPEV_TOKENS},
           t -> {_BPEV_ID} = -1)), 0))::BIGINT AS n_unk_ids,
       count(*) FILTER ({_GOPHER_PASS}) AS n_gopher_pass,
       count(*) FILTER ({_C4_KEEP}) AS n_c4_keep
  FROM documents GROUP BY 1),
tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
tcnt AS (SELECT source, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
tt AS (SELECT source, t AS top_term, cnt AS top_term_tf,
              row_number() OVER (PARTITION BY source
                                 ORDER BY cnt DESC, t) AS rn
       FROM tcnt)
SELECT agg.*, repagg.avg_dup_para, repagg.avg_dup_line_char,
       repagg.avg_top2, repagg.avg_dup5,
       tt.top_term, tt.top_term_tf::BIGINT AS top_term_tf
FROM agg JOIN repagg USING (source) JOIN tt USING (source) WHERE tt.rn = 1
"""

# --------------------------------------------------------------------------
# Training-data pipeline: dedup family
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


O_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def _docs_with_near_dups(spark, sf_dir):
    """documents UNION a deterministic mutation (known near-dups) so the
    near-dup operators have true positives to find at any sf."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where("doc_id % 10 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "text || ' mutated tail' AS text"
    )
    return docs.unionByName(mutated)


O_DOCS_NEAR = """
docs_near AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' mutated tail' AS text
  FROM documents WHERE doc_id % 10 = 0)
"""


def q_ngram_jaccard(spark, sf_dir):
    df = _docs_with_near_dups(spark, sf_dir)
    out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.6)
    return _round4(out)


def q_winnow_pairs(spark, sf_dir):
    """Partial-copy pairs via winnowing fingerprints (Schleimer'03 / MOSS;
    dedup.winnow_pairs): rolling md5-prefix k-gram hashes, per-window
    minima, inverted-index join on shared fingerprints. The %5 subset
    bounds the O(len*w) interpreted fingerprint cost in the gate while
    keeping every mutated near-dup (doc_id%10==0 implies %5==0)."""
    df = _docs_with_near_dups(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    out = dedup.winnow_pairs(df, k=8, w=16, threshold=0.2)
    return _round4(out)


O_WINNOW_PAIRS = f"""
WITH {O_DOCS_NEAR},
nw AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       FROM docs_near WHERE doc_id % 5 = 0),
g AS (SELECT doc_id,
        list_transform(generate_series(1, greatest(length(t) - 7, 1)),
          i -> CAST(('0x' || substr(md5(substr(t, i::INT, 8)), 1, 15)) AS BIGINT)) AS gh
      FROM nw WHERE length(t) > 0),
fps AS (SELECT doc_id,
        list_distinct(list_transform(
            generate_series(1, greatest(len(gh) - 15, 1)),
            j -> list_min(gh[j:least(j + 15, len(gh))]))) AS f_arr
        FROM g),
ex AS (SELECT doc_id, unnest(f_arr) AS f FROM fps),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ex a JOIN ex b USING (f) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 4) AS overlap
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter::DOUBLE / (sa.sz + sb.sz - n_inter) >= 0.2
"""


O_NGRAM_JACCARD = f"""
WITH {O_DOCS_NEAR},
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t != '') AS tk
  FROM docs_near),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           ELSE [array_to_string(tk, ' ')] END) AS shingles
  FROM toks),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ex a JOIN ex b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter::DOUBLE / (sa.sz + sb.sz - n_inter) >= 0.6
"""


def q_minhash_lsh(spark, sf_dir):
    df = _docs_with_near_dups(spark, sf_dir)
    out = dedup.minhash_lsh_pairs(
        df, num_hashes=32, bands=8, ngram=3, verify_threshold=0.6
    )
    return _round4(out)


def q_simhash_pairs(spark, sf_dir):
    # md5 token-hash variant: bit-for-bit reproducible in DuckDB, so the
    # pigeonhole-exact blocking (max_hamming < blocks) is fully oracle-checked
    df = _docs_with_near_dups(spark, sf_dir)
    return dedup.simhash_near_duplicates(
        df, max_hamming=3, blocks=4, token_hash="md5"
    )


# LSH oracle note: at sf0.01 the banded-LSH candidate sets provably contain
# every >=threshold pair (verified against brute force), so the exact ground
# truth IS the expected output — the verification step re-scores candidates
# exactly, making the result deterministic. MinHash+verify therefore shares
# the n-gram-Jaccard ground truth (same shingles, same threshold).
O_MINHASH_LSH = O_NGRAM_JACCARD

O_SIMHASH_PAIRS = f"""
WITH {O_DOCS_NEAR},
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t != '')) AS t
  FROM docs_near),
hx AS (SELECT doc_id, md5(t) AS hx FROM toks),
bv AS (
  SELECT doc_id, i.b AS b, count(*) AS n,
         sum(((strpos('0123456789abcdef', substr(hx, ((63 - i.b) // 4) + 1, 1)) - 1)
              >> (i.b % 4)) & 1) AS votes
  FROM hx, (SELECT unnest(range(64)) AS b) i
  GROUP BY 1, 2),
fp AS (
  SELECT doc_id, list(CASE WHEN votes * 2 > n THEN 1 ELSE 0 END ORDER BY b) AS bits
  FROM bv GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i]))::INT AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""

# --------------------------------------------------------------------------
# Training-data pipeline: similarity search
# --------------------------------------------------------------------------

def q_ann_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    return _round4(out)


O_ANN_COSINE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS match_id,
         list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS cos
  FROM embeddings e, q WHERE e.vec_id != q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
  FROM scored)
SELECT query_id, match_id, round(cos, 4) AS cos, rank FROM ranked WHERE rank <= 5
"""


def q_embedding_dedup(spark, sf_dir):
    """r14: `exhaustive=True` — the gate's provably-recall-1 config (the
    pairs analogue of nprobe=nlist / refine>=corpus), after sf0.1 showed
    the default banding's ~0.58 boundary recall missing pairs at
    cosine≈0.5 against the exhaustive oracle. The LSH path stays the
    scale path (recall-guarded; SCALE.md sf10 rows) and keeps its own
    pytest coverage."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _round4(
        similarity.cosine_pairs(emb, threshold=0.5, exhaustive=True)
    )


O_EMBEDDING_DEDUP = """
WITH scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cos, 4) AS cos FROM scored WHERE cos >= 0.5
"""


# --------------------------------------------------------------------------
# Multimodal plumbing (stubbed decode — rows-only check)
# --------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    """REAL decode: documents rendered into actual PNG/JPEG/WAV/Y4M payloads,
    decoded by the pure-stdlib codecs (pipeline/codecs.py) and
    feature-extracted via Arrow-batched mapInPandas — no stub in this path.

    ORACLE-CHECKED: the media generator's parameters are pure functions of
    the document's UTF-8 byte length (media_from_documents), so the decoded
    dims / frame counts / sample rates project onto closed forms DuckDB can
    compute from `documents` directly (O_MULTIMODAL_FEATURES). The returned
    frame keeps only those deterministic integer/string columns; the float
    feature slots (mean luma, rms, ...) stay in the internal self-check
    below, which still raises on any codec regression."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(docs)
    out = multimodal.decode_media(media, fake=False)
    expect = docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length("text").alias("__L"),
    )
    chk = out.join(expect, on="media_id").selectExpr(
        "media_id",
        "kind",
        "width",
        "height",
        "features",
        "__L",
        """CASE kind
             WHEN 'image' THEN width = 32 AND height = greatest(CAST(ceil(__L / 32.0) AS INT), 2)
                           AND CAST(features[6] AS INT) = 1  -- grayscale
             WHEN 'audio' THEN width = __L AND height = 8000
                           AND abs(features[5] - __L / 8000.0) < 1e-6
                           AND CAST(features[4] AS INT) = 8000
             WHEN 'video' THEN width = 16 AND height = 16
                           AND CAST(features[0] AS INT) = least(greatest(CAST(__L / 256 AS INT), 1), 4)
                           AND CAST(features[1] AS INT) = 5
             ELSE FALSE END AS __ok""",
    )
    bad = chk.where(~F.col("__ok")).limit(1).collect()
    if bad:
        raise RuntimeError(f"multimodal decode self-check failed: {bad[0]}")
    # Deterministic projection for the DuckDB oracle: every column is an
    # exact small integer (safe in float32 feature slots) or a string.
    return out.selectExpr(
        "media_id",
        "kind",
        "width",
        "height",
        "CASE kind WHEN 'video' THEN CAST(features[0] AS INT) ELSE 0 END AS frames",
        "CASE kind WHEN 'video' THEN CAST(features[1] AS INT) ELSE 0 END AS fps",
        "CASE kind WHEN 'audio' THEN CAST(features[4] AS INT) ELSE 0 END AS rate",
        # duration from the decoded ints (n samples / rate), not the float32
        # duration slot — exact integer microseconds both sides
        "CASE kind WHEN 'audio' THEN CAST(width AS BIGINT) * 1000000 DIV height ELSE CAST(0 AS BIGINT) END AS duration_us",
        "CASE kind WHEN 'image' THEN CAST(features[6] AS INT) ELSE 0 END AS grayscale",
    )


O_MULTIMODAL_FEATURES = """
WITH d AS (SELECT doc_id, strlen(text) AS L
           FROM documents)
SELECT doc_id AS media_id,
  CASE doc_id % 4 WHEN 1 THEN 'audio' WHEN 2 THEN 'video' ELSE 'image' END AS kind,
  CAST(CASE doc_id % 4 WHEN 1 THEN L WHEN 2 THEN 16 ELSE 32 END AS INT) AS width,
  CAST(CASE doc_id % 4 WHEN 1 THEN 8000 WHEN 2 THEN 16
       ELSE greatest((L + 31) // 32, 2) END AS INT) AS height,
  CAST(CASE doc_id % 4 WHEN 2 THEN least(greatest(L // 256, 1), 4) ELSE 0 END AS INT) AS frames,
  CAST(CASE doc_id % 4 WHEN 2 THEN 5 ELSE 0 END AS INT) AS fps,
  CAST(CASE doc_id % 4 WHEN 1 THEN 8000 ELSE 0 END AS INT) AS rate,
  CAST(CASE doc_id % 4 WHEN 1 THEN L * 1000000 // 8000 ELSE 0 END AS BIGINT) AS duration_us,
  CAST(CASE doc_id % 4 WHEN 1 THEN 0 WHEN 2 THEN 0 ELSE 1 END AS INT) AS grayscale
FROM d
"""


# --------------------------------------------------------------------------
# §2.2 filters array: structured sql_ast comparisons + raw SQL filter
# --------------------------------------------------------------------------

def q_sqlast_filters(spark, sf_dir):
    """Filters array (sql_ast + raw sql) AND the dashboard filter-state
    predicate path (filters.py filters_to_query/filter_state_to_predicate,
    filters.ts:44-131 parity): the UI's include/exclude/range selections
    compile to the same WHERE assembly as hand-written filters."""
    from hyperdx_spark.filters import FilterSelection, filter_state_to_predicate

    state_pred = filter_state_to_predicate(
        {
            "event_type": FilterSelection(excluded={"click"}),
            "user_id": FilterSelection(range=(0, 10_000_000_000)),
        }
    )
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        filters=[
            SqlAstFilter(operator=">=", left="value", right=25),
            SqlFilter(condition="user_id % 2 = 0", type="sql"),
            SqlFilter(condition=state_pred, type="sql"),
        ],
        granularity="1 day",
        date_range=RANGE,
    )
    base = compile_chart_config(spark, cfg, sf_dir=sf_dir).select(
        F.lit("filters").alias("part"), "__timestamp", "cnt"
    )
    # r10: Event-Patterns select-alias threading (HDX-1879) — the alias map
    # extracted from a raw select string rides `with_aliases`, so a filter
    # naming the alias resolves (aliasmap.sql_to_alias_map -> ChartConfig)
    from hyperdx_spark.aliasmap import alias_map_to_with_aliases, sql_to_alias_map

    amap = sql_to_alias_map("SELECT event_type as service, ts FROM events")
    alias_cfg = ChartConfig(
        source=_src(),
        with_aliases=alias_map_to_with_aliases(amap),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        filters=[SqlFilter(condition="service = 'error'", type="sql")],
        granularity="1 day",
        date_range=RANGE,
    )
    alias_part = compile_chart_config(spark, alias_cfg, sf_dir=sf_dir).select(
        F.lit("alias").alias("part"), "__timestamp", "cnt"
    )
    # r12: facet key coercion under the gate (facets.py, the app's
    # add-to-filters path) — input=>output pairs encoded into the part
    # column, hash-compared against the reference-pinned expectations
    from hyperdx_spark.facets import to_quoted_clickhouse_key_expression

    known = {"LogAttributes", "my-map", "service-name",
             "__hdx_materialized_k8s.cluster.name", "Body"}
    fk_inputs = [
        "LogAttributes.host",
        "LogAttributes.1",
        "my-map['k']",
        "service-name",
        "__hdx_materialized_k8s.cluster.name",
        "JSONExtractString(Body, 'app.user.currency')",
        "Body.`json`.`field`",
        "ResourceAttributes.host.name",
    ]
    fk = local_frame(
        spark,
        [
            (f"fk|{k}=>{to_quoted_clickhouse_key_expression(k, known)}",
             datetime(1970, 1, 1), 0)
            for k in fk_inputs
        ],
        "part string, __timestamp timestamp, cnt long",
    )
    # r13: row -> exact-row WHERE (useRowWhere.tsx:35-195) — the dispatch
    # branches pinned as input=>output pairs, PLUS the generated WHERE
    # EXECUTED against events through the chcompat shim
    # (parseDateTime64BestEffort / MD5 / leftUTF8 mappings added r13)
    from hyperdx_spark.functions.chcompat import translate_expr
    from hyperdx_spark.rowwhere import process_row_to_where_clause, row_where

    def _cm1(name, ch_type, js_type, expr=None):
        return {name: {"name": name, "type": ch_type, "js_type": js_type,
                       "value_expr": expr or name}}

    rw_cases = [
        ("str", {"name": "o'brien"}, _cm1("name", "String", "string")),
        ("date", {"created_at": "2024-01-01T00:00:00Z"},
         _cm1("created_at", "DateTime64", "date")),
        ("arr", {"tags": ["tag1", "tag2"]},
         _cm1("tags", "Array(String)", "array")),
        ("map", {"attributes": {"key": "value"}},
         _cm1("attributes", "Map(String, String)", "map")),
        ("tuple", {"coordinates": '{"s": "city", "i": 123}'},
         _cm1("coordinates", "Tuple(String, Int32)", "tuple")),
        ("json", {"data": '{"key": "value"}'}, _cm1("data", "JSON", "json")),
        ("dyn", {"dynamic_field": "null"},
         _cm1("dynamic_field", "Dynamic", "dynamic")),
    ]
    rw_rows = [
        (f"rw|{case}=>{process_row_to_where_clause(row, cm)}",
         datetime(1970, 1, 1), 0)
        for case, row, cm in rw_cases
    ]
    ev2 = load_table(spark, sf_dir, "events")
    anchor = ev2.orderBy("event_id").limit(1).collect()[0]
    fn_full = row_where(meta=[
        {"name": "ts", "type": "DateTime64(9, 'UTC')"},
        {"name": "event_type", "type": "String"},
        {"name": "value", "type": "Float64"},
        {"name": "user_id", "type": "Int64"},
    ])
    iso = anchor["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    w_full = fn_full({
        "ts": iso, "event_type": anchor["event_type"],
        "value": anchor["value"], "user_id": anchor["user_id"],
    })["where"]
    w_null = process_row_to_where_clause(
        {"props": None}, _cm1("props", "String", "string"))
    # >512-char value over an expression alias exercises the md5/leftUTF8
    # truncation branch end-to-end
    fn_big = row_where(meta=[{"name": "big", "type": "String"}],
                       alias_map={"big": "repeat(props, 150)"})
    w_big = fn_big({"big": anchor["props"] * 150})["where"]
    # r17 (guide §1.2): the three generated WHEREs were executed as three
    # separate where().count() jobs — three full scans of events for
    # three integers. One aggregate of count_if()s computes the identical
    # TRUE-only counts (count_if and where().count() both exclude
    # NULL/false) in a single pass.
    _c = ev2.select(
        F.count_if(F.expr(translate_expr(w_full))).alias("c_full"),
        F.count_if(F.expr(translate_expr(w_null))).alias("c_null"),
        F.count_if(F.expr(translate_expr(w_big))).alias("c_big"),
    ).collect()[0]
    c_full, c_null, c_big = _c["c_full"], _c["c_null"], _c["c_big"]
    rw_rows += [
        ("rwexec|full", datetime(1970, 1, 1), c_full),
        ("rwexec|isnull", datetime(1970, 1, 1), c_null),
        ("rwexec|md5", datetime(1970, 1, 1), c_big),
    ]
    rw = local_frame(
        spark, rw_rows, "part string, __timestamp timestamp, cnt long")
    return base.unionByName(alias_part).unionByName(fk).unionByName(rw)


O_SQLAST_FILTERS = f"""
SELECT 'filters' AS part,
       make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) AS cnt
FROM events
WHERE {TIME_WHERE} AND value >= 25 AND user_id % 2 = 0
  AND event_type NOT IN ('click') AND user_id BETWEEN 0 AND 10000000000
GROUP BY 2
UNION ALL
SELECT 'alias' AS part,
       make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) AS cnt
FROM events
WHERE {TIME_WHERE} AND event_type = 'error'
GROUP BY 2
UNION ALL
SELECT part, TIMESTAMP '1970-01-01' AS __timestamp, 0 AS cnt FROM (VALUES
  ('fk|LogAttributes.host=>LogAttributes[''host'']'),
  ('fk|LogAttributes.1=>LogAttributes[''1'']'),
  ('fk|my-map[''k'']=>`my-map`[''k'']'),
  ('fk|service-name=>`service-name`'),
  ('fk|__hdx_materialized_k8s.cluster.name=>`__hdx_materialized_k8s.cluster.name`'),
  ('fk|JSONExtractString(Body, ''app.user.currency'')=>JSONExtractString(Body, ''app.user.currency'')'),
  ('fk|Body.`json`.`field`=>Body.`json`.`field`'),
  ('fk|ResourceAttributes.host.name=>ResourceAttributes[''host.name'']')
) AS t(part)
UNION ALL
SELECT part, TIMESTAMP '1970-01-01' AS __timestamp, 0 AS cnt FROM (VALUES
  ('rw|str=>name=''o\\''brien'''),
  ('rw|date=>created_at=parseDateTime64BestEffort(''2024-01-01T00:00:00Z'', 9)'),
  ('rw|arr=>tags=JSONExtract(''tag1'', ''tag2'', ''Array(String)'')'),
  ('rw|map=>attributes=JSONExtract(`key` = ''value'', ''Map(String, String)'')'),
  ('rw|tuple=>toJSONString(coordinates)=''{{\\"s\\": \\"city\\", \\"i\\": 123}}'''),
  ('rw|json=>lower(hex(MD5(toString(data))))=''' || md5('{{"key": "value"}}') || ''''),
  ('rw|dyn=>isNull(`dynamic_field`)')
) AS t(part)
UNION ALL
SELECT 'rwexec|full' AS part, TIMESTAMP '1970-01-01' AS __timestamp,
  (SELECT count(*) FROM events e,
     (SELECT ts, event_type, value, user_id FROM events
      WHERE event_id = (SELECT min(event_id) FROM events)) a
   WHERE e.ts = a.ts AND e.event_type = a.event_type
     AND e.value = a.value AND e.user_id = a.user_id) AS cnt
UNION ALL
SELECT 'rwexec|isnull' AS part, TIMESTAMP '1970-01-01' AS __timestamp,
  (SELECT count(*) FROM events WHERE props IS NULL) AS cnt
UNION ALL
SELECT 'rwexec|md5' AS part, TIMESTAMP '1970-01-01' AS __timestamp,
  (SELECT count(*) FROM events
   WHERE md5(left(repeat(props, 150), 1000)) =
     (SELECT md5(left(repeat(props, 150), 1000)) FROM events
      WHERE event_id = (SELECT min(event_id) FROM events))) AS cnt
"""

# --------------------------------------------------------------------------
# §2.9 exp-histogram count (StartTimeUnix reset detection)
# --------------------------------------------------------------------------

def q_exp_hist_count(spark, sf_dir):
    """Exp-histogram Count series: distinct (series, ts) points carry a
    cumulative counter (rn % 37) and a per-day StartTime — start changes
    restart the series, decreases are resets (histogram.ts:279-330)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy("event_type", "ts").agg(F.count("*").alias("__n"))
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("ts"))
    series = pts.select(
        "event_type",
        "ts",
        F.date_trunc("day", F.col("ts")).alias("st"),
        (rn % 37).cast("long").alias("cnt"),
    )
    return metrics.exp_histogram_count(
        series, ts="ts", start_ts="st", count="cnt",
        series_cols=["event_type"], bucket_seconds=86400,
        group_cols=["event_type"], value_alias="total",
    )


O_EXP_HIST_COUNT = """
WITH s AS (SELECT event_type, ts FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, ts, date_trunc('day', ts) AS st,
         (row_number() OVER (PARTITION BY event_type ORDER BY ts) % 37)::BIGINT AS cnt
  FROM s),
d AS (
  SELECT event_type, ts, st, cnt,
         lag(cnt) OVER (PARTITION BY event_type ORDER BY ts) AS prev,
         lag(st) OVER (PARTITION BY event_type ORDER BY ts) AS pst
  FROM r)
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type,
       sum(CASE WHEN prev IS NULL OR st = ts THEN 0
                WHEN st != pst OR cnt < prev THEN cnt
                ELSE cnt - prev END)::BIGINT AS total
FROM d GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.10 offset-paginated search: page concat must equal the global order
# --------------------------------------------------------------------------

def q_offset_pages(spark, sf_dir):
    """Concatenated pages from the progressive-window paginator; the global
    row sequence must equal one totally-ordered scan (windows.py:255+)."""
    cfg = ChartConfig(
        source=_src(),
        select="event_id, ts, value",
        where='event_type:"error" AND value:>=80',
        where_language="lucene",
        order_by="ts DESC, event_id DESC",
        date_range=RANGE,
    )
    rows_all = []
    rn = 0
    for page in offset_paginated_search(spark, cfg, sf_dir=sf_dir, page_size=100):
        for r in page:
            rn += 1
            rows_all.append((rn, r["event_id"], r["ts"], r["value"]))
    return local_frame(
        spark, rows_all, "rn bigint, event_id bigint, ts timestamp, value double"
    )


O_OFFSET_PAGES = f"""
SELECT row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rn,
       event_id, ts, value
FROM events
WHERE {TIME_WHERE} AND event_type = 'error' AND value >= 80
"""

# --------------------------------------------------------------------------
# §2.11 previous-period overlay
# --------------------------------------------------------------------------

def q_prev_period(spark, sf_dir):
    """Current-vs-previous overlay: the prior 15-day window is shifted
    forward onto the current axis (ChartUtils previous-period offset)."""
    base = dict(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
    )
    cur = compile_chart_config(
        spark,
        ChartConfig(**base, date_range=(datetime(2024, 1, 16), datetime(2024, 2, 1))),
        sf_dir=sf_dir,
    )
    prev = compile_chart_config(
        spark,
        ChartConfig(**base, date_range=(datetime(2024, 1, 1), datetime(2024, 1, 16))),
        sf_dir=sf_dir,
    )
    prev = previous_period(prev, offset_seconds=15 * 86400)
    return cur.withColumn("period", F.lit("current")).unionByName(
        prev.withColumn("period", F.lit("previous"))
    )


O_PREV_PERIOD = """
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) AS cnt, 'current' AS period
FROM events
WHERE ts >= TIMESTAMP '2024-01-16' AND ts <= TIMESTAMP '2024-02-01'
GROUP BY 1
UNION ALL
SELECT make_timestamp(((floor(epoch(ts))::BIGINT // 86400) * 86400 + 1296000) * 1000000) AS __timestamp,
       count(*) AS cnt, 'previous' AS period
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-16'
GROUP BY 1
"""

# --------------------------------------------------------------------------
# §2.1 export: CSV round-trip (write single-file, read back typed)
# --------------------------------------------------------------------------

def q_csv_export(spark, sf_dir):
    import tempfile

    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    day_s = ((F.unix_timestamp("ts") / 86400).cast("long") * 86400).alias("day_s")
    agg = ev.groupBy(day_s, "event_type").agg(F.count("*").alias("cnt"))
    path = os.path.join(tempfile.gettempdir(), "hyperdx_csv_export.csv")
    export_csv(agg, path, single_file=True)
    return spark.read.schema("day_s BIGINT, event_type STRING, cnt BIGINT").option(
        "header", "true"
    ).csv(path)


O_CSV_EXPORT = f"""
SELECT (floor(epoch(ts))::BIGINT // 86400) * 86400 AS day_s,
       event_type, count(*) AS cnt
FROM events WHERE {TIME_WHERE}
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.11 client render cap: top-N logical series by peak value
# --------------------------------------------------------------------------

def q_render_cap(spark, sf_dir):
    """format_time_chart's render cap: keep the top-3 series by peak daily
    count (ChartUtils formatResponseForTimeChart), flattened to rows."""
    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 86400).cast("long") * 86400
    ).alias("__timestamp")
    daily = ev.groupBy(bucket, "event_type").agg(
        F.count("*").cast("double").alias("cnt")
    )
    rows, _meta, _hidden = format_time_chart(
        daily, value_cols=["cnt"], group_cols=["event_type"],
        fill=None, max_series=3,
    )
    flat = [
        (r["__timestamp"], k, v)
        for r in rows
        for k, v in r.items()
        if k != "__timestamp"
    ]
    return local_frame(spark, flat, "ts_s bigint, series string, value double")


O_RENDER_CAP = f"""
WITH d AS (
  SELECT (floor(epoch(ts))::BIGINT // 86400) * 86400 AS ts_s,
         event_type, count(*)::DOUBLE AS cnt
  FROM events WHERE {TIME_WHERE} GROUP BY 1, 2),
top AS (
  SELECT event_type FROM d GROUP BY 1
  ORDER BY max(cnt) DESC, event_type LIMIT 3)
SELECT ts_s, event_type AS series, cnt AS value
FROM d SEMI JOIN top USING (event_type)
"""

# --------------------------------------------------------------------------
# §2.4 any (deterministic over constant-per-group input) + none projection
# --------------------------------------------------------------------------

def q_any_agg(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="any", value_expression="upper(event_type)", alias="any_u"),
            SelectCol(agg_fn="count", alias="cnt"),
        ],
        group_by=["event_type"],
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_ANY_AGG = f"""
SELECT event_type, upper(event_type) AS any_u, count(*) AS cnt
FROM events WHERE {TIME_WHERE} GROUP BY 1
"""


def q_none_projection(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(value_expression="event_id", alias="id"),
            SelectCol(value_expression="value * 2", agg_fn="none", alias="v2"),
        ],
        order_by="id ASC",
        limit=100,
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_NONE_PROJECTION = f"""
SELECT event_id AS id, value * 2 AS v2 FROM events
WHERE {TIME_WHERE} ORDER BY event_id LIMIT 100
"""

# --------------------------------------------------------------------------
# §2.12 ClickHouse-function compat shim in a raw select passthrough
# --------------------------------------------------------------------------

def q_chcompat(spark, sf_dir):
    """§2.12 shim in a raw select passthrough. r9 adds the audit-fixed
    semantics so the driver gate pins them: dateDiff boundary-crossing
    counts (DuckDB's date_diff natively counts crossings, like CH),
    toStartOfInterval INTERVAL grids, floor-rounding intDiv on negatives
    (emulated in the oracle — DuckDB // truncates), and the JSONExtract
    missing-key '' default."""
    cfg = ChartConfig(
        source=_src(),
        select=(
            "event_id, toStartOfDay(ts) AS day, toString(event_id) AS id_str, "
            "toFloat64OrDefault(JSONExtractString(props, 'k'), -1.0) AS k_num, "
            "multiIf(value >= 50, 'hi', value >= 20, 'mid', 'lo') AS band, "
            "intDiv(user_id, 10) AS cohort, "
            "dateDiff('day', toDateTime('2024-01-01 12:00:00'), ts) AS dd, "
            "toStartOfInterval(ts, INTERVAL 10 minute) AS tsi, "
            "intDiv(user_id - 5000, 7) AS idiv_neg, "
            "JSONExtractString(props, 'nope') AS missing_key"
        ),
        order_by="event_id ASC",
        limit=100,
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, sf_dir=sf_dir)


O_CHCOMPAT = f"""
SELECT event_id, date_trunc('day', ts) AS day, event_id::VARCHAR AS id_str,
       coalesce(try_cast(json_extract_string(props, '$.k') AS DOUBLE), -1.0) AS k_num,
       CASE WHEN value >= 50 THEN 'hi' WHEN value >= 20 THEN 'mid' ELSE 'lo' END AS band,
       user_id // 10 AS cohort,
       date_diff('day', TIMESTAMP '2024-01-01 12:00:00', ts) AS dd,
       make_timestamp((floor(epoch(ts))::BIGINT // 600) * 600 * 1000000) AS tsi,
       (CASE WHEN (user_id - 5000) % 7 != 0 AND (user_id - 5000) < 0
             THEN (user_id - 5000) // 7 - 1
             ELSE (user_id - 5000) // 7 END) AS idiv_neg,
       coalesce(json_extract_string(props, '$.nope'), '') AS missing_key
FROM events WHERE {TIME_WHERE}
ORDER BY event_id LIMIT 100
"""

def q_otlp_ingest(spark, sf_dir):
    """Ingest sink round-trip (§2.1 sink): events rendered as OTLP/JSON
    lines, streamed through parse_otlp_logs -> date-partitioned parquet,
    then aggregated from the written table. Must equal aggregating the
    source rows directly."""
    import tempfile

    from hyperdx_spark.streaming.ingest import (
        parse_otlp_logs,
        read_otlp_stream,
        write_ingest,
    )

    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    line = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.array(
                            F.struct(
                                F.lit("service.name").alias("key"),
                                F.struct(F.lit("svc").alias("stringValue")).alias("value"),
                            )
                        ).alias("attributes")
                    ).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(F.lit("lib").alias("name")).alias("scope"),
                            F.array(
                                F.struct(
                                    (F.unix_micros("ts") * 1000).cast("string").alias("timeUnixNano"),
                                    F.col("event_type").alias("severityText"),
                                    F.struct(F.col("props").alias("stringValue")).alias("body"),
                                )
                            ).alias("logRecords"),
                        )
                    ).alias("scopeLogs"),
                )
            ).alias("resourceLogs")
        )
    )
    base = tempfile.mkdtemp(prefix="hdx_otlp_")
    src_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    ev.select(line.alias("value")).write.mode("overwrite").text(src_dir)
    parsed = parse_otlp_logs(read_otlp_stream(spark, src_dir))
    q = write_ingest(parsed, out_dir, ckpt, available_now=True)
    q.awaitTermination(300)
    table = spark.read.parquet(out_dir)
    return table.groupBy(F.col("severity_text").alias("event_type")).agg(
        F.count("*").alias("cnt"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


O_OTLP_INGEST = f"""
SELECT event_type, count(*) AS cnt, min(ts) AS min_ts, max(ts) AS max_ts
FROM events WHERE {TIME_WHERE}
GROUP BY 1
"""


def q_builder_sql(spark, sf_dir):
    """builderToRawSql parity (core/builderToRawSql.ts): the builder config
    renders to an editable $__-macro SQL template, which is then executed
    through the macro engine — result must equal the compiled config."""
    from hyperdx_spark.builder_sql import builder_to_raw_sql
    from hyperdx_spark.macros import replace_macros, sql_with_frames

    events = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", alias="cnt"),
            SelectCol(agg_fn="avg", value_expression="value", alias="avg_v"),
        ],
        where="error",
        where_language="lucene",
        granularity="1 day",
        group_by=["event_type"],
        date_range=RANGE,
    )
    tpl = builder_to_raw_sql(cfg, schema=events.schema)
    if tpl.is_error:
        raise RuntimeError(tpl.error)
    sql = replace_macros(
        tpl.sql, date_range=RANGE, interval_seconds=86400, table="events"
    )
    base = sql_with_frames(spark, sql, events=events).select(
        F.lit("tpl").alias("part"), "__timestamp", "event_type", "cnt", "avg_v"
    )
    # r10: the series-limit ranking CTE is macro-ized into the template
    # (builderToRawSql.test.ts:197) — execute it and pin membership+values
    sl_cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        series_limit=2,
        date_range=RANGE,
    )
    sl_tpl = builder_to_raw_sql(sl_cfg, schema=events.schema)
    if sl_tpl.is_error:
        raise RuntimeError(sl_tpl.error)
    assert "__hdx_series_limit" in sl_tpl.sql
    sl = sql_with_frames(
        spark,
        replace_macros(sl_tpl.sql, date_range=RANGE, interval_seconds=86400, table="events"),
        events=events,
    ).select(
        F.lit("slcte").alias("part"), "__timestamp", "event_type", "cnt",
        F.lit(None).cast("double").alias("avg_v"),
    )
    return _round4(base.unionByName(sl))


O_BUILDER_SQL = f"""
SELECT 'tpl' AS part,
       make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       event_type, count(*) AS cnt, round(avg({_NUMV}), 4) AS avg_v
FROM events
WHERE {TIME_WHERE}
  AND list_contains(list_filter(string_split_regex(lower(concat_ws(' ', event_type, props)), '[[:punct:][:space:][:cntrl:]]+'), t -> t != ''), 'error')
GROUP BY 2, 3
UNION ALL
SELECT 'slcte' AS part, __timestamp, event_type, cnt, NULL::DOUBLE AS avg_v
FROM (
  WITH d AS (
    SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
           event_type, count(*) AS cnt
    FROM events WHERE {TIME_WHERE} GROUP BY 1, 2),
  top AS (
    SELECT event_type FROM d GROUP BY 1
    ORDER BY max(cnt) DESC, event_type LIMIT 2)
  SELECT d.* FROM d SEMI JOIN top USING (event_type)
) s
"""


def q_mv_quantile(spark, sf_dir):
    """Quantile answered FROM the rollup: the hourly MV carries a
    fixed-precision histogram state (map<quantized value, count>,
    scale=100); the daily p90 is a type-7 weighted quantile over the merged
    state — no base-table scan (materializedViews.ts:225-275 parity)."""
    import tempfile

    from hyperdx_spark.mv import AggregatedColumn, MVConfig, compile_with_mv, write_rollup

    mv = MVConfig(
        path=os.path.join(tempfile.mkdtemp(prefix="hdx_mvq_"), "events_hourly"),
        dimension_columns=["event_type"],
        min_granularity="1 hour",
        timestamp_column="bucket_ts",
        aggregated_columns=[
            AggregatedColumn("count", "cnt_state"),
            AggregatedColumn("quantile", "q_state", source_column="value", quantile_scale=100),
        ],
    )
    write_rollup(load_table(spark, sf_dir, "events"), mv, "ts")
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="quantile", value_expression="value", level=0.9, alias="p90"),
            SelectCol(agg_fn="count", alias="cnt"),
        ],
        group_by=["event_type"],
        granularity="1 day",
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 8)),
    )
    df, expl = compile_with_mv(spark, cfg, [mv], sf_dir=sf_dir)
    if not expl[0].success:  # the rewrite MUST engage for this entry
        raise RuntimeError(f"MV quantile rewrite failed: {expl[0].errors}")
    return df


# The oracle replays the exact type-7 arithmetic (h = (n-1)*level;
# v = lo + (h-floor(h))*(hi-lo)) over the quantized values so the doubles
# are bit-identical to the Spark merge walk.
O_MV_QUANTILE = """
WITH base AS (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         event_type, floor(value * 100 + 0.5) / 100.0 AS qv
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'),
s AS (
  SELECT *, row_number() OVER (PARTITION BY __timestamp, event_type ORDER BY qv) - 1 AS idx,
         count(*) OVER (PARTITION BY __timestamp, event_type)::BIGINT AS n
  FROM base),
g AS (
  SELECT __timestamp, event_type, n, (n - 1) * CAST(0.9 AS DOUBLE) AS h
  FROM s GROUP BY 1, 2, 3),
pick AS (
  SELECT s.__timestamp, s.event_type,
         max(CASE WHEN s.idx = CAST(floor(g.h) AS BIGINT) THEN s.qv END) AS lo,
         max(CASE WHEN s.idx = least(CAST(floor(g.h) AS BIGINT) + 1, g.n - 1) THEN s.qv END) AS hi,
         any_value(g.h) AS h, any_value(g.n) AS cnt
  FROM s JOIN g USING (__timestamp, event_type)
  GROUP BY 1, 2)
SELECT __timestamp, event_type,
       lo + (h - floor(h)) * (hi - lo) AS p90, cnt
FROM pick
"""

# --------------------------------------------------------------------------
# §2.3 session-replay correlation (sessions.ts:93-260)
# --------------------------------------------------------------------------

# rum.sessionId-shaped fixture (sessions.ts:93-199 parity): spans carry the
# session id inside a map-typed resource_attributes column (keyed
# 'rum.sessionId', a DOTTED key — exercises the serializer's longest-prefix
# map resolution), with real span names ('record init', 'visibility',
# 'pointer.click') and a component/status_code split. Session key is
# (user, day), so unlike the old uniform per-user fixture most sessions MISS
# some span role and the default view's HAVING does real filtering, on
# realistic skew. Derived deterministically from `events` so the DuckDB
# oracle can replay the same derivation as a CTE.

def _rum_spans(spark, sf_dir):
    """Register `rum_spans` + `rum_recordings` temp views derived from
    events; returns nothing (views consumed via Source(table=...))."""
    ev = load_table(spark, sf_dir, "events")
    sid = (
        "concat('sess-', cast(user_id AS string), '-', "
        "cast(cast(ts AS date) AS string))"
    )
    rum = ev.selectExpr(
        "ts",
        """CASE event_type
             WHEN 'purchase' THEN 'record init'
             WHEN 'click' THEN 'pointer.click'
             WHEN 'view' THEN
               CASE WHEN value >= 150 THEN 'visibility' ELSE 'http.request' END
             ELSE 'http.request' END AS span_name""",
        "CASE WHEN event_type = 'click' THEN 'user-interaction' ELSE 'http' END"
        " AS component",
        "CASE WHEN event_type = 'error' THEN 'error' ELSE 'ok' END"
        " AS status_code",
        "value AS duration",
        f"map('rum.sessionId', {sid}, 'service.name', "
        "concat('svc-', cast(user_id % 3 AS string))) AS resource_attributes",
    )
    rum.createOrReplaceTempView("rum_spans")
    # separate "session source" (recordings) table, as in the reference's
    # dual-source correlation (sessions.ts:243-257)
    rum.where("span_name = 'record init'").createOrReplaceTempView(
        "rum_recordings"
    )


# shared DuckDB replay of the same derivation (|| propagates NULL user_id,
# unlike DuckDB's NULL-skipping concat())
O_RUM_CTE = f"""
rum AS (
  SELECT ts,
         'sess-' || user_id || '-' || cast(ts AS DATE) AS sessionId,
         CASE event_type WHEN 'purchase' THEN 'record init'
              WHEN 'click' THEN 'pointer.click'
              WHEN 'view' THEN CASE WHEN value >= 150 THEN 'visibility'
                                    ELSE 'http.request' END
              ELSE 'http.request' END AS span_name,
         CASE WHEN event_type = 'click' THEN 'user-interaction'
              ELSE 'http' END AS component,
         CASE WHEN event_type = 'error' THEN 'error' ELSE 'ok' END
           AS status_code,
         value AS duration
  FROM events
  WHERE {TIME_WHERE} AND user_id IS NOT NULL)
"""


def _rum_src() -> Source:
    return Source(
        table="rum_spans",
        timestamp_value_expression="ts",
        implicit_column_expression=
        "concat_ws(' ', span_name, component, status_code)",
    )


def _session_spec():
    from hyperdx_spark.sessions import SessionSpec

    return SessionSpec(
        session_id_expr="resource_attributes['rum.sessionId']",
        exists_condition="resource_attributes.rum.sessionId:*",
        interaction_condition='component:"user-interaction"',
        error_condition="status_code:error",
        recording_condition='span_name:"record init"',
        activity_condition='span_name:"record init" OR span_name:"visibility"',
    )


def q_session_list(spark, sf_dir):
    """Default session list: per-session activity/error/recording counters,
    HAVING user-activity-or-recording, newest last-activity first."""
    from hyperdx_spark.sessions import session_list

    _rum_spans(spark, sf_dir)
    return session_list(
        spark, _rum_src(), _session_spec(), RANGE, sf_dir=sf_dir, limit=50
    )


O_SESSION_LIST = f"""
WITH {O_RUM_CTE},
s AS (
  SELECT sessionId,
         min(ts) AS minTimestamp, max(ts) AS maxTimestamp,
         count(*) AS sessionCount,
         count(*) FILTER (component = 'user-interaction') AS interactionCount,
         count(*) FILTER (status_code = 'error') AS errorCount,
         count(*) FILTER (span_name = 'record init') AS recordingCount
  FROM rum
  GROUP BY 1
  HAVING count(*) FILTER (component = 'user-interaction') > 0
      OR count(*) FILTER (span_name = 'record init') > 0)
SELECT * FROM s ORDER BY maxTimestamp DESC LIMIT 50
"""


def q_session_filtered(spark, sf_dir):
    """User-search branch: sessions matching the search, kept only when the
    session also appears in the recordings source OR shows real user
    activity (record-init/visibility spans) — both correlation branches."""
    from hyperdx_spark.sessions import session_list

    _rum_spans(spark, sf_dir)
    return session_list(
        spark,
        _rum_src(),
        _session_spec(),
        RANGE,
        where="duration >= 95",
        where_language="sql",
        session_source=Source(
            table="rum_recordings", timestamp_value_expression="ts"
        ),
        sf_dir=sf_dir,
        limit=50,
    )


O_SESSION_FILTERED = f"""
WITH {O_RUM_CTE},
s AS (
  SELECT sessionId,
         min(ts) AS minTimestamp, max(ts) AS maxTimestamp,
         count(*) AS sessionCount,
         count(*) FILTER (component = 'user-interaction') AS interactionCount,
         count(*) FILTER (status_code = 'error') AS errorCount,
         count(*) FILTER (span_name = 'record init') AS recordingCount
  FROM rum
  WHERE duration >= 95
  GROUP BY 1
  ORDER BY maxTimestamp DESC LIMIT 50),
act AS (
  SELECT DISTINCT sessionId FROM rum WHERE span_name = 'record init'
  UNION
  SELECT DISTINCT sessionId FROM rum
  WHERE span_name IN ('record init', 'visibility'))
SELECT * FROM s SEMI JOIN act USING (sessionId)
"""

# --------------------------------------------------------------------------
# §2.2 materialized-column substitution (fastifySQL analogue)
# --------------------------------------------------------------------------

def q_materialized_col(spark, sf_dir):
    """`props.k` accessor rewritten to a pre-materialized physical column
    (renderChartConfig.ts:209-341): the JSON blob is never read — the scan
    touches only (ts, mat_k). Results must equal the JSON-probe semantics."""
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    tmp = os.path.join(tempfile.gettempdir(), "hyperdx_mat")
    ev.withColumn("mat_k", F.get_json_object("props", "$.k")).write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "events_mat.parquet"))
    src = Source(
        table="events_mat",
        timestamp_value_expression="ts",
        materialized_fields={"JSONExtractString(props, 'k')": "mat_k"},
    )
    cfg = ChartConfig(
        source=src,
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="props.k:>=50",
        where_language="lucene",
        granularity="1 day",
        date_range=RANGE,
    )
    out = compile_chart_config(spark, cfg, sf_dir=tmp)
    scan = [
        l
        for l in out._jdf.queryExecution().executedPlan().toString().splitlines()
        if "FileScan" in l
    ]
    assert scan and "props" not in scan[0], "materialized substitution regressed"
    return out


O_MATERIALIZED_COL = f"""
SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
       count(*) AS cnt
FROM events
WHERE {TIME_WHERE}
  AND try_cast(coalesce(json_extract_string(props, '$.k'), '') AS DOUBLE) >= 50
GROUP BY 1
"""

# --------------------------------------------------------------------------
# §2.6 English query explanation + metadata field listing (static contracts)
# --------------------------------------------------------------------------

_EXPLAIN_CASES = [
    "error web",
    "event_type:err* AND NOT value:<10",
    "props.k:* AND -event_type:click",
    '"timed out" OR (value:>100 AND event_type:err*)',
    # r9: special-token decode in the explanation (queryParser.ts:32-48)
    "error localhost:3000",
]


def q_lucene_explain(spark, sf_dir):
    rows = [(q, explain_query(q)) for q in _EXPLAIN_CASES]
    return local_frame(spark, rows, "query string, explanation string")


O_LUCENE_EXPLAIN = """
SELECT * FROM (VALUES
  ('error web',
   'event has whole word error AND event has whole word web'),
  ('event_type:err* AND NOT value:<10',
   e'\\'event_type\\' starts with err AND NOT (\\'value\\' is less than 10)'),
  ('props.k:* AND -event_type:click',
   e'\\'props.k\\' is not null AND \\'event_type\\' does not contain click'),
  ('"timed out" OR (value:>100 AND event_type:err*)',
   e'event has whole word "timed out" OR (\\'value\\' is greater than 100 AND \\'event_type\\' starts with err)'),
  ('error localhost:3000',
   'event has whole word error AND event has whole word localhost:3000')
) AS t(query, explanation)
"""


def q_metadata_fields(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return local_frame(spark, get_all_fields(ev), "field string, type string")


O_METADATA_FIELDS = """
SELECT * FROM (VALUES
  ('event_id', 'bigint'), ('ts', 'timestamp'), ('user_id', 'bigint'),
  ('event_type', 'string'), ('value', 'double'), ('props', 'string')
) AS t(field, type)
"""


# ==========================================================================
# Consolidated entries — the driver's correctness gate covers the first N
# registry rows, so every operator family ships ONE strong entry; same-family
# variants are tag-unioned ("part" column) with the oracle mirrored as a
# UNION ALL. Part functions above stay callable for tests.
# ==========================================================================

def q_fill_prev(spark, sf_dir):
    """§2.11 time-series formatting: zero-fill + previous-period overlay."""
    fill = q_fill_zero(spark, sf_dir).select(
        F.lit("fill").alias("part"), "__timestamp", F.col("cnt").cast("double").alias("cnt")
    )
    prev = q_prev_period(spark, sf_dir).select(
        F.col("period").alias("part"), "__timestamp", F.col("cnt").cast("double").alias("cnt")
    )
    return fill.unionByName(prev)


O_FILL_PREV = f"""
SELECT 'fill' AS part, __timestamp, cnt FROM ({O_FILL_ZERO})
UNION ALL
SELECT period AS part, __timestamp, cnt::DOUBLE AS cnt FROM ({O_PREV_PERIOD})
"""


def q_ratio_series(spark, sf_dir):
    """§2.3 ratio series: error-ratio (per-bucket division) + share-of-total
    + the ratio-ranked series cap (r10: limit_ratio_series — rank by the
    plotted ratio with the finite guard, renderSeriesLimitCte's mergeRatio
    path)."""
    from hyperdx_spark.post import limit_ratio_series

    err = q_error_ratio(spark, sf_dir).select(
        F.lit("error_ratio").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.col("ratio").alias("v"),
    )
    share_df = q_share_of_total(spark, sf_dir)
    share = share_df.select(
        F.lit("share").alias("part"), "__timestamp", "event_type",
        F.col("share").alias("v"),
    )
    capped = limit_ratio_series(
        share_df, 2, group_cols=["event_type"], ratio_col="share"
    ).select(
        F.lit("sharecap").alias("part"), "__timestamp", "event_type",
        F.col("share").alias("v"),
    )
    return err.unionByName(share).unionByName(capped)


O_RATIO_SERIES = f"""
SELECT 'error_ratio' AS part, __timestamp, '' AS event_type, ratio AS v FROM ({O_ERROR_RATIO})
UNION ALL
SELECT 'share' AS part, __timestamp, event_type, share AS v FROM ({O_SHARE})
UNION ALL
SELECT 'sharecap' AS part, __timestamp, event_type, share AS v FROM (
  WITH s AS ({O_SHARE}),
  top AS (SELECT event_type FROM s GROUP BY 1
          ORDER BY max(share) DESC NULLS LAST, event_type LIMIT 2)
  SELECT s.* FROM s SEMI JOIN top USING (event_type)
) c
"""


_TPL_RANGE = (datetime(2024, 1, 1), datetime(2026, 1, 1))


def q_gauge(spark, sf_dir):
    """§2.9 gauge semantics: last-per-series-bucket + isDelta extrapolation.
    r11 adds tplgauge/tplrate: the user-editable raw-SQL templates
    (metrics.metric_to_raw_sql, builderToRawSql.ts:93-132) EXECUTED through
    replace_macros + sql_with_frames — the gate now value-checks the template
    text itself, not just its pytest equality to the DataFrame path."""
    from hyperdx_spark.macros import replace_macros, sql_with_frames
    from hyperdx_spark.metrics import metric_to_raw_sql

    last = q_gauge_last(spark, sf_dir).select(
        F.lit("last").alias("part"), "__timestamp", "event_type", F.col("v").alias("v")
    )
    delta = q_gauge_delta(spark, sf_dir).select(
        F.lit("delta").alias("part"), "__timestamp", "event_type", F.col("value").alias("v")
    )
    ev = load_table(spark, sf_dir, "events")
    tables = {"gauge": "metric_tpl_events", "sum": "metric_tpl_events"}
    gauge_tpl = metric_to_raw_sql(
        "gauge", ts="ts", value="value",
        series_cols=["user_id", "event_type"], agg="avg", value_alias="v",
    )
    tplgauge = sql_with_frames(
        spark,
        replace_macros(gauge_tpl, date_range=_TPL_RANGE,
                       interval_seconds=86400, metric_tables=tables),
        metric_tpl_events=ev,
    ).select(
        F.lit("tplgauge").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.round("v", 4).alias("v"),
    )
    sum_tpl = metric_to_raw_sql(
        "sum", ts="ts", value="value", series_cols=["event_type"],
        value_alias="v",
    )
    tplrate = sql_with_frames(
        spark,
        replace_macros(sum_tpl, date_range=_TPL_RANGE,
                       interval_seconds=86400, metric_tables=tables),
        metric_tpl_events=ev,
    ).select(
        F.lit("tplrate").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.round("v", 4).alias("v"),
    )
    return last.unionByName(delta).unionByName(tplgauge).unionByName(tplrate)


O_GAUGE_M = f"""
SELECT 'last' AS part, __timestamp, event_type, v FROM ({O_GAUGE})
UNION ALL
SELECT 'delta' AS part, __timestamp, event_type, value AS v FROM ({O_GAUGE_DELTA})
UNION ALL
SELECT 'tplgauge' AS part, __timestamp, '' AS event_type, round(avg(lastv), 4) AS v FROM (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         user_id, event_type, arg_max(value, ts) AS lastv
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2026-01-01'
  GROUP BY 1, 2, 3
) GROUP BY __timestamp
UNION ALL
SELECT 'tplrate' AS part, __timestamp, '' AS event_type, round(sum(r), 4) AS v FROM (
  SELECT make_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400 * 1000000) AS __timestamp,
         CASE WHEN prev IS NULL THEN NULL ELSE greatest(value - prev, 0) END AS r
  FROM (
    SELECT ts, value,
           lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2026-01-01'
  )
) GROUP BY __timestamp
"""


def q_histogram(spark, sf_dir):
    """§2.9 explicit-bounds histograms: count series + linear-interp quantile.
    r11 adds tplq: the histogram raw-SQL template (one statement of
    higher-order SQL, metrics.metric_to_raw_sql) EXECUTED via
    replace_macros + sql_with_frames over a CUMULATIVE per-series fixture built
    from the same hourly count arrays as q_hist_quantile — the template's
    lag-window delta recovery must reproduce the hourly deltas exactly, so
    its day-level p51.7 equals the direct oracle."""
    from pyspark.sql import Window

    from hyperdx_spark.macros import replace_macros, sql_with_frames
    from hyperdx_spark.metrics import metric_to_raw_sql

    cnt = q_hist_count(spark, sf_dir).select(
        F.lit("count").alias("part"), "__timestamp", "event_type",
        F.col("total").cast("double").alias("v"),
    )
    qt = q_hist_quantile(spark, sf_dir).select(
        F.lit("quantile").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.col("p50").alias("v"),
    )
    # cumulative (never-resetting) per-series bucket counts from the hourly
    # delta arrays: explode -> running sum per (series, index) -> reassemble
    ev = load_table(spark, sf_dir, "events")
    hour = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 3600).cast("long") * 3600
    ).alias("h")
    idx = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int").alias("i")
    counts = ev.groupBy(hour, F.col("event_type"), idx).agg(F.count("*").alias("c"))
    hourly = (
        counts.groupBy("h", "event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("i", "c"))).alias("m"))
        .select(
            "h", "event_type",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda j: F.coalesce(
                        F.element_at(F.col("m"), j.cast("int")), F.lit(0)
                    ),
                )
            ).alias("i", "c"),
        )
    )
    cum = hourly.withColumn(
        "cc", F.sum("c").over(Window.partitionBy("event_type", "i").orderBy("h"))
    )
    cdf = (
        cum.groupBy("h", "event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cc"))), lambda s: s["cc"]
            ).alias("BucketCounts")
        )
        .withColumn(
            "ExplicitBounds", F.array(*[F.lit(50.0 * k) for k in range(1, 10)])
        )
    )
    tpl = metric_to_raw_sql(
        "histogram", ts="h", series_cols=["event_type"], level=0.517,
        value_alias="v",
    )
    tplq = sql_with_frames(
        spark,
        replace_macros(tpl, date_range=_TPL_RANGE, interval_seconds=86400,
                       metric_tables={"histogram": "hist_tpl_view"}),
        hist_tpl_view=cdf,
    ).select(
        F.lit("tplq").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.round("v", 4).alias("v"),
    )
    return cnt.unionByName(qt).unionByName(tplq)


O_HISTOGRAM = f"""
SELECT 'count' AS part, __timestamp, event_type, total::DOUBLE AS v FROM ({O_HIST_COUNT})
UNION ALL
SELECT 'quantile' AS part, __timestamp, '' AS event_type, p50 AS v FROM ({O_HIST_QUANTILE})
UNION ALL
SELECT 'tplq' AS part, __timestamp, '' AS event_type, p50 AS v FROM ({O_HIST_QUANTILE})
"""


def q_exp_histogram(spark, sf_dir):
    """§2.9 exponential histograms: reset-aware count + downscale-merge quantile."""
    cnt = q_exp_hist_count(spark, sf_dir).select(
        F.lit("count").alias("part"), "__timestamp", "event_type",
        F.col("total").cast("double").alias("v"),
    )
    qt = q_exp_hist_quantile(spark, sf_dir).select(
        F.lit("quantile").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), F.col("p").alias("v"),
    )
    return cnt.unionByName(qt)


O_EXP_HISTOGRAM = f"""
SELECT 'count' AS part, __timestamp, event_type, total::DOUBLE AS v FROM ({O_EXP_HIST_COUNT})
UNION ALL
SELECT 'quantile' AS part, __timestamp, '' AS event_type, p AS v FROM ({O_EXP_HIST_QUANTILE})
"""


def q_promql_features(spark, sf_dir):
    """PromQL modifier/function coverage: histogram_quantile, offset, absent,
    plus the aggregation-operator family (promql.py Agg eval): `without`,
    population `stddev`, interpolated `quantile(phi, ...)`, and the
    calendar-component fns (`day_of_week()` over step time). Reference: the
    full language is passed through to a Prometheus API
    (packages/api/src/routers/api/prometheus.ts:1-825)."""
    hq = q_promql_hist_quantile(spark, sf_dir).select(
        F.lit("histq").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), "value",
    )
    off = q_promql_offset(spark, sf_dir).select(
        F.lit("offset").alias("part"), "__timestamp", "event_type", "value"
    )
    ab = q_promql_absent(spark, sf_dir).select(
        F.lit("absent").alias("part"), "__timestamp",
        F.lit("").alias("event_type"), "value",
    )
    from hyperdx_spark.promql import PromQLEngine

    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events_value").alias("__name__"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
        (F.col("user_id") % 3).cast("string").alias("umod"),
    )
    eng = PromQLEngine(ev)
    t0, t1, step = datetime(2024, 1, 2), datetime(2024, 1, 8), 86400
    inner = "sum by (event_type, umod) (sum_over_time(events_value[1d]))"

    def _part(name, q, keep_event_type=True):
        out = eng.query_range(spark, q, t0, t1, step)
        return out.select(
            F.lit(name).alias("part"),
            F.col("__step").alias("__timestamp"),
            (F.col("event_type") if keep_event_type else F.lit("")).alias("event_type"),
            F.round("value", 4).alias("value"),
        )

    wo = _part("without", f"sum without (umod) ({inner})")
    sd = _part("stddev", f"stddev by (event_type) ({inner})")
    qt = _part("quantile", f"quantile by (event_type) (0.5, {inner})")
    dw = _part("dow", "day_of_week()", keep_event_type=False)

    # --- native histograms (promql.py _eval_hist): one gauge-histogram
    # sample per (day, event_type) synthesized from events at schema 0
    # (bucket idx i covers (2^i, 2^(i+1)], idx = ceil(log2(v)) - 1), stamped
    # at day end so the daily step's instant lookback picks exactly it.
    # Exercises selector eval, the sum-aggregation scale merge, and
    # histogram_quantile's linear-within-bucket interpolation — all
    # closed-form replayable from `events` by DuckDB (O_PROMQL_FEATURES).
    evh = load_table(spark, sf_dir, "events").where(
        (F.col("value") > 0)
        & (F.col("ts") >= F.lit(datetime(2024, 1, 1)))
        & (F.col("ts") < F.lit(datetime(2024, 1, 8)))
    )
    day = F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")
    idx = (F.ceil(F.log2(F.col("value"))) - 1).cast("long")
    per_bucket = evh.groupBy(
        day.alias("__d"), "event_type", idx.alias("__i")
    ).agg(F.count("*").cast("double").alias("__c"), F.sum("value").alias("__s"))
    per_series = per_bucket.groupBy("__d", "event_type").agg(
        F.collect_list(F.struct(F.col("__i").alias("i"), F.col("__c").alias("c"))).alias("__bs"),
        F.sum("__c").alias("__cnt"),
        F.sum("__s").alias("__sum"),
    )
    lo = F.array_min(F.transform("__bs", lambda x: x["i"]))
    hi = F.array_max(F.transform("__bs", lambda x: x["i"]))
    dense = F.transform(
        F.sequence(lo, hi),
        lambda i: F.coalesce(
            F.element_at(F.filter("__bs", lambda x: x["i"] == i), 1)["c"],
            F.lit(0.0),
        ),
    )
    hist = F.struct(
        F.lit(0).alias("schema"),
        F.lit(0.0).alias("zero_count"),
        F.lit(2.0 ** -128).alias("zero_threshold"),
        F.col("__cnt").cast("double").alias("count"),
        F.col("__sum").cast("double").alias("sum"),
        lo.cast("int").alias("pos_offset"),
        dense.alias("pos_counts"),
        F.lit(0).alias("neg_offset"),
        F.array().cast("array<double>").alias("neg_counts"),
    )
    nh_samples = per_series.select(
        F.lit("nh").alias("__name__"),
        F.col("__d").alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.col("event_type"),
        hist.alias("histogram"),
    )
    nh_eng = PromQLEngine(nh_samples)

    def _nh(name, q, keep_event_type):
        out = nh_eng.query_range(spark, q, t0, datetime(2024, 1, 8), 86400)
        return out.select(
            F.lit(name).alias("part"),
            F.col("__step").alias("__timestamp"),
            (F.col("event_type") if keep_event_type else F.lit("")).alias("event_type"),
            F.round("value", 4).alias("value"),
        )

    nhc = _nh("nh_count", "histogram_count(sum(nh))", False)
    nhq = _nh("nh_q", "histogram_quantile(0.75, sum(nh))", False)
    nhs = _nh("nh_sum", "histogram_sum(nh)", True)
    # round-5 shapes: avg-of-histograms (merged sum scaled by 1/n),
    # count() over histogram elements, and histogram_fraction — the bound
    # 16 sits exactly on the idx-3/idx-4 bucket boundary, so the walk takes
    # whole buckets (no interpolation float risk) and the DuckDB replay is
    # a plain conditional count
    nha = _nh("nh_avg", "histogram_count(avg(nh))", False)
    nhn = _nh("nh_nser", "count(nh)", False)
    nhf = _nh("nh_frac", "histogram_fraction(0, 16, sum(nh))", False)
    # per-series (not sum-merged): the merge folds float sums in
    # collect_list order, which is partition-nondeterministic at the last
    # ulp — per-series keeps the mean deterministic for the hash compare
    nhv = _nh("nh_stdvar", "histogram_stdvar(nh)", True)
    # round-6 shapes: native-histogram binary operators (promql.py
    # _eval_hist_binop). The fraction bound 16 again sits on the idx-3
    # boundary, so the add/sub results are validated at BUCKET level
    # (whole-bucket walks over the merged/residual arrays, no
    # interpolation float risk) — histogram_count alone would only check
    # the scalar fields.
    nh_add = _nh(
        "nh_add",
        'histogram_fraction(0, 16, nh{event_type="error"} '
        '+ ignoring(event_type) nh{event_type="click"})',
        False,
    )
    nh_sub = _nh(
        "nh_sub",
        'histogram_fraction(0, 16, sum(nh) - nh{event_type="error"})',
        False,
    )
    nh_mul = _nh("nh_mul", "histogram_sum(3 * nh)", True)
    nh_divc = _nh("nh_divc", "histogram_count(nh / 4)", True)
    # r12: the /label/:name/values endpoint (prometheus.ts:713-810) —
    # distinct values for a label, metric names for '__name__'. Built
    # lazily from label_values_df (all three label columns are strings, so
    # the `name=value` rendering matches the endpoint's Python f-string)
    # instead of three eager label_values() collects: the distincts ride
    # the query's own job, and the oracle compares rows order-insensitively
    # so the endpoint's sort is presentation-only here.
    lv_parts = []
    for name in ("__name__", "event_type", "umod"):
        lv_parts.append(
            eng.label_values_df(name).select(
                F.lit("labels").alias("part"),
                F.lit(datetime(1970, 1, 1)).alias("__timestamp"),
                F.concat(F.lit(name + "="), F.col("val")).alias("event_type"),
                F.lit(0.0).alias("value"),
            )
        )
    lv = lv_parts[0].unionByName(lv_parts[1]).unionByName(lv_parts[2])
    return hq.unionByName(off).unionByName(ab).unionByName(wo).unionByName(
        sd
    ).unionByName(qt).unionByName(dw).unionByName(nhc).unionByName(
        nhq
    ).unionByName(nhs).unionByName(nha).unionByName(nhn).unionByName(
        nhf
    ).unionByName(nhv).unionByName(nh_add).unionByName(nh_sub).unionByName(
        nh_mul
    ).unionByName(nh_divc).unionByName(lv)


O_PROMQL_FEATURES = f"""
SELECT 'labels' AS part, TIMESTAMP '1970-01-01' AS __timestamp,
       '__name__=events_value' AS event_type, 0.0 AS value
UNION ALL
SELECT 'labels', TIMESTAMP '1970-01-01', 'event_type=' || event_type, 0.0
FROM (SELECT DISTINCT event_type FROM events)
UNION ALL
SELECT 'labels', TIMESTAMP '1970-01-01',
       'umod=' || (user_id % 3)::VARCHAR, 0.0
FROM (SELECT DISTINCT user_id % 3 AS user_id FROM events)
UNION ALL
SELECT 'histq' AS part, __timestamp, '' AS event_type, value FROM ({O_PROMQL_HIST_QUANTILE})
UNION ALL
SELECT 'offset' AS part, __timestamp, event_type, value FROM ({O_PROMQL_OFFSET})
UNION ALL
SELECT 'absent' AS part, __timestamp, '' AS event_type, value FROM ({O_PROMQL_ABSENT})
UNION ALL
SELECT part, __timestamp, event_type, value FROM (
  WITH steps AS (
    SELECT make_timestamp(e * 1000000) AS step
    FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-02')::BIGINT,
                                        epoch(TIMESTAMP '2024-01-08')::BIGINT,
                                        86400)) AS e)),
  l AS (
    SELECT step, event_type, (user_id % 3)::VARCHAR AS umod, sum(value) AS lv
    FROM steps JOIN events ON ts > step - INTERVAL 1 DAY AND ts <= step
    GROUP BY 1, 2, 3)
  SELECT 'without' AS part, step AS __timestamp, event_type,
         round(sum(lv), 4) AS value FROM l GROUP BY step, event_type
  UNION ALL
  SELECT 'stddev', step, event_type, round(stddev_pop(lv), 4) FROM l
  GROUP BY step, event_type
  UNION ALL
  SELECT 'quantile', step, event_type, round(quantile_cont(lv, 0.5), 4) FROM l
  GROUP BY step, event_type
  UNION ALL
  SELECT 'dow', step, '', dayofweek(step)::DOUBLE FROM steps
)
UNION ALL
SELECT part, __timestamp, event_type, value FROM (
  -- native histograms: replay the schema-0 synthesis from raw events; the
  -- sample stamped at day end D covers events of day D-1, and the daily
  -- instant step picks exactly that sample
  WITH ev AS (
    SELECT date_trunc('day', ts) + INTERVAL 1 DAY AS d, event_type,
           value::DOUBLE AS v,
           (ceil(log2(value::DOUBLE))::BIGINT - 1) AS idx
    FROM events
    WHERE value > 0 AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08')
  SELECT 'nh_count' AS part, d AS __timestamp, '' AS event_type,
         count(*)::DOUBLE AS value FROM ev GROUP BY d
  UNION ALL
  SELECT 'nh_sum', d, event_type, round(sum(v), 4) FROM ev GROUP BY d, event_type
  UNION ALL
  SELECT 'nh_q', d, '', round(2.0 ** idx + (2.0 ** (idx + 1) - 2.0 ** idx)
           * (0.75 * total - cum_before) / cnt, 4) FROM (
    SELECT d, idx, cnt,
           sum(cnt) OVER (PARTITION BY d ORDER BY idx) - cnt AS cum_before,
           sum(cnt) OVER (PARTITION BY d) AS total
    FROM (SELECT d, idx, count(*)::DOUBLE AS cnt FROM ev GROUP BY d, idx))
  WHERE cum_before + cnt >= 0.75 * total
  QUALIFY row_number() OVER (PARTITION BY d ORDER BY idx) = 1
  UNION ALL
  -- avg of histograms: merged count / number of merged series
  SELECT 'nh_avg', d, '',
         round(count(*)::DOUBLE / count(DISTINCT event_type), 4)
  FROM ev GROUP BY d
  UNION ALL
  -- count() over histogram elements = series per step
  SELECT 'nh_nser', d, '', count(DISTINCT event_type)::DOUBLE FROM ev GROUP BY d
  UNION ALL
  -- histogram_fraction(0, 16, ...): bucket idx covers (2^idx, 2^(idx+1)],
  -- so v <= 16 <=> idx <= 3 and the walk takes whole buckets
  SELECT 'nh_frac', d, '',
         round((count(*) FILTER (idx <= 3))::DOUBLE / count(*), 4)
  FROM ev GROUP BY d
  UNION ALL
  -- histogram_stdvar per series: geometric bucket midpoint
  -- sqrt(2^(i+1) * 2^i) per event, mean = true sum / count,
  -- variance over count (same IEEE ops: exact powers of two, correctly
  -- rounded sqrt)
  SELECT 'nh_stdvar', d, event_type,
         round(sum(power(mid - mean, 2)) / count(*), 4)
  FROM (
    SELECT d, event_type,
           sqrt(power(2.0, idx + 1) * power(2.0, idx)) AS mid,
           sum(v) OVER (PARTITION BY d, event_type)
             / count(*) OVER (PARTITION BY d, event_type) AS mean
    FROM ev)
  GROUP BY d, event_type
  UNION ALL
  -- r6 histogram arithmetic: h+h merges buckets, so fraction(0,16) of
  -- error+click = (events <= 16 in either) / (all events in either)
  SELECT 'nh_add', d, '',
         round((count(*) FILTER (idx <= 3))::DOUBLE / count(*), 4)
  FROM ev WHERE event_type IN ('error', 'click') GROUP BY d
  UNION ALL
  -- sum(nh) - nh{{error}} leaves the non-error residual buckets
  SELECT 'nh_sub', d, '',
         round((count(*) FILTER (idx <= 3))::DOUBLE / count(*), 4)
  FROM ev WHERE event_type <> 'error' GROUP BY d
  UNION ALL
  -- scalar multiply scales the sum field
  SELECT 'nh_mul', d, event_type, round(3 * sum(v), 4)
  FROM ev GROUP BY d, event_type
  UNION ALL
  -- scalar divide scales the count field
  SELECT 'nh_divc', d, event_type, round(count(*)::DOUBLE / 4, 4)
  FROM ev GROUP BY d, event_type
)
"""


def q_promql_vecmatch(spark, sf_dir):
    """PromQL vector matching (promql.py:_vector_binop): per-(event_type,
    umod) share of the event_type total — the `/ on(...) group_left` idiom
    (reference: full-language passthrough, prometheus.ts:1-825)."""
    from hyperdx_spark.promql import PromQLEngine

    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events_value").alias("__name__"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
        (F.col("user_id") % 3).cast("string").alias("umod"),
    )
    out = PromQLEngine(ev).query_range(
        spark,
        "sum by (event_type, umod) (sum_over_time(events_value[1d]))"
        " / on(event_type) group_left"
        " sum by (event_type) (sum_over_time(events_value[1d]))",
        datetime(2024, 1, 2),
        datetime(2024, 1, 8),
        86400,
    )
    return out.select(
        F.col("__step").alias("__timestamp"),
        "event_type",
        "umod",
        F.round("value", 4).alias("value"),
    )


O_PROMQL_VECMATCH = """
WITH steps AS (
  SELECT make_timestamp(e * 1000000) AS step
  FROM (SELECT unnest(generate_series(epoch(TIMESTAMP '2024-01-02')::BIGINT,
                                      epoch(TIMESTAMP '2024-01-08')::BIGINT,
                                      86400)) AS e)),
l AS (
  SELECT step, event_type, (user_id % 3)::VARCHAR AS umod, sum(value) AS lv
  FROM steps JOIN events ON ts > step - INTERVAL 1 DAY AND ts <= step
  GROUP BY 1, 2, 3),
r AS (
  SELECT step, event_type, sum(value) AS rv
  FROM steps JOIN events ON ts > step - INTERVAL 1 DAY AND ts <= step
  GROUP BY 1, 2)
SELECT l.step AS __timestamp, l.event_type, l.umod,
       round(l.lv / nullif(r.rv, 0), 4) AS value
FROM l JOIN r ON l.step = r.step AND l.event_type = r.event_type
"""


def q_sample_weighted_all(spark, sf_dir):
    """§2.4 sample-weighted agg family: count/sum/avg + weighted quantiles,
    joined on the group key."""
    aggs = q_sample_weighted(spark, sf_dir)
    quants = q_weighted_quantile(spark, sf_dir)
    return aggs.join(quants, on="event_type", how="inner")


O_SAMPLE_WEIGHTED_ALL = f"""
SELECT a.event_type, a.est_count, a.est_sum, a.est_avg, b.p50, b.p90
FROM ({O_SAMPLE_WEIGHTED}) a JOIN ({O_WEIGHTED_QUANTILE}) b USING (event_type)
"""


def q_metadata_keyvals(spark, sf_dir):
    """§2.8 autocomplete: distinct key-values + value distribution."""
    kv = q_key_values(spark, sf_dir).select(
        F.lit("keys").alias("part"), "key", "value",
        F.lit(0.0).alias("cnt"), F.lit(0.0).alias("pct"),
    )
    dist = q_values_distribution(spark, sf_dir).select(
        F.lit("dist").alias("part"), F.lit("event_type").alias("key"), "value",
        F.col("count").cast("double").alias("cnt"), "pct",
    )
    return kv.unionByName(dist)


O_METADATA_KEYVALS = f"""
SELECT 'keys' AS part, key, value, 0.0 AS cnt, 0.0 AS pct FROM ({O_KEY_VALUES})
UNION ALL
SELECT 'dist' AS part, 'event_type' AS key, value, count::DOUBLE AS cnt, pct FROM ({O_VALUES_DISTRIBUTION})
"""


def q_any_none(spark, sf_dir):
    """§2.4 `any` aggregate + aggFn-none projection."""
    a = q_any_agg(spark, sf_dir).select(
        F.lit("agg").alias("part"), F.col("event_type").alias("key"),
        F.col("any_u").alias("sval"), F.col("cnt").cast("double").alias("num"),
    )
    p = q_none_projection(spark, sf_dir).select(
        F.lit("proj").alias("part"), F.col("id").cast("string").alias("key"),
        F.lit("").alias("sval"), F.col("v2").alias("num"),
    )
    return a.unionByName(p)


O_ANY_NONE = f"""
SELECT 'agg' AS part, event_type AS key, any_u AS sval, cnt::DOUBLE AS num FROM ({O_ANY_AGG})
UNION ALL
SELECT 'proj' AS part, id::VARCHAR AS key, '' AS sval, v2 AS num FROM ({O_NONE_PROJECTION})
"""


def q_sessions(spark, sf_dir):
    """§2.3 session-replay correlation: default list + filtered branch."""
    base = q_session_list(spark, sf_dir).withColumn("part", F.lit("all"))
    filt = q_session_filtered(spark, sf_dir).withColumn("part", F.lit("filtered"))
    return base.unionByName(filt)


O_SESSIONS = f"""
SELECT *, 'all' AS part FROM ({O_SESSION_LIST})
UNION ALL
SELECT *, 'filtered' AS part FROM ({O_SESSION_FILTERED})
"""


def q_mv_rollups(spark, sf_dir):
    """§4 MV rewrite: basic agg states + quantile state, both answered from
    the rollup (materializedViews.ts parity)."""
    agg = q_mv_rollup(spark, sf_dir).select(
        F.lit("agg").alias("part"), "__timestamp", "event_type",
        F.col("cnt").cast("double").alias("cnt"),
        F.col("sum_v").alias("v1"), F.col("min_v").alias("v2"), F.col("max_v").alias("v3"),
    )
    qt = q_mv_quantile(spark, sf_dir).select(
        F.lit("quantile").alias("part"), "__timestamp", "event_type",
        F.col("cnt").cast("double").alias("cnt"),
        F.col("p90").alias("v1"), F.lit(0.0).alias("v2"), F.lit(0.0).alias("v3"),
    )
    return agg.unionByName(qt)


O_MV_ROLLUPS = f"""
SELECT 'agg' AS part, __timestamp, event_type, cnt::DOUBLE AS cnt,
       sum_v AS v1, min_v AS v2, max_v AS v3 FROM ({O_MV_ROLLUP})
UNION ALL
SELECT 'quantile' AS part, __timestamp, event_type, cnt::DOUBLE AS cnt,
       p90 AS v1, 0.0 AS v2, 0.0 AS v3 FROM ({O_MV_QUANTILE})
"""


def q_neardup_pairs(spark, sf_dir):
    """Near-dup family: n-gram Jaccard, MinHash+LSH (same ground truth), and
    SimHash pigeonhole blocking — one pairs relation, tagged by method."""
    jac = q_ngram_jaccard(spark, sf_dir).select(
        F.lit("jaccard").alias("part"), "id_a", "id_b", F.col("jaccard").alias("score")
    )
    mh = q_minhash_lsh(spark, sf_dir).select(
        F.lit("minhash").alias("part"), "id_a", "id_b", F.col("jaccard").alias("score")
    )
    sh = q_simhash_pairs(spark, sf_dir).select(
        F.lit("simhash").alias("part"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    em = q_embedding_dedup(spark, sf_dir).select(
        F.lit("embed").alias("part"), "id_a", "id_b", F.col("cos").alias("score")
    )
    wn = q_winnow_pairs(spark, sf_dir).select(
        F.lit("winnow").alias("part"), "id_a", "id_b",
        F.col("overlap").alias("score"),
    )
    return jac.unionByName(mh).unionByName(sh).unionByName(em).unionByName(wn)


O_NEARDUP_PAIRS = f"""
SELECT 'jaccard' AS part, id_a, id_b, jaccard AS score FROM ({O_NGRAM_JACCARD})
UNION ALL
SELECT 'minhash' AS part, id_a, id_b, jaccard AS score FROM ({O_MINHASH_LSH})
UNION ALL
SELECT 'simhash' AS part, id_a, id_b, hamming::DOUBLE AS score FROM ({O_SIMHASH_PAIRS})
UNION ALL
SELECT 'embed' AS part, id_a, id_b, cos AS score FROM ({O_EMBEDDING_DEDUP})
UNION ALL
SELECT 'winnow' AS part, id_a, id_b, overlap AS score FROM ({O_WINNOW_PAIRS})
"""


def q_dedup_groups(spark, sf_dir):
    """Connected-components clustering of near-dup pairs (dedup.dedup_groups:
    min-label propagation) -> keep-lowest-id groups."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.6
    )
    return dedup.dedup_groups(pairs)


O_DEDUP_GROUPS = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({O_NGRAM_JACCARD}) t),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
SELECT id, min(lbl) AS group_id, (id = min(lbl)) AS is_keeper
FROM reach GROUP BY id
"""


def q_ann_indexed(spark, sf_dir):
    """ANN tiers over the same queries: brute-force (exact), LSH bands, IVF
    lists (nprobe=nlist -> provably exact), PQ asymmetric-distance with
    `refine` >= |corpus| so the exact-cosine re-rank provably recovers the
    brute-force answer (the ADC candidate pass is still exercised end to
    end: codebook build, row-local encode, broadcast distance tables), the
    composed IVF-PQ persisted index — all five ANN tiers vs the one exact
    oracle — plus a sixth distributed-PCA tier (exact-decimal moment
    replay + raising rotation-invariance self-check on the projection)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 3)
    from hyperdx_spark.pipeline import clustering as _clu
    import tempfile

    # The eager chains below are independent strings of small collects
    # (19.2 s of 20.7 s construction was py4j wait): overlap them.

    def _ivfpq_chain():
        # composed IVF-PQ persisted index (FAISS IVFPQ shape): build to a
        # temp dir, query with nprobe=nlist + refine >= |corpus| ->
        # provably exact, while exercising the full path (partitioned
        # write, pruned scan, ADC over codes, re-rank)
        ivfpq_path = tempfile.mkdtemp(prefix="ivfpq_") + "/idx"
        similarity.build_ivfpq_index(emb, ivfpq_path, nlist=8, m=8, codes=16)
        return similarity.query_ivfpq_index(
            spark, ivfpq_path, qs, k=5, nprobe=8, refine=100_000_000
        )

    def _km_chain():
        # r14: deterministic fixed-point k-means (pipeline/clustering.py)
        # — k=2, farthest-first init, 2 Lloyd iterations; every decision
        # an exact integer, so the DuckDB oracle replays it bit-for-bit.
        km_c = _clu.kmeans_fit(emb, 2, iterations=2)
        # r16: the COMPOSED d4_select end to end (r15 verdict #2).
        # block_centroids=km_c: the identical fit already ran above —
        # reuse it instead of paying the farthest init + 2 Lloyd passes
        # twice per gate evaluation (r16 review).  max_bucket_size=None:
        # the DuckDB replay models the UNCAPPED within-cluster contract.
        d4s = dedup.d4_select(
            load_table(spark, sf_dir, "documents").select("doc_id"),
            emb, block_k=2, threshold=0.5, drop_frac=0.25,
            block_init="farthest", block_iterations=2,
            block_centroids=km_c, max_bucket_size=None,
        )
        return km_c, d4s

    def _pca_chain():
        # 6th tier: distributed PCA. The eigendecomposition is driver-side
        # numpy; the fitted projection is verified by a RAISING
        # rotation-invariance self-check: full-rank orthonormal components
        # preserve the centered norm, ‖P(x−μ)‖² = ‖x−μ‖², for every row.
        model = similarity.pca_fit(emb, vec_col="embedding")
        proj = similarity.pca_project(emb, model, vec_col="embedding")
        mean_lit = F.array(*[F.lit(m) for m in model["mean"]])
        sq = lambda arr: F.aggregate(  # noqa: E731
            arr, F.lit(0.0), lambda a, x: a + x * x
        )
        chk = proj.select(
            "vec_id",
            sq(F.col("pca")).alias("__pn"),
            sq(
                F.zip_with(
                    F.col("embedding"), mean_lit,
                    lambda x, m: x.cast("double") - m,
                )
            ).alias("__cn"),
        ).where(
            F.abs(F.col("__pn") - F.col("__cn"))
            > F.lit(1e-8) * (F.col("__cn") + F.lit(1.0))
        )
        bad = chk.limit(1).collect()
        if bad:
            raise RuntimeError(
                f"PCA rotation-invariance self-check failed: {bad[0]}"
            )

    # r14: every approximate tier runs its PROVABLY-exact configuration —
    # lsh exhaustive=True (banding executes, candidates union the full
    # set; the default geometry missed a true rank-5 neighbour at sf0.1),
    # ivf nprobe=nlist, pq/ivfpq refine=1e8 (a rank-filter bound, so any
    # value >= |corpus| is free and sf-robust where the old 4096 broke
    # beyond ~4k vectors)
    chains = overlapped([
        _ivfpq_chain, _km_chain, _pca_chain,
        partial(_clu.kmeans_parallel_trace, emb, 2, oversample=4, rounds=2),
        partial(similarity.cosine_topk_pq, emb, qs, k=5, m=8, codes=16, refine=100_000_000),
        partial(similarity.cosine_topk_ivf, emb, qs, k=5, nlist=8, nprobe=8),
    ])
    # lazy builders ride this thread while the eager chains run
    brute = similarity.cosine_topk(emb, qs, k=5)
    lsh = similarity.cosine_topk_lsh(
        emb, qs, k=5, num_planes=16, bands=8, exhaustive=True
    )
    # _pca_chain is a raising self-check; no frame rides the gate
    ivfpq, (km_c, d4s), _, kmp_rows, pq, ivf = chains
    out = (
        brute.select(F.lit("brute").alias("part"), "*")
        .unionByName(lsh.select(F.lit("lsh").alias("part"), "*"))
        .unionByName(ivf.select(F.lit("ivf").alias("part"), "*"))
        .unionByName(pq.select(F.lit("pq").alias("part"), "*"))
        .unionByName(ivfpq.select(F.lit("ivfpq").alias("part"), "*"))
    )
    out = _round4(out)
    # 6th-tier gate rows: the corpus moments the PCA fit consumes ride as
    # exact-decimal rows DuckDB replays bit-for-bit (float→DECIMAL can
    # never tie at a rounding boundary — dyadic rationals are never
    # half-multiples of 1e-6 — so both engines round identically); the
    # fitted projection itself was verified by _pca_chain's raising
    # rotation-invariance self-check above.
    dec = F.col("v").cast("decimal(18,6)")
    mom = (
        emb.select(F.posexplode("embedding").alias("i", "v"))
        .groupBy("i")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec).alias("__s"),
            F.sum(dec * dec).alias("__ss"),
        )
    )
    pca_mu = mom.select(
        F.lit("pca_mu").alias("part"), F.col("i").cast("long").alias("query_id"),
        F.col("n").alias("match_id"), F.col("__s").cast("double").alias("cos"),
        F.col("i").cast("int").alias("rank"),
    )
    pca_ss = mom.select(
        F.lit("pca_ss").alias("part"), F.col("i").cast("long").alias("query_id"),
        F.col("n").alias("match_id"), F.col("__ss").cast("double").alias("cos"),
        F.col("i").cast("int").alias("rank"),
    )
    out = out.unionByName(pca_mu).unionByName(pca_ss)
    # Gate rows from the fixed-point k-means fit (km_c, _km_chain above):
    # per-vector cluster + exact distance ('km|asg'), final centroid
    # components ('km|cent') — every decision an exact integer, so the
    # DuckDB oracle replays init, both updates, and the final assignment
    # bit-for-bit.
    q = _clu.quantize_vec(F.col("embedding"))
    d0 = _clu._sq_dist(q, km_c[0])
    d1 = _clu._sq_dist(q, km_c[1])
    km_asg = emb.select(
        F.lit("km|asg").alias("part"),
        F.col("vec_id").cast("long").alias("query_id"),
        F.when(d1 < d0, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("match_id"),
        F.least(d0, d1).cast("double").alias("cos"),
        F.lit(0).cast("int").alias("rank"),
    )
    km_cent = local_frame(
        spark,
        [
            ("km|cent", ci, di, float(v), 0)
            for ci, c in enumerate(km_c)
            for di, v in enumerate(c)
        ],
        "part string, query_id long, match_id long, cos double, rank int",
    )
    # r15: k-means|| distributed phases (Bahmani'12; clustering.py) —
    # candidate rounds + attraction weights at the gate config (k=2,
    # oversample=4, rounds=2; kmp_rows collected in the pool above). The
    # md5 selection coins, exact-integer psi/distances, the IEEE-double
    # compare h*psi < (l*d^2)*16^15, and the argmin weighting with
    # (round, id) tie order all replay in DuckDB; the driver-side
    # weighted recluster that follows is pytest-pinned pure Python. One
    # row per candidate: (id, round, weight).
    km_par = local_frame(
        spark,
        [("kmp|cw", int(i), int(r), float(wt), 0) for (i, r, wt) in kmp_rows],
        "part string, query_id long, match_id long, cos double, rank int",
    )
    # r15: D4 diversification (Tirumala'23; clustering.drop_prototypical)
    # — drop the 25% of each cluster nearest its centroid. Exact integer
    # distances + (distance, id) rank + floor(0.25*n) in IEEE doubles:
    # the DuckDB oracle replays the keep set bit-for-bit from the same
    # two-Lloyd-step centroids.
    d4 = _clu.drop_prototypical(emb, km_c, 0.25, dist_col="__dd")
    km_d4 = d4.select(
        F.lit("d4|keep").alias("part"),
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("cluster").cast("long").alias("match_id"),
        F.col("__dd").cast("double").alias("cos"),
        F.lit(0).cast("int").alias("rank"),
    )
    # r16: the COMPOSED d4_select end to end (r15 verdict #2; d4s built in
    # _km_chain above) — the pieces (km|asg clustering, d4|keep prototype
    # window, the q_dedup_all pair/connected-components replay) each ride
    # the gate already; this part hashes the kept doc_id set of the
    # ONE-CALL composition: shared clustering (block_init="farthest",
    # block_iterations=2 == the kc2w centroids the oracle replays),
    # within-cluster exhaustive pairs at cosine 0.5, connected components,
    # keeper = lowest id (score_col None), SemDeDup survivors feeding the
    # prototype window, final anti-join; docs without an embedding pass
    # through.
    km_d4sel = d4s.select(
        F.lit("d4sel|keep").alias("part"),
        F.col("doc_id").cast("long").alias("query_id"),
        F.lit(0).cast("long").alias("match_id"),
        F.lit(0.0).alias("cos"),
        F.lit(0).cast("int").alias("rank"),
    )
    return (
        out.unionByName(km_asg).unionByName(km_cent)
        .unionByName(km_par).unionByName(km_d4).unionByName(km_d4sel)
    )


O_ANN_INDEXED = f"""
SELECT p.part, t.query_id, t.match_id, t.cos, t.rank
FROM ({O_ANN_COSINE}) t
CROSS JOIN (VALUES ('brute'), ('lsh'), ('ivf'), ('pq'), ('ivfpq')) p(part)
UNION ALL
-- distributed-PCA moment replay (exact decimals; the eigen tier is
-- verified Spark-side by a raising rotation-invariance check). The
-- FLOAT value is routed through DOUBLE before the decimal cast: DuckDB's
-- direct float→decimal rounds the float's SHORTEST decimal repr while
-- Spark rounds the exact binary expansion — via DOUBLE both engines
-- round the same exact value (never a tie: dyadic rationals are never
-- half-multiples of 1e-6)
SELECT 'pca_mu' AS part, i - 1 AS query_id, count(*) AS match_id,
       sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)))::DOUBLE AS cos,
       i - 1 AS rank
FROM (SELECT unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings) e
GROUP BY i
UNION ALL
SELECT 'pca_ss' AS part, i - 1 AS query_id, count(*) AS match_id,
       sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))
           * CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)))::DOUBLE AS cos,
       i - 1 AS rank
FROM (SELECT unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings) e
GROUP BY i
"""


def q_csv_render(spark, sf_dir):
    """§2.1 CSV export round-trip + §2.11 client render cap (top-by-peak)
    + the display-shape config conversions (core/utils.ts:811-900): a
    granular builder config rewritten for pie/bar (seriesLimit -> LIMIT with
    the injected first-aggregate-DESC + group-ASC default ordering), number
    (granularity+groupBy dropped) and table (default row limit + stable
    group ordering) tiles."""
    from hyperdx_spark.display import (
        convert_to_categorical_chart_config,
        convert_to_number_chart_config,
        convert_to_table_chart_config,
    )

    from hyperdx_spark.externalapi import run_chart_series

    ext_src = _src()
    # The CSV round-trip, the render-cap collect and the external-API
    # series (gated further down) are independent eager parts: overlap them.
    csv, cap, recs = overlapped([
        partial(q_csv_export, spark, sf_dir),
        partial(q_render_cap, spark, sf_dir),
        partial(
            run_chart_series,
            spark,
            [
                {"agg_fn": "count", "group_by": ["event_type"]},
                # integral sum (floor) keeps the gated aggregate
                # float-exact; the lucene where threads through as the
                # aggCondition
                {"agg_fn": "sum", "field": "floor(value)",
                 "where": "value:>=50", "group_by": ["event_type"]},
            ],
            [ext_src, ext_src],
            sf_dir=sf_dir,
            start_time_ms=1704067200000,   # 2024-01-01 UTC (== RANGE)
            end_time_ms=1706745600000,     # 2024-02-01 UTC
            granularity="1d",
        ),
    ])
    csv = csv.select(
        F.lit("csv").alias("part"), F.col("day_s").alias("ts_s"),
        F.col("event_type").alias("series"),
        F.col("cnt").cast("double").alias("value"),
    )
    cap = cap.select(F.lit("render").alias("part"), "ts_s", "series", "value")
    # one granular tile config, rendered through each display-shape rewrite
    tile = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count")],  # unnamed -> aliased "Value"
        group_by=["event_type"],
        granularity="1 day",  # dropped by every conversion
        series_limit=2,       # pie/bar: keeps the 2 largest slices
        date_range=RANGE,
    )
    cat = compile_chart_config(
        spark, convert_to_categorical_chart_config(tile), sf_dir=sf_dir
    ).select(
        F.lit("cat").alias("part"), F.lit(None).cast("bigint").alias("ts_s"),
        F.col("event_type").alias("series"), F.col("Value").cast("double").alias("value"),
    )
    # number/table keep the user's aliases untouched (only the categorical
    # rewrite injects "Value", and only when it synthesizes the ordering)
    named = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="Value")],
        group_by=["event_type"],
        granularity="1 day",
        series_limit=2,
        date_range=RANGE,
    )
    num = compile_chart_config(
        spark, convert_to_number_chart_config(named), sf_dir=sf_dir
    ).select(
        F.lit("num").alias("part"), F.lit(None).cast("bigint").alias("ts_s"),
        F.lit(None).cast("string").alias("series"),
        F.col("Value").cast("double").alias("value"),
    )
    tab = compile_chart_config(
        spark, convert_to_table_chart_config(named), sf_dir=sf_dir
    ).select(
        F.lit("tab").alias("part"), F.lit(None).cast("bigint").alias("ts_s"),
        F.col("event_type").alias("series"), F.col("Value").cast("double").alias("value"),
    )
    # r14 (VERDICT r13 #5): the external API v2 series dialect under the
    # gate — a two-series /api/v2/charts/series request (count + gated
    # integral sum, '1d' token, shared groupBy) through
    # external_series_to_chart_config -> compile -> format_ch_result; the
    # zipped records unpivot one row per (record, series) so the oracle
    # hashes the epoch-ms bucket, group, and each series_<i>.data value.
    ext_rows = []
    for r in recs:
        grp = "|".join(str(g) for g in r["group"])
        for i in ("0", "1"):
            v = r.get(f"series_{i}.data")
            ext_rows.append((
                f"extapi|s{i}", int(r["ts_bucket"]), grp,
                float(v) if v is not None else None,
            ))
    ext = local_frame(
        spark, ext_rows, "part string, ts_s bigint, series string, value double"
    )
    return (
        csv.unionByName(cap).unionByName(cat).unionByName(num)
        .unionByName(tab).unionByName(ext)
    )


O_CSV_RENDER = f"""
SELECT 'csv' AS part, day_s AS ts_s, event_type AS series, cnt::DOUBLE AS value FROM ({O_CSV_EXPORT})
UNION ALL
SELECT 'render' AS part, ts_s, series, value FROM ({O_RENDER_CAP})
UNION ALL
SELECT 'cat' AS part, NULL::BIGINT AS ts_s, event_type AS series, cnt::DOUBLE AS value
FROM (SELECT event_type, count(*) AS cnt FROM events WHERE {TIME_WHERE}
      GROUP BY 1 ORDER BY cnt DESC, event_type ASC LIMIT 2)
UNION ALL
SELECT 'num' AS part, NULL::BIGINT AS ts_s, NULL::VARCHAR AS series,
       count(*)::DOUBLE AS value FROM events WHERE {TIME_WHERE}
UNION ALL
SELECT 'tab' AS part, NULL::BIGINT AS ts_s, event_type AS series,
       count(*)::DOUBLE AS value
FROM events WHERE {TIME_WHERE} GROUP BY event_type
UNION ALL
SELECT 'extapi|s0' AS part,
       (floor(epoch(ts))::BIGINT // 86400) * 86400000 AS ts_s,
       event_type AS series, count(*)::DOUBLE AS value
FROM events WHERE {TIME_WHERE} GROUP BY 2, 3
UNION ALL
SELECT 'extapi|s1' AS part,
       (floor(epoch(ts))::BIGINT // 86400) * 86400000 AS ts_s,
       event_type AS series,
       (sum(floor(value)) FILTER (value >= 50))::DOUBLE AS value
FROM events WHERE {TIME_WHERE} GROUP BY 2, 3
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization via the native session_window operator
    (analytics/sessionize.py): one shuffle on the key, watermark-bounded
    state in streaming."""
    from hyperdx_spark.analytics.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    return sessionize(ev, ts_col="ts", key_cols=("user_id",), gap="4 hours")


O_SESSIONIZE = f"""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE {TIME_WHERE}),
g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM s)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


def q_dedup_all(spark, sf_dir):
    """Dedup family + deterministic-sampling tier, part-tagged: exact dedup
    (normalized-hash groupBy), connected-components clustering of near-dup
    pairs, md5-keyed hash sampling (pipeline/sampling.py — the key is
    engine-portable, so DuckDB replays membership bit-for-bit), the
    token-budget source mix built on it, 8-gram benchmark contamination
    (GPT-3/PaLM decontamination rule; bench = first 200 chars of every
    29th doc, so every benchmark source doc genuinely self-flags),
    SemDeDup + quality-aware keeper policy end to end (semkeep/semdedup
    parts), the per-source quality-percentile cut (srccut part), and —
    r14 — DSIR importance resampling (dsir|cnt/w/sel parts) and the
    CCNet-style perplexity filter (ppl|w/keep parts), both exact-integer
    micronat chains DuckDB replays bit-for-bit."""
    from hyperdx_spark.pipeline import sampling

    exact = q_dedup_exact(spark, sf_dir).select(
        F.lit("exact").alias("part"), F.col("fp").alias("k"),
        F.col("keep_id").cast("long").alias("v1"),
        F.col("n_copies").cast("long").alias("v2"),
    )
    # C4 3-sentence-span dedup over the near-dup corpus. The synthetic docs
    # carry no punctuation (1 sentence each), so sentence boundaries are
    # derived deterministically (a period after every ' table' token) —
    # mutated docs then share all original sentences and duplicated spans
    # genuinely occur (22 docs / 100 sentences dropped at sf0.01, so the
    # hash pins real removal work, not an inert pipeline).
    span_docs = _docs_with_near_dups(spark, sf_dir).withColumn(
        "text", F.replace(F.col("text"), F.lit(" table"), F.lit(" table."))
    )
    span = dedup.duplicate_span_removal(span_docs).select(
        F.lit("span").alias("part"), F.col("doc_id").cast("string").alias("k"),
        F.octet_length("text_dedup").cast("long").alias("v1"),
        F.col("n_dropped").cast("long").alias("v2"),
    )
    # The jaccard CC behind the groups part and the cosine-pair CC behind
    # semkeep each end in a driver collect (~2.0 s + ~1.4 s): overlap them.
    def _semkeep_chain():
        emb_t = load_table(spark, sf_dir, "embeddings")
        scored_t = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "source")
            .withColumn("score", F.octet_length("text").cast("double"))
        )
        pairs_t = similarity.cosine_pairs(emb_t, threshold=0.5, exhaustive=True)
        return dedup.pick_keepers(
            dedup.dedup_groups(pairs_t), scored_t,
            id_col="doc_id", score_col="score",
        )

    groups, sem_keep_df = overlapped([partial(q_dedup_groups, spark, sf_dir), _semkeep_chain])
    groups = groups.select(
        F.lit("groups").alias("part"), F.col("id").cast("string").alias("k"),
        F.col("group_id").cast("long").alias("v1"),
        F.col("is_keeper").cast("long").alias("v2"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", text.token_count("text").alias("__nt")
    )
    samp = sampling.hash_sample(docs, 0.25, id_col="doc_id", seed=42).select(
        F.lit("sample").alias("part"), F.col("doc_id").cast("string").alias("k"),
        F.octet_length("text").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    mix = sampling.token_budget_mix(
        {
            "even": docs.where(F.col("doc_id") % 2 == 0),
            "odd": docs.where(F.col("doc_id") % 2 == 1),
        },
        {"even": 0.7, "odd": 0.3},
        total_tokens=5000,
        id_col="doc_id",
        token_count_col="__nt",
        seed=7,
    ).select(
        F.lit("mix").alias("part"),
        F.concat_ws(":", "source", F.col("doc_id").cast("string")).alias("k"),
        F.col("__nt").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    bench = docs.where(F.col("doc_id") % 29 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    contam = dedup.ngram_contamination(
        docs.select("doc_id", "text"), bench, 8
    ).select(
        F.lit("contam").alias("part"), F.col("doc_id").cast("string").alias("k"),
        F.col("n_grams_hit").cast("long").alias("v1"),
        F.col("n_bench_docs").cast("long").alias("v2"),
    )
    # SemDeDup (Abbas'23) + quality-aware keeper policy, end to end:
    # embedding-cosine pairs (r14: exhaustive=True — the gate's
    # provably-recall-1 config; the default LSH banding's expected recall
    # for a pair AT cosine 0.5 is ~0.58 and sf0.1 exposed missed boundary
    # pairs against the exhaustive oracle), connected components, keeper =
    # best score then lowest id (pick_keepers), loser anti-join
    # (semantic_dedup). Score = byte length: integer-valued, so the
    # keeper argmax is engine-exact, and lengths tie often enough to
    # exercise the min-id tie-break for real.
    docs_src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    scored = docs_src.withColumn(
        "score", F.octet_length("text").cast("double")
    )
    # sem_keep_df was computed above (thread-pool overlap with the groups
    # CC); it is the same pick_keepers(dedup_groups(cosine_pairs(emb,
    # 0.5, exhaustive)), scored) chain this block used to build inline.
    semkeep = sem_keep_df.select(
        F.lit("semkeep").alias("part"), F.col("id").cast("string").alias("k"),
        F.col("group_id").cast("long").alias("v1"),
        F.col("is_keeper").cast("long").alias("v2"),
    )
    # r17: semdedup derives from the SAME sem_keep_df as the semkeep part
    # instead of a second semantic_dedup() call. semantic_dedup(scored,
    # emb, threshold=0.5, score_col="score", exhaustive=True) is exactly
    # cosine_pairs(emb, 0.5, exhaustive) -> dedup_groups -> pick_keepers
    # (same defaults) -> loser anti-join (dedup.py drop_near_duplicates)
    # — the chain already computed above — so the anti-join below is the
    # identical composition and the oracle result is unchanged (strict
    # oracle re-verified at sf0.01/sf0.001). This halves the eager CC
    # work in this query's construction: one exhaustive pair scan + one
    # connected-components loop instead of two of each (guide §1.2 step 1
    # — don't compute things twice).
    sem_losers = sem_keep_df.where(~F.col("is_keeper")).select(
        F.col("id").alias("doc_id")
    )
    sem_kept = scored.join(sem_losers, on="doc_id", how="left_anti")
    semdedup = sem_kept.select(
        F.lit("semdedup").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.octet_length("text").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    # Per-source quality cut (RefinedWeb "top X% per domain"): keep the
    # top 75% of each source by score; exact percentile so the DuckDB
    # quantile_cont replay is bit-for-bit (q = 0.25 interpolates at exact
    # binary quarters over integer scores — no float boundary risk)
    from hyperdx_spark.pipeline import sampling as _sampling

    srccut = _sampling.top_fraction_per_source(
        scored, 0.75, score_col="score", source_col="source", exact=True
    ).select(
        F.lit("srccut").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("score").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    # corpus top-k n-grams (text.top_ngrams): partial-agg + TakeOrdered,
    # never a global sort — the boilerplate/contamination audit view
    topgram = text.top_ngrams(docs_src, n=3, k=25).select(
        F.lit("topgram").alias("part"), F.col("g").alias("k"),
        F.col("n_occurrences").cast("long").alias("v1"),
        F.col("n_docs").cast("long").alias("v2"),
    )
    # Cavnar-Trenkle trigram language-ID: label counts + sum of labeled doc
    # ids (pins the exact per-document assignment, not just the histogram)
    langid = (
        docs_src.select(
            "doc_id", text.detect_language_ngram("text").alias("lang")
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("doc_id").alias("sid"))
        .select(
            F.lit("langid").alias("part"), F.col("lang").alias("k"),
            F.col("n").cast("long").alias("v1"),
            F.col("sid").cast("long").alias("v2"),
        )
    )
    # HTML strip + link density over deterministically HTML-ified docs:
    # script block, comment, entities, block-level closers, and one anchor —
    # every branch of the strip chain fires. Link density is gated as
    # floor(d * 10000) (exact int/int division both engines; DuckDB's
    # ::BIGINT rounds where Spark's cast truncates, so floor() explicitly)
    html = F.concat(
        F.lit(
            '<html><body><script type="text/js">var x = 1;</script>'
            "<h1>Heading &amp; more</h1><!-- note --><p>"
        ),
        F.replace(F.col("text"), F.lit(". "), F.lit(".</p><p>")),
        F.lit(
            "</p><ul><li>item one</li></ul>"
            '<a href="https://example.com">click &quot;here&quot;</a>'
            "</body></html>"
        ),
    )
    hdf = docs_src.withColumn("__html", html)
    htmlstrip = hdf.select(
        F.lit("htmlstrip").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.length(text.strip_html("__html")).cast("long").alias("v1"),
        F.floor(text.link_density("__html") * 10000).cast("long").alias("v2"),
    )
    # -- r9: driver-gate coverage for the r8 operator families (VERDICT
    # r8 #6). pack: concat-and-chunk spans with ONE shard so the DuckDB
    # window replay is engine-exact (the xxhash64 shard assignment is not
    # SQL-replayable; the multi-shard path is pytest-oracled with the
    # shard map fetched from Spark). Token counts are arithmetic
    # (length % 97 + 1) — packing arithmetic is what's pinned, not a
    # tokenizer. storeprobe: incremental exact-dedup classification of a
    # 1-in-10 batch against a store seeded from the other 9/10
    # (fingerprint = md5 of normalized text, so DuckDB replays the whole
    # classification; localCheckpoint decouples the returned frame from
    # the managed table so later overwrites can't invalidate it).
    from hyperdx_spark.pipeline import incremental as _inc
    from hyperdx_spark.pipeline import packing as _packing

    pdocs = docs.select(
        "doc_id", (F.length("text") % 97 + 1).cast("long").alias("nt")
    )
    packpart = _packing.pack_sequences(
        pdocs, 64, id_col="doc_id", token_count_col="nt", num_shards=1
    ).select(
        F.lit("pack").alias("part"),
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("seq_id").cast("string")
        ).alias("k"),
        (F.col("doc_tok_begin") * 1000 + F.col("doc_tok_end"))
        .cast("long").alias("v1"),
        F.col("seq_off").cast("long").alias("v2"),
    )
    # a previous session may have left the managed-table directory behind
    # without a catalog entry (fresh derby per session) — clear both
    import os as _os
    import shutil as _shutil

    spark.sql("DROP TABLE IF EXISTS gate_inc_store")
    _wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    _wh = _wh[len("file:"):] if _wh.startswith("file:") else _wh
    _shutil.rmtree(_os.path.join(_wh, "gate_inc_store"), ignore_errors=True)
    _inc.build_exact_store(
        docs.where(F.col("doc_id") % 10 != 0), "gate_inc_store", buckets=8
    )
    stat_code = (
        F.when(F.col("status") == "store_dup", 2)
        .when(F.col("status") == "batch_dup", 1)
        .otherwise(0)
    )
    storeprobe = _inc.dedup_exact_against_store(
        docs.where(F.col("doc_id") % 10 == 0), spark, "gate_inc_store"
    ).select(
        F.lit("storeprobe").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        stat_code.cast("long").alias("v1"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("v2"),
    ).localCheckpoint()
    # URL curation (r9): synthesized crawl URLs where (host, page, id
    # param) repeat under varying tracking params / fragments — urldedup
    # pins the canonicalization (v1 = canonical length) + min-id keeper,
    # urlcap pins the md5-ranked per-host cap (the hash_sample key family,
    # so DuckDB replays membership bit-for-bit).
    from hyperdx_spark.pipeline import urls as _urls

    url_docs = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://www.host"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/page/"), (F.col("doc_id") % 10).cast("string"),
            F.lit("?utm_source=s"), F.col("doc_id").cast("string"),
            F.lit("&id="), (F.col("doc_id") % 10).cast("string"),
            F.lit("#sec"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    urldedup = _urls.dedup_by_url(url_docs).select(
        F.lit("urldedup").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.length(_urls.canonicalize_url("url")).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    urlcap = _urls.cap_per_host(url_docs, 7).select(
        F.lit("urlcap").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        (F.col("doc_id") % 3).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    # r11: trainable quality classifier's SERVING path (pipeline/quality.py
    # linear_quality_score + quality_filter) under the gate. Weights are
    # the pinned integer-valued formula w(b) = (b*37) % 21 - 10 over the
    # k=64 md5-prefix buckets, bias 0, threshold 0.5: sigmoid is monotone,
    # so the keep decision is exactly "integer weight-sum >= 0" — the
    # DuckDB replay recomputes the same buckets and weights per token with
    # no float-boundary risk, while Spark runs the real sigmoid Column.
    # (Training itself is deterministic numpy over bounded samples and is
    # pytest-oracled — not SQL-expressible.)
    from hyperdx_spark.pipeline import quality as _quality

    # r11: exact-substring (token-window) dedup, Lee et al. 2021 — the
    # mutated near-dup docs share every 5-token window of their original,
    # so real cross-doc substring removal happens at gate scale
    windowed = dedup.duplicate_window_removal(
        _docs_with_near_dups(spark, sf_dir), window=5
    ).select(
        F.lit("window").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.octet_length("text_dedup").cast("long").alias("v1"),
        F.col("n_dropped").cast("long").alias("v2"),
    )
    qscore = _quality.quality_filter(
        docs, [float((b * 37) % 21 - 10) for b in range(64)], 0.0,
        text_col="text", threshold=0.5, score_col="qs", method="column",
    ).select(
        F.lit("qscore").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("__nt").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    # r14: DSIR importance resampling (Xie et al. 2023; pipeline/dsir.py)
    # under the gate. Target = every 17th doc (a subset corpus, so every
    # target bucket also appears in the raw counts), 64 buckets,
    # uni+bigrams. Log-ratios ride as floor(x*1e6+0.5) integer micronats of
    # IEEE doubles, so per-doc weights are EXACT integer sums and DuckDB
    # replays the whole chain — tokenize -> md5 bucket -> smoothed
    # log-ratio -> weight -> Gumbel top-k — bit-for-bit.
    from hyperdx_spark.pipeline import dsir as _dsir

    d_docs = docs_src.select("doc_id", "text")
    d_target = d_docs.where(F.col("doc_id") % 17 == 0)
    d_lam = _dsir.dsir_fit(d_target, d_docs, buckets=64)
    d_t = _dsir.bucket_counts(d_target, buckets=64).withColumnRenamed(
        "cnt", "__t"
    )
    d_r = _dsir.bucket_counts(d_docs, buckets=64).withColumnRenamed(
        "cnt", "__r"
    )
    dsircnt = d_t.join(d_r, on="bucket", how="outer").select(
        F.lit("dsir|cnt").alias("part"),
        F.col("bucket").cast("string").alias("k"),
        F.coalesce("__t", F.lit(0)).cast("long").alias("v1"),
        F.coalesce("__r", F.lit(0)).cast("long").alias("v2"),
    )
    d_w = _dsir.dsir_weights(d_docs, d_lam, buckets=64)
    dsirw = d_w.select(
        F.lit("dsir|w").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("dsir_lw_fp").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    dsirsel = _dsir.dsir_resample(d_w, 200, seed=13).select(
        F.lit("dsir|sel").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("dsir_rank").cast("long").alias("v1"),
        F.col("dsir_lw_fp").alias("v2"),
    )
    # r14: CCNet-style perplexity filter (Wenzek et al. 2019;
    # pipeline/perplexity.py) under the gate. Hashed bigram LM (vocab 128)
    # fit on the same doc_id % 17 target slice; per-doc log-prob totals
    # ride as exact integer micronats and the keep decision is the integer
    # cross-multiplication -lp_fp <= thr_fp * n — DuckDB replays fit, score,
    # and filter bit-for-bit.
    from hyperdx_spark.pipeline import perplexity as _ppl

    p_lm = _ppl.bigram_lm_fit(d_target, vocab=128)
    p_scores = _ppl.perplexity_score(d_docs, p_lm)
    pplw = p_scores.select(
        F.lit("ppl|w").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("lp_fp").alias("v1"),
        F.col("n_bigrams").alias("v2"),
    )
    pplkeep = _ppl.perplexity_filter(
        d_docs, p_lm, 6.0, keep_empty=False
    ).select(
        F.lit("ppl|keep").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.octet_length("text").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    # r14: Unicode NFC normalization (pipeline/textnorm.py) under the
    # gate — decomposed accents synthesized by suffixing every 'e' with
    # the combining acute (U+0301); the Arrow-batched unicodedata UDF is
    # hash-compared against DuckDB's INDEPENDENT nfc_normalize
    # implementation of the same standard (composed char count = e count,
    # so the lengths pin real composition work).
    from hyperdx_spark.pipeline import textnorm as _tn

    decomposed = d_docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit("e"), F.lit("é")).alias("__t"),
    )
    tnorm = decomposed.select(
        F.lit("tnorm").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.length(_tn.nfc_normalize(F.col("__t"))).cast("long").alias("v1"),
        F.length("__t").cast("long").alias("v2"),
    )
    return (
        exact.unionByName(groups).unionByName(samp).unionByName(mix)
        .unionByName(span).unionByName(contam).unionByName(semkeep)
        .unionByName(semdedup).unionByName(srccut).unionByName(topgram)
        .unionByName(langid).unionByName(htmlstrip).unionByName(packpart)
        .unionByName(storeprobe).unionByName(urldedup).unionByName(urlcap)
        .unionByName(qscore).unionByName(windowed)
        .unionByName(dsircnt).unionByName(dsirw).unionByName(dsirsel)
        .unionByName(pplw).unionByName(pplkeep).unionByName(tnorm)
    )


def q_emerging_signals(spark, sf_dir):
    """Emerging & disappeared signals under the gate
    (mcp/tools/query/emergingSignals.ts): bodies synthesized from events
    (current-window error events become a brand-new 'newsvc crashed'
    template; everything else keeps the per-event-type template), both
    windows fully covered by the mining sample so shares are EXACT, and
    the DuckDB oracle recomputes the template shares + the classifyShift
    rule (cross-multiplied ratio with the 1e-9 relative tolerance,
    brand-new floor = 2/sampled) + the JS share rounding."""
    from hyperdx_spark.analytics import signals

    split = datetime(2024, 1, 16)
    # a deterministic 10% user slice keeps BOTH windows inside the mining
    # sample at any sf the driver runs (full coverage = exact shares)
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 7)
    body = F.when(
        (F.col("ts") >= F.lit(split)) & (F.col("event_type") == "error"),
        F.concat(F.lit("newsvc crashed at "),
                 F.floor("value").cast("string"), F.lit(" ms")),
    ).otherwise(
        # event_id varies on EVERY row, so the user slot wildcards even in
        # the tiny sf0.001 slice (a constant slot would stay literal and
        # diverge from the oracle's <*> template)
        F.concat(F.col("event_type"), F.lit(" user "),
                 (F.col("event_id") % 1000).cast("string"), F.lit(" took "),
                 F.floor("value").cast("string"), F.lit(" ms"))
    )
    df = ev.select("ts", body.alias("body"))
    out = signals.emerging_signals(
        df.where(F.col("ts") >= F.lit(split)),
        df.where(F.col("ts") < F.lit(split)),
        text_col="body",
        sample_size=200_000,
        current_range=(split, datetime(2024, 2, 1)),
        baseline_range=(datetime(2024, 1, 1), split),
    )
    rows = [
        (part, e["pattern"], e["current_share"], e["baseline_share"],
         float(e["current_estimated_count"]),
         float(e["baseline_estimated_count"]), e["status"])
        for part, lst in (("em", out["emerging"]), ("dis", out["disappeared"]))
        for e in lst
    ]
    rows.append((
        "sampled", "", float(out["summary"]["current"]["sampled"]),
        float(out["summary"]["baseline"]["sampled"]), 0.0, 0.0, "",
    ))
    return local_frame(
        spark,
        rows,
        "part string, pattern string, cur double, base double,"
        " cur_n double, base_n double, status string",
    )


O_EMERGING_SIGNALS = r"""
WITH b AS (
  SELECT CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_type = 'error'
              THEN 'newsvc crashed at <*> ms'
              ELSE event_type || ' user <*> took <*> ms' END AS pattern,
         (ts >= TIMESTAMP '2024-01-16') AS is_cur
  FROM events WHERE user_id % 10 = 7),
counts AS (
  SELECT pattern,
         count(*) FILTER (is_cur)::DOUBLE AS cn,
         count(*) FILTER (NOT is_cur)::DOUBLE AS bn
  FROM b GROUP BY 1),
tot AS (SELECT sum(cn) AS ct, sum(bn) AS bt FROM counts),
shares AS (
  SELECT pattern, cn, bn, cn / ct AS cs, bn / bt AS bs FROM counts, tot),
cls AS (
  SELECT *, CASE
      WHEN bs = 0 THEN (CASE WHEN cs >= 2.0 / (SELECT ct FROM tot)
                             THEN 'em' END)
      WHEN cs > bs AND cs >= 3 * bs * (1 - 1e-9) THEN 'em'
      WHEN cs = 0 OR (bs > cs AND bs >= 3 * cs * (1 - 1e-9)) THEN 'dis'
      END AS part
  FROM shares)
SELECT part, pattern,
       floor(cs * 10000 + 0.5) / 10000 AS cur,
       floor(bs * 10000 + 0.5) / 10000 AS base,
       cn AS cur_n, bn AS base_n,
       CASE WHEN bs = 0 THEN 'new' WHEN cs = 0 THEN 'gone'
            ELSE 'shifted' END AS status
FROM cls WHERE part IS NOT NULL
UNION ALL
SELECT 'sampled', '', ct, bt, 0.0, 0.0, '' FROM tot
"""


def q_trace_waterfall(spark, sf_dir):
    """Trace waterfall + breakdown under the gate (mcp/tools/trace/
    waterfall.ts + breakdown.ts): a deterministic span forest is derived
    from events (trace = user_id % 50; spans form a binary-heap tree per
    trace with parent idx = idx // 2; synthetic per-span timestamps make
    sibling ordering unique), then

    - ``wf`` rows: the FULL pre-order DFS of one trace — the oracle
      rebuilds the tree with a recursive CTE and orders by the DFS path
      (list of sibling timestamps), proving depth + execution order;
    - ``pick`` rows: the slowest / first_error / most_recent trace
      pickers (grouped max/min aggregates, LIMIT 1);
    - ``bd`` rows: the top-time-consuming-operations breakdown (distinct
      parent traces -> semi join -> (service, operation) aggregate with
      parent rows excluded), one row per metric.
    """
    import tempfile

    from pyspark.sql import Window

    from hyperdx_spark import traces

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("trace").orderBy("event_id")
    base = (
        ev.select(
            (F.col("user_id") % 50).cast("long").alias("trace"),
            "event_id", "value", "event_type",
        )
        .withColumn("idx", F.row_number().over(w).cast("long"))
    )
    # idx <= 64 bounds every trace (and the collected waterfall) at ANY
    # sf; the pinned 99999 duration makes the 'slowest' picker unique
    base = base.where(F.col("idx") <= 64)
    spans = base.select(
        F.concat(F.col("trace").cast("string"), F.lit("-"),
                 F.col("idx").cast("string")).alias("span_id"),
        F.when(F.col("idx") == 1, F.lit("")).otherwise(
            F.concat(F.col("trace").cast("string"), F.lit("-"),
                     (F.col("idx") / 2).cast("long").cast("string"))
        ).alias("parent_span_id"),
        F.col("trace").cast("string").alias("trace_id"),
        (F.lit(datetime(2024, 1, 1)).cast("timestamp")
         + F.make_interval(secs=(F.col("trace") * 100000 + F.col("idx"))
                           .cast("double"))).alias("ts"),
        F.when((F.col("trace") == 7) & (F.col("idx") == 1),
               F.lit(99999.0)).otherwise(
            F.floor("value").cast("double")).alias("dur"),
        F.col("event_type").alias("service"),
        F.concat(F.lit("op"), (F.col("idx") % 5).cast("string")).alias("name"),
        F.when(F.col("event_type") == "error",
               F.lit("STATUS_CODE_ERROR")).otherwise(
            F.lit("STATUS_CODE_OK")).alias("status_code"),
    )
    tmp = tempfile.mkdtemp(prefix="hdx_spans_")
    spans.coalesce(2).write.mode("overwrite").parquet(f"{tmp}/spans.parquet")
    src = Source(
        table="spans", kind="trace", timestamp_value_expression="ts",
        trace_id_expression="trace_id", span_id_expression="span_id",
        parent_span_id_expression="parent_span_id",
        span_name_expression="name", service_name_expression="service",
        duration_expression="dur", duration_precision=3,
        status_code_expression="status_code",
    )
    rng = (datetime(2024, 1, 1), datetime(2024, 7, 1))
    rows = []

    # The five reads of the just-written spans table are independent
    # eager jobs: overlap them.
    modes = ("slowest", "first_error", "most_recent")
    wf, *picks, bd = overlapped(
        [partial(traces.trace_waterfall, spark, src, tmp, trace_id="7", max_spans=2000)]
        + [partial(traces.pick_trace, spark, src, tmp, date_range=rng, pick_by=m)
           for m in modes]
        + [lambda: traces.trace_breakdown(
            spark, src, tmp, parent_filter_sql="name = 'op1'",
            date_range=rng, min_parent_duration_ms=50, top_n=10,
        ).collect()]
    )
    rows += [
        ("wf", i, f"{s['spanId']}|{s['parentSpanId']}|{s['depth']}",
         s["durationMs"])
        for i, s in enumerate(wf["spans"])
    ]
    for mode, pick in zip(modes, picks):
        rows.append((f"pick|{mode}", 0, pick, 0.0))
    for r in bd:
        key = f"{r['service']}|{r['operation']}"
        rows += [
            ("bd|total", 0, key, round(r["total_time_ms"], 4)),
            ("bd|calls", 0, key, float(r["calls"])),
            ("bd|inpar", 0, key, float(r["in_parents"])),
            ("bd|p50", 0, key, round(r["p50_ms"], 4)),
            ("bd|p99", 0, key, round(r["p99_ms"], 4)),
        ]
    return local_frame(
        spark, rows, "part string, k long, s string, v double"
    )


O_TRACE_WATERFALL = r"""
WITH RECURSIVE base AS (
  SELECT user_id % 50 AS trace,
         row_number() OVER (PARTITION BY user_id % 50 ORDER BY event_id) AS idx,
         value, event_type
  FROM events),
spans AS (
  SELECT trace, idx,
         trace::VARCHAR || '-' || idx::VARCHAR AS span_id,
         CASE WHEN idx = 1 THEN ''
              ELSE trace::VARCHAR || '-' || (idx // 2)::VARCHAR END AS parent,
         TIMESTAMP '2024-01-01' + to_seconds(trace * 100000 + idx) AS ts,
         CASE WHEN trace = 7 AND idx = 1 THEN 99999.0
              ELSE floor(value) END AS dur,
         event_type AS service,
         'op' || (idx % 5)::VARCHAR AS name,
         CASE WHEN event_type = 'error' THEN 'STATUS_CODE_ERROR'
              ELSE 'STATUS_CODE_OK' END AS status_code
  FROM base WHERE idx <= 64),
t AS (SELECT * FROM spans WHERE trace = 7),
tree AS (
  SELECT span_id, parent, dur, 0 AS depth, [ts] AS path
  FROM t WHERE parent = ''
  UNION ALL
  SELECT c.span_id, c.parent, c.dur, tree.depth + 1,
         list_append(tree.path, c.ts)
  FROM t c JOIN tree ON c.parent = tree.span_id),
wf AS (
  SELECT 'wf' AS part,
         row_number() OVER (ORDER BY path) - 1 AS k,
         span_id || '|' || parent || '|' || depth::VARCHAR AS s,
         dur AS v
  FROM tree),
picks AS (
  SELECT 'pick|slowest' AS part, 0::BIGINT AS k,
         (SELECT trace::VARCHAR FROM spans GROUP BY trace
          ORDER BY max(dur) DESC LIMIT 1) AS s, 0.0 AS v
  UNION ALL
  SELECT 'pick|first_error', 0,
         (SELECT trace::VARCHAR FROM spans
          WHERE status_code = 'STATUS_CODE_ERROR'
          GROUP BY trace ORDER BY min(ts) ASC LIMIT 1), 0.0
  UNION ALL
  SELECT 'pick|most_recent', 0,
         (SELECT trace::VARCHAR FROM spans GROUP BY trace
          ORDER BY max(ts) DESC LIMIT 1), 0.0),
parents AS (
  SELECT DISTINCT trace FROM spans
  WHERE name = 'op1' AND dur >= 50),
children AS (
  SELECT * FROM spans
  WHERE NOT (name = 'op1') AND trace IN (SELECT trace FROM parents)),
bd AS (
  SELECT service, name,
         sum(dur) AS total, count(*)::DOUBLE AS calls,
         count(DISTINCT trace)::DOUBLE AS inpar,
         quantile_cont(dur, 0.5) AS p50, quantile_cont(dur, 0.99) AS p99
  FROM children GROUP BY 1, 2
  ORDER BY total DESC LIMIT 10),
bdrows AS (
  SELECT 'bd|total' AS part, 0::BIGINT AS k, service || '|' || name AS s,
         round(total, 4) AS v FROM bd
  UNION ALL
  SELECT 'bd|calls', 0, service || '|' || name, calls FROM bd
  UNION ALL
  SELECT 'bd|inpar', 0, service || '|' || name, inpar FROM bd
  UNION ALL
  SELECT 'bd|p50', 0, service || '|' || name, round(p50, 4) FROM bd
  UNION ALL
  SELECT 'bd|p99', 0, service || '|' || name, round(p99, 4) FROM bd)
SELECT * FROM wf
UNION ALL SELECT * FROM picks
UNION ALL SELECT * FROM bdrows
"""


def q_service_map(spark, sf_dir):
    """APM service dependency graph (useServiceMap.tsx:28-192): spans are
    derived deterministically from events (8-span traces, alternating
    Client/Server kinds, service = s<id mod 5>), trace-sampled 1-in-4 by
    plain modulo (the cityHash64-percent analogue, kept hash-free so the
    DuckDB oracle reproduces it bit-for-bit), counts scaled back by the
    sampling factor, edge + node rows from one GROUPING SETS pass."""
    from hyperdx_spark.servicemap import service_map

    ev = load_table(spark, sf_dir, "events")
    spans = ev.select(
        (F.col("event_id") / 8).cast("long").alias("trace_id"),
        F.col("event_id").alias("span_id"),
        F.when(F.col("event_id") % 8 > 0, F.col("event_id") - 1).alias(
            "parent_span_id"
        ),
        F.concat(F.lit("s"), (F.col("event_id") % 5).cast("string")).alias(
            "service"
        ),
        F.when(F.col("event_id") % 2 == 0, F.lit("Client"))
        .otherwise(F.lit("Server"))
        .alias("kind"),
        F.when(F.col("event_type") == "error", F.lit("Error"))
        .otherwise(F.lit("OK"))
        .alias("status_code"),
        F.col("value").alias("duration"),
    )
    out = service_map(
        spans,
        sampling_factor=4,
        sample_predicate=F.col("trace_id") % 4 == 0,
        exact=True,
    )
    return out.select(
        "server_service",
        F.coalesce("client_service", F.lit("")).alias("client_service"),
        "is_node_level",
        "request_count",
        "error_count",
        F.round("p50", 4).alias("p50"),
        F.round("p95", 4).alias("p95"),
        F.round("p99", 4).alias("p99"),
    )


O_SERVICE_MAP = """
WITH spans AS (
  SELECT event_id // 8 AS trace_id, event_id AS span_id,
         CASE WHEN event_id % 8 > 0 THEN event_id - 1 END AS parent_span_id,
         's' || (event_id % 5)::VARCHAR AS service,
         CASE WHEN event_id % 2 = 0 THEN 'Client' ELSE 'Server' END AS kind,
         CASE WHEN event_type = 'error' THEN 'Error' ELSE 'OK' END AS status_code,
         value AS duration
  FROM events
  WHERE (event_id // 8) % 4 = 0),
server AS (SELECT * FROM spans WHERE kind = 'Server'),
client AS (
  SELECT trace_id, span_id, service AS client_service
  FROM spans WHERE kind = 'Client'),
j AS (
  SELECT s.service AS server_service, c.client_service, s.status_code,
         s.duration
  FROM server s
  LEFT JOIN client c
    ON s.trace_id = c.trace_id AND s.parent_span_id = c.span_id
  WHERE c.client_service IS NULL OR s.service != c.client_service)
SELECT server_service,
       coalesce(client_service, '') AS client_service,
       (GROUPING(client_service) = 1) AS is_node_level,
       (count(*) * 4)::BIGINT AS request_count,
       (count(*) FILTER (status_code = 'Error') * 4)::BIGINT AS error_count,
       round(quantile_cont(duration, 0.5), 4) AS p50,
       round(quantile_cont(duration, 0.95), 4) AS p95,
       round(quantile_cont(duration, 0.99), 4) AS p99
FROM j
GROUP BY GROUPING SETS ((server_service, client_service), (server_service))
"""

# C4 3-sentence-span dedup replay: same sentence partition (no lookaround,
# RE2-safe), md5 span hashes, first-(doc,idx)-keeps via row_number
O_SPAN_DEDUP = f"""
WITH {O_DOCS_NEAR},
punct AS (SELECT doc_id, replace(text, ' table', ' table.') AS text
          FROM docs_near),
d AS (SELECT doc_id,
             regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$') AS l
      FROM punct),
sent AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS idx, unnest(l) AS s
         FROM d),
sp AS (SELECT doc_id, unnest(range(0, greatest(len(l) - 2, 0))) AS idx, l
       FROM d),
sph AS (SELECT doc_id, idx,
               md5(l[idx + 1] || l[idx + 2] || l[idx + 3]) AS h
        FROM sp),
ranked AS (SELECT doc_id, idx,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn,
                  count(*) OVER (PARTITION BY h) AS n_occ
           FROM sph),
drops AS (SELECT DISTINCT doc_id, unnest(range(idx, idx + 3)) AS j
          FROM ranked WHERE n_occ > 1 AND rn > 1),
kept AS (SELECT s.* FROM sent s ANTI JOIN drops dr
         ON s.doc_id = dr.doc_id AND s.idx = dr.j),
rebuilt AS (SELECT doc_id, string_agg(s, '' ORDER BY idx) AS text_dedup,
                   count(*) AS n_kept
            FROM kept GROUP BY 1),
totals AS (SELECT doc_id, count(*) AS n_sentences FROM sent GROUP BY 1)
SELECT d0.doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       coalesce(t.n_sentences, 0) AS n_sentences,
       coalesce(t.n_sentences, 0) - coalesce(r.n_kept, 0) AS n_dropped
FROM (SELECT doc_id FROM docs_near) d0
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""

O_WINDOW_DEDUP = f"""
WITH {O_DOCS_NEAR},
d AS (SELECT doc_id,
             regexp_extract_all(text, '[^ \\t\\n\\r\\f]+[ \\t\\n\\r\\f]*|[ \\t\\n\\r\\f]+') AS l
      FROM docs_near),
tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS idx, unnest(l) AS s
        FROM d),
wins AS (SELECT doc_id, unnest(range(0, greatest(len(l) - 4, 0))) AS idx, l
         FROM d),
wh AS (SELECT doc_id, idx,
              md5(l[idx + 1] || l[idx + 2] || l[idx + 3]
                  || l[idx + 4] || l[idx + 5]) AS h
       FROM wins),
ranked AS (SELECT doc_id, idx,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn,
                  count(*) OVER (PARTITION BY h) AS n_occ
           FROM wh),
drops AS (SELECT DISTINCT doc_id, unnest(range(idx, idx + 5)) AS j
          FROM ranked WHERE n_occ > 1 AND rn > 1),
kept AS (SELECT t.* FROM tok t ANTI JOIN drops dr
         ON t.doc_id = dr.doc_id AND t.idx = dr.j),
rebuilt AS (SELECT doc_id, string_agg(s, '' ORDER BY idx) AS text_dedup,
                   count(*) AS n_kept
            FROM kept GROUP BY 1),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1)
SELECT d0.doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       coalesce(t.n_tokens, 0) AS n_tokens,
       coalesce(t.n_tokens, 0) - coalesce(r.n_kept, 0) AS n_dropped
FROM (SELECT doc_id FROM docs_near) d0
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


def _strip_html_sql(expr: str) -> str:
    """DuckDB replay of text.strip_html's regexp chain. RE2 has no
    backreferences, so the reference chain's ``<(script|style)...</\\1>``
    becomes two explicit passes — identical on non-interleaved markup
    (which the gate fixture is by construction)."""
    out = expr
    out = f"regexp_replace({out}, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?s)<!--.*?-->', ' ', 'g')"
    out = (
        f"regexp_replace({out}, "
        "'(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)\\s*>|<br\\s*/?>',"
        " chr(10), 'g')"
    )
    out = f"regexp_replace({out}, '(?s)<[^>]+>', ' ', 'g')"
    for ent, rep in [
        ("&nbsp;", "' '"), ("&lt;", "'<'"), ("&gt;", "'>'"),
        ("&quot;", "'\"'"), ("&#39;", "chr(39)"), ("&apos;", "chr(39)"),
        ("&amp;", "'&'"),
    ]:
        out = f"replace({out}, '{ent}', {rep})"
    out = f"regexp_replace({out}, '[ \\t]+', ' ', 'g')"
    out = f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    out = f"regexp_replace({out}, '^\\s+|\\s+$', '', 'g')"
    return out


_HTML_EXPR = (
    "'<html><body><script type=\"text/js\">var x = 1;</script>"
    "<h1>Heading &amp; more</h1><!-- note --><p>'"
    " || replace(text, '. ', '.</p><p>') || "
    "'</p><ul><li>item one</li></ul>"
    '<a href="https://example.com">click &quot;here&quot;</a>'
    "</body></html>'"
)
_ANCHOR_LEN = (
    "coalesce(list_sum(list_transform("
    "regexp_extract_all(h, '(?is)<a\\b[^>]*>(.*?)</a\\s*>', 1),"
    f" a -> length({_strip_html_sql('a')}))), 0)"
)

# Cavnar-Trenkle trigram profiles spliced into the DuckDB replay — one
# struct_pack(score, lang) per language, scored as profile-hit fraction
# over the document's trigram multiset (text.detect_language_ngram parity)
_LANGID_STRUCTS = ", ".join(
    "struct_pack(score := len(list_filter(grams, x -> list_contains(["
    + ", ".join("'" + t.replace("'", "''") + "'" for t in profile)
    + "], x)))::DOUBLE / len(grams), lang := '" + lang + "')"
    for lang, profile in sorted(text.LANG_TRIGRAM_PROFILES.items())
)

O_DEDUP_ALL = f"""
SELECT 'exact' AS part, fp AS k, keep_id::BIGINT AS v1, n_copies::BIGINT AS v2
FROM ({O_DEDUP_EXACT})
UNION ALL
SELECT 'span' AS part, doc_id::VARCHAR AS k,
       strlen(text_dedup)::BIGINT AS v1, n_dropped::BIGINT AS v2
FROM ({O_SPAN_DEDUP})
UNION ALL
SELECT 'groups' AS part, id::VARCHAR AS k, group_id::BIGINT AS v1,
       is_keeper::BIGINT AS v2
FROM ({O_DEDUP_GROUPS})
UNION ALL
-- md5 sampling key replay: first 60 bits of md5(id ':' seed) < frac * 16^15
SELECT 'sample' AS part, doc_id::VARCHAR AS k, strlen(text)::BIGINT AS v1,
       0::BIGINT AS v2
FROM documents
WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15)) AS BIGINT)
      < floor(0.25 * 16.0 ** 15)::BIGINT
UNION ALL
-- token-budget mix replay: per-source fraction = min(share/have, 1), same
-- md5 threshold with seed 7
SELECT 'mix' AS part, src || ':' || doc_id::VARCHAR AS k, nt AS v1, 0::BIGINT AS v2
FROM (
  WITH d AS (
    SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS src,
           len({_TOKS})::BIGINT AS nt
    FROM documents),
  tot AS (SELECT src, sum(nt)::DOUBLE AS have FROM d GROUP BY 1),
  fr AS (
    SELECT src, least(5000.0 * (CASE src WHEN 'even' THEN 0.7 ELSE 0.3 END)
                      / 1.0 / have, 1.0) AS frac
    FROM tot)
  SELECT d.src, d.doc_id, d.nt FROM d JOIN fr ON d.src = fr.src
  WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR || ':7'), 1, 15)) AS BIGINT)
        < floor(fr.frac * 1152921504606846976.0)::BIGINT
) t(src, doc_id, nt)
UNION ALL
-- 8-gram benchmark-contamination replay: bench = substr(text, 1, 200) of
-- every doc_id % 29 = 0 row; a corpus doc is contaminated when it shares
-- any lower-cased alphanumeric 8-gram with a bench doc
SELECT 'contam' AS part, doc_id::VARCHAR AS k, ng::BIGINT AS v1, nb::BIGINT AS v2
FROM (
  WITH ct AS (SELECT doc_id, {_TOKS} AS t FROM documents),
  cg AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
         FROM ct, unnest(range(1, greatest(len(t) - 6, 1))) AS u(i)),
  bt AS (SELECT doc_id AS bid,
                list_filter(string_split_regex(lower(substr(text, 1, 200)),
                                               '[^a-zA-Z0-9]+'),
                            t -> t != '') AS t
         FROM documents WHERE doc_id % 29 = 0),
  bg AS (SELECT DISTINCT bid, array_to_string(t[i:i+7], ' ') AS g
         FROM bt, unnest(range(1, greatest(len(t) - 6, 1))) AS u(i))
  SELECT cg.doc_id, count(DISTINCT cg.g) AS ng, count(DISTINCT bg.bid) AS nb
  FROM cg JOIN bg USING (g) GROUP BY 1
) h
UNION ALL
-- SemDeDup replay: exact-cosine pairs at the same threshold (LSH banding
-- has full recall here — the O_EMBEDDING_DEDUP argument), recursive-CTE
-- connected components, keeper = max score then min id, losers dropped
SELECT part, k, v1, v2 FROM (
  WITH RECURSIVE
  sem_pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) >= 0.5),
  edges AS (SELECT id_a AS src, id_b AS dst FROM sem_pairs
            UNION SELECT id_b, id_a FROM sem_pairs),
  reach(id, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
  sem_groups AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id),
  sc AS (SELECT doc_id AS id, strlen(text)::DOUBLE AS score FROM documents),
  jg AS (SELECT g.id, g.group_id, s.score
         FROM sem_groups g JOIN sc s USING (id)),
  best AS (SELECT group_id, max(score) AS best FROM jg GROUP BY 1),
  keepid AS (SELECT jg.group_id, min(jg.id) AS keep_id
             FROM jg JOIN best ON jg.group_id = best.group_id
                              AND jg.score = best.best
             GROUP BY 1)
  SELECT 'semkeep' AS part, jg.id::VARCHAR AS k, jg.group_id::BIGINT AS v1,
         (jg.id = keepid.keep_id)::BIGINT AS v2
  FROM jg JOIN keepid USING (group_id)
  UNION ALL
  SELECT 'semdedup' AS part, d.doc_id::VARCHAR AS k,
         strlen(d.text)::BIGINT AS v1, 0::BIGINT AS v2
  FROM documents d
  WHERE d.doc_id NOT IN (
    SELECT jg.id FROM jg JOIN keepid USING (group_id)
    WHERE jg.id != keepid.keep_id)
) sem
UNION ALL
-- per-source quality cut replay: exact percentile == quantile_cont at
-- q = 0.25 (interpolation at binary quarters over integer scores)
SELECT 'srccut' AS part, d.doc_id::VARCHAR AS k,
       strlen(d.text)::BIGINT AS v1, 0::BIGINT AS v2
FROM documents d JOIN (
  SELECT source, quantile_cont(strlen(text)::DOUBLE, 0.25) AS cut
  FROM documents GROUP BY 1) c USING (source)
WHERE strlen(d.text)::DOUBLE >= c.cut
UNION ALL
-- corpus top-k word trigrams (text.top_ngrams replay)
SELECT 'topgram' AS part, g AS k, n_occurrences::BIGINT AS v1,
       n_docs::BIGINT AS v2
FROM (
  WITH tt AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
  gg AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
         FROM tt, unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i))
  SELECT g, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM gg GROUP BY 1
  ORDER BY n_occurrences DESC, g ASC LIMIT 25
) tg
UNION ALL
-- trigram language-ID replay: space-padded lowercase trigrams, per-profile
-- hit fraction, argmax by (score, lang) via sorted-struct-last, threshold
-- 0.02, docs of <= 2 normalized chars are 'unknown'
SELECT 'langid' AS part, k, v1, v2 FROM (
  WITH nrm AS (
    SELECT doc_id,
           ' ' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') || ' ' AS s
    FROM documents),
  gr AS (
    SELECT doc_id, length(s) AS n,
           list_transform(range(1, greatest(length(s) - 2, 1) + 1),
                          i -> s[i:i+2]) AS grams
    FROM nrm),
  sc AS (SELECT doc_id, n, [{_LANGID_STRUCTS}] AS ls FROM gr),
  best AS (SELECT doc_id, n, list_sort(ls)[len(ls)] AS b FROM sc),
  lab AS (
    SELECT doc_id,
           CASE WHEN n > 2 AND b.score >= 0.02 THEN b.lang
                ELSE 'unknown' END AS lang
    FROM best)
  SELECT lang AS k, count(*)::BIGINT AS v1, sum(doc_id)::BIGINT AS v2
  FROM lab GROUP BY 1
) li
UNION ALL
-- HTML strip + link density replay over the same deterministic
-- HTML-ification (strip chain via _strip_html_sql, RE2-safe)
SELECT 'htmlstrip' AS part, doc_id::VARCHAR AS k,
       length({_strip_html_sql('h')})::BIGINT AS v1,
       floor(({_ANCHOR_LEN}::DOUBLE
              / length({_strip_html_sql('h')})::DOUBLE) * 10000)::BIGINT AS v2
FROM (SELECT doc_id, {_HTML_EXPR} AS h FROM documents) hh
UNION ALL
-- concat-and-chunk packing replay: one shard, ascending doc_id, running
-- sum cut into 64-token windows (same spans as pack_sequences)
SELECT 'pack' AS part, doc_id::VARCHAR || ':' || seq_id::VARCHAR AS k,
       ((gb - lo) * 1000 + (le - lo))::BIGINT AS v1,
       (gb - seq_id * 64)::BIGINT AS v2
FROM (
  WITH pd AS (SELECT doc_id, (length(text) % 97 + 1)::BIGINT AS t
              FROM documents),
  pc AS (SELECT doc_id, t,
                sum(t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS e
         FROM pd),
  ps AS (SELECT doc_id, e - t AS lo, e FROM pc),
  px AS (SELECT doc_id, lo, e,
                unnest(range((lo // 64)::BIGINT,
                             ((e - 1) // 64 + 1)::BIGINT)) AS seq_id
         FROM ps)
  SELECT doc_id, seq_id, lo, greatest(lo, seq_id * 64) AS gb,
         least(e, (seq_id + 1) * 64) AS le
  FROM px
) pk
UNION ALL
-- incremental exact-store probe replay: history = 9/10 of docs grouped
-- to (fp, min keep_id); batch rows classify store_dup(2) / batch_dup(1)
-- / novel(0) with dup_of attribution
SELECT 'storeprobe' AS part, doc_id::VARCHAR AS k,
       (CASE WHEN keep_id IS NOT NULL THEN 2
             WHEN doc_id != first_id THEN 1 ELSE 0 END)::BIGINT AS v1,
       coalesce(CASE WHEN keep_id IS NOT NULL THEN keep_id
                     WHEN doc_id != first_id THEN first_id END, -1)::BIGINT AS v2
FROM (
  WITH fpt AS (SELECT doc_id,
                      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
               FROM documents),
  hst AS (SELECT fp, min(doc_id) AS keep_id FROM fpt
          WHERE doc_id % 10 != 0 GROUP BY 1),
  bt AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS first_id
         FROM fpt WHERE doc_id % 10 = 0)
  SELECT bt.doc_id, bt.first_id, hst.keep_id
  FROM bt LEFT JOIN hst USING (fp)
) sp
UNION ALL
-- URL canonical dedup replay: keeper = min doc_id per (host, page, id
-- param) class; v1 = canonical-form length pins the regex chain
SELECT 'urldedup' AS part, doc_id::VARCHAR AS k,
       length('host' || (doc_id % 3)::VARCHAR || '.com/page/'
              || (doc_id % 10)::VARCHAR || '?id='
              || (doc_id % 10)::VARCHAR)::BIGINT AS v1,
       0::BIGINT AS v2
FROM (SELECT min(doc_id) AS doc_id FROM documents
      GROUP BY doc_id % 3, doc_id % 10) ud
UNION ALL
-- per-host cap replay: md5(id ':42') rank within host, keep 7
SELECT 'urlcap' AS part, doc_id::VARCHAR AS k,
       (doc_id % 3)::BIGINT AS v1, 0::BIGINT AS v2
FROM (
  SELECT doc_id, row_number() OVER (
           PARTITION BY doc_id % 3
           ORDER BY md5(doc_id::VARCHAR || ':42') ASC, doc_id ASC) AS rn
  FROM documents) uc
WHERE rn <= 7
UNION ALL
-- quality-filter replay: md5-prefix bucket hash, pinned integer weights
-- w(b) = (b*37) mod 21 - 10, keep iff weight sum >= 0 (sigmoid(z) >= 0.5
-- <=> z >= 0; bias 0) — empty-token docs keep (score exactly 0.5)
SELECT 'qscore' AS part, doc_id::VARCHAR AS k,
       len({_TOKS})::BIGINT AS v1, 0::BIGINT AS v2
FROM documents
WHERE coalesce(list_sum(list_transform({_TOKS},
        t -> ((('0x' || substr(md5(t), 1, 4))::INTEGER % 64) * 37) % 21 - 10
      )), 0) >= 0
UNION ALL
-- exact-substring window dedup replay (token units incl. whitespace)
SELECT 'window' AS part, doc_id::VARCHAR AS k,
       strlen(text_dedup)::BIGINT AS v1, n_dropped::BIGINT AS v2
FROM ({O_WINDOW_DEDUP})
UNION ALL
-- r14 DSIR replay (Xie et al. 2023): uni+bigram md5 buckets, add-1
-- smoothed log-ratio in floor(x*1e6+0.5) integer micronats (IEEE multiply
-- + floor are deterministic, so the doubles match Spark bit-for-bit),
-- per-doc weight = exact integer sum, Gumbel top-k from the portable
-- md5 uniform. Target = doc_id % 17 = 0 is a SUBSET corpus, so raw
-- buckets cover target buckets and LEFT JOIN == the Spark outer join.
SELECT part, k, v1, v2 FROM (
  WITH dtok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
  dgram AS (
    SELECT doc_id, g
    FROM dtok,
         UNNEST(list_concat(t,
           list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1]))) AS u(g)),
  dbkt AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(g || ':0'), 1, 15)) AS BIGINT) % 64 AS b
    FROM dgram),
  dtc AS (SELECT b, count(*) AS c FROM dbkt WHERE doc_id % 17 = 0 GROUP BY 1),
  drc AS (SELECT b, count(*) AS c FROM dbkt GROUP BY 1),
  ddom AS (SELECT range::BIGINT AS b FROM range(64)),
  dlam AS (
    SELECT ddom.b,
      CAST(floor(
        (ln((coalesce(dtc.c, 0) + 1.0)
            / ((SELECT coalesce(sum(c), 0) FROM dtc) + 64.0))
         - ln((coalesce(drc.c, 0) + 1.0)
              / ((SELECT coalesce(sum(c), 0) FROM drc) + 64.0)))
        * 1000000.0 + 0.5) AS BIGINT) AS lam_fp
    FROM ddom LEFT JOIN dtc ON ddom.b = dtc.b
              LEFT JOIN drc ON ddom.b = drc.b),
  dw AS (
    SELECT d.doc_id, coalesce(s.lw, 0)::BIGINT AS lw
    FROM documents d LEFT JOIN (
      SELECT doc_id, sum(lam_fp)::BIGINT AS lw
      FROM dbkt JOIN dlam ON dbkt.b = dlam.b GROUP BY 1) s USING (doc_id)),
  dsel AS (
    SELECT doc_id, lw,
           row_number() OVER (ORDER BY
             lw / 1000000.0
             + (-ln(-ln((CAST(('0x' || substr(md5(doc_id::VARCHAR || ':13'),
                                              1, 15)) AS BIGINT) + 1.0)
                        / (16.0 ** 15 + 1.0)))) DESC, doc_id ASC) AS rk
    FROM dw ORDER BY rk LIMIT 200)
  SELECT 'dsir|cnt' AS part, drc.b::VARCHAR AS k,
         coalesce(dtc.c, 0)::BIGINT AS v1, drc.c::BIGINT AS v2
  FROM drc LEFT JOIN dtc ON drc.b = dtc.b
  UNION ALL
  SELECT 'dsir|w', doc_id::VARCHAR, lw, 0::BIGINT FROM dw
  UNION ALL
  SELECT 'dsir|sel', doc_id::VARCHAR, rk::BIGINT, lw FROM dsel
) dsir_all
UNION ALL
-- r14 CCNet-perplexity replay (Wenzek et al. 2019): hashed bigram LM
-- (vocab 128) fit on the doc_id % 17 target slice, add-1 smoothing,
-- per-bigram log-prob in floor(x*1e6+0.5) integer micronats, keep iff
-- -lp_fp <= 6e6 * n (integer cross-multiply; no-bigram docs dropped —
-- keep_empty=False in the entry)
SELECT part, k, v1, v2 FROM (
  WITH ptok AS (
    SELECT doc_id,
           list_transform({_TOKS},
             t -> CAST(('0x' || substr(md5(t || ':0'), 1, 15)) AS BIGINT)
                  % 128) AS ids
    FROM documents),
  pbg AS (
    SELECT doc_id, ids[u.i] AS b1, ids[u.i + 1] AS b2
    FROM ptok, UNNEST(generate_series(1, len(ids) - 1)) AS u(i)),
  pc2 AS (SELECT b1, b2, count(*) AS c2 FROM pbg
          WHERE doc_id % 17 = 0 GROUP BY 1, 2),
  pc1 AS (SELECT b1, count(*) AS c1 FROM pbg
          WHERE doc_id % 17 = 0 GROUP BY 1),
  plp AS (
    SELECT pbg.doc_id,
           CAST(floor(ln((coalesce(pc2.c2, 0) + 1.0)
                         / (coalesce(pc1.c1, 0) + 128.0))
                      * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
    FROM pbg LEFT JOIN pc2 ON pbg.b1 = pc2.b1 AND pbg.b2 = pc2.b2
             LEFT JOIN pc1 ON pbg.b1 = pc1.b1),
  pw AS (
    SELECT d.doc_id,
           coalesce(s.lp, 0)::BIGINT AS lp_fp,
           coalesce(s.n, 0)::BIGINT AS n
    FROM documents d LEFT JOIN (
      SELECT doc_id, sum(lp_fp) AS lp, count(*) AS n
      FROM plp GROUP BY 1) s USING (doc_id))
  SELECT 'ppl|w' AS part, doc_id::VARCHAR AS k, lp_fp AS v1, n AS v2 FROM pw
  UNION ALL
  SELECT 'ppl|keep', pw.doc_id::VARCHAR, strlen(d.text)::BIGINT, 0::BIGINT
  FROM pw JOIN documents d USING (doc_id)
  WHERE pw.n > 0 AND -pw.lp_fp <= 6000000 * pw.n
) ppl_all
UNION ALL
-- r14 Unicode NFC replay (textnorm.py): every 'e' suffixed with the
-- combining acute (chr(769) = U+0301); DuckDB's nfc_normalize — an
-- INDEPENDENT implementation of the same Unicode standard — must
-- compose exactly like the unicodedata pandas UDF (v2 - v1 = e count)
SELECT 'tnorm' AS part, doc_id::VARCHAR AS k,
       length(nfc_normalize(replace(text, 'e', 'e' || chr(769))))::BIGINT AS v1,
       length(replace(text, 'e', 'e' || chr(769)))::BIGINT AS v2
FROM documents
"""


def _tmparam_rows(spark, sf_dir):
    """TemplateMiner parameter extraction under the gate (VERDICT r12 #3):
    deterministic log bodies built from modular arithmetic (bounded distinct
    set), masked with IP-then-NUM instructions, mined, then
    ``extract_parameters`` run in BOTH modes — exact matching (instruction
    patterns as capture groups, mode 'x') and lazy wildcard (``.+?``, mode
    'z') — plus the Drain-introduced ``<*>`` family. Emitted as
    (mode|template|mask|value, total count, sort position) rows the DuckDB
    oracle reproduces from the same construction
    (template-miner.ts:77-170 getTemplateParameterExtractionRegex)."""
    from hyperdx_spark.analytics.drain import TemplateMiner

    ev = load_table(spark, sf_dir, "events")
    fam_a = ev.select(
        F.concat(
            F.col("event_type"), F.lit(" conn user "),
            (F.col("user_id") % 7).cast("string"),
            F.lit(" from ip 10.0."), (F.col("user_id") % 3).cast("string"),
            F.lit("."), (F.col("user_id") % 13).cast("string"),
        ).alias("body")
    )
    fam_b = ev.select(
        F.concat(
            F.col("event_type"), F.lit(" job "),
            F.element_at(
                F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma")),
                ((F.col("user_id") % 3) + 1).cast("int"),
            ),
            F.lit(" done"),
        ).alias("body")
    )
    counts = (
        fam_a.unionByName(fam_b).groupBy("body").agg(F.count("*").alias("cnt"))
    )
    # bounded collect: distinct bodies <= |event_type| * (7*3*13 + 3) by
    # construction; sorted so mining insertion order is deterministic
    rows = sorted((r["body"], r["cnt"]) for r in counts.collect())
    miner = TemplateMiner(
        masking_instructions=[(r"10\.0\.\d+\.\d+", "IP"), (r"\d+", "NUM")]
    )
    for body, _ in rows:
        miner.add_log_message(body)
    out = []
    for body, cnt in rows:
        tpl = miner.match(body).template()
        for mode, exact in (("x", True), ("z", False)):
            for pos, (val, mask) in enumerate(
                miner.extract_parameters(tpl, body, exact_matching=exact)
            ):
                out.append((f"{mode}|{tpl}|{mask}|{val}", float(cnt), float(pos)))
    df = local_frame(spark, out, "key string, v1 double, v2 double")
    return df.groupBy("key", "v2").agg(F.sum("v1").alias("v1")).select(
        F.lit("tmparam").alias("part"), "key", "v1", "v2"
    )


def q_analytics_insights(spark, sf_dir):
    """§2.11 log-pattern mining (Drain) + event-deltas property ranking +
    correlated-series search (related-metrics: top series by |Pearson| vs
    the error-0 series, exact-decimal moments so the float result is
    bit-identical across engines) + TemplateMiner parameter extraction,
    tag-unioned into one relation."""
    from hyperdx_spark.analytics.series_corr import correlated_series

    pats = q_log_patterns(spark, sf_dir).select(
        F.lit("patterns").alias("part"), F.col("pattern").alias("key"),
        F.col("n").cast("double").alias("v1"), F.lit(0.0).alias("v2"),
    )
    # r12: the SCALE-path miner under the same oracle — its per-partition
    # Drain + (template,bucket) pre-aggregated merge keeps counts EXACT,
    # so the sampled miner's GROUP BY oracle applies verbatim
    from hyperdx_spark.analytics.drain import mine_patterns_distributed

    ev_bodies = load_table(spark, sf_dir, "events").select(
        F.concat(
            F.col("event_type"), F.lit(" user "),
            (F.col("user_id") % 7).cast("string"),
            F.lit(" took "), F.floor("value").cast("string"), F.lit(" ms"),
        ).alias("body")
    )
    dist = local_frame(
        spark,
        [
            (p.pattern, float(p.estimated_count))
            for p in mine_patterns_distributed(ev_bodies, text_col="body")
        ],
        "key string, v1 double",
    ).select(
        F.lit("distpat").alias("part"), "key", "v1", F.lit(0.0).alias("v2")
    )
    dl = q_event_deltas(spark, sf_dir).select(
        F.lit("deltas").alias("part"), "key",
        F.col("base_score").alias("v1"), F.col("score").alias("v2"),
    )
    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    corr = correlated_series(
        ev,
        key="concat(event_type, '-', cast(user_id % 10 AS string))",
        query_key="error-0",
        granularity="hour",
        k=10,
    ).select(
        F.lit("corr").alias("part"), "key",
        F.col("corr").alias("v1"),
        F.col("n_buckets").cast("double").alias("v2"),
    )
    return (
        pats.unionByName(dist)
        .unionByName(dl)
        .unionByName(corr)
        .unionByName(_tmparam_rows(spark, sf_dir))
    )


_CORR_EXPR = """(CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy))"""

O_SERIES_CORR = f"""
WITH b AS (
  SELECT date_trunc('hour', ts) AS bk,
         event_type || '-' || CAST(user_id % 10 AS VARCHAR) AS k,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v
  FROM events WHERE {TIME_WHERE}
  GROUP BY 1, 2),
q AS (SELECT bk, v AS qv FROM b WHERE k = 'error-0'),
agg AS (SELECT b.k, count(*) AS n,
        CAST(sum(b.v) AS DOUBLE) AS sx, CAST(sum(q.qv) AS DOUBLE) AS sy,
        CAST(sum(b.v * q.qv) AS DOUBLE) AS sxy,
        CAST(sum(b.v * b.v) AS DOUBLE) AS sxx,
        CAST(sum(q.qv * q.qv) AS DOUBLE) AS syy
        FROM b JOIN q USING (bk) WHERE b.k != 'error-0' GROUP BY 1)
SELECT k AS key, round({_CORR_EXPR}, 4) AS corr, n AS n_buckets
FROM agg
WHERE n >= 3 AND (CAST(n AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n AS DOUBLE) * syy - sy * sy) > 0
ORDER BY abs(round({_CORR_EXPR}, 4)) DESC, k
LIMIT 10
"""

O_TMPARAM = """
WITH a AS (
  SELECT event_type AS et, (user_id % 7)::VARCHAR AS num,
         '10.0.' || (user_id % 3)::VARCHAR || '.' || (user_id % 13)::VARCHAR AS ip
  FROM events),
b AS (
  SELECT event_type AS et,
         CASE user_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
              ELSE 'gamma' END AS w
  FROM events),
allrows AS (
  SELECT et || ' conn user <NUM> from ip <IP>' AS tpl, 'NUM' AS mask,
         num AS val, 0 AS pos FROM a
  UNION ALL
  SELECT et || ' conn user <NUM> from ip <IP>', 'IP', ip, 1 FROM a
  UNION ALL
  SELECT et || ' job <*> done', '*', w, 0 FROM b),
modes AS (SELECT 'x' AS mode UNION ALL SELECT 'z')
SELECT mode || '|' || tpl || '|' || mask || '|' || val AS key,
       count(*)::DOUBLE AS v1, pos::DOUBLE AS v2
FROM allrows CROSS JOIN modes
GROUP BY mode, tpl, mask, val, pos
"""

O_ANALYTICS_INSIGHTS = f"""
SELECT 'patterns' AS part, pattern AS key, n::DOUBLE AS v1, 0.0 AS v2 FROM ({O_LOG_PATTERNS})
UNION ALL
SELECT 'distpat' AS part, pattern AS key, n::DOUBLE AS v1, 0.0 AS v2 FROM ({O_LOG_PATTERNS})
UNION ALL
SELECT 'deltas' AS part, key, base_score AS v1, score AS v2 FROM ({O_EVENT_DELTAS})
UNION ALL
SELECT 'corr' AS part, key, corr AS v1, n_buckets::DOUBLE AS v2 FROM ({O_SERIES_CORR})
UNION ALL
SELECT 'tmparam' AS part, key, v1, v2 FROM ({O_TMPARAM})
"""


def q_funnel_retention(spark, sf_dir):
    """Product analytics: ClickHouse-windowFunnel parity (view -> click ->
    purchase within 6 h, per user) + weekly cohort retention triangle
    (analytics/funnel.py). The funnel fold keeps, per level, the latest
    chain-start timestamp — provably equivalent to "exists an ordered chain
    within the window", which is what the oracle checks with EXISTS joins."""
    from hyperdx_spark.analytics.funnel import retention_cohorts, window_funnel

    ev = load_table(spark, sf_dir, "events")
    lv = window_funnel(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        step_conditions=[
            F.col("event_type") == s for s in ("view", "click", "purchase")
        ],
        window_s=6 * 3600,
    )
    funnel = (
        lv.groupBy("level")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("funnel").alias("part"),
            F.lit(datetime(1970, 1, 1)).alias("cohort"),
            F.col("level").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
        )
    )
    ret = retention_cohorts(ev, key_col="user_id", ts_col="ts", period="week").select(
        F.lit("retention").alias("part"),
        F.col("cohort"),
        F.col("offset").cast("long").alias("bucket"),
        F.col("n_active").cast("long").alias("n"),
    )
    return funnel.unionByName(ret)


O_FUNNEL_RETENTION = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS t,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS s
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
u AS (SELECT DISTINCT user_id FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE s = 1),
l2 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON a.user_id = b.user_id AND a.s = 1 AND b.s = 2
                   AND b.t >= a.t AND b.t - a.t <= 21600000000),
l3 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON a.user_id = b.user_id AND a.s = 1 AND b.s = 2
                   AND b.t >= a.t AND b.t - a.t <= 21600000000
           JOIN e c ON c.user_id = a.user_id AND c.s = 3
                   AND c.t >= b.t AND c.t - a.t <= 21600000000),
lv AS (
  SELECT u.user_id,
         CASE WHEN l3.user_id IS NOT NULL THEN 3
              WHEN l2.user_id IS NOT NULL THEN 2
              WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS level
  FROM u
  LEFT JOIN l1 USING (user_id)
  LEFT JOIN l2 USING (user_id)
  LEFT JOIN l3 USING (user_id)),
funnel AS (
  SELECT 'funnel' AS part, TIMESTAMP '1970-01-01' AS cohort,
         level::BIGINT AS bucket, count(*)::BIGINT AS n
  FROM lv GROUP BY 3),
firsts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort
  FROM events GROUP BY 1),
ret AS (
  SELECT f.cohort::TIMESTAMP AS cohort,
         ((epoch(date_trunc('week', e.ts))::BIGINT
           - epoch(f.cohort)::BIGINT) // 604800)::BIGINT AS bucket,
         count(DISTINCT e.user_id)::BIGINT AS n
  FROM events e JOIN firsts f USING (user_id)
  GROUP BY 1, 2)
SELECT part, cohort, bucket, n FROM funnel
UNION ALL
SELECT 'retention' AS part, cohort, bucket, n FROM ret
"""


def q_lucene_dispatch2(spark, sf_dir):
    """§2.8 full term-kind dispatch in ONE query: JSON exists (`props.k:*`),
    numeric range, map field (`attrs.kind:sys`), array grouped syntax
    (`tags:(purchase OR error)`), negation, wildcard + quoted exact eq
    (queryParser.ts:546-588, 1685-1709, 821-908, 2035-2055), and — r9 —
    the encodeSpecialTokens pre-pass (queryParser.ts:32-48): bare
    `localhost:3000` token-searches the implicit body instead of
    compiling a nonexistent-column reference (VERDICT r8 #1)."""
    ev = load_table(spark, sf_dir, "events", time_filter=("ts", *RANGE))
    df = ev.withColumn(
        "attrs",
        F.create_map(
            F.lit("kind"),
            F.when(F.col("user_id") % 2 == 0, "sys").otherwise("usr"),
        ),
    ).withColumn(
        "tags",
        F.array(F.col("event_type"), F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string"))),
    ).withColumn(
        "msg",
        F.concat(
            F.lit("conn localhost:"),
            (F.lit(3000) + F.col("user_id") % 3).cast("string"),
            F.lit(" via http://gw:8080/y"),
        ),
    )
    src = Source(
        table="events",
        kind="log",
        timestamp_value_expression="ts",
        implicit_column_expression=["event_type", "msg"],
        severity_text_expression="event_type",
        service_name_expression="event_type",
    )
    cfg = ChartConfig(
        source=src,
        select="event_id, ts, event_type, value",
        where=(
            'props.k:* AND props.k:>=20 AND value:[10 TO 90] AND '
            'attrs.kind:sys AND tags:(purchase OR error) AND '
            'NOT event_type:click AND (event_type:err* OR event_type:"purchase") '
            'AND localhost:3000 AND NOT event_type:pur*chase '
            # r9: implicit QUOTED phrase = tokens AND substring (ts:1962-66
            # guard). '%onn localhost%' substring-matches 'conn localhost'
            # but token 'onn' never exists — a substring-only (pre-r9)
            # implementation would wrongly drop every row here.
            'AND NOT "onn localhost"'
        ),
        where_language="lucene",
        order_by="ts ASC, event_id ASC",
        limit=300,
        date_range=RANGE,
    )
    return compile_chart_config(spark, cfg, df=df)


O_LUCENE_DISPATCH2 = f"""
SELECT event_id, ts, event_type, value FROM events
WHERE {TIME_WHERE}
  AND coalesce(json_extract_string(props, '$.k'), '') != ''
  AND try_cast(coalesce(json_extract_string(props, '$.k'), '') AS DOUBLE) >= 20
  AND value >= 10 AND value <= 90
  AND lower(CASE WHEN user_id % 2 = 0 THEN 'sys' ELSE 'usr' END) LIKE '%sys%'
  AND (lower(event_type) LIKE '%purchase%' OR lower(event_type) LIKE '%error%'
       OR lower('u' || (user_id % 5)::VARCHAR) LIKE '%purchase%'
       OR lower('u' || (user_id % 5)::VARCHAR) LIKE '%error%')
  AND NOT (lower(event_type) LIKE '%click%')
  AND (lower(event_type) LIKE 'err%' OR event_type = 'purchase')
  AND len(list_filter(
        regexp_split_to_array(
          lower(concat_ws(';', coalesce(event_type, ''),
                'conn localhost:' || (3000 + user_id % 3)::VARCHAR
                || ' via http://gw:8080/y')),
          '[[:punct:][:space:][:cntrl:]]+'),
        x -> x = 'localhost')) > 0
  AND len(list_filter(
        regexp_split_to_array(
          lower(concat_ws(';', coalesce(event_type, ''),
                'conn localhost:' || (3000 + user_id % 3)::VARCHAR
                || ' via http://gw:8080/y')),
          '[[:punct:][:space:][:cntrl:]]+'),
        x -> x = '3000')) > 0
  AND lower(concat_ws(';', coalesce(event_type, ''),
        'conn localhost:' || (3000 + user_id % 3)::VARCHAR
        || ' via http://gw:8080/y')) LIKE '%localhost:3000%'
  -- inner '*' is a LITERAL char (r9): were it a wildcard, this NOT
  -- would wrongly exclude every purchase row
  AND NOT (lower(event_type) LIKE '%pur*chase%')
  -- implicit quoted phrase = tokens AND substring: token 'onn' never
  -- exists, so the NOT keeps every row (a substring-only compile would
  -- drop them all)
  AND NOT (
    len(list_filter(
      regexp_split_to_array(
        lower(concat_ws(';', coalesce(event_type, ''),
              'conn localhost:' || (3000 + user_id % 3)::VARCHAR
              || ' via http://gw:8080/y')),
        '[[:punct:][:space:][:cntrl:]]+'),
      x -> x = 'onn')) > 0
    AND len(list_filter(
      regexp_split_to_array(
        lower(concat_ws(';', coalesce(event_type, ''),
              'conn localhost:' || (3000 + user_id % 3)::VARCHAR
              || ' via http://gw:8080/y')),
        '[[:punct:][:space:][:cntrl:]]+'),
      x -> x = 'localhost')) > 0
    AND lower(concat_ws(';', coalesce(event_type, ''),
          'conn localhost:' || (3000 + user_id % 3)::VARCHAR
          || ' via http://gw:8080/y')) LIKE '%onn localhost%'
  )
ORDER BY ts, event_id LIMIT 300
"""


# ==========================================================================
# ROUND-14 consolidations (VERDICT r13 "Next round" #1): the driver's
# correctness gate covers the first 50 registry rows but the dict had grown
# to 53, so q_emerging_signals / q_ann_indexed / q_multimodal_features rode
# outside the checked window.  Four family merges bring the registry to 49
# entries (one slot of headroom), with every part still hash-checked against
# a UNION ALL oracle.  The component functions stay callable for tests.
# ==========================================================================

def q_metadata(spark, sf_dir):
    """SS2.8 metadata family consolidated: autocomplete key-values + value
    distribution (q_metadata_keyvals) + the field/type catalog
    (q_metadata_fields) in one part-tagged entry."""
    kv = q_metadata_keyvals(spark, sf_dir)
    fields = q_metadata_fields(spark, sf_dir).select(
        F.lit("fields").alias("part"), F.col("field").alias("key"),
        F.col("type").alias("value"),
        F.lit(0.0).alias("cnt"), F.lit(0.0).alias("pct"),
    )
    return kv.unionByName(fields)


O_METADATA = f"""
SELECT * FROM ({O_METADATA_KEYVALS})
UNION ALL
SELECT 'fields' AS part, field AS key, type AS value, 0.0 AS cnt, 0.0 AS pct
FROM ({O_METADATA_FIELDS})
"""


def q_sessions_all(spark, sf_dir):
    """SS2.3 sessions consolidated: session-replay correlation (all +
    filtered branches) + gap-based sessionization (native session_window)
    reshaped onto the same session-list schema as a 'gap' part."""
    s = q_sessions(spark, sf_dir)
    gap = q_sessionize(spark, sf_dir).select(
        F.lit("gap").alias("part"),
        F.col("user_id").cast("string").alias("sessionId"),
        F.col("session_start").alias("minTimestamp"),
        F.col("session_end").alias("maxTimestamp"),
        F.col("n_events").alias("sessionCount"),
        F.lit(0).cast("long").alias("interactionCount"),
        F.lit(0).cast("long").alias("errorCount"),
        F.lit(0).cast("long").alias("recordingCount"),
    )
    return s.unionByName(gap)


O_SESSIONS_ALL = f"""
SELECT * FROM ({O_SESSIONS})
UNION ALL
SELECT user_id::VARCHAR AS sessionId, session_start AS minTimestamp,
       session_end AS maxTimestamp, n_events AS sessionCount,
       0::BIGINT AS interactionCount, 0::BIGINT AS errorCount,
       0::BIGINT AS recordingCount, 'gap' AS part
FROM ({O_SESSIONIZE})
"""


def q_mcp_tools(spark, sf_dir):
    """MCP tool family consolidated: trace waterfall / pickers / breakdown
    (already (part,k,s,v)-shaped) + emerging & disappeared signals
    (q_emerging_signals — which had never been driver-verified) reshaped
    into the same narrow schema, one row per (signal, metric)."""
    # Both sub-entries are independent and eager at construction: overlap them.
    tw, es = overlapped([
        partial(q_trace_waterfall, spark, sf_dir), partial(q_emerging_signals, spark, sf_dir)
    ])
    key = F.concat_ws("|", F.col("pattern"), F.col("status"))
    sig_parts = [
        es.select(
            F.concat(F.lit("sig|"), F.col("part"), F.lit("|" + metric)).alias("part"),
            F.lit(0).cast("long").alias("k"),
            key.alias("s"),
            F.col(col).alias("v"),
        )
        for metric, col in (
            ("cur", "cur"), ("base", "base"),
            ("curn", "cur_n"), ("basen", "base_n"),
        )
    ]
    out = tw
    for p in sig_parts:
        out = out.unionByName(p)
    return out


O_MCP_TOOLS = f"""
SELECT * FROM ({O_TRACE_WATERFALL})
UNION ALL
SELECT 'sig|' || part || '|cur' AS part, 0::BIGINT AS k,
       pattern || '|' || status AS s, cur AS v FROM ({O_EMERGING_SIGNALS})
UNION ALL
SELECT 'sig|' || part || '|base' AS part, 0::BIGINT AS k,
       pattern || '|' || status AS s, base AS v FROM ({O_EMERGING_SIGNALS})
UNION ALL
SELECT 'sig|' || part || '|curn' AS part, 0::BIGINT AS k,
       pattern || '|' || status AS s, cur_n AS v FROM ({O_EMERGING_SIGNALS})
UNION ALL
SELECT 'sig|' || part || '|basen' AS part, 0::BIGINT AS k,
       pattern || '|' || status AS s, base_n AS v FROM ({O_EMERGING_SIGNALS})
"""


def q_ann_multimodal(spark, sf_dir):
    """Pipeline consolidation: the six ANN/PCA tiers (q_ann_indexed) + the
    multimodal decode features (q_multimodal_features) — the two entries
    that silently dropped out of the driver window in r13 — in one entry.
    The multimodal metric columns unpivot onto the ANN schema (one
    'mm|<metric>' part per column, kind carried in a new string slot)."""
    # The ANN construction and the decode's raising self-check are
    # independent eager work: overlap them.
    ann, mm = overlapped([
        partial(q_ann_indexed, spark, sf_dir), partial(q_multimodal_features, spark, sf_dir)
    ])
    ann = ann.withColumn("s", F.lit(""))
    sch = {f.name: f.dataType for f in ann.schema.fields}
    # r17 (guide §2.3/§1.2): the old per-metric unionByName loop planted
    # SEVEN copies of the decode subtree (scan → render → mapInPandas
    # decode) in the plan — at corpus scale that decodes every media
    # payload seven times for one query. One stack() unpivot over a
    # single decode emits the identical rows (same part tags, same
    # CAST(metric AS DOUBLE) values, row order immaterial — the gate
    # hashes sorted canonical rows).
    stacked = mm.select(
        F.col("media_id").cast(sch["query_id"]).alias("query_id"),
        F.col("kind").alias("s"),
        F.expr(
            "stack(7, "
            "'mm|width', CAST(width AS DOUBLE), "
            "'mm|height', CAST(height AS DOUBLE), "
            "'mm|frames', CAST(frames AS DOUBLE), "
            "'mm|fps', CAST(fps AS DOUBLE), "
            "'mm|rate', CAST(rate AS DOUBLE), "
            "'mm|duration_us', CAST(duration_us AS DOUBLE), "
            "'mm|grayscale', CAST(grayscale AS DOUBLE)) AS (part, cos)"
        ),
    ).select(
        "part",
        "query_id",
        F.lit(0).cast(sch["match_id"]).alias("match_id"),
        "cos",
        F.lit(0).cast(sch["rank"]).alias("rank"),
        "s",
    )
    return ann.unionByName(stacked)


_O_MM_UNPIVOT = "\nUNION ALL\n".join(
    f"SELECT 'mm|{m}' AS part, media_id AS query_id, 0 AS match_id,\n"
    f"       {m}::DOUBLE AS cos, 0 AS rank, kind AS s\n"
    f"FROM ({O_MULTIMODAL_FEATURES})"
    for m in ("width", "height", "frames", "fps", "rate",
              "duration_us", "grayscale")
)

_O_KM_DIST0 = (
    "list_sum(list_transform(generate_series(1, len(qv)),"
    " i -> (qv[i] - c0[i]) * (qv[i] - c0[i])))"
)
_O_KM_DIST1 = (
    "list_sum(list_transform(generate_series(1, len(qv)),"
    " i -> (qv[i] - c1[i]) * (qv[i] - c1[i])))"
)

# one Lloyd step in SQL: assign under the (c0, c1) pair, then per-(cluster,
# dim) deterministic integer mean floor(sum/n + 0.5) — computed in EXACT
# integer arithmetic as floor((2s+n)/(2n)) to match the engine's r15
# all-integer form (the old sum::DOUBLE/n replay can round across the .5
# boundary whenever 1/(2n) falls below half an ulp of s/n — a review-found
# counterexample at s=2^53-1, n=3 — so the double form was never safe at
# corpus-scale sums). DuckDB's // truncates toward zero, hence the CASE
# for negative numerators (floor semantics). A cluster that empties keeps
# its previous centroid (COALESCE to {prev_w} — the Spark kmeans_update
# convention; without it the scalar subquery would yield NULL and every
# later distance would go NULL).
def _o_km_step(prev_w: str, asg: str, cent: str) -> str:
    num = "2*sum(qv[u.i]) + count(*)"
    den = "2*count(*)"
    return f"""
  {asg} AS (
    SELECT vec_id, qv, CASE WHEN d1 < d0 THEN 1::BIGINT ELSE 0::BIGINT END AS c
    FROM (SELECT kq.vec_id, kq.qv, {_O_KM_DIST0} AS d0, {_O_KM_DIST1} AS d1
          FROM kq CROSS JOIN {prev_w})),
  {cent} AS (
    SELECT c, list(val ORDER BY i) AS cv FROM (
      SELECT c, u.i AS i,
             CAST(CASE WHEN {num} >= 0 THEN ({num}) // ({den})
                  ELSE -((-({num}) + {den} - 1) // ({den}))
                  END AS BIGINT) AS val
      FROM {asg}, UNNEST(generate_series(1, len(qv))) AS u(i)
      GROUP BY c, u.i) GROUP BY c),
  {cent}w AS (SELECT
    coalesce((SELECT cv FROM {cent} WHERE c = 0),
             (SELECT c0 FROM {prev_w})) AS c0,
    coalesce((SELECT cv FROM {cent} WHERE c = 1),
             (SELECT c1 FROM {prev_w})) AS c1)"""


O_ANN_MULTIMODAL = f"""
SELECT *, '' AS s FROM ({O_ANN_INDEXED})
UNION ALL
{_O_MM_UNPIVOT}
UNION ALL
-- r14 fixed-point k-means replay (clustering.py): micro-unit quantize,
-- smallest-md5-key first seed, farthest-second seed, two Lloyd steps
-- (exact integer distances; floor(sum/n+0.5) means), final assignment +
-- centroids — every decision integer, replayed bit-for-bit
SELECT part, query_id, match_id, cos, rank, s FROM (
  WITH kq AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS qv
    FROM embeddings),
  ks0 AS (SELECT qv FROM kq
          ORDER BY md5(vec_id::VARCHAR || ':42') ASC, vec_id ASC LIMIT 1),
  ks1 AS (SELECT kq.qv FROM kq CROSS JOIN ks0
          ORDER BY list_sum(list_transform(generate_series(1, len(kq.qv)),
                     i -> (kq.qv[i] - ks0.qv[i]) * (kq.qv[i] - ks0.qv[i]))) DESC,
                   kq.vec_id ASC
          LIMIT 1),
  kc0w AS (SELECT (SELECT qv FROM ks0) AS c0, (SELECT qv FROM ks1) AS c1),
  {_o_km_step("kc0w", "ka1", "kc1")},
  {_o_km_step("kc1w", "ka2", "kc2")},
  ka3 AS (
    SELECT vec_id, CASE WHEN d1 < d0 THEN 1::BIGINT ELSE 0::BIGINT END AS c,
           least(d0, d1) AS d
    FROM (SELECT kq.vec_id, kq.qv, {_O_KM_DIST0} AS d0, {_O_KM_DIST1} AS d1
          FROM kq CROSS JOIN kc2w))
  SELECT 'km|asg' AS part, vec_id AS query_id, c AS match_id,
         d::DOUBLE AS cos, 0 AS rank, '' AS s
  FROM ka3
  UNION ALL
  SELECT 'km|cent', 0, u.i - 1, c0[u.i]::DOUBLE, 0, ''
  FROM kc2w, UNNEST(generate_series(1, len(c0))) AS u(i)
  UNION ALL
  SELECT 'km|cent', 1, u.i - 1, c1[u.i]::DOUBLE, 0, ''
  FROM kc2w, UNNEST(generate_series(1, len(c1))) AS u(i)
  UNION ALL
  -- r15 D4 replay (Tirumala'23): from the same final assignment ka3,
  -- drop the floor(0.25*n) rows of each cluster nearest its centroid
  -- (rank order: distance ASC, id ASC)
  SELECT 'd4|keep', vec_id, c, d::DOUBLE, 0, ''
  FROM (SELECT vec_id, c, d,
               row_number() OVER (PARTITION BY c
                                  ORDER BY d ASC, vec_id ASC) AS rn,
               count(*) OVER (PARTITION BY c) AS n
        FROM ka3) d4t
  WHERE rn > floor(0.25 * n::DOUBLE)
  UNION ALL
  -- r16 composed d4_select replay: ONE clustering (the same ka3 final
  -- assignment + exact integer distance) shared by both stages.
  -- SemDeDup within clusters: exact-cosine pairs restricted to
  -- same-cluster (the within-block exhaustive contract), recursive-CTE
  -- connected components, keeper = lowest id; then the prototype window
  -- drops the floor(0.25*n) SURVIVORS of each cluster nearest the final
  -- centroid (rank: distance ASC, id ASC). Docs without an embedding
  -- pass through both stages.
  SELECT 'd4sel|keep', t.doc_id, 0::BIGINT, 0.0::DOUBLE, 0, '' FROM (
    WITH RECURSIVE
    dse AS (SELECT e.vec_id AS id, e.embedding AS v, a.c, a.d
            FROM embeddings e JOIN ka3 a ON a.vec_id = e.vec_id),
    dsp AS (SELECT a.id AS id_a, b.id AS id_b
            FROM dse a JOIN dse b ON a.id < b.id AND a.c = b.c
            WHERE list_sum(list_transform(range(1, len(a.v) + 1),
                    i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
                       i -> a.v[i]::DOUBLE * a.v[i]::DOUBLE)))
                     * sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
                         i -> b.v[i]::DOUBLE * b.v[i]::DOUBLE)))) >= 0.5),
    dedges AS (SELECT id_a AS src, id_b AS dst FROM dsp
               UNION SELECT id_b, id_a FROM dsp),
    dreach(id, lbl) AS (
      SELECT src, src FROM dedges
      UNION
      SELECT e.src, r.lbl FROM dedges e JOIN dreach r ON e.dst = r.id),
    dgroups AS (SELECT id, min(lbl) AS group_id FROM dreach GROUP BY id),
    dkeepid AS (SELECT group_id, min(id) AS keep_id FROM dgroups GROUP BY 1),
    dlosers AS (SELECT g.id FROM dgroups g JOIN dkeepid USING (group_id)
                WHERE g.id != dkeepid.keep_id),
    dsurv AS (SELECT s.id, s.c, s.d FROM dse s
              WHERE s.id NOT IN (SELECT id FROM dlosers)),
    dproto AS (SELECT id FROM (
        SELECT id,
               row_number() OVER (PARTITION BY c
                                  ORDER BY d ASC, id ASC) AS rn,
               count(*) OVER (PARTITION BY c) AS n
        FROM dsurv) p
      WHERE rn <= floor(0.25 * n::DOUBLE))
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM dlosers)
      AND d.doc_id NOT IN (SELECT id FROM dproto)
  ) t
) km_all
UNION ALL
-- r15 k-means|| replay (Bahmani'12; clustering._kmeans_parallel_sample):
-- seed = smallest-md5-key row (round -1); each round selects every row
-- whose 60-bit md5 coin satisfies h * psi < (l * d^2) * 16^15 in IEEE
-- doubles (psi = the EXACT integer cost cast to double — both engines
-- round half-even, and *,< are correctly rounded, so the candidate sets
-- match bit-for-bit); the round-1 distances fold the round-0 candidates
-- into the carried minimum; weights = argmin over the candidate set with
-- (round, id) tie order. Gate config k=2 -> l=4, rounds=2, seed 42.
SELECT part, query_id, match_id, cos, rank, s FROM (
  WITH kq2 AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS qv
    FROM embeddings),
  kp0 AS (SELECT vec_id, qv FROM kq2
          ORDER BY md5(vec_id::VARCHAR || ':42') ASC, vec_id ASC LIMIT 1),
  kd0 AS (SELECT kq2.vec_id, kq2.qv,
                 list_sum(list_transform(generate_series(1, len(kq2.qv)),
                   i -> (kq2.qv[i] - kp0.qv[i]) * (kq2.qv[i] - kp0.qv[i])))
                 AS d
          FROM kq2 CROSS JOIN kp0),
  ksel0 AS (
    SELECT vec_id, qv FROM kd0
    WHERE (CAST(('0x' || substr(md5(vec_id::VARCHAR || ':42:kmpar:0'),
                                1, 15)) AS BIGINT)::DOUBLE
           * (SELECT sum(d) FROM kd0)::DOUBLE)
        < ((4.0 * d::DOUBLE) * (16.0 ** 15))),
  kd1 AS (SELECT kd0.vec_id, kd0.qv,
                 least(kd0.d, coalesce(
                   (SELECT min(list_sum(list_transform(
                      generate_series(1, len(kd0.qv)),
                      i -> (kd0.qv[i] - s.qv[i]) * (kd0.qv[i] - s.qv[i]))))
                    FROM ksel0 s), kd0.d)) AS d
          FROM kd0),
  ksel1 AS (
    SELECT vec_id, qv FROM kd1
    WHERE (CAST(('0x' || substr(md5(vec_id::VARCHAR || ':42:kmpar:1'),
                                1, 15)) AS BIGINT)::DOUBLE
           * (SELECT sum(d) FROM kd1)::DOUBLE)
        < ((4.0 * d::DOUBLE) * (16.0 ** 15))),
  kcands AS (
    SELECT vec_id, -1 AS rnd, qv FROM kp0
    UNION ALL SELECT vec_id, 0, qv FROM ksel0
    UNION ALL SELECT vec_id, 1, qv FROM ksel1),
  kassign AS (
    SELECT c.vec_id AS cand_id, c.rnd
    FROM kq2 q JOIN kcands c ON true
    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
      list_sum(list_transform(generate_series(1, len(q.qv)),
        i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) ASC,
      c.rnd ASC, c.vec_id ASC) = 1),
  kwt AS (SELECT cand_id, rnd, count(*) AS w FROM kassign GROUP BY 1, 2)
  SELECT 'kmp|cw' AS part, c.vec_id AS query_id, c.rnd::BIGINT AS match_id,
         coalesce(kwt.w, 0)::DOUBLE AS cos, 0 AS rank, '' AS s
  FROM kcands c LEFT JOIN kwt ON kwt.cand_id = c.vec_id AND kwt.rnd = c.rnd
) kmp_all
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 49 entries — one per operator family from SURVEY.md SS2 plus
    the training-data pipeline ops, ALL inside the driver's 50-entry
    correctness window (VERDICT r13 #1: the r13 dict had 53 entries and
    the last three rode unchecked; r14 merges metadata, sessions, the MCP
    tools, and ann+multimodal down to 49 with one slot of headroom).
    Same-family variants are tag-unioned (see the consolidated sections
    above); TPC-H q3/q5ish/top-customers live in tests only.

    ROUND-7: the canonical set is restored (VERDICT r6 #1). The r6
    rotation (q_search/q_having/q_any_none/q_histogram/q_promql/
    q_fill_prev swapped out for their standalone variants for one round)
    proved both sets green under the driver gate; the six variants
    (q_fill_zero, q_error_ratio, q_share_of_total, q_hist_count,
    q_promql_offset, q_promql_absent) now hold the strict pytest-oracle
    net in test_relational_extra.py instead."""
    return {
        # -- search / select / filters (SS2.2, 2.6, 2.8) --------------------
        "q_search": q_search,  # r7: rotated back (r6 held q_fill_zero)
        "q_timeseries_error_5m": q_timeseries_error_5m,
        "q_lucene_dispatch": q_lucene_dispatch2,
        "q_lucene_explain": q_lucene_explain,
        "q_sqlast_filters": q_sqlast_filters,
        "q_json_path": q_json_path,
        "q_materialized_col": q_materialized_col,
        # -- aggregation family (SS2.4) -------------------------------------
        "q_multi_agg": q_multi_agg,
        "q_conditional_agg": q_conditional_agg,
        "q_having": q_having,  # r7: rotated back (r6 held q_error_ratio)
        "q_last_value": q_last_value,
        "q_any_none": q_any_none,  # r7: rotated back (r6 held q_share_of_total)
        "q_sample_weighted": q_sample_weighted_all,
        # -- series shaping (SS2.3, 2.6, 2.11) ------------------------------
        "q_series_limit": q_series_limit,
        "q_ratio_series": q_ratio_series,
        "q_heatmap": q_heatmap,
        "q_csv_render": q_csv_render,
        # -- correlation + sessions (SS2.3) ---------------------------------
        "q_correlated_semi_join": q_correlated_semi_join,
        "q_sessions": q_sessions_all,  # r14: + sessionize 'gap' part
        # -- OTel metric semantics (SS2.9) ----------------------------------
        "q_gauge": q_gauge,
        "q_counter_rate": q_counter_rate,
        "q_increase_top3": q_increase_top3,
        "q_histogram": q_histogram,  # r7: rotated back (r6 held q_hist_count)
        "q_exp_histogram": q_exp_histogram,
        # -- SQL surfaces (SS2.1, 2.12, SS4) --------------------------------
        "q_raw_sql_macros": q_raw_sql_macros,
        "q_cte_two_level": q_cte_two_level,
        "q_chcompat": q_chcompat,
        "q_builder_sql": q_builder_sql,
        "q_mv_rollup": q_mv_rollups,
        # -- PromQL (SS2.1) -------------------------------------------------
        "q_promql": q_promql,  # r7: rotated back (r6 held q_promql_offset)
        "q_fill_prev": q_fill_prev,  # r7: rotated back (r6 held q_promql_absent)
        "q_promql_features": q_promql_features,
        "q_promql_vecmatch": q_promql_vecmatch,
        # -- streaming + windows (SS2.1, 2.10, 2.11) ------------------------
        "q_stream_tail": q_stream_tail,
        "q_otlp_ingest": q_otlp_ingest,
        "q_chunked_union": q_chunked_union,
        "q_offset_pages": q_offset_pages,
        # -- alerting + analytics (SS2.10, 2.11) ----------------------------
        "q_alert_backtest": q_alert_backtest,
        "q_stream_notify": q_stream_notify,
        "q_analytics_insights": q_analytics_insights,
        "q_funnel_retention": q_funnel_retention,
        # -- metadata / autocomplete (SS2.8) --------------------------------
        "q_metadata": q_metadata,  # r14: keyvals + fields merged
        # -- relational analytics ------------------------------------------
        "q_tpch_q1": q_tpch_q1,
        # -- training-data pipeline ----------------------------------------
        "q_text_stats": q_text_stats,
        "q_dedup_all": q_dedup_all,
        "q_neardup_pairs": q_neardup_pairs,
        "q_service_map": q_service_map,
        "q_mcp_tools": q_mcp_tools,  # r14: trace tools + emerging signals
        "q_ann_multimodal": q_ann_multimodal,  # r14: ann tiers + multimodal
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_search": O_SEARCH,
        "q_timeseries_error_5m": O_TIMESERIES,
        "q_lucene_dispatch": O_LUCENE_DISPATCH2,
        "q_lucene_explain": O_LUCENE_EXPLAIN,
        "q_sqlast_filters": O_SQLAST_FILTERS,
        "q_json_path": O_JSON_PATH,
        "q_materialized_col": O_MATERIALIZED_COL,
        "q_multi_agg": O_MULTI_AGG,
        "q_conditional_agg": O_CONDITIONAL,
        "q_having": O_HAVING,
        "q_last_value": O_LAST_VALUE,
        "q_any_none": O_ANY_NONE,
        "q_sample_weighted": O_SAMPLE_WEIGHTED_ALL,
        "q_series_limit": O_SERIES_LIMIT,
        "q_ratio_series": O_RATIO_SERIES,
        "q_heatmap": O_HEATMAP,
        "q_csv_render": O_CSV_RENDER,
        "q_correlated_semi_join": O_CORRELATED_SEMI,
        "q_sessions": O_SESSIONS_ALL,
        "q_gauge": O_GAUGE_M,
        "q_counter_rate": O_COUNTER_RATE,
        "q_increase_top3": O_INCREASE,
        "q_histogram": O_HISTOGRAM,
        "q_exp_histogram": O_EXP_HISTOGRAM,
        "q_raw_sql_macros": O_RAW_SQL_MACROS,
        "q_cte_two_level": O_CTE_TWO_LEVEL,
        "q_chcompat": O_CHCOMPAT,
        "q_builder_sql": O_BUILDER_SQL,
        "q_mv_rollup": O_MV_ROLLUPS,
        "q_promql": O_PROMQL,
        "q_fill_prev": O_FILL_PREV,
        "q_promql_features": O_PROMQL_FEATURES,
        "q_promql_vecmatch": O_PROMQL_VECMATCH,
        "q_stream_tail": O_STREAM_TAIL,
        "q_otlp_ingest": O_OTLP_INGEST,
        "q_chunked_union": O_CHUNKED_UNION,
        "q_offset_pages": O_OFFSET_PAGES,
        "q_alert_backtest": O_ALERT_BACKTEST,
        "q_stream_notify": O_STREAM_NOTIFY,
        "q_analytics_insights": O_ANALYTICS_INSIGHTS,
        "q_funnel_retention": O_FUNNEL_RETENTION,
        "q_metadata": O_METADATA,
        "q_tpch_q1": O_TPCH_Q1,
        "q_text_stats": O_TEXT_STATS,
        "q_dedup_all": O_DEDUP_ALL,
        "q_neardup_pairs": O_NEARDUP_PAIRS,
        "q_service_map": O_SERVICE_MAP,
        "q_mcp_tools": O_MCP_TOOLS,
        # decode itself is not SQL-expressible, but the multimodal parts'
        # projection is a closed form of the document byte length, so the
        # merged entry keeps the full hash check:
        "q_ann_multimodal": O_ANN_MULTIMODAL,
    }
