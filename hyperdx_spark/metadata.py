"""Metadata / autocomplete operators (SURVEY §2.8 bottom).

Parity target: ``packages/common-utils/src/core/metadata.ts`` —
``getAllFields`` (:1422), ``getMapKeys`` (:641), ``getJSONKeys`` (:951),
``getMapValues`` (:1040), ``getKeyValues`` (:2431: per-key distinct value
arrays, optionally over a sampled CTE, ≤ maxValuesPerKey values),
``getValuesDistribution`` (:1995). The reference introspects
``system.columns`` with caching; here the schema IS ``df.schema`` and the
data-dependent parts (map/JSON keys, values) are bounded scans capped the
same way (max_rows ~ the reference's 3e6 ``max_rows_to_read`` guard).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyperdx_spark.session import local_frame

DEFAULT_MAX_ROWS = 3_000_000   # metadata.ts:56
MAX_VALUES_PER_KEY = 20        # metadata.ts:60


def get_all_fields(df: DataFrame) -> list[tuple[str, str]]:
    """Every addressable dot-path in the schema with its type: struct fields
    recurse; map/array columns are returned as the container (their dynamic
    keys come from get_map_keys/get_json_keys)."""
    out: list[tuple[str, str]] = []

    def walk(prefix: str, dtype: T.DataType) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                path = f"{prefix}.{f.name}" if prefix else f.name
                out.append((path, f.dataType.simpleString()))
                walk(path, f.dataType)
        elif isinstance(dtype, T.ArrayType):
            walk(prefix, dtype.elementType) if isinstance(
                dtype.elementType, T.StructType
            ) else None

    for f in df.schema.fields:
        out.append((f.name, f.dataType.simpleString()))
        walk(f.name, f.dataType)
    return out


def _capped(df: DataFrame, max_rows: Optional[int]) -> DataFrame:
    """The first *max_rows* rows of *df* (all of them when unset).

    Each call compiles new Java even when the query is warm: Spark names a
    codegen'd limit's row counter from one sequence for the whole JVM
    (``_limit_counter_N``), so no two limit plans share generated source
    and the class cache never hits. At sf0.01 these limits make all of the
    12-14 Janino compiles of a warm ``q_metadata`` run. The counter's name
    is Spark's to choose, and the cap bounds the scan, so it stays."""
    return df.limit(max_rows) if max_rows else df


def get_map_keys(
    df: DataFrame, map_col: str, *, max_rows: Optional[int] = DEFAULT_MAX_ROWS
) -> DataFrame:
    """Distinct keys of a map column over a bounded scan (metadata.ts:641)."""
    return (
        _capped(df.select(map_col), max_rows)
        .select(F.explode(F.map_keys(F.col(map_col))).alias("key"))
        .distinct()
        .orderBy("key")
    )


def get_json_keys(
    df: DataFrame, json_col: str, *, max_rows: Optional[int] = DEFAULT_MAX_ROWS
) -> DataFrame:
    """Distinct top-level keys of a JSON-string column (metadata.ts:951)."""
    return (
        _capped(df.select(json_col), max_rows)
        .select(F.explode(F.json_object_keys(F.col(json_col))).alias("key"))
        .distinct()
        .orderBy("key")
    )


def get_map_values(
    df: DataFrame,
    map_col: str,
    key: str,
    *,
    max_values: int = MAX_VALUES_PER_KEY,
    max_rows: Optional[int] = DEFAULT_MAX_ROWS,
) -> list[str]:
    """Distinct values observed for one map key (metadata.ts:1040)."""
    rows = (
        _capped(df.select(map_col), max_rows)
        .select(F.element_at(F.col(map_col), key).alias("v"))
        .where(F.col("v").isNotNull() & (F.col("v") != ""))
        .distinct()
        .orderBy("v")
        .limit(max_values)
        .collect()
    )
    return [r["v"] for r in rows]


def get_key_values(
    df: DataFrame,
    keys: Sequence[str],
    *,
    max_values_per_key: int = MAX_VALUES_PER_KEY,
    sample_rows: Optional[int] = DEFAULT_MAX_ROWS,
    facet_condition: Optional[str] = None,
) -> DataFrame:
    """Per-key distinct value arrays in ONE aggregation (metadata.ts:2431
    ``groupUniqArray(N)(expr)`` batched over ≤100 keys). ``keys`` are SQL
    expressions; values are stringified, sorted, and capped so the result
    is deterministic across engines. Returns one row with one array column
    per key (aliased key0, key1, ... in input order); zero keys -> an
    empty result without touching the table (metadata.ts:2480).

    The row cap applies BY DEFAULT (the reference's sampledData CTE with
    max_rows_to_read, metadata.ts:2520-2546); pass ``sample_rows=None``
    for the disableRowLimit path filter dropdowns use. Null and
    empty-string values are dropped from every key's list — the
    reference's response filter ``v != null && v !== ''``
    (metadata.ts:2585-2588), applied here pre-aggregation so empty
    strings never consume a value slot.

    ``facet_condition`` (the faceted ``groupUniqArrayIf`` variant): a SQL
    predicate — values are collected only from matching rows, so filter
    panels show values consistent with the active search."""
    if not keys:
        return local_frame(df.sparkSession, [], T.StructType([]))
    src = _capped(df, sample_rows)

    def value_of(k: str):
        v = F.expr(k).cast("string")
        v = F.when(v != F.lit(""), v)  # '' dropped; NULLs fall out of collect_set
        if facet_condition is not None:
            v = F.when(F.expr(facet_condition), v)
        return v

    aggs = [
        F.slice(
            F.array_sort(F.collect_set(value_of(k))),
            1,
            max_values_per_key,
        ).alias(f"key{i}")
        for i, k in enumerate(keys)
    ]
    return src.agg(*aggs)


def get_values_distribution(
    df: DataFrame,
    expr: str,
    *,
    top: int = 20,
    max_rows: Optional[int] = DEFAULT_MAX_ROWS,
) -> DataFrame:
    """Value frequency distribution of an expression (metadata.ts:1995):
    (value, count, pct of scanned rows), most frequent first."""
    src = _capped(df, max_rows)
    counts = (
        src.select(F.expr(expr).cast("string").alias("value"))
        .groupBy("value")
        .agg(F.count("*").alias("count"))
    )
    total = counts.agg(F.sum("count").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "value",
            "count",
            F.round(F.col("count") / F.col("__t") * 100, 4).alias("pct"),
        )
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(top)
    )


def get_aligned_date_range(date_range, granularity: str):
    """core/utils.ts:1043-1058 getAlignedDateRange: start floored to the
    granularity grid, end rounded UP to the next boundary (kept as-is when
    already aligned) — an MV rolled up at this granularity then covers the
    whole requested window."""
    # naive datetimes align on the UTC epoch grid (alerts._epoch rule) —
    # the reference works in epoch ms, so a naive caller in a non-UTC
    # process zone must not shift the bucket boundaries
    from hyperdx_spark.alerts import _epoch, _from_epoch
    from hyperdx_spark.granularity import granularity_seconds

    step = granularity_seconds(granularity)
    start, end = date_range
    s = int(_epoch(start) // step) * step
    e = int(_epoch(end) // step) * step
    if e < _epoch(end):
        e += step
    return _from_epoch(s, like=start), _from_epoch(e, like=end)


def get_metadata_mv_key_values(
    mv_df: DataFrame,
    requests: "dict[str, Sequence[str]]",
    *,
    date_range,
    granularity: str,
    max_values_per_key: int = MAX_VALUES_PER_KEY,
    ts_col: str = "Timestamp",
) -> DataFrame:
    """Autocomplete over a metadata rollup MV (metadata.ts:1319-1430
    getMetadataMVKeyValues): the MV holds (Timestamp bucket,
    ColumnIdentifier, Key, Value) rows; fetch distinct non-empty values per
    requested (ColumnIdentifier, Key) inside the granularity-ALIGNED window
    (inclusive both ends — the reference compares against
    start-of-bucket expressions of the aligned endpoints), capped like
    groupUniqArray(N) and ordered by (ColumnIdentifier, Key)."""
    start, end = get_aligned_date_range(date_range, granularity)
    pred = None
    for column, keys in requests.items():
        p = (F.col("ColumnIdentifier") == column) & F.col("Key").isin(list(keys))
        pred = p if pred is None else (pred | p)
    if pred is None:
        return local_frame(
            mv_df.sparkSession,
            [],
            "ColumnIdentifier string, Key string, Values array<string>",
        )
    return (
        mv_df.where(pred)
        .where((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) <= F.lit(end)))
        .where(F.col("Value").isNotNull() & (F.col("Value") != ""))
        .groupBy("ColumnIdentifier", "Key")
        .agg(
            F.slice(
                F.array_sort(F.collect_set(F.col("Value").cast("string"))),
                1,
                max_values_per_key,
            ).alias("Values")
        )
        .orderBy("ColumnIdentifier", "Key")
    )


def get_key_values_with_mvs(
    df: DataFrame,
    keys: Sequence[str],
    *,
    mv_df: Optional[DataFrame] = None,
    mv_routes: "Optional[dict[str, tuple[str, str]]]" = None,
    date_range=None,
    granularity: str = "1 hour",
    max_values_per_key: int = MAX_VALUES_PER_KEY,
    sample_rows: Optional[int] = DEFAULT_MAX_ROWS,
    mv_ts_col: str = "Timestamp",
) -> "dict[str, list[str]]":
    """Strategy routing for key-value fetches (metadata.ts:2255-2430
    getAllKeyValues + the getKeyValuesWithMVs int tests): keys whose
    column the metadata MV materializes (``mv_routes`` maps key expression
    -> (ColumnIdentifier, rollup Key)) are served from the MV over the
    aligned window; everything else — and everything when the MV or the
    source is absent — falls back to the base table via
    :func:`get_key_values`. Empty ``keys`` -> {} without touching either
    table. The repo's text-index tiers collapse by design (SURVEY §2.8
    row 44), so the two index strategies route to the same base-table
    scan Catalyst would run anyway."""
    if not keys:
        return {}
    routes = mv_routes or {}
    mv_keys = [k for k in keys if mv_df is not None and k in routes and date_range]
    raw_keys = [k for k in keys if k not in mv_keys]
    out: dict[str, list[str]] = {}
    if mv_keys:
        requests: dict[str, list[str]] = {}
        for k in mv_keys:
            col, rollup_key = routes[k]
            requests.setdefault(col, []).append(rollup_key)
        rows = get_metadata_mv_key_values(
            mv_df, requests, date_range=date_range, granularity=granularity,
            max_values_per_key=max_values_per_key, ts_col=mv_ts_col,
        ).collect()
        by_pair = {(r["ColumnIdentifier"], r["Key"]): list(r["Values"]) for r in rows}
        for k in mv_keys:
            out[k] = by_pair.get(routes[k], [])
    if raw_keys:
        row = get_key_values(
            df, raw_keys, max_values_per_key=max_values_per_key,
            sample_rows=sample_rows,
        ).collect()[0]
        for i, k in enumerate(raw_keys):
            out[k] = list(row[f"key{i}"])
    return out


GET_ALL_KEY_VALUES_CHUNK_SIZE = 100  # metadata.ts:60


def get_all_key_values(
    df: DataFrame,
    keys: Sequence[str],
    *,
    max_values_per_key: int = MAX_VALUES_PER_KEY,
    sample_rows: Optional[int] = None,
    chunk_size: int = GET_ALL_KEY_VALUES_CHUNK_SIZE,
) -> dict[str, list[str]]:
    """Batched autocomplete fetch (metadata.ts:2204-2250 getAllKeyValues):
    keys are queried in chunks of ≤ *chunk_size* per aggregation (each chunk
    is one scan with one agg per key), results merged into {key: values}."""
    out: dict[str, list[str]] = {}
    for i in range(0, len(keys), chunk_size):
        chunk = list(keys[i : i + chunk_size])
        row = get_key_values(
            df, chunk, max_values_per_key=max_values_per_key, sample_rows=sample_rows
        ).collect()[0]
        for j, k in enumerate(chunk):
            out[k] = list(row[f"key{j}"])
    return out


# ---------------------------------------------------------------------------
# Metric catalog listing (mcp/tools/sources/listMetrics.ts)
# ---------------------------------------------------------------------------

#: listMetrics.ts — the kinds a catalog page iterates, in order (summary is
#: not queryable)
QUERYABLE_METRIC_KINDS = ("gauge", "sum", "histogram", "exponential histogram")


def encode_metrics_cursor(kind: str, last_name: str) -> str:
    """listMetrics.ts:41-43 encodeCursor: base64(JSON({kind, lastName}))."""
    import base64
    import json

    return base64.b64encode(
        json.dumps({"kind": kind, "lastName": last_name}).encode("utf-8")
    ).decode("ascii")


def decode_metrics_cursor(raw: str):
    """listMetrics.ts:46-66 decodeCursor: None (never an exception) for
    malformed base64/JSON, missing fields, or an unknown kind."""
    import base64
    import json

    try:
        parsed = json.loads(base64.b64decode(raw).decode("utf-8"))
        if (
            isinstance(parsed, dict)
            and isinstance(parsed.get("kind"), str)
            and isinstance(parsed.get("lastName"), str)
            and parsed["kind"] in QUERYABLE_METRIC_KINDS
        ):
            return {"kind": parsed["kind"], "lastName": parsed["lastName"]}
    except Exception:
        pass
    return None


def list_metrics(
    tables,
    *,
    date_range=None,
    kind: Optional[str] = None,
    name_pattern: Optional[str] = None,
    cursor: Optional[str] = None,
    limit: int = 50,
    name_col: str = "MetricName",
    ts_col: str = "TimeUnix",
    unit_col: str = "MetricUnit",
    desc_col: str = "MetricDescription",
) -> dict:
    """Keyset-paginated metric catalog (listMetrics.ts:140-460): iterate
    the queryable kinds in order (resuming at the cursor's kind), page
    each kind's table by ``MetricName > lastName`` ordered ASC, ILIKE
    name filter, one DISTINCT name per row with anyLast unit/description
    when those columns exist; fetch one extra row per kind to detect
    more-data-available and emit the next cursor at the page cap.

    ``tables``: {kind: DataFrame}. Returns {"metrics": [...],
    "next_cursor": str | None}. Scale: every page is a pushed-filter scan
    + one partial-aggregated groupBy + TakeOrdered(limit+1) — never a
    full catalog materialization."""
    cur = decode_metrics_cursor(cursor) if cursor else None
    requested = [kind] if kind else list(QUERYABLE_METRIC_KINDS)
    start_idx = 0
    if cur and cur["kind"] in requested:
        start_idx = requested.index(cur["kind"])

    metrics: list[dict] = []
    next_cursor = None
    for i in range(start_idx, len(requested)):
        k = requested[i]
        df = tables.get(k)
        if df is None:
            continue
        after = cur["lastName"] if (cur and cur["kind"] == k and i == start_idx) else None
        remaining = limit - len(metrics)
        if remaining <= 0:
            break
        d = df
        if date_range is not None and ts_col in d.columns:
            d = d.where(
                (F.col(ts_col) >= F.lit(date_range[0]))
                & (F.col(ts_col) <= F.lit(date_range[1]))
            )
        if after is not None:
            d = d.where(F.col(name_col) > F.lit(after))
        if name_pattern:
            d = d.where(F.col(name_col).ilike(name_pattern))
        aggs = []
        if unit_col in d.columns:
            aggs.append(F.last(unit_col, ignorenulls=True).alias("__unit"))
        if desc_col in d.columns:
            aggs.append(F.last(desc_col, ignorenulls=True).alias("__desc"))
        g = d.groupBy(F.col(name_col).alias("__name"))
        page = (g.agg(*aggs) if aggs else g.count().drop("count"))
        rows = page.orderBy("__name").limit(remaining + 1).collect()
        entries = []
        for r in rows:
            e = {"name": r["__name"], "kind": k}
            if "__unit" in r.asDict() and r["__unit"]:
                e["unit"] = r["__unit"]
            if "__desc" in r.asDict() and r["__desc"]:
                e["description"] = r["__desc"]
            entries.append(e)
        if len(entries) > remaining:
            truncated = entries[:remaining]
            metrics.extend(truncated)
            next_cursor = encode_metrics_cursor(k, truncated[-1]["name"])
            break
        metrics.extend(entries)
    return {"metrics": metrics, "next_cursor": next_cursor}


# ---------------------------------------------------------------------------
# Per-metric description (mcp/tools/sources/describeMetric.ts)
# ---------------------------------------------------------------------------

METRIC_ATTR_KEYS_SAMPLE_SIZE = 100_000  # describeMetric.ts:36
MAX_ATTR_VALUES = 10                    # :40 — distinct values per key
MAX_ATTR_KEYS_TO_SAMPLE = 12            # :43 — keys sampled per metric


def describe_metric(
    df: DataFrame,
    metric_name: str,
    *,
    date_range=None,
    sample_size: int = METRIC_ATTR_KEYS_SAMPLE_SIZE,
    max_attr_keys: int = MAX_ATTR_KEYS_TO_SAMPLE,
    max_attr_values: int = MAX_ATTR_VALUES,
    name_col: str = "MetricName",
    ts_col: str = "TimeUnix",
    unit_col: str = "MetricUnit",
    desc_col: str = "MetricDescription",
) -> dict:
    """describeMetric.ts:163-480 as DataFrame plans: per-metric unit /
    description (anyLast over a bounded sample, only when the OTel
    columns exist), attribute KEYS per Map column (distinct flattened
    mapKeys over the same bounded sample), and sampled distinct VALUES
    per key — capped at ``max_attr_values`` per key and
    ``max_attr_keys`` keys total, the skipped keys recorded as
    ``truncated_keys`` so callers can tell "not sampled" from "sampled
    but empty". Every pass aggregates a LIMIT-bounded sample (the
    reference's inner-LIMIT pattern), so a hot metric cannot starve the
    scan."""
    d = df.where(F.col(name_col) == F.lit(metric_name))
    if date_range is not None and ts_col in df.columns:
        d = d.where(
            (F.col(ts_col) >= F.lit(date_range[0]))
            & (F.col(ts_col) <= F.lit(date_range[1]))
        )
    sample = d.limit(sample_size)

    out: dict = {"name": metric_name}
    ud_aggs = []
    if unit_col in df.columns:
        ud_aggs.append(F.last(unit_col, ignorenulls=True).alias("__unit"))
    if desc_col in df.columns:
        ud_aggs.append(F.last(desc_col, ignorenulls=True).alias("__desc"))
    if ud_aggs:
        row = sample.agg(*ud_aggs).collect()[0].asDict()
        if row.get("__unit"):
            out["unit"] = row["__unit"]
        if row.get("__desc"):
            out["description"] = row["__desc"]

    map_columns = [
        name for name, t in df.dtypes if t.startswith("map<string")
    ]
    attribute_keys: dict[str, list] = {}
    if map_columns:
        row = sample.agg(
            *[
                F.array_distinct(
                    F.flatten(F.collect_list(F.map_keys(F.col(c))))
                ).alias(c)
                for c in map_columns
            ]
        ).collect()[0]
        for c in map_columns:
            keys = [k for k in (row[c] or []) if k]
            if keys:
                attribute_keys[c] = keys
    out["attribute_keys"] = attribute_keys

    flat: list[tuple[str, str, str]] = []  # (display, map column, key)
    truncated: list[str] = []
    for c, keys in attribute_keys.items():
        for k in keys:
            display = f"{c}['{k}']"
            if len(flat) >= max_attr_keys:
                truncated.append(display)
            else:
                flat.append((display, c, k))
    values: dict[str, list] = {}
    if flat:
        row = sample.agg(
            *[
                F.slice(
                    F.array_distinct(
                        F.collect_list(F.col(c).getItem(k))
                    ),
                    1,
                    max_attr_values,
                ).alias(f"param{i}")
                for i, (_d, c, k) in enumerate(flat)
            ]
        ).collect()[0]
        for i, (display, _c, _k) in enumerate(flat):
            sample_vals = [v for v in (row[f"param{i}"] or []) if v != ""]
            if sample_vals:
                values[display] = sample_vals
    out["attribute_values"] = values
    out["attribute_values_meta"] = {
        "sampled_keys": [d_ for d_, _c, _k in flat],
        "truncated_keys": truncated,
    }
    return out
