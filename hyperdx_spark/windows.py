"""Progressive time windows: chunked chart querying + offset-paginated
search.

Parity targets (hyperdxio/hyperdx):
* ``packages/app/src/utils/searchWindows.ts`` — the window ladder (15m, 6h,
  6h, 12h, then 24h repeated), DESC from the newest edge and ASC from the
  oldest.
* ``packages/app/src/hooks/useChartConfig.tsx:73-135`` — chunk eligibility
  and granularity-aligned window boundaries (end-exclusive for all but the
  newest window so chunks never overlap).
* ``useChartConfig.tsx:159-178`` — series-limit pinning: the top-N ranking
  is computed ONCE over the full range and pinned for every chunk, so a
  group can't flicker in/out across chunks.
* ``packages/app/src/hooks/useOffsetPaginatedQuery.tsx`` — per-window
  offset pagination (page = LIMIT k OFFSET m inside the active window).

In Spark, chunking is unnecessary for *correctness* (one plan covers the
whole range and partition pruning does the rest) — it exists for
incremental delivery: each window is an independent small job whose result
streams to the UI while older windows still run. At 100 TB the newest-15m
window touches only the newest partitions, so first results arrive in
seconds regardless of total range.
"""

from __future__ import annotations

from contextlib import closing
from dataclasses import dataclass, replace
from datetime import datetime, timedelta
from functools import partial
from typing import Iterator, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperdx_spark.granularity import auto_granularity, granularity_seconds
from hyperdx_spark.model import ChartConfig
from hyperdx_spark.session import local_frame, overlapped

ONE_MIN_WINDOW = 60
# How many windows ahead a DESC offset_paginated_search drain keeps in flight
# (compile + first-page job): the only bound on its prefetch.
_WINDOW_PREFETCH = 3

DEFAULT_TIME_WINDOWS_SECONDS = (
    15 * 60,       # 15m
    6 * 60 * 60,   # 6h
    6 * 60 * 60,   # 6h
    12 * 60 * 60,  # 12h
    24 * 60 * 60,  # 24h, repeated for the remainder
)


@dataclass
class TimeWindow:
    start: datetime
    end: datetime
    index: int
    direction: str  # 'ASC' | 'DESC'
    end_inclusive: bool = True


def generate_time_windows_descending(
    start: datetime,
    end: datetime,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
) -> list[TimeWindow]:
    """searchWindows.ts:18-60 — newest-first progressive windows."""
    if start == end:
        return [TimeWindow(start, end, 0, "DESC")]
    out: list[TimeWindow] = []
    cur_end = end
    i = 0
    while cur_end > start:
        size = durations[i] if i < len(durations) else durations[-1]
        w_start = max(cur_end - timedelta(seconds=size), start)
        out.append(TimeWindow(w_start, cur_end, i, "DESC"))
        cur_end = w_start
        i += 1
    return out


def generate_time_windows_ascending(
    start: datetime,
    end: datetime,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
) -> list[TimeWindow]:
    """searchWindows.ts:63-105 — oldest-first progressive windows (live-tail
    style fetch)."""
    if start == end:
        return [TimeWindow(start, end, 0, "ASC")]
    out: list[TimeWindow] = []
    cur_start = start
    i = 0
    while cur_start < end:
        size = durations[i] if i < len(durations) else durations[-1]
        w_end = min(cur_start + timedelta(seconds=size), end)
        out.append(TimeWindow(cur_start, w_end, i, "ASC"))
        cur_start = w_end
        i += 1
    return out


def should_use_chunking(cfg: ChartConfig) -> bool:
    """useChartConfig.tsx:73-93 — granularity + date range required (raw-SQL
    and metric configs are compiled elsewhere in this engine)."""
    return bool(cfg.granularity) and cfg.date_range is not None


def granularity_aligned_windows(
    cfg: ChartConfig,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
    max_buckets: int = 60,
) -> list[TimeWindow]:
    """useChartConfig.tsx:95-135 getGranularityAlignedTimeWindows.

    Boundaries snap to chart buckets; every window except the newest is
    end-exclusive so a bucket is computed by exactly one chunk.
    """
    assert cfg.date_range is not None and cfg.granularity
    start, end = cfg.date_range
    gran = cfg.granularity
    if gran == "auto":
        gran = auto_granularity(cfg.date_range, max_buckets)
    step = granularity_seconds(gran)

    def floor(dt: datetime) -> datetime:
        epoch = int(dt.timestamp())
        return datetime.fromtimestamp(epoch - epoch % step, tz=dt.tzinfo)

    unaligned = generate_time_windows_descending(start, end, durations)
    out: list[TimeWindow] = []
    for idx, w in enumerate(unaligned):
        aligned_start = w.start if idx == len(unaligned) - 1 else floor(w.start)
        aligned_end = end if idx == 0 else floor(w.end)
        # skip windows swallowed by the previous window's alignment
        if out and aligned_start >= out[-1].start:
            continue
        out.append(
            TimeWindow(
                aligned_start,
                aligned_end,
                idx,
                "DESC",
                end_inclusive=cfg.date_range_end_inclusive if idx == 0 else False,
            )
        )
    return out


def _pin_series_limit(
    spark: SparkSession, cfg: ChartConfig, sf_dir: Optional[str]
) -> Optional[DataFrame]:
    """Series-limit pinning (useChartConfig.tsx:159-178): rank top-N groups
    over the FULL date range once; every chunk's series-limit semi-join
    then takes the returned frame (<= series_limit rows, NULL groups
    already left out by the full query's ranking) as its ranking."""
    from hyperdx_spark.compile import compile_chart_config
    from hyperdx_spark.display import has_positive_series_limit

    # same gates as compile.render_chart_sql's series limit (renderSeriesLimitCte):
    # positive integer, group-by, granularity, group columns in the output
    if (
        not has_positive_series_limit(cfg.series_limit)
        or not cfg.group_by
        or cfg.granularity is None
        or not cfg.select_group_by
    ):
        return None
    full = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    group_cols = [c for c in full.columns if c in cfg.group_by or c.startswith("__group_")]
    pinned_df = full.select(*group_cols).distinct()
    pinned = [tuple(r) for r in pinned_df.collect()]  # bounded by series_limit
    return local_frame(spark, pinned, pinned_df.schema)


def chunked_chart(
    spark: SparkSession,
    cfg: ChartConfig,
    sf_dir: Optional[str] = None,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
    settings=None,
) -> Iterator[tuple[TimeWindow, DataFrame]]:
    """Yield (window, result DataFrame) newest-first — each an independent
    job over a granularity-aligned sub-range. Concatenating all results
    equals the unchunked query (chunks never overlap; series limit is
    pinned globally first)."""
    from hyperdx_spark.compile import DEFAULT_SETTINGS, _compile, compile_chart_config

    if not should_use_chunking(cfg):
        yield (
            TimeWindow(
                cfg.date_range[0] if cfg.date_range else datetime.min,
                cfg.date_range[1] if cfg.date_range else datetime.max,
                0,
                "DESC",
            ),
            compile_chart_config(spark, cfg, sf_dir=sf_dir, settings=settings),
        )
        return
    pin = _pin_series_limit(spark, cfg, sf_dir)
    for w in granularity_aligned_windows(cfg, durations):
        sub = replace(
            cfg,
            date_range=(w.start, w.end),
            date_range_end_inclusive=w.end_inclusive,
            fill_nulls=None,  # spine is per-chunk; fill at merge time instead
        )
        yield w, _compile(
            spark, sub, sf_dir, None, settings or DEFAULT_SETTINGS, series_pin=pin
        )


def run_chunked(
    spark: SparkSession,
    cfg: ChartConfig,
    sf_dir: Optional[str] = None,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
    settings=None,
) -> DataFrame:
    """Union of all chunk results (oldest-first order column prepends the
    bucket sort) — must equal the unchunked compile. Zero-fill is applied
    over the FULL range after the merge (each chunk disables it, otherwise
    every chunk would generate its own partial spine)."""
    from functools import reduce

    from hyperdx_spark.compile import _fill_buckets

    dfs = [df for _, df in chunked_chart(spark, cfg, sf_dir, durations, settings)]
    out = reduce(lambda a, b: a.unionByName(b), dfs)
    if (
        cfg.fill_nulls is not None
        and cfg.granularity
        and cfg.date_range is not None
        and isinstance(cfg.select, (list, tuple))
    ):
        gran = cfg.granularity
        if gran == "auto":
            gran = auto_granularity(cfg.date_range)
        value_aliases = [
            sc.alias or f"{sc.agg_fn}({sc.value_expression})" for sc in cfg.select
        ]
        group_names = [c for c in out.columns if c not in value_aliases and c != cfg.timestamp_alias]
        out = _fill_buckets(
            spark, out, cfg.timestamp_alias, group_names, value_aliases,
            cfg.date_range, granularity_seconds(gran), cfg.fill_nulls,
        )
    # select_group_by=False drops the bucket column from the projection, so
    # only sort the union when the column is actually present
    if cfg.granularity and cfg.timestamp_alias in out.columns:
        out = out.orderBy(F.col(cfg.timestamp_alias).asc())
    return out


def append_chunk(accumulated: Optional[dict], chunk: dict, is_complete: bool) -> dict:
    """Client-side incremental chunk merge (useChartConfig.tsx:254-273
    appendChunk): later (older-window) chunk rows land AHEAD of the
    accumulated rows so the merged list stays ordered the way the
    descending chunk ladder delivers it — and the first/only chunk reuses
    its row list instead of copying (raw SQL is never chunked, so that
    fast path is the common one; avoids an O(rows) copy of a 100k+ list).
    ``accumulated``/``chunk``: {data, meta, rows}; returns the merged dict
    with ``is_complete``."""
    chunk_data = chunk.get("data") or []
    acc_data = (accumulated or {}).get("data") or []
    data = chunk_data if not acc_data else [*chunk_data, *acc_data]
    return {
        "data": data,
        "meta": chunk.get("meta"),
        "rows": ((accumulated or {}).get("rows") or 0) + (chunk.get("rows") or 0),
        "is_complete": is_complete,
    }


def get_first_ordering_item(order_by):
    """First ORDER BY entry (core/utils.ts:905-912): the bracket-aware first
    element of a comma string, or the first SortSpec of a list; None when
    unset/empty."""
    if not order_by:
        return None
    if isinstance(order_by, str):
        from hyperdx_spark.functions.chcompat import _split_args

        parts = _split_args(order_by)
        return parts[0] if parts else None
    return order_by[0]


def remove_trailing_direction(s: str) -> str:
    """Strip a trailing ASC/DESC keyword (core/utils.ts:914-922)."""
    upper = s.strip().upper()
    for kw in ("DESC", "ASC"):
        if upper.endswith(kw):
            return s[: upper.rindex(kw)].strip()
    return s.strip()


def is_timestamp_expression_in_first_order_by(cfg: ChartConfig) -> bool:
    """Whether the FIRST ordering rides the timestamp expression
    (core/utils.ts:925-944): any component of the (possibly multi-column)
    timestamp expression appearing in the first ordering expression.
    Time-windowed pagination is only order-preserving when this holds."""
    from hyperdx_spark.functions.chcompat import _split_args
    from hyperdx_spark.model import SortSpec

    first = get_first_ordering_item(cfg.order_by)
    ts = cfg.source.timestamp_value_expression if cfg.source else None
    if first is None or not ts:
        return False
    import re as _re

    expr = (
        remove_trailing_direction(first)
        if isinstance(first, str)
        else first.value_expression
    )
    # The reference matches by substring containment (utils.ts:941-943); we
    # additionally require a LEFT identifier boundary so a short timestamp
    # name ('ts') cannot match inside an unrelated column ('counts') and
    # wrongly enable time-windowed pagination. Right side stays unbounded —
    # the reference's own tuple case relies on 'Timestamp' matching inside
    # 'TimestampTime'.
    return any(
        _re.search(r"(?<![A-Za-z0-9_])" + _re.escape(tve), expr)
        for tve in _split_args(ts)
    )


def is_first_order_by_ascending(order_by) -> bool:
    """Whether the first ordering is ascending (core/utils.ts:946-959):
    explicit or implied ASC; False when unset."""
    first = get_first_ordering_item(order_by)
    if first is None:
        return False
    if isinstance(first, str):
        return not first.strip().upper().endswith("DESC")
    return first.order != "DESC"


def offset_paginated_search(
    spark: SparkSession,
    cfg: ChartConfig,
    sf_dir: Optional[str] = None,
    page_size: int = 200,
    direction: Optional[str] = None,
    durations: Sequence[int] = DEFAULT_TIME_WINDOWS_SECONDS,
    max_pages_per_window: int = 1000,
) -> Iterator[list]:
    """Infinite-scroll search (useOffsetPaginatedQuery): progressive windows
    newest-first (or ASC for live-tail catch-up), each offset-paginated.

    Yields lists of Rows; stops a window when a short page arrives. Each
    page is LIMIT/OFFSET over one small time window, so the scan cost is
    bounded by the window, not the full range.

    Windowing is gated exactly as the reference's pagination hook
    (useOffsetPaginatedQuery.tsx:152-198): it only applies when the FIRST
    ordering rides the timestamp expression — any other primary ordering
    would make per-window pages globally mis-ordered, so those queries run
    as ONE whole-range window. An unset ``order_by`` defaults to timestamp
    ordering in *direction* (DESC unless specified); an explicit ordering
    drives the window direction (``isFirstOrderByAscending``).

    A DESC drain reads the compile and first page of up to
    ``_WINDOW_PREFETCH`` windows before the consumer reaches them; closing
    the iterator cancels their Spark jobs. An ASC (live-tail) drain reads
    each window only once the previous one is consumed: its later windows
    are the newest data of a source that may still be appended to, and a
    prefetched first page would be an earlier snapshot of it."""
    from hyperdx_spark.compile import compile_chart_config

    assert cfg.date_range is not None, "offset pagination requires a date range"
    start, end = cfg.date_range
    if cfg.order_by:
        windowed = is_timestamp_expression_in_first_order_by(cfg)
        if direction is None:
            direction = "ASC" if is_first_order_by_ascending(cfg.order_by) else "DESC"
    else:
        windowed = True  # the injected default IS a timestamp ordering
        direction = direction or "DESC"
    if not windowed:
        durations = [int((end - start).total_seconds()) + 1]
    gen = (
        generate_time_windows_descending
        if direction == "DESC"
        else generate_time_windows_ascending
    )
    ts = cfg.source.timestamp_value_expression
    if max_pages_per_window <= 0:
        return
    windows = gen(start, end, durations)

    def _first_page(w):
        sub = replace(
            cfg,
            date_range=(w.start, w.end),
            # windows touch at boundaries: only the window ending at the
            # outer edge keeps the outer inclusivity; interior edges are
            # end-exclusive so no row lands in two windows
            date_range_end_inclusive=(w.end == end and cfg.date_range_end_inclusive),
            order_by=cfg.order_by or f"{ts} {direction}",
            limit=None,
            offset=None,
        )
        # r16: compile the window ONCE and page by offset/limit on the
        # compiled frame — compile applies cfg.offset/cfg.limit as the
        # final two plan nodes, so `base.offset(o).limit(n)` is the
        # byte-identical plan tail while re-compilation (driver RPCs +
        # re-analysis per page) is paid once per window, not per page.
        # Each page remains its own job, exactly like the reference's
        # per-page LIMIT/OFFSET round trips.
        base_df = compile_chart_config(spark, sub, sf_dir=sf_dir)
        return base_df, base_df.limit(page_size).collect()

    # DESC: compile + page 0 of the next windows overlap the consumer's
    # paging; pages within a window stay sequential, and yield order is
    # unchanged.
    if direction == "DESC":
        firsts = overlapped(
            (partial(_first_page, w) for w in windows), ahead=_WINDOW_PREFETCH
        )
    else:
        firsts = (_first_page(w) for w in windows)
    with closing(firsts):
        for base_df, rows in firsts:
            if rows:
                yield rows
            if len(rows) < page_size:
                continue
            for page_no in range(1, max_pages_per_window):
                rows = base_df.offset(page_no * page_size).limit(page_size).collect()
                if rows:
                    yield rows
                if len(rows) < page_size:
                    break
