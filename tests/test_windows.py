"""Progressive windows / chunked querying / offset pagination
(hyperdx_spark.windows) — ladder shapes ported from utils/searchWindows.ts
and equality of chunked vs unchunked execution."""

import time
from dataclasses import replace
from datetime import datetime, timedelta

from hyperdx_spark.compile import compile_chart_config
from hyperdx_spark.model import ChartConfig, SelectCol, Source
from hyperdx_spark.windows import (
    DEFAULT_TIME_WINDOWS_SECONDS,
    generate_time_windows_ascending,
    generate_time_windows_descending,
    granularity_aligned_windows,
    offset_paginated_search,
    run_chunked,
    should_use_chunking,
)

RANGE = (datetime(2024, 1, 1), datetime(2024, 1, 8))


def _src():
    return Source(
        table="events",
        timestamp_value_expression="ts",
        implicit_column_expression="concat_ws(' ', event_type, props)",
    )


def test_desc_ladder_shape():
    ws = generate_time_windows_descending(*RANGE)
    # newest-first: 15m, 6h, 6h, 12h, then 24h to exhaustion
    sizes = [int((w.end - w.start).total_seconds()) for w in ws]
    assert sizes[:4] == list(DEFAULT_TIME_WINDOWS_SECONDS[:4])
    assert all(s == 86400 for s in sizes[4:-1])
    assert ws[0].end == RANGE[1]
    assert ws[-1].start == RANGE[0]
    # contiguous, non-overlapping
    for a, b in zip(ws, ws[1:]):
        assert a.start == b.end


def test_asc_ladder_shape():
    ws = generate_time_windows_ascending(*RANGE)
    assert ws[0].start == RANGE[0]
    assert ws[-1].end == RANGE[1]
    sizes = [int((w.end - w.start).total_seconds()) for w in ws]
    assert sizes[:2] == [900, 21600]


def test_degenerate_range():
    t = datetime(2024, 1, 1)
    assert len(generate_time_windows_descending(t, t)) == 1
    assert len(generate_time_windows_ascending(t, t)) == 1


def test_aligned_windows_cover_range_once():
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 hour",
        date_range=RANGE,
    )
    ws = granularity_aligned_windows(cfg)
    assert ws[0].end == RANGE[1] and ws[-1].start == RANGE[0]
    for a, b in zip(ws, ws[1:]):
        assert a.start == b.end  # contiguous
        assert not b.end_inclusive  # interior edges exclusive
    # all interior boundaries bucket-aligned
    for w in ws[:-1]:
        assert int(w.start.timestamp()) % 3600 == 0


def _aligned(dr, gran, durations, end_inclusive=True):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity=gran,
        date_range=dr,
        date_range_end_inclusive=end_inclusive,
    )
    return granularity_aligned_windows(cfg, durations=durations)


def test_aligned_windows_reference_cases():
    """useChartConfig.test.tsx getGranularityAlignedTimeWindows — the six
    numeric cases twinned verbatim (auto granularity, expansion past a
    too-small window, double-query skip, shortening to the overall range,
    end-inclusive propagation, start clamp, empty range)."""
    d = datetime

    # auto granularity (1h range -> 1 minute), durations 30s/5m/1h
    ws = _aligned((d(2023, 1, 10, 0, 0), d(2023, 1, 10, 1, 0)), "auto",
                  [30, 5 * 60, 60 * 60])
    assert [(w.start, w.end) for w in ws] == [
        (d(2023, 1, 10, 0, 59), d(2023, 1, 10, 1, 0)),
        (d(2023, 1, 10, 0, 54), d(2023, 1, 10, 0, 59)),
        (d(2023, 1, 10, 0, 0), d(2023, 1, 10, 0, 54)),
    ]
    assert [w.end_inclusive for w in ws[1:]] == [False, False]

    # granularity larger than the first window: expanded to align
    ws = _aligned((d(2023, 1, 10, 0, 0), d(2023, 1, 10, 0, 10)), "1 minute",
                  [30, 60, 5 * 60])
    assert [(w.start, w.end) for w in ws] == [
        (d(2023, 1, 10, 0, 9), d(2023, 1, 10, 0, 10)),
        (d(2023, 1, 10, 0, 8), d(2023, 1, 10, 0, 9)),
        (d(2023, 1, 10, 0, 3), d(2023, 1, 10, 0, 8)),
        (d(2023, 1, 10, 0, 0), d(2023, 1, 10, 0, 3)),
    ]

    # windows swallowed by alignment are skipped, not double-queried
    ws = _aligned((d(2023, 1, 10, 0, 8), d(2023, 1, 10, 0, 10)), "1 minute",
                  [15])
    assert [(w.start, w.end) for w in ws] == [
        (d(2023, 1, 10, 0, 9), d(2023, 1, 10, 0, 10)),
        (d(2023, 1, 10, 0, 8), d(2023, 1, 10, 0, 9)),
    ]

    # granularity smaller than the window; dateRangeEndInclusive propagates
    # to the FIRST window only
    ws = _aligned((d(2023, 1, 9, 22, 0, 40), d(2023, 1, 10, 0, 0, 30)),
                  "1 minute", [15 * 60, 30 * 60], end_inclusive=True)
    assert [(w.start, w.end) for w in ws] == [
        (d(2023, 1, 9, 23, 45), d(2023, 1, 10, 0, 0, 30)),
        (d(2023, 1, 9, 23, 15), d(2023, 1, 9, 23, 45)),
        (d(2023, 1, 9, 22, 45), d(2023, 1, 9, 23, 15)),
        (d(2023, 1, 9, 22, 15), d(2023, 1, 9, 22, 45)),
        (d(2023, 1, 9, 22, 0, 40), d(2023, 1, 9, 22, 15)),
    ]
    assert ws[0].end_inclusive is True
    assert [w.end_inclusive for w in ws[1:]] == [False] * 4

    # never a window starting before the overall start date
    ws = _aligned((d(2023, 1, 10, 0, 0, 30), d(2023, 1, 10, 0, 2)),
                  "1 minute", [60])
    assert [(w.start, w.end) for w in ws] == [
        (d(2023, 1, 10, 0, 1), d(2023, 1, 10, 0, 2)),
        (d(2023, 1, 10, 0, 0, 30), d(2023, 1, 10, 0, 1)),
    ]

    # empty input range: a single window matching it
    t = d(2023, 1, 10, 0, 0, 30)
    ws = _aligned((t, t), "1 minute", [60, 5 * 60])
    assert [(w.start, w.end) for w in ws] == [(t, t)]


def test_append_chunk_reference_twin():
    """useChartConfig.test.tsx appendChunk describe: the first/only chunk
    REUSES the row list (no O(rows) copy); later chunks prepend ahead of
    the accumulated rows with summed counts."""
    from hyperdx_spark.windows import append_chunk

    empty = {"data": [], "meta": [], "rows": 0, "is_complete": False}
    chunk_data = [{"a": 1}, {"a": 2}]
    meta = [{"name": "a", "type": "UInt64"}]
    out = append_chunk(empty, {"data": chunk_data, "meta": meta, "rows": 2},
                       is_complete=True)
    assert out["data"] is chunk_data  # same list object — copy skipped
    assert out["meta"] is meta
    assert out["rows"] == 2 and out["is_complete"] is True

    older = {"data": [{"a": 3}], "meta": meta, "rows": 1, "is_complete": False}
    out = append_chunk(older, {"data": chunk_data, "meta": meta, "rows": 2},
                       is_complete=True)
    assert out["data"] == [{"a": 1}, {"a": 2}, {"a": 3}]
    assert out["data"] is not chunk_data  # fresh list when merging
    assert out["rows"] == 3


def test_should_use_chunking():
    cfg = ChartConfig(source=_src(), select=[SelectCol(agg_fn="count")])
    assert not should_use_chunking(cfg)
    cfg2 = ChartConfig(
        source=_src(), select=[SelectCol(agg_fn="count")],
        granularity="1 day", date_range=RANGE,
    )
    assert should_use_chunking(cfg2)


def test_chunked_equals_unchunked(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[
            SelectCol(agg_fn="count", alias="cnt"),
            SelectCol(agg_fn="sum", value_expression="value", alias="sum_v"),
        ],
        where="error",
        granularity="1 hour",
        group_by=["event_type"],
        date_range=RANGE,
    )
    chunked = run_chunked(spark, cfg, sf_dir=sf_dir)
    whole = compile_chart_config(spark, cfg, sf_dir=sf_dir)

    def key(rows):
        return sorted(
            ((r["__timestamp"], r["event_type"], r["cnt"], round(r["sum_v"], 6)) for r in rows)
        )

    assert key(chunked.collect()) == key(whole.collect())


def test_chunked_series_limit_pinned(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        series_limit=2,
        date_range=RANGE,
    )
    chunked = run_chunked(spark, cfg, sf_dir=sf_dir)
    whole = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    # the pinned group set equals the global top-N set
    assert (
        sorted(r["event_type"] for r in chunked.select("event_type").distinct().collect())
        == sorted(r["event_type"] for r in whole.select("event_type").distinct().collect())
    )
    assert chunked.count() == whole.count()


def test_chunked_series_limit_leaves_the_catalog_unchanged(spark, sf_dir):
    """The pinned set is semi-joined as a frame: nothing is registered, not
    even while the chunks are being yielded."""
    from hyperdx_spark.windows import chunked_chart

    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        series_limit=2,
        date_range=RANGE,
    )
    before = sorted(t.name for t in spark.catalog.listTables())
    chunks = chunked_chart(spark, cfg, sf_dir=sf_dir)
    _, first = next(chunks)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    chunks.close()
    first.count()
    run_chunked(spark, cfg, sf_dir=sf_dir).count()
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_chunked_pin_applies_before_chunk_limit(spark, sf_dir):
    """A chunk's own ORDER BY and LIMIT apply after the pin, as after the
    unchunked series-limit semi-join: each chunk holds more hourly rows of
    the pinned group than the limit, so it must return the first three in
    order."""
    from hyperdx_spark.windows import chunked_chart

    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 hour",
        group_by=["event_type"],
        series_limit=1,
        order_by="cnt DESC",
        limit=3,
        date_range=RANGE,
    )
    top = {r["event_type"] for r in compile_chart_config(
        spark, replace(cfg, limit=None), sf_dir=sf_dir
    ).collect()}
    assert len(top) == 1
    cut = 0
    for w, df in chunked_chart(spark, cfg, sf_dir=sf_dir):
        rows = df.collect()
        one = replace(cfg, series_limit=None, where=f"event_type = '{next(iter(top))}'",
                      where_language="sql", date_range=(w.start, w.end),
                      date_range_end_inclusive=w.end_inclusive)
        want = compile_chart_config(spark, one, sf_dir=sf_dir).collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in want]
        cut += compile_chart_config(spark, replace(one, limit=None), sf_dir=sf_dir).count() > 3
    assert cut  # the limit, not the data, bounded at least one chunk


def test_offset_pagination_complete_and_ordered(spark, sf_dir):
    cfg = ChartConfig(
        source=_src(),
        select="event_id, ts",
        where="click",
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 3)),
    )
    pages = list(offset_paginated_search(spark, cfg, sf_dir=sf_dir, page_size=50))
    got = [r["event_id"] for p in pages for r in p]
    assert len(set(got)) == len(got)  # no duplicates across pages/windows
    expected = compile_chart_config(
        spark,
        ChartConfig(
            source=_src(), select="event_id, ts", where="click",
            date_range=(datetime(2024, 1, 1), datetime(2024, 1, 3)),
            order_by="ts DESC",
        ),
        sf_dir=sf_dir,
    )
    assert sorted(got) == sorted(r["event_id"] for r in expected.collect())
    # page sizes: every non-terminal page within a window is full
    assert all(len(p) <= 50 for p in pages)


def test_chunked_preserves_fill_nulls(spark, sf_dir):
    """fill_nulls must survive chunking: chunks disable their own partial
    spines and run_chunked re-fills over the full range — equal to the
    unchunked compile with the same config."""
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        where="signup",
        granularity="1 hour",
        group_by=["event_type"],
        fill_nulls=0.0,
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 3)),
    )
    chunked = run_chunked(spark, cfg, sf_dir=sf_dir)
    whole = compile_chart_config(spark, cfg, sf_dir=sf_dir)

    def key(rows):
        return sorted((r["__timestamp"], r["event_type"], r["cnt"]) for r in rows)

    ck, wk = key(chunked.collect()), key(whole.collect())
    assert ck == wk
    # the spine actually filled empty buckets with zeros
    assert any(v == 0.0 for _, _, v in ck)


# ---- ordering helpers + windowing gate (utils.test.ts:548-747,
# ---- useOffsetPaginatedQuery.tsx:152-198) ------------------------------------


def test_ordering_helpers():
    from hyperdx_spark.model import ChartConfig, SortSpec, Source
    from hyperdx_spark.windows import (
        get_first_ordering_item,
        is_first_order_by_ascending,
        is_timestamp_expression_in_first_order_by,
        remove_trailing_direction,
    )

    assert get_first_ordering_item(None) is None
    assert get_first_ordering_item("column1 DESC") == "column1 DESC"
    assert get_first_ordering_item("column1, column2 DESC") == "column1"
    assert get_first_ordering_item(
        [SortSpec("c1", "ASC"), SortSpec("c2", "ASC")]
    ) == SortSpec("c1", "ASC")
    assert remove_trailing_direction("Timestamp DESC") == "Timestamp"
    assert remove_trailing_direction(" col asc ") == "col"
    assert remove_trailing_direction("col") == "col"

    def cfg(ts, order):
        return ChartConfig(
            source=Source(table="t", timestamp_value_expression=ts),
            order_by=order,
        )

    f = is_timestamp_expression_in_first_order_by
    assert not f(cfg("Timestamp", None))
    assert not f(cfg("Timestamp", ""))
    assert not f(cfg("Timestamp", "ServiceName"))
    assert not f(cfg("Timestamp", "ServiceName ASC, Timestamp"))
    assert f(cfg("Timestamp", "Timestamp"))
    assert f(cfg("Timestamp", "Timestamp DESC, ServiceName"))
    assert f(cfg("Timestamp", "Timestamp desc, ServiceName"))
    assert f(cfg("Timestamp", [SortSpec("Timestamp", "ASC"), SortSpec("S", "ASC")]))
    # toStartOf()/tuple forms (substring containment of any ts component)
    assert f(cfg("toStartOfDay(Timestamp), Timestamp",
                 "(toStartOfDay(Timestamp)) DESC, Timestamp"))
    assert f(cfg("toStartOfDay(Timestamp), Timestamp",
                 "(toStartOfHour(TimestampTime), TimestampTime) DESC"))
    assert f(cfg("toStartOfInterval(TimestampTime, INTERVAL 1 DAY)",
                 "toStartOfInterval(TimestampTime, INTERVAL 1 DAY) DESC"))

    g = is_first_order_by_ascending
    assert g("column1 ASC, column2 DESC")
    assert g(" column1 asc , column2 DESC")
    assert g("column1, column2 DESC")
    assert not g("column1 DESC, column2 ASC")
    assert not g(" column1 desc , column2 ASC")
    assert g([SortSpec("c1", "ASC"), SortSpec("c2", "DESC")])
    assert not g([SortSpec("c1", "DESC")])
    assert not g(None)


def test_offset_pagination_non_timestamp_order_single_window(spark, sf_dir):
    """A primary ordering NOT on the timestamp must not be time-windowed —
    the pages must follow the GLOBAL ordering across the whole range."""
    from hyperdx_spark.windows import offset_paginated_search

    cfg = ChartConfig(
        source=_src(),
        select="event_id, value",
        order_by="value DESC, event_id ASC",
        date_range=RANGE,
    )
    from dataclasses import replace

    got = [
        (r["event_id"], r["value"])
        for page in offset_paginated_search(spark, cfg, sf_dir=sf_dir, page_size=50)
        for r in page
    ]
    want = [
        (r["event_id"], r["value"])
        for r in compile_chart_config(
            spark, replace(cfg, limit=None), sf_dir=sf_dir
        ).collect()
    ]
    assert got == want  # global order, not per-window order


def test_short_ts_name_does_not_false_match(spark, sf_dir):
    """r10 review fix: a 2-char timestamp name ('ts') inside an unrelated
    column name ('counts') must not enable time-windowed pagination — the
    match requires a left identifier boundary."""
    from hyperdx_spark.model import Source
    from hyperdx_spark.windows import is_timestamp_expression_in_first_order_by

    def cfg(order):
        return ChartConfig(
            source=Source(table="t", timestamp_value_expression="ts"),
            order_by=order,
        )

    assert not is_timestamp_expression_in_first_order_by(cfg("counts DESC"))
    assert not is_timestamp_expression_in_first_order_by(cfg("hits"))
    assert is_timestamp_expression_in_first_order_by(cfg("ts DESC"))
    assert is_timestamp_expression_in_first_order_by(cfg("toDate(ts) DESC"))


def test_pin_series_limit_skips_unselected_groups(spark, sf_dir):
    """r10 review fix: chunked execution mirrors compile's series-limit
    gates — selectGroupBy=false means no pin (previously an analysis
    crash on the zero-column pin view)."""
    cfg = ChartConfig(
        source=_src(),
        select=[SelectCol(agg_fn="count", alias="cnt")],
        granularity="1 day",
        group_by=["event_type"],
        series_limit=2,
        select_group_by=False,
        date_range=RANGE,
    )
    out = run_chunked(spark, cfg, sf_dir=sf_dir)
    assert out.count() > 0
    whole = compile_chart_config(spark, cfg, sf_dir=sf_dir)
    assert out.count() == whole.count()


def test_offset_pagination_prefetch_edges(spark, sf_dir):
    """r17: the window-prefetch pipeline must not change paging semantics —
    max_pages_per_window gates, early abandonment, and page-1+ sequencing
    behave exactly as the serial loop did."""
    cfg = ChartConfig(
        source=_src(),
        select="event_id, ts",
        where="click",
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 3)),
    )
    # max_pages_per_window=0: nothing is fetched, nothing yielded
    assert list(offset_paginated_search(
        spark, cfg, sf_dir=sf_dir, page_size=50, max_pages_per_window=0
    )) == []
    # max_pages_per_window=1: exactly the first page of each window, and
    # those pages are prefixes of the unlimited drain's per-window pages
    capped = list(offset_paginated_search(
        spark, cfg, sf_dir=sf_dir, page_size=50, max_pages_per_window=1
    ))
    full = list(offset_paginated_search(
        spark, cfg, sf_dir=sf_dir, page_size=50
    ))
    assert all(len(p) <= 50 for p in capped)
    capped_ids = [r["event_id"] for p in capped for r in p]
    full_ids = [r["event_id"] for p in full for r in p]
    assert set(capped_ids) <= set(full_ids)
    # identical first page between capped and full drains
    assert [r["event_id"] for r in capped[0]] == [r["event_id"] for r in full[0]]
    # early abandonment: consume one page, close the generator — the
    # prefetch must shut down without raising and leave no job running
    it = offset_paginated_search(spark, cfg, sf_dir=sf_dir, page_size=50)
    first = next(it)
    assert len(first) > 0
    it.close()
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 5  # the tracker trails the listener bus
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not tracker.getActiveJobsIds()


def test_offset_pagination_prefetch_error_propagates(spark, sf_dir):
    """A compile error inside a prefetched window must surface to the
    consumer as an exception during iteration, like the serial loop."""
    import pytest

    bad = ChartConfig(
        source=_src(),
        select="definitely_not_a_column_xyz",
        date_range=(datetime(2024, 1, 1), datetime(2024, 1, 2)),
    )
    with pytest.raises(Exception):
        list(offset_paginated_search(spark, bad, sf_dir=sf_dir, page_size=50))
