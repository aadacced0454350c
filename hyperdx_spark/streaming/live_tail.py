"""Structured-Streaming operators: live tail, windowed aggregation, alert
stream.

The reference has *no* true streaming engine — live tail is repeated bounded
ASC-ordered queries (``packages/app/src/hooks/useOffsetPaginatedQuery.tsx``)
and alerts are a cron task (``packages/api/src/tasks/checkAlerts``). Spark
gives us the real thing: ``readStream`` over the ingest directory (the OTel
collector's sink), the same Lucene/ChartConfig predicate compilation on the
streaming DataFrame, watermarked windowed aggregation for late data, and
per-batch alert evaluation via ``foreachBatch``.

Design for scale: the filter compiles to the identical Column expressions
the batch path uses, so Catalyst pushes them into each micro-batch's file
scan; windowed aggs keep state keyed by (window, groups) bounded by the
watermark — state size = cardinality(groups) x (watermark / window) rows.
"""

from __future__ import annotations

from datetime import timezone
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hyperdx_spark.functions.chcompat import translate_expr
from hyperdx_spark.lucene.serializer import SearchQueryBuilder
from hyperdx_spark.model import SelectCol, Source


def live_tail(
    spark: SparkSession,
    path: str,
    source: Source,
    where: str = "",
    where_language: str = "lucene",
    select: Optional[Sequence[str]] = None,
    schema: Optional[StructType] = None,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """A filtered streaming scan of the ingest directory — the engine-side
    half of live tail. Attach ``.writeStream`` (console/memory/your sink)
    to consume; ordering within a micro-batch follows file order, the UI
    sorts by the timestamp role as the reference's ASC pages do.
    """
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(path)
    if where:
        if where_language == "lucene":
            cond = SearchQueryBuilder(schema, source).build(where)
        else:
            cond = translate_expr(where)
        stream = stream.where(F.expr(cond))
    if select:
        stream = stream.selectExpr(*[translate_expr(s) for s in select])
    return stream


def windowed_agg(
    stream: DataFrame,
    source: Source,
    select: Sequence[SelectCol],
    window: str = "1 minute",
    watermark: str = "2 minutes",
    group_by: Sequence[str] = (),
    timestamp_alias: str = "__timestamp",
) -> DataFrame:
    """Watermarked windowed aggregation over a (possibly filtered) stream.

    Batch-equivalent of the ChartConfig granularity bucketing: emits one row
    per (window start, groups) with the same aggregate expressions the batch
    compiler produces, but incrementally and tolerant of *watermark* of
    lateness. Output mode 'append' emits a bucket once its watermark passes
    — exactly-once bucket rows for downstream alerting.
    """
    from hyperdx_spark.compile import DEFAULT_SETTINGS, _agg_expr, _Ctx
    from hyperdx_spark.model import ChartConfig

    ts_expr = translate_expr(source.timestamp_value_expression)
    stream = stream.withColumn("__ts", F.expr(ts_expr)).withWatermark(
        "__ts", watermark
    )
    ctx = _Ctx(
        config=ChartConfig(source=source, select=list(select)),
        source=source,
        builder=SearchQueryBuilder(stream.schema, source),
        settings=DEFAULT_SETTINGS,
        ts_expr="__ts",
        bucket_seconds=None,
    )
    keys = [F.window("__ts", window).alias("__window")]
    group_names = []
    for g in group_by:
        expr = translate_expr(g)
        name = g if g in stream.columns else f"__group_{len(group_names)}"
        keys.append(F.expr(expr).alias(name))
        group_names.append(name)
    aggs, aliases = [], []
    for sc in select:
        sql, alias = _agg_expr(ctx, sc)
        aggs.append(F.expr(sql).alias(alias))
        aliases.append(alias)
    out = stream.groupBy(*keys).agg(*aggs)
    return out.select(
        F.col("__window.start").alias(timestamp_alias), *group_names, *aliases
    )


def stream_alert(
    agg_stream: DataFrame,
    alert_cfg,
    on_fire: Callable[[list[dict]], None],
    value_col: Optional[str] = None,
    query_name: str = "hdx_alerts",
    checkpoint: Optional[str] = None,
    trigger_available_now: bool = False,
):
    """Evaluate alert thresholds per emitted bucket via ``foreachBatch``.

    ``agg_stream`` is a :func:`windowed_agg` output; each appended row is a
    closed (watermark-passed) bucket, so threshold checks never fire on
    partial buckets — the streaming analogue of the cron task's completed-
    window evaluation (tasks/checkAlerts/index.ts:1110-1420).
    Returns the StreamingQuery.
    """
    from hyperdx_spark.alerts import does_exceed_threshold

    cols = agg_stream.columns
    vcol = value_col or cols[-1]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # <= buckets closed this batch: tiny
        fired = [
            {**r.asDict(), "value": r[vcol]}
            for r in rows
            if r[vcol] is not None and does_exceed_threshold(alert_cfg, float(r[vcol]))
        ]
        if fired:
            on_fire(fired)

    writer = (
        agg_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(process)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_alert_notifications(
    agg_stream: DataFrame,
    alert_cfg,
    *,
    on_notify: Callable[[dict], None],
    notify_kwargs: dict,
    bucket_duration,
    group_cols: Sequence[str] = (),
    ts_col: str = "__timestamp",
    value_col: str = "value",
    query_name: str = "hdx_alert_notify",
    checkpoint: Optional[str] = None,
    trigger_available_now: bool = False,
    initial_streaks: Optional[dict] = None,
    initial_fired: Optional[set] = None,
    state_out: Optional[dict] = None,
):
    """The reference's cron loop (tasks/checkAlerts/index.ts:1110-1420) as
    ONE Structured Streaming job: each closed (watermark-passed) bucket from
    a :func:`windowed_agg` stream is run through the alert state machine
    (streak carried across micro-batches per group, the same transitions as
    ``alerts.backtest``), and every ALERT evaluation renders its
    notifications and builds the ready-to-send webhook requests via
    :func:`hyperdx_spark.webhooks.render_alert_notifications`. When a group
    that previously NOTIFIED resolves (its streak resets), the OK
    notification is rendered and delivered the same way — the streaming twin
    of the cron loop's resolution send (checkAlerts/index.ts:1318-1343,
    gated on the previous history's ``fired !== false`` exactly like
    ``alerts.evaluate``).

    ``on_notify`` receives one dict per fired bucket:
    ``{ts, group, value, streak, state, title, rendered, requests}`` with
    ``state`` 'ALERT' or 'OK'. ``notify_kwargs`` are the render call's kwargs minus
    state/value/start_time/end_time/group (title may be a callable —
    ``value -> str``, or ``(value, state) -> str`` to phrase resolutions;
    if ``view`` contains a ``state`` key it is overridden per notification
    with the current state, as the reference rebuilds the template view per
    send). The per-group streak lives
    driver-side — bounded by the alert's group cardinality, exactly like the
    reference's per-(alert, group) history rows; Spark cannot chain
    ``applyInPandasWithState`` after a streaming aggregation, and the bucket
    volume here is already one row per closed window per group.

    Delivery/state caveats: foreachBatch is AT-LEAST-ONCE — after a
    restart from the checkpoint, the last uncommitted batch replays into a
    fresh closure, so a bucket already notified before the crash notifies
    again. That is the reference's own envelope: every request carries the
    deterministic eventId and Idempotency-Key (template.ts:356-363), and
    receivers dedupe on them. A restart also starts the in-memory streaks
    from ``initial_streaks`` (pass the previously observed streaks —
    exposed via ``state_out`` — to resume an M-of-M run mid-flight;
    without them a restart re-arms PENDING groups, trading a late first
    notification for never a false one; ``initial_fired`` likewise restores
    the previously-notified groups so a post-restart resolution still sends
    its OK).

    Returns the StreamingQuery.
    """
    import inspect

    from hyperdx_spark.alerts import does_exceed_threshold
    from hyperdx_spark.webhooks import build_title, render_alert_notifications

    group_cols = list(group_cols)
    streaks: dict[tuple, int] = dict(initial_streaks or {})
    fired_groups: set[tuple] = set(initial_fired or ())
    if state_out is not None:
        state_out["streaks"] = streaks
        state_out["fired"] = fired_groups
    n_consecutive = alert_cfg.num_consecutive_windows

    def notify(r, key, v: float, streak: int, state: str) -> None:
        group = ", ".join(str(k) for k in key) if key else None
        kwargs = dict(notify_kwargs)
        title = kwargs.pop("title", None)
        if callable(title):
            try:
                two_arg = len(inspect.signature(title).parameters) >= 2
            except (TypeError, ValueError):
                two_arg = False
            title = title(v, state) if two_arg else title(v)
        elif title is None:
            title = build_title("alert", v, state=state)
        view = kwargs.get("view")
        if isinstance(view, dict) and "state" in view:
            # the reference rebuilds the template view per notification
            # with the current alert state (template.ts:556+)
            kwargs["view"] = {**view, "state": state}
        # collect() gives driver-local wall time; render the UTC instant
        start = r[ts_col].astimezone(timezone.utc)
        rendered, requests = render_alert_notifications(
            title=title,
            cfg=alert_cfg,
            state=state,
            value=v,
            start_time=start,
            end_time=start + bucket_duration,
            group=group,
            is_grouped=bool(group_cols),
            **kwargs,
        )
        on_notify(
            {
                "ts": r[ts_col],
                "group": group,
                "value": v,
                "streak": streak,
                "state": state,
                "title": title,
                "rendered": rendered,
                "requests": requests,
            }
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # one row per closed window per group: tiny by construction
        rows = sorted(
            batch_df.collect(),
            key=lambda r: (tuple(str(r[g]) for g in group_cols), r[ts_col]),
        )
        for r in rows:
            key = tuple(r[g] for g in group_cols)
            if r[value_col] is None:
                # a NULL value row carries no evaluation — the reference's
                # cron loop skips null parseAlertData values the same way
                # (checkAlerts/index.ts:1289-1293 'value == null continue')
                continue
            v = float(r[value_col])
            streak = streaks.get(key, 0) + 1 if does_exceed_threshold(
                alert_cfg, v
            ) else 0
            streaks[key] = streak
            if not streak and key in fired_groups:
                # previously-notified group resolved: send the OK
                # (checkAlerts/index.ts:1318-1343; gated on a prior SENT
                # notification, the evaluate() 'fired is not False' twin)
                fired_groups.discard(key)
                notify(r, key, v, streak, "OK")
                continue
            if streak < n_consecutive or not streak:
                continue
            fired_groups.add(key)
            notify(r, key, v, streak, "ALERT")

    writer = (
        agg_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(process)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
