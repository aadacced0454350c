"""The four benchmark workloads.

Each workload runs a cold pass and then a fixed number of warm passes over a
fixed mix; the pass count follows from --seconds (see warm_passes). The seed
only reorders work and generates the ingest payloads, so every run does the
same amount of work and runs with different seeds stay comparable.

An operation (a tile, a query, an ingest step or a read) is checked as it
completes; a raise or a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

from fixtures import frame_hash
from tracer import TRACER

# Dashboards: HyperDX-native gate entries, grouped the way a dashboard
# mixes panels: search results and charts on one board, an OTel counter,
# PromQL and an alert backtest on the other.
DASHBOARDS = {
    "service": ["q_search", "q_timeseries_error_5m", "q_ratio_series"],
    "metrics": ["q_counter_rate", "q_promql", "q_alert_backtest"],
}
# Compute-bound joins and aggregates at sf1.
SCAN = ["q_tpch_q5ish", "q_top_customers"]
# Multi-part entries: tens of jobs and ~100 stages per result, thread-pool
# overlaps, the paginator's prefetch, Drain/event-delta post-processing.
FANOUT = ["q_promql_features", "q_dedup_all", "q_chunked_union",
          "q_offset_pages", "q_analytics_insights"]

SCALE = {"dashboard": "0.1", "scan": "1", "fanout": "0.01", "ingest": "0.1"}
# Nominal (cold, warm) pass seconds on a 4-core box. A run's pass count is
# derived from --seconds with these, so every run of a workload does the
# same work whatever the box's speed on the day.
NOMINAL_PASS_S = {"dashboard": (6.5, 2.7), "scan": (7.6, 3.3),
                  "fanout": (50.0, 30.0), "ingest": (10.5, 4.4)}


def warm_passes(workload: str, seconds: float) -> int:
    """Warm passes that fill ``seconds`` after the cold pass (at least one)."""
    cold, warm = NOMINAL_PASS_S[workload]
    return max(1, round((seconds - cold) / warm))


def gate_entries(workload: str) -> list[str]:
    if workload == "dashboard":
        return [t for tiles in DASHBOARDS.values() for t in tiles]
    if workload == "scan":
        return list(SCAN)
    if workload == "fanout":
        return list(FANOUT)
    return []


class Op:
    """One timed operation. ``latency`` covers build + collect; the result
    check runs after it and is not timed."""

    __slots__ = ("name", "kind", "pass_no", "start", "latency", "ok",
                 "error", "rows", "build_s", "df", "op_id", "wall_start")

    def __init__(self, name, kind, pass_no):
        self.name, self.kind, self.pass_no = name, kind, pass_no
        self.start = self.latency = self.build_s = 0.0
        self.ok, self.error, self.rows, self.df, self.op_id = True, None, 0, None, None
        self.wall_start = 0.0


class Context:
    def __init__(self, spark, entry, data_dir, expected, seed, run_dir, trace):
        self.spark = spark
        self.entry = entry
        self.data_dir = data_dir
        self.expected = expected
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.trace = trace
        self.ops: list[Op] = []
        self.passes: list[tuple[int, float]] = []  # (pass number, seconds)
        self.renders: list[tuple[int, float]] = []  # (pass number, seconds) per dashboard
        self.extra: dict = {}
        self._lock = threading.Lock()
        self._op_seq = 0

    def begin_op(self, op: Op) -> None:
        with self._lock:
            self._op_seq += 1
            op.op_id = f"op{self._op_seq}"
        if self.trace:
            # the op id doubles as the Spark job group its jobs are counted by
            TRACER.set_op(op.op_id)
            TRACER.set_job_group(op.op_id)

    def end_op(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)

    def run_gate(self, name: str, pass_no: int) -> Op:
        """Build one gate entry, collect it as pandas and check its hash."""
        op = Op(name, "gate", pass_no)
        self.begin_op(op)
        # the registry may map a name to a variant builder; resolve at call
        # time so traced wrappers apply
        fn = self.entry.queries().get(name) or getattr(self.entry, name)
        root = TRACER.begin("op", name) if self.trace else None
        op.start = t0 = time.perf_counter()
        try:
            df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            if self.trace:
                sp = TRACER.begin("driver", "driver.collect")
                try:
                    pdf = df.toPandas()
                finally:
                    TRACER.end(sp)
            else:
                pdf = df.toPandas()
            t2 = time.perf_counter()
            op.build_s, op.latency = t1 - t0, t2 - t0
            op.rows = len(pdf)
            if self.trace:
                op.df = df
            want = self.expected.get(name)
            if want is not None and frame_hash(pdf) != want:
                op.ok, op.error = False, "wrong rows"
        except Exception as e:  # noqa: BLE001 - any raise is a failed op
            op.latency = time.perf_counter() - t0
            op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:200]}"
        if root is not None:
            TRACER.end(root)
        self.end_op(op)
        return op


def _passes(ctx: Context, n_passes: int, one_pass) -> None:
    """Run ``one_pass(pass_no)`` for pass 0 (cold) .. n_passes - 1 (warm)."""
    for n in range(n_passes):
        t0 = time.perf_counter()
        one_pass(n)
        ctx.passes.append((n, time.perf_counter() - t0))


def run_dashboard(ctx: Context, n_passes: int) -> None:
    """Closed loop, one user: each pass opens every dashboard in a seeded
    order; a dashboard's tiles are issued in a seeded order from at most
    ``nproc`` threads, and the next dashboard starts when its last tile
    returns."""
    workers = max(1, min(os.cpu_count() or 1, max(len(t) for t in DASHBOARDS.values())))
    pool = ThreadPoolExecutor(max_workers=workers, thread_name_prefix="tile")
    try:
        def one_pass(n):
            boards = list(DASHBOARDS)
            ctx.rng.shuffle(boards)
            for b in boards:
                tiles = list(DASHBOARDS[b])
                ctx.rng.shuffle(tiles)
                t0 = time.perf_counter()
                futs = [pool.submit(ctx.run_gate, t, n) for t in tiles]
                for f in futs:
                    f.result()
                ctx.renders.append((n, time.perf_counter() - t0))

        _passes(ctx, n_passes, one_pass)
    finally:
        pool.shutdown(wait=True)


def run_serial(mix: list[str]):
    def run(ctx: Context, n_passes: int) -> None:
        """Closed loop, one client, a seeded order of the mix per pass."""
        def one_pass(n):
            order = list(mix)
            ctx.rng.shuffle(order)
            for name in order:
                ctx.run_gate(name, n)

        _passes(ctx, n_passes, one_pass)
    return run


# --- ingest -----------------------------------------------------------------

SERVICES = ["api", "web", "worker", "billing"]
SEVERITIES = ["info", "info", "info", "warn", "error", "debug"]
TEMPLATES = [
    "GET /api/v1/items/{n} completed in {ms} ms",
    "user {n} logged in from 10.0.{a}.{b}",
    "cache miss for key item:{n}",
    "payment {n} failed: card declined",
    "job {n} finished with status {s}",
]
LINES_PER_BATCH = 8
RECORDS_PER_LINE = 125
BASE_TS = datetime(2024, 3, 1)
LIVE_SOURCE_TABLE = "otel_logs"
ALERT_THRESHOLD = 167
READ_REFRESHES = 3


def make_batch(rng: random.Random, k: int):
    """OTLP/JSON lines for batch ``k``: LINES_PER_BATCH export requests of
    RECORDS_PER_LINE log records each, timestamps inside minute ``k`` of
    BASE_TS's day. Returns (text, records) where records are
    (ts, severity, body) tuples."""
    lines, records = [], []
    t0 = BASE_TS + timedelta(minutes=k)
    for _ in range(LINES_PER_BATCH):
        svc = rng.choice(SERVICES)
        recs = []
        for _ in range(RECORDS_PER_LINE):
            ts = t0 + timedelta(microseconds=rng.randrange(60_000_000))
            sev = rng.choice(SEVERITIES)
            body = rng.choice(TEMPLATES).format(
                n=rng.randrange(200), ms=rng.randrange(1, 900),
                a=rng.randrange(4), b=rng.randrange(8), s=rng.choice(["ok", "failed"]))
            ns = int((ts - datetime(1970, 1, 1)).total_seconds()) * 10**9 + ts.microsecond * 1000
            recs.append({
                "timeUnixNano": str(ns),
                "severityText": sev,
                "body": {"stringValue": body},
                "attributes": [{"key": "batch", "value": {"intValue": str(k)}}],
            })
            records.append((ts, sev, body))
        lines.append(json.dumps({"resourceLogs": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": svc}}]},
            "scopeLogs": [{"scope": {"name": "bench"}, "logRecords": recs}],
        }]}))
    return "\n".join(lines) + "\n", records


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        if "_spark_metadata" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def run_ingest(ctx: Context, n_passes: int) -> None:
    """Each pass lands one seeded OTLP/JSON batch in the drop directory,
    ingests it (read_otlp_stream -> parse_otlp_logs -> write_ingest,
    availableNow), maintains the hourly MV and the exact-dedup store, then
    reads the live source back through compile_chart_config, as a live view
    refreshing READ_REFRESHES times: a count over the fixed ingest day, a
    live tail of the newest minute and a per-minute error alert."""
    from pyspark.sql import functions as F

    from hyperdx_spark import alerts
    from hyperdx_spark.compile import compile_chart_config
    from hyperdx_spark.model import ChartConfig, SelectCol, Source
    from hyperdx_spark.mv import AggregatedColumn, MVConfig
    from hyperdx_spark.pipeline import incremental
    from hyperdx_spark.streaming import ingest, mv_maintain

    spark = ctx.spark
    d = ctx.run_dir
    drop = os.path.join(d, "drop")
    live = os.path.join(d, "live")
    out = os.path.join(live, f"{LIVE_SOURCE_TABLE}.parquet")
    os.makedirs(drop, exist_ok=True)
    mv = MVConfig(
        path=os.path.join(d, "mv", "logs_hourly"),
        dimension_columns=["severity_text"],
        min_granularity="1 hour",
        timestamp_column="bucket_ts",
        aggregated_columns=[AggregatedColumn("count", "cnt_state")],
    )
    store = "bench_ingest_store"
    src = Source(table=LIVE_SOURCE_TABLE, kind="log", timestamp_value_expression="ts",
                 implicit_column_expression="body", severity_text_expression="severity_text",
                 service_name_expression="service_name")
    day = (BASE_TS, BASE_TS + timedelta(days=1))
    seen_bodies: set = set()
    total = {"rows": 0}
    # one record per pass: rows, ingest_s, microbatches, batch_ms,
    # in_bytes, out_bytes, freshness_s (None when the count read was stale)
    stats = ctx.extra.setdefault("ingest", [])

    def step(name, n, fn):
        op = Op(name, "read" if name.startswith("read.") else "ingest", n)
        ctx.begin_op(op)
        root = TRACER.begin("op", name) if ctx.trace else None
        op.start = t0 = time.perf_counter()
        try:
            ok = fn(op)
            if ok is False:
                op.ok, op.error = False, "wrong rows"
        except Exception as e:  # noqa: BLE001
            op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:200]}"
        op.latency = time.perf_counter() - t0
        if root is not None:
            TRACER.end(root)
        ctx.end_op(op)
        return op

    def one_pass(n):
        text, records = make_batch(ctx.rng, n)
        tmp = os.path.join(d, f".batch-{n}.json")
        with open(tmp, "w") as f:
            f.write(text)
        t_land = time.perf_counter()
        os.replace(tmp, os.path.join(drop, f"batch-{n:05d}.json"))
        total["rows"] += len(records)
        rec = {"pass": n, "rows": 0, "ingest_s": 0.0, "microbatches": 0, "batch_ms": [],
               "in_bytes": len(text.encode()), "out_bytes": 0, "freshness_s": None}
        stats.append(rec)
        out_before = _dir_bytes(out)
        minute = (BASE_TS + timedelta(minutes=n), BASE_TS + timedelta(minutes=n + 1))
        errors = sum(1 for r in records if r[1] == "error")

        def do_ingest(op):
            parsed = ingest.parse_otlp_logs(ingest.read_otlp_stream(spark, drop))
            q = ingest.write_ingest(parsed, out, os.path.join(d, "ckpt", "ingest"),
                                    available_now=True)
            q.awaitTermination()
            prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            rec["microbatches"] = len(prog)
            rec["batch_ms"] = [p["durationMs"].get("triggerExecution", 0) for p in prog]
            op.rows = len(records)
            return q.exception() is None

        op = step("ingest.write", n, do_ingest)
        rec["ingest_s"] = op.latency
        rec["out_bytes"] = _dir_bytes(out) - out_before
        if op.ok:
            rec["rows"] = len(records)

        def do_mv(op):
            stream = ingest.parse_otlp_logs(ingest.read_otlp_stream(spark, drop))
            q = mv_maintain.maintain_rollup(stream, mv, "ts", os.path.join(d, "ckpt", "mv"))
            q.awaitTermination()
            return q.exception() is None

        step("ingest.mv", n, do_mv)

        def do_dedup(op):
            bodies = spark.createDataFrame(
                [(n * 10_000 + i, r[2]) for i, r in enumerate(records)],
                "doc_id bigint, text string")
            if n == 0:
                incremental.build_exact_store(bodies.limit(0), store, buckets=4)
            cls = incremental.dedup_exact_against_store(bodies, spark, store)
            got = {r["status"]: r["c"] for r in
                   cls.groupBy("status").agg(F.count("*").alias("c")).collect()}
            incremental.append_novel_to_store(cls, store)
            novel = {r[2] for r in records} - seen_bodies
            seen_bodies.update(novel)
            op.rows = len(records)
            return got.get("novel", 0) == len(novel)

        step("ingest.dedup", n, do_dedup)

        def do_count(op):
            cfg = ChartConfig(source=src, select=[SelectCol(agg_fn="count", alias="cnt")],
                              date_range=day)
            rows = compile_chart_config(spark, cfg, sf_dir=live).collect()
            op.rows = len(rows)
            fresh = bool(rows) and rows[0]["cnt"] == total["rows"]
            if fresh and rec["freshness_s"] is None:
                rec["freshness_s"] = time.perf_counter() - t_land
            return fresh

        def do_tail(op):
            cfg = ChartConfig(source=src, select="ts, severity_text, body",
                              order_by="ts DESC", limit=50, date_range=minute,
                              date_range_end_inclusive=False)
            rows = compile_chart_config(spark, cfg, sf_dir=live).collect()
            op.rows = len(rows)
            newest = max(r[0] for r in records)
            return len(rows) == 50 and rows[0]["ts"] == newest


        def do_alert(op):
            cfg = ChartConfig(source=src, select=[SelectCol(agg_fn="count", alias="value")],
                              where="severity_text = 'error'", where_language="sql",
                              granularity="1 minute", date_range=minute,
                              date_range_end_inclusive=False)
            rows = [r.asDict() for r in compile_chart_config(spark, cfg, sf_dir=live).collect()]
            acfg = alerts.AlertConfig(threshold=ALERT_THRESHOLD, window_minutes=1)
            _hist, notes = alerts.evaluate(rows, acfg, date_range=minute, now=minute[1])
            op.rows = len(rows)
            fired = len(notes) > 0
            return (sum(r["value"] for r in rows) == errors
                    and fired == (errors >= ALERT_THRESHOLD))

        # the live view refreshes READ_REFRESHES times per batch
        for _ in range(READ_REFRESHES):
            step("read.count", n, do_count)
            step("read.tail", n, do_tail)
            step("read.alert", n, do_alert)

    _passes(ctx, n_passes, one_pass)
