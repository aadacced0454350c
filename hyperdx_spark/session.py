"""SparkSession factory tuned for the engine.

Scale notes (the configs below are chosen for a large cluster, tested on
local[32]):

* AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace most hand-tuning at 100 TB.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down using ``advisoryPartitionSizeInBytes`` so the same code runs
  at sf0.001 and at 100 TB without re-tuning.
* Timestamps: the engine standardizes on UTC micro-second timestamps
  (ClickHouse DateTime64(9) loses ns -> micro; see io.py).
* Arrow enabled for the few Pandas-UDF code paths (exp-histogram merge,
  multimodal decode) — everything else stays JVM-side. Arrow also carries
  every row built on the driver back into Spark: :func:`local_frame` ships
  them as one Arrow table that Spark plans as a ``LocalTableScan``, with no
  Python-worker RDD.
* Codegen: dashboards re-run the same queries on every refresh, so a warm
  query should compile no Java. Spark caches generated classes by source in
  one JVM-wide LRU of 100 entries by default. The six dashboard tiles alone
  compile 92-100 classes cold at sf0.01, so the cache thrashed: each warm
  pass over them compiled ~50 classes again with Janino, and the JIT then
  compiled each new class again. ``get_spark`` sizes the cache to 4,096: the
  49 gate entries compile ~1,750 distinct classes at sf0.01, and keeping
  them costs ~12 MB of Metaspace (204 -> 216 MB after two gate passes).
  Class names drop the whole-stage stage id (``useIdInClassName=false``),
  which differs from run to run for the same pipeline, so a pipeline keeps
  its source, the cache key, from run to run. The cost: stack traces name
  ``GeneratedIterator`` without saying which codegen stage it is. A session
  the engine receives keeps its own cache size and gets only the class-name
  conf.
* Resource lifetime: a query's persisted frames, local checkpoints,
  broadcasts, temp directories and per-call tables are made through
  :func:`scoped`, which frees them on a raise (also when :func:`overlapped`
  cancels the work) and otherwise when the query's returned frame is
  garbage, or earlier through :func:`release`. A session that serves
  dashboards for days keeps no block, cache entry, table or directory of a
  query it has answered.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import os
import shutil
import tempfile
import threading
import uuid
import weakref
from itertools import islice

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, _create_converter, _make_type_verifier

# Runtime-settable SQL confs every entry point re-asserts, so the engine
# behaves identically whether it owns the session or receives one (the
# correctness driver passes its own session into __spark_entry__.entry).
RUNTIME_CONFS = {
    # test parquet is written with INT64 TIMESTAMP(NANOS) which Spark cannot
    # read natively; read as long and convert in io.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # testdata may also be written as TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false; read it as plain TIMESTAMP in the UTC session
    # (not TIMESTAMP_NTZ) so epoch fns (unix_micros & co) apply uniformly
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the engine implements ClickHouse-ish "OrDefault"/"OrNull"
    # coercions itself (try_cast + coalesce); ANSI runtime errors on bad
    # casts would break that contract.
    "spark.sql.ansi.enabled": "false",
    # Generated classes are cached by their source. The whole-stage codegen
    # stage id differs from run to run for the same pipeline and is part of
    # the class name; left out, a warm query finds the code it compiled
    # before.
    "spark.sql.codegen.useIdInClassName": "false",
}

# Spark's generated-class cache (static ``spark.sql.codegen.cache.maxEntries``,
# default 100); sized in the scale notes above.
CODEGEN_CACHE_ENTRIES = 4096


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-created session.

    Idempotent per session object: every entry point calls this (often
    several times per query via ``load_table``), and each ``conf.set`` is a
    synchronous driver RPC — 12 confs × 2-4 loads per query was ~5% of the
    sub-second queries' wall (r16 driver-overhead profile).  The confs are
    constants, so setting them once per session is equivalent."""
    if getattr(spark, "_hdx_session_tuned", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # immutable in this deployment — keep going, the engine degrades
            # gracefully (io falls back to pyarrow-level conversion)
            pass
    try:
        spark._hdx_session_tuned = True
    except Exception:
        pass  # exotic session proxy refusing attributes — just re-tune
    return spark


def get_spark(app_name: str = "hyperdx_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Static conf: PySpark 4 wraps every DataFrame/Column op in a
        # call-site capture (errors/utils._with_origin) costing ~3 extra
        # driver RPCs + a Python stack walk per op — measured ~20% of
        # query-construction wall across the headline queries (r16).  The
        # capture only enriches error messages with user line numbers; the
        # engine's own validation raises descriptive errors before Spark
        # ever sees bad input, so trade the debug nicety for driver
        # latency.  Scale-independent: this is per-API-call driver
        # overhead, identical on a 1000-node cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Split size trades scheduling overhead against parallelism. On a
        # 1000-executor cluster reading 100 TB the Spark default (128 MB ->
        # ~800k tasks) is right, and a deployment would leave it alone. This
        # harness runs local[32] over sf<=1 parquet (tens of MB/table): at
        # 128 MB a whole table is 1-2 splits and 30 cores idle through every
        # scan-heavy query, so default to 8 MB here (sf1 documents -> 8
        # tasks; measured 3-4x on the HOF-heavy text/codec queries).
        # Env-overridable for cluster-profile runs.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune_session(spark)


def overlapped(thunks, ahead=None):
    """Run zero-argument *thunks* concurrently and iterate their results in
    declared order, so ``a, b = overlapped([f, g])`` works.

    All thunks are submitted at the call — or the first *ahead*, then one
    more per result taken — to a thread pool owned by the call, so nested
    calls never wait on each other's workers. Each runs through
    ``inheritable_thread_target`` (keeping the caller's job group and tags)
    under a job tag unique to the call; tags stack, so cancelling an outer
    call cancels the calls nested in it. On the first exception of any
    thunk, or when the consumer closes the iterator early, the call cancels
    its tag's jobs and waits for its threads before it raises or returns:
    no work outlives the call. Thunks must not share mutable session state
    such as temp view names. Each thunk runs in a copy of the caller's
    ``contextvars`` context, so what it creates lands in the caller's
    :func:`scoped` scope.
    """
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    session = SparkSession.active()
    sc = session.sparkContext
    tag = f"hdx-overlap-{uuid.uuid4().hex}"
    if ahead is None:
        thunks = list(thunks)
        ahead = max(1, len(thunks))
    thunks = iter(thunks)
    pool = ThreadPoolExecutor(max_workers=ahead)
    ctx = contextvars.copy_context()

    def submit(fn):
        def run():
            sc.addJobTag(tag)
            return fn()

        return pool.submit(ctx.copy().run, inheritable_thread_target(session)(run))

    def results():
        pending = []
        try:
            for fn in islice(thunks, ahead):
                pending.append(submit(fn))
            yield  # primed below, so close() and GC reach the cleanup
            while pending:
                for f in pending:
                    if f.done() and f.exception() is not None:
                        f.result()
                if not pending[0].done():
                    wait([f for f in pending if not f.done()], return_when=FIRST_COMPLETED)
                    continue
                pending += [submit(fn) for fn in islice(thunks, 1)]
                yield pending.pop(0).result()
        finally:
            while not all(f.done() for f in pending):
                sc.cancelJobsWithTag(tag)
                wait(pending, timeout=0.2)
            pool.shutdown(wait=True)

    it = results()
    next(it)
    return it


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame of driver-side *rows* under *schema* (a StructType or its
    DDL string), with the rows and types ``spark.createDataFrame(list,
    schema)`` gives.

    Each row goes through the list path's own steps: its verifier, so a
    wrong type or a None in a non-nullable field raises the same error, and
    its conversion to internal values, so a naive ``datetime`` stays wall
    time in the driver's local time zone (Arrow would read it in the
    session time zone). The rows then go to Spark as one Arrow table, which
    Spark plans as a ``LocalTableScan`` with no Python worker (above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark itself
    switches to an RDD).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not schema.fields:
        # an Arrow batch without columns carries no rows: ship one NULL
        # column and drop it
        return local_frame(spark, [(None,) for _ in rows], "_ boolean").drop("_")
    verify, to_tuple = _make_type_verifier(schema), _create_converter(schema)
    data = []
    for r in rows:
        verify(r)
        data.append(schema.toInternal(to_tuple(r)))
    arr = pa.array(data, type=pa.struct(list(to_arrow_schema(schema))))
    table = pa.Table.from_batches([pa.RecordBatch.from_struct_array(arr)])
    return spark.createDataFrame(table, schema)


# The scope that owns what the running query creates (see :func:`scoped`).
_SCOPE: contextvars.ContextVar = contextvars.ContextVar("hdx_scope", default=None)


class _Release:
    """A release that runs at most once and outlives a gone session."""

    def __init__(self, free):
        self.free = free

    def __call__(self):
        with contextlib.suppress(Exception):
            self.__dict__.pop("free", lambda: None)()


class _Scope:
    def __init__(self):
        self.frees: list = []
        self.result = None

    def add(self, free) -> _Release:
        self.frees.append(_Release(free))
        return self.frees[-1]

    def release(self) -> None:
        frees, self.frees = self.frees, []
        for free in reversed(frees):
            free()

    def __enter__(self):
        self.parent = _SCOPE.get()
        self._token = _SCOPE.set(self)
        return self

    def __exit__(self, exc_type, exc, tb):
        _SCOPE.reset(self._token)
        result, self.result = self.result, None
        if exc_type is not None or not isinstance(result, DataFrame):
            self.release()
        elif self.parent is not None:
            self.parent.frees.extend(self.frees)
        elif self.frees:
            result._hdx_release = weakref.finalize(result, self.release)
            result._hdx_release.atexit = False


def scoped(fn=None):
    """Own every resource a query creates: ``@scoped`` on a function, or
    ``with scoped():``. :func:`persist`, :func:`local_checkpoint`,
    :func:`broadcast`, :func:`tempdir` and :func:`scratch_table` add what
    they make to the innermost scope. It frees them at once when its body
    raises (also when :func:`overlapped` cancels it) or ends without a
    DataFrame result. A DataFrame result hands them to the enclosing
    scope; an outermost one keeps them until it is garbage or passed to
    :func:`release`. Frames derived from a released result still run
    unless they read a local checkpoint, which cannot be recomputed. A
    function returns the frame that reads its resources, not a container
    of it."""
    if fn is None:
        return _Scope()

    @functools.wraps(fn)
    def run(*args, **kwargs):
        with _Scope() as scope:
            out = scope.result = fn(*args, **kwargs)
        return out

    return run


def release(df: DataFrame) -> None:
    """Free now what an outermost :func:`scoped` result holds, or one frame
    made by :func:`persist` or :func:`local_checkpoint` (an early release
    in a loop). A no-op on any other frame."""
    vars(df).get("_hdx_release", lambda: None)()


def _scope() -> _Scope:
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError("query resources are made under session.scoped")
    return scope


# Holders of each persisted plan, by its semantic hash. Spark keeps one
# cache entry per plan, so calls that persist the same plan (overlapped
# k-means fits over one corpus) share it. Only the last holder's release
# frees it: an earlier one would free it under a job the other holder has
# planned, and that job rebuilds it outside the cache manager, where
# nothing frees it.
_PERSISTED: dict = {}
_PERSISTED_LOCK = threading.Lock()


def persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist`` (Spark's default level when None), owned by the scope."""
    scope = _scope()
    key = df._jdf.queryExecution().normalized().semanticHash()
    with _PERSISTED_LOCK:
        _PERSISTED[key] = _PERSISTED.get(key, 0) + 1
        df = df.persist() if storage_level is None else df.persist(storage_level)

    def free():
        with _PERSISTED_LOCK:
            _PERSISTED[key] -= 1
            if not _PERSISTED[key]:
                del _PERSISTED[key]
                df.unpersist()

    df._hdx_release = scope.add(free)
    return df


def local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint``, owned by the scope. ``unpersist()`` does not
    free checkpoint blocks, so the release unpersists the checkpoint's own
    RDD, registered before any job materializes it."""
    scope = _scope()
    df = df.localCheckpoint(eager=False)
    rdd = df._jdf.queryExecution().analyzed().rdd()
    df._hdx_release = scope.add(lambda: rdd.unpersist(False))
    if eager:
        df.count()
    return df


def broadcast(spark: SparkSession, value):
    """``sparkContext.broadcast``, unpersisted with the scope (a frame
    derived from a released result ships it again)."""
    scope = _scope()
    bc = spark.sparkContext.broadcast(value)
    scope.add(bc.unpersist)
    return bc


def tempdir(prefix: str) -> str:
    """A new directory under ``tempfile.gettempdir()``, removed with the
    scope."""
    scope = _scope()
    path = tempfile.mkdtemp(prefix=prefix)
    scope.add(functools.partial(shutil.rmtree, path, ignore_errors=True))
    return path


def scratch_table(spark: SparkSession, prefix: str) -> str:
    """A managed-table name no other call uses, dropped with the scope.
    A process killed before the drop leaves the table's directory in the
    warehouse; no later call reuses its name."""
    scope = _scope()
    name = f"{prefix}_{uuid.uuid4().hex}"
    scope.add(lambda: spark.sql(f"DROP TABLE IF EXISTS {name}"))
    return name
