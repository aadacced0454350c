"""Per-layer tracing from outside the engine.

The tracer wraps the engine's public functions (module attributes) and
records one span per call: layer, name, start, end, parent span, the
operation id shared by every span of one tile or query, and the py4j round
trips made while the span was open. Spans stay in memory; the runner writes
them out when the run ends.

Rules:

* A wrapped function is re-bound in every loaded ``hyperdx_spark`` module
  and in ``__spark_entry__`` that holds it under any name, so calls through
  ``from x import f`` bindings are traced too.
* A py4j round trip is one ``ClientServerConnection.send_command`` (or
  ``GatewayConnection.send_command``) call, except the proxy releases py4j
  sends when Python's garbage collector frees a JavaObject and the
  harness's own job-group calls. It is charged to every span open on the
  calling thread.
* Work submitted to a ``ThreadPoolExecutor`` inherits the submitting
  thread's operation id and span stack, so spans and py4j calls made in pool
  threads are charged to the operation (and span) that started them.
* A layer's self time is its span minus the union of its child spans'
  intervals; self py4j calls are its calls minus its children's calls.
"""

from __future__ import annotations

import concurrent.futures
import functools
import inspect
import sys
import threading
import time
import types


class Span:
    __slots__ = ("id", "layer", "name", "op", "parent", "start", "end", "py4j", "thread",
                 "meta")

    def __init__(self, sid, layer, name, op, parent):
        self.id = sid
        self.layer = layer
        self.name = name
        self.op = op
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.py4j = 0
        self.thread = threading.get_ident()
        self.meta = None

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "layer": self.layer, "name": self.name, "op": self.op,
            "parent": self.parent,
            "start_ms": round((self.start - t0) * 1e3, 3),
            "end_ms": round(((self.end or self.start) - t0) * 1e3, 3),
            "py4j": self.py4j,
        }


class Tracer:
    """Span recorder. ``enabled`` gates recording; the wrappers stay
    installed either way but cost one attribute check when disabled."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.job_group_setter = None  # callable(group); set by the runner
        self.unattributed_py4j = 0
        self.py4j_releases = 0
        self.load_table_seen: dict = {}  # call key -> last returned object
        self.paginators: list[dict] = []

    # -- context -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def op(self):
        return getattr(self._tls, "op", None)

    def set_op(self, op) -> None:
        self._tls.op = op
        self._tls.stack = []

    def set_job_group(self, group: str) -> None:
        """Tag the calling thread's Spark jobs with ``group``. The py4j calls
        this makes are the harness's own and are not counted."""
        if self.job_group_setter is None:
            return
        self._tls.harness = True
        try:
            self.job_group_setter(group)
        finally:
            self._tls.harness = False

    def begin(self, layer: str, name: str) -> Span:
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(sid, layer, name, self.op, st[-1].id if st else None)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        elif sp in st:
            st.remove(sp)
        with self._lock:
            self.spans.append(sp)

    def count_py4j(self, command: str) -> None:
        if not self.enabled:
            return
        if command.startswith("m\nd\n"):
            # proxy release sent when Python's GC frees a JavaObject: timing
            # follows the collector, not the code path, so it is not a
            # round trip of the traced call
            self.py4j_releases += 1
            return
        if getattr(self._tls, "harness", False):
            return
        st = getattr(self._tls, "stack", None)
        if st:
            for sp in st:
                sp.py4j += 1
        else:
            self.unattributed_py4j += 1

    # -- wrapping ----------------------------------------------------------
    def wrap(self, fn, layer: str, name: str):
        tracer = self
        if getattr(fn, "__perfbench_wrapped__", False):
            return fn

        sig = inspect.signature(fn) if name == "io.load_table" else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(layer, name)
            if name == "compile.compile_chart_config":
                cfg = args[1] if len(args) > 1 else kwargs.get("config")
                sp.meta = getattr(cfg, "date_range", None)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sp)
            if sig is not None:
                # plan memo hit: the same object as the last return for the
                # same arguments
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                key = tuple((k, id(v) if k == "spark" else repr(v))
                            for k, v in bound.arguments.items())
                with tracer._lock:
                    prev = tracer.load_table_seen.get(key)
                    tracer.load_table_seen[key] = out
                sp.meta = prev is out
            if inspect.isgenerator(out):
                return tracer._traced_generator(out, layer, name, args, kwargs)
            return out

        traced.__perfbench_wrapped__ = True
        traced.__perfbench_original__ = fn
        return traced

    def _traced_generator(self, gen, layer, name, args, kwargs):
        """Time each resumption of a generator as its own span and keep
        page statistics for the paginator."""
        rec = {"name": name, "op": self.op, "pages": 0, "first_page_ms": None,
               "exhausted": False, "t0": time.perf_counter(),
               "thread": threading.get_ident(), "last_ts": None, "ts_col": None}
        if name == "windows.offset_paginated_search":
            cfg = args[1] if len(args) > 1 else kwargs.get("cfg")
            rec["ts_col"] = getattr(getattr(cfg, "source", None),
                                    "timestamp_value_expression", None)
            with self._lock:
                self.paginators.append(rec)
        try:
            while True:
                sp = self.begin(layer, name + ".next")
                try:
                    item = next(gen)
                except StopIteration:
                    rec["exhausted"] = True
                    return
                finally:
                    self.end(sp)
                rec["pages"] += 1
                if rec["first_page_ms"] is None:
                    rec["first_page_ms"] = (time.perf_counter() - rec["t0"]) * 1e3
                if rec["ts_col"] and isinstance(item, list) and item:
                    try:
                        rec["last_ts"] = item[-1][rec["ts_col"]]
                    except (KeyError, ValueError, TypeError, IndexError):
                        pass
                yield item
        finally:
            gen.close()

    def patch_function(self, module, attr: str, layer: str, name: str) -> None:
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, layer, name)
        if wrapped is orig:
            return
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("hyperdx_spark") or mname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapped)

    def patch_method(self, cls, attr: str, layer: str, name: str) -> None:
        orig = cls.__dict__[attr]
        wrapped = self.wrap(orig, layer, name)
        if wrapped is not orig:
            setattr(cls, attr, wrapped)

    def patch_module(self, module, layer: str, names=None, prefix=None) -> None:
        """Wrap the public functions defined in ``module`` (or ``names``)."""
        prefix = prefix or layer
        for attr, obj in list(vars(module).items()):
            if attr.startswith("_") or not isinstance(obj, types.FunctionType):
                continue
            if names is not None and attr not in names:
                continue
            if names is None and obj.__module__ != module.__name__:
                continue
            self.patch_function(module, attr, layer, f"{prefix}.{attr}")


TRACER = Tracer()


def _patch_py4j() -> None:
    try:
        from py4j import clientserver, java_gateway
    except ImportError:
        return
    for cls in (getattr(clientserver, "ClientServerConnection", None),
                getattr(java_gateway, "GatewayConnection", None)):
        if cls is None or getattr(cls.send_command, "__perfbench_wrapped__", False):
            continue
        orig = cls.send_command

        def send_command(self, command, *a, __orig=orig, **k):
            TRACER.count_py4j(command)
            return __orig(self, command, *a, **k)

        send_command.__perfbench_wrapped__ = True
        cls.send_command = send_command


def _patch_thread_pools() -> None:
    """Carry the operation id (which is also its job group) and span stack
    into pool threads."""
    cls = concurrent.futures.ThreadPoolExecutor
    if getattr(cls.submit, "__perfbench_wrapped__", False):
        return
    orig = cls.submit

    def submit(self, fn, /, *args, **kwargs):
        if not TRACER.enabled:
            return orig(self, fn, *args, **kwargs)
        op = TRACER.op
        stack = list(TRACER._stack())

        def run(*a, **k):
            tls = TRACER._tls
            saved = (getattr(tls, "op", None), getattr(tls, "stack", None))
            tls.op, tls.stack = op, list(stack)
            if op is not None:
                TRACER.set_job_group(op)
            try:
                return fn(*a, **k)
            finally:
                tls.op, tls.stack = saved

        return orig(self, run, *args, **kwargs)

    submit.__perfbench_wrapped__ = True
    cls.submit = submit


def install(entry_module) -> None:
    """Wrap every traced layer, the py4j connection and thread pools."""
    import importlib

    t = TRACER
    gate = dict(entry_module.queries())
    for extra in ("q_tpch_q3", "q_tpch_q5ish", "q_top_customers"):
        gate.setdefault(extra, getattr(entry_module, extra, None))
    for qname, fn in gate.items():
        if fn is not None:
            t.patch_function(entry_module, fn.__name__, "entry", f"entry.{qname}")
    spec = [
        ("hyperdx_spark.compile", "compile", ["compile_chart_config"]),
        ("hyperdx_spark.io", "io", ["load_table"]),
        ("hyperdx_spark.lucene.serializer", "lucene", ["lucene_to_column"]),
        ("hyperdx_spark.promql", "promql", ["parse"]),
        ("hyperdx_spark.windows", "windows", ["offset_paginated_search"]),
        ("hyperdx_spark.analytics.drain", "analytics",
         ["mine_patterns", "mine_patterns_distributed"]),
        ("hyperdx_spark.analytics.event_deltas", "analytics", None),
        ("hyperdx_spark.post", "post", None),
        ("hyperdx_spark.alerts", "alerts", ["evaluate", "backtest"]),
        ("hyperdx_spark.streaming.ingest", "streaming", None),
        ("hyperdx_spark.streaming.mv_maintain", "streaming", None),
        ("hyperdx_spark.pipeline.incremental", "pipeline", None),
        ("hyperdx_spark.pipeline.dedup", "pipeline", None),
        ("hyperdx_spark.pipeline.similarity", "pipeline", None),
    ]
    for modname, layer, names in spec:
        m = importlib.import_module(modname)
        if names is not None:
            names = [x for x in names if isinstance(getattr(m, x, None), types.FunctionType)]
        t.patch_module(m, layer, names, prefix=modname.replace("hyperdx_spark.", ""))
    from hyperdx_spark.promql import PromQLEngine

    from hyperdx_spark.lucene.serializer import SearchQueryBuilder

    for cls, attr, layer in ((PromQLEngine, "query_range", "promql"),
                             (PromQLEngine, "query", "promql"),
                             (SearchQueryBuilder, "build", "lucene")):
        if isinstance(cls.__dict__.get(attr), types.FunctionType):
            t.patch_method(cls, attr, layer, f"{layer}.{cls.__name__}.{attr}")
    _patch_py4j()
    _patch_thread_pools()


# --- span arithmetic --------------------------------------------------------

def union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span id -> (self seconds, self py4j calls)."""
    children: dict = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        end = sp.end or sp.start
        kids = children.get(sp.id, [])
        covered = union_len(
            (max(k.start, sp.start), min(k.end or k.start, end))
            for k in kids if (k.end or k.start) > sp.start and k.start < end
        )
        out[sp.id] = (max(end - sp.start - covered, 0.0),
                      sp.py4j - sum(k.py4j for k in kids))
    return out
