"""hyperdx_spark benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
fixtures into ``perfbench/.cache`` (sf0.01, sf0.1, sf1 and the DuckDB oracle
answer hashes); later runs reuse them. Each run starts its own Spark session
with private warehouse, local and temp directories, measures passes over the
workload's mix for ``--seconds``, checks every result, and prints one
summary line and then one JSON line as the last line of standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions (see tracer.py), reads Spark's own counters and
reports the per-layer metrics instead. A traced run also writes its spans
to ``perfbench/.results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".results")
WORKLOADS = ("dashboard", "scan", "fanout", "ingest")
DRIVER_HEAP_MB = 2048
ENGINE_FILES = ("__spark_entry__.py", "hyperdx_spark/__init__.py", "tools/make_scale.py",
                "tools/check_correctness.py")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- environment -------------------------------------------------------------

def _proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[3] + v[4]


def ambient_busy_cores(interval: float = 0.25) -> float:
    """Busy cores on the whole box over ``interval`` (before the session
    starts, so this is the neighbours' load)."""
    try:
        t0, i0 = _proc_stat()
        time.sleep(interval)
        t1, i1 = _proc_stat()
    except OSError:
        return -1.0
    return round((t1 - t0 - (i1 - i0)) / max(t1 - t0, 1) * (os.cpu_count() or 1), 2)


def engine_digest() -> str:
    """Content hash of the engine sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    paths = ["__spark_entry__.py"]
    for d, _dirs, files in os.walk(os.path.join(ROOT, "hyperdx_spark")):
        paths += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    """HEAD of the checkout when it is a git repository, else None."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    import subprocess

    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, check=False)
    return p.stdout.strip() or None


def mem_available_mb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
        return out

    def sample(self) -> None:
        total = 0
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


# --- session -----------------------------------------------------------------

def private_state(workload: str, seed: int) -> str:
    """Per-run warehouse, local and temp directories under perfbench/.runs.
    The engine's tempfile.mkdtemp sites and the dedup store's warehouse
    tables land here, and the directory is removed when the run ends (a
    killed run's directory is removed by the next run)."""
    runs = os.path.join(HERE, ".runs")
    for old in os.listdir(runs) if os.path.isdir(runs) else ():
        pid = old.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run_dir = os.path.join(runs, f"{workload}-{seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "cwd"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(os.path.join(run_dir, "cwd"))
    return run_dir


def session_env(run_dir: str, cpus: int) -> int:
    """Session sizing: local[nproc] and a driver heap that fits free memory.
    Extra confs go to the launched JVM through PYSPARK_SUBMIT_ARGS so the
    engine's own get_spark() still builds the session."""
    heap = min(DRIVER_HEAP_MB, max(512, mem_available_mb() // 3))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    tmp = os.path.join(run_dir, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()] + ["pyspark-shell"])
    return heap


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - already gone
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- metrics -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(ctx, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics for the JSON line, extra figures for the summary line)."""
    # per-operation latency of what a user waits on: tiles, queries and
    # reads (the ingest pipeline's own steps are in the pass times)
    warm = [op for op in ctx.ops if op.pass_no >= 1 and op.kind in ("gate", "read")]
    lat = [op.latency * 1e3 for op in warm]
    m = {
        "setup_s": (setup_s, "s"),
        "warm_pass_s": (median([s for n, s in ctx.passes if n >= 1]), "s"),
        "latency_p50_ms": (median(lat), "ms"),
    }
    attempted = len(ctx.ops)
    failed = sum(1 for op in ctx.ops if not op.ok)
    # cold_pass_s is printed, not gated: its spread across runs (one pass of
    # JIT and first executions) came within a few points of the 0.25 bound
    extra = {"cold_pass_s": (ctx.passes[0][1], "s"),
             "error_rate": (failed / max(attempted, 1), "ratio"),
             "peak_rss_mb": (peak_rss_mb, "MB")}
    # p90 only where at least 10 samples lie beyond it
    extra["latency_n"] = (len(lat), "count")
    extra["latency_p90_ms"] = (pct(lat, 0.9), "ms") if len(lat) >= 100 else (None, "ms")
    if ctx.renders:
        extra["render_p50_ms"] = (median([s * 1e3 for n, s in ctx.renders if n >= 1]), "ms")
    ing = [r for r in ctx.extra.get("ingest", []) if r["pass"] >= 1]
    if ing:
        extra["ingest_rows_per_s"] = (
            sum(r["rows"] for r in ing) / max(sum(r["ingest_s"] for r in ing), 1e-9), "rows/s")
        fr = [r["freshness_s"] * 1e3 for r in ing if r["freshness_s"] is not None]
        extra["freshness_p50_ms"] = (median(fr) if fr else None, "ms")
    return m, extra


def plan_counts(df) -> dict | None:
    """Node counts in the final physical plan of a collected frame, walked
    node by node: an adaptive plan is read through the plan it finally ran,
    a query stage through the exchange it materialised, and subqueries are
    included. None when an adaptive plan in it is not final."""
    shape = dict.fromkeys(("exchanges", "reused_exchanges", "smj", "bhj", "python_nodes"), 0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            if "isFinalPlan=true" not in node.simpleString(25):
                return None
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            shape["reused_exchanges"] += cls == "ReusedExchangeExec"
            continue  # the reused plan is counted where it first ran
        shape["exchanges"] += cls in ("ShuffleExchangeExec", "BroadcastExchangeExec")
        shape["smj"] += cls == "SortMergeJoinExec"
        shape["bhj"] += cls == "BroadcastHashJoinExec"
        shape["python_nodes"] += any(t in cls for t in ("Python", "InPandas", "InArrow"))
        for seq in (node.children(), node.subqueries()):
            todo += [seq.apply(i) for i in range(seq.size())]
    return shape


def catalyst_phases(df) -> dict:
    ph = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = ph.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def spark_status(spark) -> tuple[list, dict]:
    """All jobs, and the stages that ran (stage id -> attempts), from Spark's
    status store, serialized on the JVM side in one call each."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())))
    by_id: dict = {}
    for st in stages:
        if st.get("status") in ("COMPLETE", "FAILED"):
            by_id.setdefault(st["stageId"], []).append(st)
    return jobs, by_id


COUNT_KEYS = ("py4j", "entry.py4j", "compile.py4j", "compile.calls",
              "io.load_table_calls", "exec.jobs", "exec.stages", "exec.tasks")


def per_layer(ctx, spark, cpus: int) -> tuple[dict, dict]:
    """(per-layer metrics, per warm operation counts keyed by op id)."""
    from tracer import TRACER, union_len, self_times

    warm_ops = [op for op in ctx.ops if op.pass_no >= 1]
    warm_ids = {op.op_id for op in warm_ops}
    n_ops = max(len(warm_ops), 1)
    spans = [sp for sp in TRACER.spans if sp.op in warm_ids]
    selfs = self_times(TRACER.spans)

    def layer_sum(layer, what=0, name=None):
        return sum(selfs[sp.id][what] for sp in spans
                   if sp.layer == layer and (name is None or sp.name.startswith(name)))

    def calls(name):
        return sum(1 for sp in spans if sp.name == name)

    m: dict = {}

    def put(k, v, unit):
        m[k] = (float(v), unit)

    # python-side layers (self time / self py4j per warm operation)
    put("entry.build_ms", layer_sum("entry") * 1e3 / n_ops, "ms")
    put("entry.py4j_calls", layer_sum("entry", 1) / n_ops, "count")
    put("compile.calls", calls("compile.compile_chart_config") / n_ops, "count")
    put("compile.build_ms", layer_sum("compile") * 1e3 / n_ops, "ms")
    put("compile.py4j_calls", layer_sum("compile", 1) / n_ops, "count")
    put("lucene.calls", sum(1 for sp in spans if sp.layer == "lucene") / n_ops, "count")
    put("lucene.ms", layer_sum("lucene") * 1e3 / n_ops, "ms")
    put("promql.build_ms", layer_sum("promql") * 1e3 / n_ops, "ms")
    put("promql.py4j_calls", layer_sum("promql", 1) / n_ops, "count")
    put("io.load_table_calls", calls("io.load_table") / n_ops, "count")
    put("io.load_table_ms", layer_sum("io") * 1e3 / n_ops, "ms")
    loads = [sp for sp in spans if sp.name == "io.load_table"]
    put("io.plan_memo_hit_ratio",
        sum(1 for sp in loads if sp.meta is True) / max(len(loads), 1), "ratio")
    put("post.ms", layer_sum("post") * 1e3 / n_ops, "ms")
    put("analytics.drain_ms", layer_sum("analytics", name="analytics.drain") * 1e3 / n_ops, "ms")
    put("analytics.event_deltas_ms",
        layer_sum("analytics", name="analytics.event_deltas") * 1e3 / n_ops, "ms")
    put("alerts.ms", layer_sum("alerts") * 1e3 / n_ops, "ms")
    put("pipeline.dedup_ms", (layer_sum("pipeline", name="pipeline.dedup")
                              + layer_sum("pipeline", name="pipeline.incremental")) * 1e3 / n_ops,
        "ms")
    put("pipeline.similarity_ms",
        layer_sum("pipeline", name="pipeline.similarity") * 1e3 / n_ops, "ms")

    # paginator
    pag = [p for p in TRACER.paginators if p["op"] in warm_ids]
    put("windows.pages", sum(p["pages"] for p in pag) / n_ops, "count")
    firsts = [p["first_page_ms"] for p in pag if p["first_page_ms"] is not None]
    put("windows.first_page_ms", median(firsts), "ms")
    prefetched = consumed = 0
    for p in pag:
        pre = [sp for sp in TRACER.spans if sp.name == "compile.compile_chart_config"
               and sp.op == p["op"] and sp.thread != p.get("thread")
               and getattr(sp, "meta", None)]
        prefetched += len(pre)
        if p["exhausted"] or p["last_ts"] is None:
            consumed += len(pre)
        else:
            consumed += sum(1 for sp in pre if sp.meta[1] >= p["last_ts"])
    put("windows.prefetch_useful_ratio", consumed / prefetched if prefetched else 1.0, "ratio")

    # driver, catalyst, plan shape (from the frame each operation returned)
    gates = [op for op in warm_ops if op.kind == "gate"]
    put("driver.collect_ms", layer_sum("driver") * 1e3 / n_ops, "ms")
    put("driver.op_self_ms", layer_sum("op") * 1e3 / n_ops, "ms")
    put("driver.result_rows", sum(op.rows for op in warm_ops) / n_ops, "count")
    cat = {"analysis": [], "optimization": [], "planning": []}
    shape = {"exchanges": 0, "reused_exchanges": 0, "smj": 0, "bhj": 0, "python_nodes": 0}
    final = 0
    for op in gates:
        if op.df is None:
            continue
        for k, v in catalyst_phases(op.df).items():
            cat[k].append(v)
        counts = plan_counts(op.df)
        if counts is None:
            continue
        final += 1
        for k, v in counts.items():
            shape[k] += v
    ctx.extra["plans_not_final"] = len(gates) - final
    for k, v in cat.items():
        put(f"catalyst.{k}_ms", sum(v) / max(len(gates), 1), "ms")
    for k, v in shape.items():
        put(f"plan.{k}", v / max(final, 1), "count")

    # execution, attributed per operation by job group
    jobs, stages = spark_status(spark)
    op_by_id = {op.op_id: op for op in warm_ops}
    n_jobs = n_stages = n_tasks = run_ms = cpu_ns = shuf = eager = 0
    exec_wall = 0.0
    per_op_intervals: dict = {}
    counts = {op.op_id: dict.fromkeys(COUNT_KEYS, 0) for op in warm_ops}
    for sp in spans:
        c = counts[sp.op]
        if sp.layer == "op":
            c["py4j"] += sp.py4j
        elif sp.layer in ("entry", "compile"):
            c[f"{sp.layer}.py4j"] += selfs[sp.id][1]
        if sp.name == "compile.compile_chart_config":
            c["compile.calls"] += 1
        elif sp.name == "io.load_table":
            c["io.load_table_calls"] += 1
    op_stages: dict = {}
    for j in jobs:
        op = op_by_id.get(j.get("jobGroup"))
        if op is None:
            continue
        n_jobs += 1
        counts[op.op_id]["exec.jobs"] += 1
        sub, done = j.get("submissionTime"), j.get("completionTime")
        if sub is not None and done is not None:
            per_op_intervals.setdefault(op.op_id, []).append((sub, done))
            if sub <= (op.wall_start + op.build_s) * 1e3:
                eager += 1
        op_stages.setdefault(op.op_id, set()).update(j.get("stageIds", []))
    for op_id, sids in op_stages.items():
        c = counts[op_id]
        for sid in sids:
            for st in stages.get(sid, ()):  # attempts that ran; skipped ones are filtered out
                n_stages += 1
                n_tasks += st["numTasks"]
                run_ms += st["executorRunTime"]
                cpu_ns += st["executorCpuTime"]
                shuf += st["shuffleWriteBytes"]
                c["exec.stages"] += 1
                c["exec.tasks"] += st["numTasks"]
    for iv in per_op_intervals.values():
        exec_wall += union_len(iv)
    put("exec.wall_ms", exec_wall / n_ops, "ms")
    put("exec.jobs", n_jobs / n_ops, "count")
    put("entry.eager_jobs", eager / n_ops, "count")
    put("exec.stages", n_stages / n_ops, "count")
    put("exec.tasks", n_tasks / n_ops, "count")
    put("exec.executor_run_ms", run_ms / n_ops, "ms")
    put("exec.executor_cpu_ms", cpu_ns / 1e6 / n_ops, "ms")
    put("exec.shuffle_write_bytes", shuf / n_ops, "bytes")
    warm_wall = sum(s for n, s in ctx.passes if n >= 1)
    put("exec.core_busy_ratio", run_ms / 1e3 / max(warm_wall * cpus, 1e-9), "ratio")

    ing = [r for r in ctx.extra.get("ingest", []) if r["pass"] >= 1]
    n_ing = max(len(ing), 1)
    put("streaming.microbatches", sum(r["microbatches"] for r in ing) / n_ing, "count")
    put("streaming.batch_ms", median([ms for r in ing for ms in r["batch_ms"]]), "ms")
    put("streaming.rows_committed", sum(r["rows"] for r in ing) / n_ing, "count")
    put("streaming.bytes_written_per_input_byte",
        sum(r["out_bytes"] for r in ing) / max(sum(r["in_bytes"] for r in ing), 1), "ratio")
    put("trace.warm_pass_s", median([s for n, s in ctx.passes if n >= 1]), "s")
    put("trace.unattributed_py4j", TRACER.unattributed_py4j, "count")
    return m, counts


def repeat_report(ctx, counts: dict, others: list) -> dict:
    """Which per-operation counts repeat exactly: across the warm passes of
    this run, and against the same operation in earlier traced runs of the
    workload. Only exactly repeating counts can back a count claim."""
    by_name: dict = {}
    for op in ctx.ops:
        if op.op_id in counts:
            by_name.setdefault(op.name, []).append(counts[op.op_id])
    for other in others:
        for name, reps in other.items():
            if name in by_name:
                by_name[name] = by_name[name] + reps
    exact, varying = [], []
    for k in COUNT_KEYS:
        series = [[r[k] for r in reps] for reps in by_name.values() if len(reps) > 1]
        if not series:
            continue
        (exact if all(len(set(s)) == 1 for s in series) else varying).append(k)
    return {"exact": exact, "varying": varying,
            "samples": {n: len(r) for n, r in by_name.items()}}


# --- main --------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for f in ENGINE_FILES:
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"engine source {f} not found next to perfbench/; run from a checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import fixtures
    import tracer
    import workloads as wl

    cpus = os.cpu_count() or 1
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "sf": wl.SCALE[args.workload],
        "commit": git_commit(), "engine": engine_digest(), "loadavg": list(os.getloadavg()),
        "ambient_busy_cores": ambient_busy_cores(),
    }

    # this workload's fixtures: its first run in a checkout builds them
    import __spark_entry__ as entry  # noqa: E402 - needs ROOT on sys.path

    oracles = dict(entry.oracle_sql())
    for name, const in (("q_tpch_q3", "O_TPCH_Q3"), ("q_tpch_q5ish", "O_TPCH_Q5"),
                        ("q_top_customers", "O_TOP_CUSTOMERS")):
        if hasattr(entry, const):
            oracles.setdefault(name, getattr(entry, const))
    t_fix = time.perf_counter()
    data_dir = fixtures.ensure_data(wl.SCALE[args.workload])
    expected = fixtures.expected_hashes(
        data_dir, wl.gate_entries(args.workload) + ["q_search"], oracles)
    env["fixtures_s"] = round(time.perf_counter() - t_fix, 2)
    missing = [n for n in wl.gate_entries(args.workload) if expected.get(n) is None]
    if missing:
        fail(f"no oracle for {missing}")

    run_dir = private_state(args.workload, args.seed)
    env["driver_heap_mb"] = session_env(run_dir, cpus)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from hyperdx_spark import get_spark

        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
        first = entry.q_search(spark, data_dir).toPandas()
        setup_s = time.perf_counter() - t0
        if fixtures.frame_hash(first) != expected["q_search"]:
            fail("the first query (q_search) returned wrong rows")

        if args.trace:
            tracer.install(entry)
            tracer.TRACER.job_group_setter = lambda g: spark.sparkContext.setJobGroup(g, g)
            tracer.TRACER.enabled = True
        ctx = wl.Context(spark, entry, data_dir, expected, args.seed, run_dir, args.trace)
        runner = {
            "dashboard": wl.run_dashboard,
            "scan": wl.run_serial(wl.SCAN),
            "fanout": wl.run_serial(wl.FANOUT),
            "ingest": wl.run_ingest,
        }[args.workload]
        w0 = time.perf_counter()
        wall0 = time.time()
        runner(ctx, 1 + wl.warm_passes(args.workload, args.seconds))
        window_s = time.perf_counter() - w0
        for op in ctx.ops:
            op.wall_start = wall0 + (op.start - w0)
        if args.trace:
            tracer.TRACER.enabled = False
            metrics, counts = per_layer(ctx, spark, cpus)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        env["teardown_s"] = round(time.perf_counter() - t_stop, 2)
        rss.stop()
        os.chdir(HERE)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra = end_to_end(ctx, setup_s, rss.peak_kb / 1024.0)
    attempted = len(ctx.ops)
    failed = sum(1 for op in ctx.ops if not op.ok)
    errors = sorted({f"{op.name}: {op.error}" for op in ctx.ops if not op.ok})
    report = {"env": env, "window_s": window_s, "passes": ctx.passes,
              "end_to_end": e2e, "extra": extra, "errors": errors,
              "ops": [(op.name, op.pass_no, round(op.latency, 4), op.ok) for op in ctx.ops]}
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        base = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace0.json")
        try:
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]["warm_pass_s"][0]
            extra["trace_overhead"] = (metrics["trace.warm_pass_s"][0] / untraced - 1, "ratio")
        except (OSError, ValueError, KeyError):
            extra["trace_overhead"] = (None, "ratio")
        report["per_layer"] = metrics
        names = {op.op_id: op.name for op in ctx.ops}
        report["op_counts"] = {}
        for op_id, c in counts.items():
            report["op_counts"].setdefault(names[op_id], []).append(c)
        others = []
        for f in sorted(os.listdir(RESULTS)):
            if f.startswith(f"{args.workload}-seed") and f.endswith("-trace1.json") \
                    and f != os.path.basename(out):
                try:
                    with open(os.path.join(RESULTS, f)) as fh:
                        others.append(json.load(fh)["op_counts"])
                except (OSError, ValueError, KeyError):
                    pass
        rep = repeat_report(ctx, counts, others)
        report["count_repeats"] = rep
        extra["plans_not_final"] = (ctx.extra["plans_not_final"], "count")
        extra["exact_counts"] = (",".join(rep["exact"]) or "none", "")
        extra["varying_counts"] = (",".join(rep["varying"]) or "none", "")
        t_first = min((sp.start for sp in tracer.TRACER.spans), default=0.0)
        report["spans"] = [sp.as_dict(t_first) for sp in tracer.TRACER.spans]
    else:
        metrics = e2e
    with open(out, "w") as f:
        json.dump(report, f, default=str)

    def fmt(v, u):
        if v is None:
            return "n/a"
        if isinstance(v, str):
            return v
        return f"{v:.6g}{u if u not in ('ratio', 'count') else ''}"

    print("env " + json.dumps(env))
    print("summary " + " ".join(f"{k}={fmt(v, u)}" for k, (v, u) in {**e2e, **extra}.items()))
    for e in errors[:10]:
        print(f"error {e}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
