"""The engine's one concurrency primitive, ``session.overlapped``: results
in declared order, abandoned or failed work cancelled before the call
returns, nesting without deadlock, and no other thread pool in the engine."""

import ast
import os
import re
import time

import pytest

from hyperdx_spark.session import overlapped

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _no_active_jobs(sc, within_s=5.0):
    # the status tracker is fed by the asynchronous listener bus
    deadline = time.monotonic() + within_s
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    return not sc.statusTracker().getActiveJobsIds()


def test_results_in_declared_order(spark):
    def slow(v, s):
        def run():
            time.sleep(s)
            return v
        return run

    a, b, c = overlapped([slow("a", 0.3), slow("b", 0.0), lambda: spark.range(7).count()])
    assert (a, b, c) == ("a", "b", 7)
    assert list(overlapped([slow(i, 0.05 * (3 - i)) for i in range(4)], ahead=2)) == [0, 1, 2, 3]
    assert list(overlapped([])) == []


def test_thunks_inherit_job_group_and_stack_tags(spark):
    sc = spark.sparkContext
    sc.setJobGroup("outer-group", "outer-group")
    try:
        def probe():
            return sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags()

        def nested():
            [got] = overlapped([probe])
            return got

        (group, tags), (n_group, n_tags) = overlapped([probe, nested])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert group == n_group == "outer-group"
    assert len(tags) == 1 and len(n_tags) == 2 and tags < n_tags
    assert not sc.getJobTags()  # the caller's own tags are untouched


def test_failure_cancels_running_sibling(spark):
    sc = spark.sparkContext

    def sleeper():
        def sleep_rows(batches):
            time.sleep(60)
            yield from batches

        return spark.range(2).mapInPandas(sleep_rows, "id long").collect()

    def boom():
        time.sleep(2)  # let the sibling's job start
        raise ValueError("boom")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="boom"):
        sleeping, _ = overlapped([sleeper, boom])
    assert time.monotonic() - t0 < 15
    assert _no_active_jobs(sc)


def test_nested_prefetch_finishes(spark):
    def inner():
        return list(overlapped(
            (lambda i=i: spark.range(i + 1).count() for i in range(3)), ahead=1
        ))

    a, b = overlapped([inner, lambda: spark.range(5).count()])
    assert (a, b) == ([1, 2, 3], 5)


def _pool_mentions(path, src):
    """Lines of *src* naming a thread pool or a raw thread, minus those
    inside ``session.overlapped``."""
    pat = re.compile(r"ThreadPoolExecutor|threading\.Thread\b|\bimport\b.*\bThread\b")
    allowed = set()
    if path.endswith(os.path.join("hyperdx_spark", "session.py")):
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name == "overlapped":
                allowed.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{os.path.relpath(path, REPO)}:{i}"
        for i, line in enumerate(src.splitlines(), 1)
        if pat.search(line) and i not in allowed
    ]


def test_no_thread_pool_outside_overlapped():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "hyperdx_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    found = []
    for path in paths:
        with open(path) as f:
            found += _pool_mentions(path, f.read())
    assert not found, f"use session.overlapped instead: {found}"


def test_guard_flags_a_pool():
    src = "from concurrent.futures import ThreadPoolExecutor\nThreadPoolExecutor(2)\n"
    assert _pool_mentions(os.path.join(REPO, "hyperdx_spark", "x.py"), src) == [
        "hyperdx_spark/x.py:1", "hyperdx_spark/x.py:2"
    ]
