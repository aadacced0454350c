"""The engine's one resource primitive, ``session.scoped``: what a query
persists, checkpoints, broadcasts, writes to a temp directory or stores in
a table of its own is freed on a raise at once, with the query's result
otherwise, and nothing outside ``session.py`` makes such a resource any
other way."""

import ast
import os
import re
import time

import pytest

from hyperdx_spark import session
from hyperdx_spark.session import overlapped, release, scoped

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _held(spark):
    """Persistent RDDs (persisted frames and local checkpoints) and
    cache-manager entries the session holds."""
    return (
        spark.sparkContext._jsc.getPersistentRDDs().size(),
        spark._jsparkSession.sharedState().cacheManager().cachedData().length(),
    )


def test_result_holds_resources_until_dropped(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _held(spark)

    @scoped
    def query():
        base = session.persist(spark.range(50).selectExpr("id * 2 AS x"))
        cp = session.local_checkpoint(base.where("x > 10"), eager=True)
        session.tempdir("hdx_probe_")
        return cp.selectExpr("x + 1 AS y")

    out = query()
    assert _held(spark) == (before[0] + 2, before[1] + 1)
    assert len(os.listdir(tmp_path)) == 1
    assert out.count() == 44
    del out
    assert _held(spark) == before
    assert os.listdir(tmp_path) == []
    # release() frees a result before it is garbage
    out = query()
    release(out)
    assert _held(spark) == before
    assert os.listdir(tmp_path) == []


def test_shared_plan_freed_by_last_holder(spark):
    """Two calls that persist the same plan share Spark's one cache entry.
    The first release must not free it under a job the second call has
    planned: that job would rebuild it outside the cache manager, where no
    release reaches it."""
    before = _held(spark)

    @scoped
    def cached():
        return session.persist(spark.range(40).selectExpr("id % 7 AS m"))

    a, b = cached(), cached()
    assert a.count() == b.count() == 40
    planned = b.selectExpr("m + 1 AS n")._jdf.queryExecution()
    planned.executedPlan()
    release(a)
    assert planned.toRdd().count() == 40
    release(b)
    assert _held(spark) == before


def test_with_block_frees_at_exit(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _held(spark)
    with scoped():
        assert session.persist(spark.range(5)).count() == 5
        path = session.tempdir("hdx_with_")
        assert _held(spark) == (before[0] + 1, before[1] + 1)
    assert _held(spark) == before
    assert not os.path.exists(path)


def test_no_resource_outside_a_scope(spark):
    with pytest.raises(RuntimeError, match="scoped"):
        session.persist(spark.range(1))


def test_derived_frame_survives_dropped_inner_result(spark):
    """Inside an enclosing scope an inner scoped result hands its resources
    up: a frame derived from it still collects after the inner result
    object itself is gone."""
    before = _held(spark)

    @scoped
    def inner():
        cp = session.local_checkpoint(spark.range(30).selectExpr("id AS x"))
        return cp.where("x % 3 = 0")

    @scoped
    def outer():
        res = inner()
        derived = res.selectExpr("x * 10 AS y")
        del res
        return derived

    out = outer()
    assert sorted(r.y for r in out.collect()) == [x * 10 for x in range(0, 30, 3)]
    assert _held(spark)[0] == before[0] + 1
    del out
    assert _held(spark) == before


def test_frame_derived_from_released_result_still_runs(spark):
    """A frame derived from an outermost result outlives it: the released
    centroid broadcast ships again when the derived frame runs."""
    from hyperdx_spark.pipeline import clustering

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[0, 10**6], [2 * 10**6, 10**6]]
    want = sorted(
        (r.vec_id, r.cluster)
        for r in clustering.kmeans_assign(df, cents, method="column").collect()
    )
    derived = clustering.kmeans_assign(df, cents, method="arrow").select(
        "vec_id", "cluster"
    )
    assert sorted((r.vec_id, r.cluster) for r in derived.collect()) == want


def test_cancelled_thunk_leaves_nothing(spark, tmp_path, monkeypatch):
    """An overlapped thunk runs in its caller's scope: when a sibling's raise
    cancels it, what it persisted, checkpointed and created goes at once."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _held(spark)
    made = {}

    def sleep_rows(batches):
        time.sleep(60)
        yield from batches

    def worker():
        made["cached"] = session.persist(spark.range(20))
        made["cached"].count()
        session.local_checkpoint(spark.range(10), eager=True)
        made["dir"] = session.tempdir("hdx_cancel_")
        spark.range(2).mapInPandas(sleep_rows, "id long").collect()

    def boom():
        deadline = time.monotonic() + 20
        while "dir" not in made and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(1)  # let the sibling's sleeping job start
        raise ValueError("boom")

    @scoped
    def query():
        list(overlapped([worker, boom]))
        return spark.range(1)

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="boom"):
        query()
    assert time.monotonic() - t0 < 40
    assert _held(spark) == before
    assert "dir" in made and not os.path.exists(made["dir"])
    assert os.listdir(tmp_path) == []


def test_concurrent_calls_get_private_tables(spark):
    """Two in-flight calls each get a table of their own, and both are
    dropped once their results are released."""

    @scoped
    def store_query(tag):
        name = session.scratch_table(spark, "hdx_probe_store")
        spark.range(5).selectExpr(f"id + {tag} AS v").write.saveAsTable(name)
        return spark.table(name)

    a, b = overlapped([lambda: store_query(100), lambda: store_query(200)])
    names = {t.name for t in spark.catalog.listTables() if t.name.startswith("hdx_probe_store")}
    assert len(names) == 2
    assert sorted(r.v for r in a.collect()) == list(range(100, 105))
    assert sorted(r.v for r in b.collect()) == list(range(200, 205))
    release(a)
    del b
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("hdx_probe_store")]


# --------------------------------------------------------------------------
# guard: every resource is made through session.py

_RESOURCE = re.compile(
    r"\.persist\(|\.cache\(\)|localCheckpoint\(|mkdtemp\(|saveAsTable\(|"
    r"(?:\bsc|sparkContext)\.broadcast\("
)
# durable tables of the incremental dedup store: they outlive the query by
# design (the store is the point), so no scope owns them
_DURABLE = {
    ("hyperdx_spark/io.py", "write_bucketed"),
    ("hyperdx_spark/pipeline/incremental.py", "append_novel_to_store"),
    ("hyperdx_spark/pipeline/incremental.py", "append_minhash_to_store"),
}


def _resource_mentions(path, src):
    """Lines of *src* that make a resource directly, minus ``session.py``
    and the durable store writers."""
    rel = os.path.relpath(path, REPO)
    if rel == os.path.join("hyperdx_spark", "session.py"):
        return []
    allowed = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and (rel, node.name) in _DURABLE:
            allowed.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{rel}:{i}"
        for i, line in enumerate(src.splitlines(), 1)
        if _RESOURCE.search(line.split("#")[0]) and i not in allowed
    ]


def test_no_resource_made_outside_scoped():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "hyperdx_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    found = []
    for path in paths:
        with open(path) as f:
            found += _resource_mentions(path, f.read())
    assert not found, f"make these through session.scoped's helpers: {found}"


def test_guard_flags_each_resource():
    src = (
        "a = df.persist()\nb = df.cache()\nc = df.localCheckpoint()\n"
        "d = tempfile.mkdtemp()\ndf.write.saveAsTable('t')\n"
        "e = spark.sparkContext.broadcast(1)\nf = F.broadcast(df)\n"
    )
    assert _resource_mentions(os.path.join(REPO, "hyperdx_spark", "x.py"), src) == [
        f"hyperdx_spark/x.py:{i}" for i in range(1, 7)
    ]
