"""Exactness contract for the r17 broadcast all-pairs scorer
(similarity._allpairs_broadcast): bit-identical survivors (ids AND cos
doubles) to the legacy candidate-join + score_pairs_arrow + filter plan, on
every semantics edge the legacy path encodes — NULL vector, inner NULL,
ragged dims, zero/underflow norms, NaN elements (NaN cos is a VALUE that
passes ``cos >= t``), NULL ids, duplicate ids, empty input."""

import math
import random

import pytest
from pyspark.sql import functions as F

from hyperdx_spark.pipeline import dedup, similarity
from hyperdx_spark.session import release


def _legacy_pairs(df, *, id_col="vec_id", vec_col="embedding", threshold=0.5):
    """The pre-r17 exhaustive plan, verbatim shape (cosine_pairs else-branch
    below the broadcast fast path)."""
    from hyperdx_spark.io import ensure_min_parallelism

    ids = df.select(F.col(id_col).alias("id"))
    ids_wide = ensure_min_parallelism(ids, key_cols=["id"], probe=df)
    a_, b_ = ids_wide.alias("a"), ids.alias("b")
    cand = (
        a_.crossJoin(b_)
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        similarity.score_pairs_arrow(
            cand.join(vecs.withColumnsRenamed({"id": "id_a", "v": "__va"}), on="id_a")
            .join(vecs.withColumnsRenamed({"id": "id_b", "v": "__vb"}), on="id_b")
            .select("id_a", "id_b", "__va", "__vb")
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _collect_pairs(df):
    out = {}
    for r in df.collect():
        key = (r["id_a"], r["id_b"])
        out.setdefault(key, []).append(_canon(r["cos"]))
    return {k: sorted(v) for k, v in out.items()}


def _canon(x):
    if x is None:
        return "NULL"
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    return repr(x)


def _assert_match(spark, rows, threshold=0.5, id_type="long"):
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    fast = similarity._allpairs_broadcast(df, "vec_id", "embedding", threshold)
    assert fast is not None
    got = _collect_pairs(fast)
    release(fast)
    want = _collect_pairs(_legacy_pairs(df, threshold=threshold))
    assert got == want, {
        "extra": {k: v for k, v in got.items() if k not in want},
        "missing": {k: v for k, v in want.items() if k not in got},
        "diff": {
            k: (got[k], want[k])
            for k in set(got) & set(want)
            if got[k] != want[k]
        },
    }
    return got


def test_edge_semantics_parity(spark):
    nan = float("nan")
    tiny = 5e-324  # underflows to zero norm product
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),            # high cos with 1
        (3, [0.0, 1.0, 0.0]),            # orthogonal to 1
        (4, None),                       # NULL vector: never emits
        (5, [1.0, None, 0.0]),           # inner NULL: never emits
        (6, [1.0, 0.0]),                 # ragged dim: pairs only with 10
        (7, [0.0, 0.0, 0.0]),            # zero norm -> NULL divisor, drop
        (8, [nan, 1.0, 0.0]),            # NaN cos is a value -> emitted
        (9, [tiny, 0.0, 0.0]),           # underflow norm product -> drop
        (10, [1.0, 0.1]),                # dim-2 partner for 6
        (11, []),                        # empty vector: never emits
        (None, [1.0, 0.0, 0.0]),         # NULL id: never pairs
    ]
    got = _assert_match(spark, rows)
    assert (1, 2) in got                  # plain survivor
    assert any(k[0] == 8 or k[1] == 8 for k in got)   # NaN rows emitted
    # 4/5/11 (NULL vector / inner NULL / empty) never emit at all; 7/9
    # (zero or underflow norm) emit ONLY against the NaN vector 8, where
    # the divisor is NaN rather than 0.0 (NaN cos is a value, both paths)
    assert not any(k[0] in (4, 5, 11) or k[1] in (4, 5, 11) for k in got)
    assert not any(
        (k[0] in (7, 9) or k[1] in (7, 9)) and 8 not in k for k in got
    )
    assert (6, 10) in got                 # ragged pair matched at dim 2


def test_duplicate_ids_decline_to_legacy(spark):
    """Duplicate ids make the legacy plan fan each pair out by the id
    multiplicities (its vector joins key on id) — a degenerate shape the
    row-level scorer would not reproduce, so it must DECLINE and the
    composed operator must keep the legacy result exactly."""
    rows = [
        (1, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert similarity._allpairs_broadcast(df, "vec_id", "embedding", -2.0) is None
    out = similarity.cosine_pairs(df, threshold=-2.0, exhaustive=True)
    got = _collect_pairs(out)
    release(out)
    assert got == _collect_pairs(_legacy_pairs(df, threshold=-2.0))


def test_string_ids_lexicographic(spark):
    rows = [
        ("a", [1.0, 0.0]),
        ("b", [0.9, 0.1]),
        ("ab", [0.8, 0.2]),
    ]
    got = _assert_match(spark, rows, threshold=0.0, id_type="string")
    assert ("a", "ab") in got and ("a", "b") in got and ("ab", "b") in got


def test_fuzz_random_vectors_bit_identical(spark):
    rng = random.Random(1234)
    rows = []
    for i in range(120):
        dim = rng.choice([8, 8, 8, 16])
        v = [rng.gauss(0, 1) for _ in range(dim)]
        if rng.random() < 0.05:
            v[rng.randrange(dim)] = float("nan")
        if rng.random() < 0.05:
            v[rng.randrange(dim)] = None
        if rng.random() < 0.03:
            v = None
        rows.append((i, v))
    # low threshold so many survivors' cos doubles are compared
    _assert_match(spark, rows, threshold=0.3)


def test_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    fast = similarity._allpairs_broadcast(df, "vec_id", "embedding", 0.5)
    assert fast is not None
    assert fast.count() == 0
    release(fast)


def test_caps_fall_back_to_none(spark, monkeypatch):
    monkeypatch.setattr(similarity, "_ALLPAIRS_MAX_ROWS", 2)
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    assert similarity._allpairs_broadcast(df, "vec_id", "embedding", 0.5) is None
    # and cosine_pairs still answers through the legacy plan
    out = similarity.cosine_pairs(df, threshold=0.5, exhaustive=True)
    assert out.count() == 10  # all 5*4/2 identical-direction pairs
    release(out)


def test_unsupported_id_type_falls_back(spark):
    df = spark.createDataFrame(
        [(1.5, [1.0]), (2.5, [1.0])], "vec_id double, embedding array<double>"
    )
    assert similarity._allpairs_broadcast(df, "vec_id", "embedding", 0.5) is None
    out = similarity.cosine_pairs(df, threshold=0.5, exhaustive=True)
    assert out.count() == 1
    release(out)


def test_cosine_pairs_exhaustive_routes_through_broadcast(spark):
    df = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cosine_pairs(df, threshold=0.9, exhaustive=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # the legacy pair enumeration is gone: no nested-loop join feeding it
    assert "BroadcastNestedLoopJoin" not in plan
    got = _collect_pairs(out)
    release(out)
    want = _collect_pairs(_legacy_pairs(df, threshold=0.9))
    assert got == want
