"""Deterministic fixed-point k-means (pipeline/clustering.py) and the
SemDeDup-paper within-cluster pairing composition."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hyperdx_spark.pipeline import clustering, similarity
from hyperdx_spark.pipeline.sampling import sample_key
from hyperdx_spark.session import release


def _three_blob_df(spark):
    """Three tight blobs in 4-d: cluster structure is unambiguous."""
    rows = []
    centers = [(10.0, 0.0, 0.0, 0.0), (0.0, 10.0, 0.0, 0.0),
               (0.0, 0.0, 10.0, 0.0)]
    i = 0
    for ci, c in enumerate(centers):
        for j in range(8):
            vec = [c[d] + ((i * 7 + d * 3) % 5) * 0.01 for d in range(4)]
            rows.append((i, [float(x) for x in vec]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_quantize_is_floor_half_up(spark):
    df = spark.createDataFrame(
        [(0, [1.0000004, -1.0000004, 0.25])],
        "vec_id long, embedding array<double>",
    )
    q = df.select(clustering.quantize_vec(F.col("embedding")).alias("q"))
    assert q.collect()[0]["q"] == [1000000, -1000000, 250000]


def test_kmeans_recovers_blobs(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=4)
    out = clustering.kmeans_assign(df, cents).collect()
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    groups = sorted(frozenset(v) for v in by_cluster.values())
    want = sorted(
        frozenset(range(s, s + 8)) for s in (0, 8, 16)
    )
    assert groups == want


def test_sse_monotone_under_lloyd_steps(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_init(df, 3)
    prev = clustering.kmeans_sse(df, cents)
    for _ in range(3):
        cents = clustering.kmeans_update(df, cents)
        cur = clustering.kmeans_sse(df, cents)
        assert cur <= prev  # the Lloyd invariant
        prev = cur


def test_early_stop_at_lloyd_fixed_point(spark):
    """Converged centroids are a fixed point: update() reproduces them
    exactly (integer equality, no epsilon), so a huge iteration budget
    returns the same matrix as a small one on separable blobs — and the
    early stop can never change the final result."""
    df = _three_blob_df(spark)
    small = clustering.kmeans_fit(df, 3, iterations=3)
    big = clustering.kmeans_fit(df, 3, iterations=50)
    assert small == big
    assert clustering.kmeans_update(df, big) == big


def test_assignment_partitioning_invariant(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=2)
    a = clustering.kmeans_assign(df.repartition(7), cents)
    b = clustering.kmeans_assign(df.coalesce(1), cents)
    assert sorted((r["vec_id"], r["cluster"]) for r in a.collect()) == \
        sorted((r["vec_id"], r["cluster"]) for r in b.collect())


def test_hash_init_is_smallest_sample_keys(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_init(df, 2, seed=9, method="hash")
    keys = sorted(
        (r["k"], r["vec_id"])
        for r in df.select("vec_id", sample_key("vec_id", 9).alias("k")).collect()
    )
    want_ids = [vid for _, vid in keys[:2]]
    got = {tuple(c) for c in cents}
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    want = {
        tuple(math.floor(float(x) * 1e6 + 0.5) for x in rows[i])
        for i in want_ids
    }
    assert got == want
    with pytest.raises(ValueError, match="k=999"):
        clustering.kmeans_init(df, 999, method="hash")


def test_farthest_init_spreads_across_blobs(spark):
    """Farthest-first picks one seed per blob — the property that makes
    blob recovery robust where hash init can put two seeds in one blob."""
    df = _three_blob_df(spark)
    cents = clustering.kmeans_init(df, 3)

    def blob(c):
        return max(range(4), key=lambda d: c[d])

    assert sorted(blob(c) for c in cents) == [0, 1, 2]
    with pytest.raises(ValueError, match="distinct"):
        clustering.kmeans_init(df, 999)


def test_update_matches_python_mean(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_init(df, 3)
    nxt = clustering.kmeans_update(df, cents)
    # python replay: same quantize, same assign, same floor(sum/n + .5)
    rows = [
        (r["vec_id"], [math.floor(float(x) * 1e6 + 0.5) for x in r["embedding"]])
        for r in df.collect()
    ]

    def assign(q):
        best, bi = None, None
        for i, c in enumerate(cents):
            d = sum((x - y) ** 2 for x, y in zip(q, c))
            if best is None or d < best:
                best, bi = d, i
        return bi

    sums: dict[int, list[int]] = {}
    ns: dict[int, int] = {}
    for _, q in rows:
        ci = assign(q)
        if ci not in sums:
            sums[ci] = [0] * len(q)
            ns[ci] = 0
        ns[ci] += 1
        for d, v in enumerate(q):
            sums[ci][d] += v
    want = [list(c) for c in cents]
    for ci, s in sums.items():
        want[ci] = [math.floor(v / ns[ci] + 0.5) for v in s]
    assert nxt == want


def test_arrow_and_column_paths_agree_exactly(spark):
    """The Arrow (numpy int64) and Column (JVM fold) paths make the SAME
    exact-integer decisions: identical assignments and identical centroid
    trajectories from a shared init (init itself has a single Column
    implementation — the running-min farthest-first traversal)."""
    df = _three_blob_df(spark)
    ca = cc = clustering.kmeans_init(df, 3)
    for _ in range(2):
        na = clustering.kmeans_update(df, ca, method="arrow")
        nc = clustering.kmeans_update(df, cc, method="column")
        assert na == nc
        ca, cc = na, nc
    aa = sorted(
        (r["vec_id"], r["cluster"])
        for r in clustering.kmeans_assign(df, ca, method="arrow").collect()
    )
    ac = sorted(
        (r["vec_id"], r["cluster"])
        for r in clustering.kmeans_assign(df, ca, method="column").collect()
    )
    assert aa == ac


def _eight_blob_df(spark):
    """Eight blobs of uneven sizes in 8-d — enough structure that a plain
    hash init regularly lands two seeds in one blob."""
    rows = []
    i = 0
    for ci in range(8):
        center = [10.0 if d == ci else 0.0 for d in range(8)]
        for j in range(3 + (ci * 5) % 7):
            vec = [center[d] + ((i * 7 + d * 3) % 5) * 0.01 for d in range(8)]
            rows.append((i, [float(x) for x in vec]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_parallel_init_recovers_blobs(spark):
    """k-means‖ init + Lloyd recovers the 3-blob structure exactly, like
    the farthest-first path."""
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=4, init="parallel")
    out = clustering.kmeans_assign(df, cents).collect()
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    groups = sorted(frozenset(v) for v in by_cluster.values())
    assert groups == sorted(frozenset(range(s, s + 8)) for s in (0, 8, 16))


def test_parallel_init_sse_not_worse_than_hash(spark):
    """The point of oversampling init (Bahmani'12): seed spread. After the
    same Lloyd budget, k-means‖ must land at an SSE no worse than the
    one-job hash init on a multi-blob corpus."""
    df = _eight_blob_df(spark)
    par = clustering.kmeans_fit(df, 8, iterations=5, init="parallel")
    hsh = clustering.kmeans_fit(df, 8, iterations=5, init="hash")
    assert clustering.kmeans_sse(df, par) <= clustering.kmeans_sse(df, hsh)


def test_parallel_init_partitioning_invariant(spark):
    """md5 coins + exact-integer folds: the candidate set, the weights,
    and the reclustered centroids must not depend on partitioning."""
    df = _eight_blob_df(spark)
    a = clustering.kmeans_init(df.repartition(7), 4, method="parallel")
    b = clustering.kmeans_init(df.coalesce(1), 4, method="parallel")
    assert a == b


def test_parallel_trace_partition_invariant_and_conserves_mass(spark):
    """The kmp|cw gate surface: candidate (id, round, weight) rows must
    not depend on partitioning, weights sum to the corpus size (every row
    attracts to exactly one candidate), and the seed rides round -1."""
    df = _eight_blob_df(spark)
    n = df.count()
    a = clustering.kmeans_parallel_trace(df.repartition(7), 2, oversample=4,
                                         rounds=2)
    b = clustering.kmeans_parallel_trace(df.coalesce(1), 2, oversample=4,
                                         rounds=2)
    assert a == b
    assert sum(w for _, _, w in a) == n
    assert [r for _, r, _ in a][0] == -1
    assert all(r in (-1, 0, 1) for _, r, _ in a)


def test_parallel_init_insufficient_candidates(spark):
    df = _three_blob_df(spark)
    with pytest.raises(ValueError, match="candidates"):
        clustering.kmeans_init(df, 999, method="parallel")


def test_sqdist_float_and_int_paths_agree_exactly():
    """The BLAS float64 fast path is EXACT under dim*(qmax+cmax)^2 < 2^53
    (every intermediate is an integer representable in float64): both
    paths must return identical integers, pinned against pure-Python ints
    on fixtures straddling the switch bound."""
    import numpy as np

    from hyperdx_spark.pipeline.clustering import _sqdist_matrix

    rng = np.random.default_rng(7)

    def python_ints(q, c):
        return [
            [sum((int(a) - int(b)) ** 2 for a, b in zip(row, cen))
             for cen in c]
            for row in q
        ]

    # under the float bound (normalized-embedding magnitudes, ~1e6)
    q = rng.integers(-2_000_000, 2_000_000, size=(17, 8), dtype=np.int64)
    c = rng.integers(-2_000_000, 2_000_000, size=(5, 8), dtype=np.int64)
    limit = int((2**63 - 1) ** 0.5 // 8)
    assert 8 * (4_000_000) ** 2 < 2**53  # float path active
    assert _sqdist_matrix(q, c, int(np.abs(c).max()), limit).tolist() == \
        python_ints(q, c)
    # over the float bound (blob-fixture magnitudes) -> int64 path
    q2 = rng.integers(-80_000_000, 80_000_000, size=(9, 8), dtype=np.int64)
    c2 = rng.integers(-80_000_000, 80_000_000, size=(4, 8), dtype=np.int64)
    assert 8 * (160_000_000) ** 2 >= 2**53  # int64 path active
    lim2 = int(math.isqrt((2**63 - 1) // 8))
    assert _sqdist_matrix(q2, c2, int(np.abs(c2).max()), lim2).tolist() == \
        python_ints(q2, c2)


def test_drop_prototypical_matches_python_replay(spark):
    """D4 diversification (Tirumala'23): drop floor(0.25*n) rows of each
    cluster nearest its centroid, rank ties -> lowest id — replayed in
    pure Python over the same quantized integers."""
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=3)
    kept = clustering.drop_prototypical(df, cents, 0.25, dist_col="d")
    got = sorted((r["vec_id"], r["cluster"], r["d"]) for r in kept.collect())

    rows = [
        (r["vec_id"], [math.floor(float(x) * 1e6 + 0.5) for x in r["embedding"]])
        for r in df.collect()
    ]
    per: dict[int, list] = {}
    for vid, q in rows:
        ds = [sum((x - y) ** 2 for x, y in zip(q, c)) for c in cents]
        ci = min(range(len(cents)), key=lambda i: (ds[i], i))
        per.setdefault(ci, []).append((ds[ci], vid))
    want = []
    for ci, members in per.items():
        members.sort()
        n_drop = math.floor(0.25 * len(members))
        want += [(vid, ci, d) for d, vid in members[n_drop:]]
    assert got == sorted(want)
    # each 8-row blob loses exactly floor(0.25*8)=2 prototypical rows
    assert len(got) == 18


def test_drop_prototypical_partition_invariant(spark):
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=2)
    a = clustering.drop_prototypical(df.repartition(7), cents, 0.5)
    b = clustering.drop_prototypical(df.coalesce(1), cents, 0.5)
    assert sorted(r["vec_id"] for r in a.collect()) == sorted(
        r["vec_id"] for r in b.collect()
    )
    with pytest.raises(ValueError, match="drop_frac"):
        clustering.drop_prototypical(df, cents, 1.0)


def test_semantic_dedup_block_k_composition(spark):
    """The paper's cluster-then-dedup shape as one call: block_k clusters
    internally (k-means‖ init) and dedups exhaustively within clusters —
    on tight separable blobs the result equals global exhaustive SemDeDup."""
    from hyperdx_spark.pipeline import dedup

    emb = _three_blob_df(spark)
    corpus = emb.select(F.col("vec_id").alias("doc_id"),
                        F.concat(F.lit("doc"), "vec_id").alias("text"))
    blocked = dedup.semantic_dedup(
        corpus, emb, threshold=0.9, block_k=3, block_iterations=3,
    )
    globl = dedup.semantic_dedup(corpus, emb, threshold=0.9, exhaustive=True)
    kept_b = sorted(r["doc_id"] for r in blocked.collect())
    kept_g = sorted(r["doc_id"] for r in globl.collect())
    assert kept_b == kept_g == [0, 8, 16]  # one keeper per blob
    with pytest.raises(ValueError, match="mutually exclusive"):
        dedup.semantic_dedup(corpus, emb, block_k=3, block_col="x")


def test_block_mega_cluster_cap(spark):
    """max_bucket_size applies to exhaustive blocks too: a degenerate
    mega-cluster (default embedding stamped on many rows) is dropped from
    pairing instead of fanning out n² candidates (r15 review)."""
    rows = [(i, [1.0, 0.0], 0) for i in range(8)]  # mega block
    rows += [(100, [0.0, 1.0], 1), (101, [0.0, 1.0], 1)]  # healthy block
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cluster int"
    )
    got = similarity.cosine_pairs(
        df, threshold=0.5, exhaustive=True, block_col="cluster",
        max_bucket_size=3,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(100, 101)]
    uncapped = similarity.cosine_pairs(
        df, threshold=0.5, exhaustive=True, block_col="cluster",
        max_bucket_size=None,
    ).count()
    assert uncapped == 28 + 1  # 8C2 within the mega block + the pair


def test_d4_select_end_to_end(spark):
    """d4_select = SemDeDup + prototype drop sharing one clustering: on
    the 3-blob fixture with cos~1 within blobs, SemDeDup keeps one doc
    per blob; with threshold high enough that nothing near-dups, the
    prototype stage alone drops floor(0.25*8)=2 per blob."""
    from hyperdx_spark.pipeline import dedup

    emb = _three_blob_df(spark)
    corpus = emb.select(F.col("vec_id").alias("doc_id"),
                        F.concat(F.lit("doc"), "vec_id").alias("text"))
    # dedup-dominant: blobs are tight, everything within a blob pairs
    sem = dedup.d4_select(corpus, emb, block_k=3, threshold=0.9)
    assert sorted(r["doc_id"] for r in sem.collect()) == [0, 8, 16]
    release(sem)
    # diversify-dominant: threshold 1.1 -> no pairs; D4 drops 2 per blob
    div = dedup.d4_select(corpus, emb, block_k=3, threshold=1.1)
    kept = sorted(r["doc_id"] for r in div.collect())
    assert len(kept) == 18
    # replay: per blob, the 2 rows nearest the final centroid are gone
    cents = clustering.kmeans_fit(emb, 3, iterations=3, init="parallel")
    want = sorted(
        r["vec_id"]
        for r in clustering.drop_prototypical(emb, cents, 0.25).collect()
    )
    assert kept == want
    release(div)


def test_null_block_value_raises(spark):
    """exhaustive+block_col promises recall 1 within the corpus, but NULL
    never equi-joins — a NULL-blocked row would silently vanish from every
    pair. The guard raises at execution time instead (r14 advice)."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], None), (2, [1.0, 0.0], 0)],
        "vec_id long, embedding array<float>, cluster int",
    )
    with pytest.raises(Exception, match="NULL 'cluster' block value"):
        similarity.cosine_pairs(
            df, threshold=0.5, exhaustive=True, block_col="cluster"
        ).collect()


def test_assign_arrow_rejects_null_and_ragged(spark):
    """The Arrow assignment path raises a descriptive ValueError on NULL or
    mixed-dimension embeddings instead of an opaque numpy stack error
    (r14 advice; matches the overflow-guard style)."""
    cents = [[1_000_000, 0], [0, 1_000_000]]
    nulls = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL embedding at batch position"):
        clustering.kmeans_assign(nulls, cents, method="arrow").collect()
    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="dimension 3 but the centroid"):
        clustering.kmeans_assign(ragged, cents, method="arrow").collect()


def test_within_cluster_exhaustive_pairs(spark):
    """SemDeDup-paper composition: kmeans_assign + block-exhaustive pairs
    finds every within-blob pair and no cross-blob pair."""
    df = _three_blob_df(spark)
    cents = clustering.kmeans_fit(df, 3, iterations=3)
    blocked = clustering.kmeans_assign(df, cents)
    pairs = similarity.cosine_pairs(
        blocked, threshold=0.9, exhaustive=True, block_col="cluster"
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {
        (a, b)
        for s in (0, 8, 16)
        for a in range(s, s + 8)
        for b in range(a + 1, s + 8)
    }
    assert got == want  # blobs are tight: every within pair has cos ~1
    # plan: block equi-join, not a cartesian
    plan = similarity.cosine_pairs(
        blocked, threshold=0.9, exhaustive=True, block_col="cluster"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_d4_select_precomputed_centroids(spark):
    """block_centroids (r16): reusing an already-fitted matrix must give
    the IDENTICAL kept set as the internal fit (same seed/config), and a
    matrix whose row count disagrees with block_k must raise before any
    job runs."""
    from hyperdx_spark.pipeline import dedup

    emb = _three_blob_df(spark)
    corpus = emb.select(F.col("vec_id").alias("doc_id"),
                        F.concat(F.lit("doc"), "vec_id").alias("text"))
    cents = clustering.kmeans_fit(emb, 3, iterations=3, init="parallel")
    pre = dedup.d4_select(
        corpus, emb, block_k=3, threshold=0.9, block_centroids=cents
    )
    fit = dedup.d4_select(corpus, emb, block_k=3, threshold=0.9)
    got_pre = sorted(r["doc_id"] for r in pre.collect())
    got_fit = sorted(r["doc_id"] for r in fit.collect())
    assert got_pre == got_fit == [0, 8, 16]
    release(pre)
    release(fit)
    with pytest.raises(ValueError, match="block_centroids"):
        dedup.d4_select(
            corpus, emb, block_k=2, threshold=0.9, block_centroids=cents
        )
