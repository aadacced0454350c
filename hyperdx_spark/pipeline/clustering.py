"""Deterministic fixed-point k-means for embedding clustering.

The clustering stage of cluster-then-dedup curation (SemDeDup, Abbas et
al. 2023, runs k-means first and dedups WITHIN clusters; DSIR/It's-About-
Time-style mixes cluster for balance).  Standard Lloyd's algorithm with
one twist that matters for a 100 TB curation pipeline: every quantity is
**fixed-point integer** (micro-units, ``floor(x * 1e6 + 0.5)`` of the
IEEE double), so

* assignments do not depend on partitioning, reduce order, or engine —
  squared distances are EXACT integer sums;
* centroid updates round deterministically (``floor(sum / n + 0.5)`` —
  the sum is an exact integer that fits a double, and IEEE
  divide/add/floor are reproducible everywhere);
* an independent engine (the DuckDB gate oracle) can replay any number
  of iterations bit-for-bit.

Initialization is deterministic too: the k corpus rows with the smallest
engine-portable md5 sample key (`sampling.sample_key`) — a reproducible
uniform draw without replacement.

Scale shapes:

* assignment is ROW-LOCAL: centroids ride the plan as a k x dim literal
  array (driver state, the classic Spark k-means shape — k*dim ints,
  kilobytes);
* the update is one map-side-combined groupBy over (cluster, dim) keys —
  at most k*dim groups regardless of corpus size;
* the driver loop holds only the centroid matrix.

Reference: the observability reference has no clustering surface; this
extends the LLM-pipeline tier (pairs with ``dedup.semantic_dedup``'s
within-cluster mode).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hyperdx_spark.session import broadcast, persist, release, scoped

from .sampling import sample_key

#: micro-unit scaling for the fixed-point vector representation
VEC_SCALE = 1_000_000

#: driver-size bound on the realized k-means‖ candidate set (expected
#: ~1 + oversample*rounds rows, each dim int64s — 1M candidates at dim 64
#: is ~512 MB of driver matrix, the edge of comfortable for the weighted
#: recluster).  Validated up front against the EXPECTED count and again
#: against the REALIZED per-round selection before any collect, so a
#: misconfigured oversample raises a descriptive error instead of
#: silently OOMing the driver (r15 advice; the same boundary discipline
#: as max_bucket_size and the k-row collects).
MAX_INIT_CANDIDATES = 1_000_000


def quantize_vec(vec_col: Column) -> Column:
    """float vector -> exact micro-unit longs: floor(x * 1e6 + 0.5) of the
    double (deterministic in any IEEE engine).

    Contract: component magnitudes must satisfy
    ``dim * (2 * |x|_max * 1e6)² < 2^63`` — for dim 64 that is
    ``|x| <= ~190`` — or int64 squared distances wrap silently in the
    Column fold (embedding spaces are normalized far below this; the
    Arrow path additionally RAISES on violation)."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * F.lit(float(VEC_SCALE)) + F.lit(0.5))
        .cast("long"),
    )


def _sq_dist(q_col: Column, centroid: Sequence[int]) -> Column:
    """Exact integer squared distance between a quantized vector column
    and a quantized centroid literal."""
    cent = F.array(*[F.lit(int(c)).cast("long") for c in centroid])
    return F.aggregate(
        F.zip_with(q_col, cent, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _assign_expr(q_col: Column, centroids: Sequence[Sequence[int]]) -> Column:
    """Index of the nearest centroid (ties -> lowest index), row-local.

    Built as ``least(d_0..d_k)`` + a first-match CASE chain — NOT a
    running-min fold: a fold re-embeds the accumulated best inside BOTH
    branches of every step's ``when``, doubling the expression tree per
    centroid (2^k nodes — k=16 OOMed the driver building the plan).  The
    flat form is O(k² · dim) nodes; for large k use the Arrow path."""
    ds = [_sq_dist(q_col, c) for c in centroids]
    if len(ds) == 1:
        return F.lit(0).alias("cluster")
    best = F.least(*ds)
    expr = F.when(ds[0] == best, F.lit(0))
    for i in range(1, len(ds)):
        expr = expr.when(ds[i] == best, F.lit(i))
    return expr.otherwise(F.lit(0)).alias("cluster")


@scoped
def kmeans_init(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    method: str = "farthest",
    oversample: Optional[int] = None,
    rounds: int = 5,
) -> list[list[int]]:
    """Deterministic init, three methods:

    * ``"parallel"`` — k-means‖ (Bahmani et al. 2012): ``rounds``
      oversampling passes, each sampling every point independently with
      probability ``min(1, ℓ·d²(x,C)/ψ)`` (ℓ = ``oversample``, default
      2k; ψ = current cost), then one pass weighting the ~ℓ·rounds
      candidates by attraction counts and a driver-side weighted Lloyd
      down to k.  O(rounds) distributed passes REGARDLESS of k — the
      scale path for SemDeDup-realistic k ≈ 10⁴ clusters (Abbas'23 §3
      uses ~11k), where farthest-first's k−1 sequential top-1 jobs are a
      wall-clock non-starter.  Deterministic: the per-round coin is the
      engine-portable md5 uniform ``md5(id ":" seed ":kmpar:" round)``
      compared against ℓ·d²/ψ in IEEE doubles (correctly-rounded ops —
      reproducible on any engine or partitioning; ψ itself is an exact
      integer via decimal(38,0) aggregation).

    * ``"farthest"`` (default) — farthest-first traversal (Gonzalez
      1985, the deterministic k-means++ cousin): seed = the row with the
      smallest md5 sample key, then k-1 rounds each picking the row with
      the MAXIMUM exact integer distance to its nearest chosen centroid
      (ties -> lowest id).  One top-1 job per round (k small); immune to
      the all-seeds-in-one-blob local optimum plain hash init hits.
    * ``"hash"`` — the k rows with the smallest md5 sample keys (one
      job; fine when k ≪ natural cluster count).

    Both are exact-integer + portable-hash decisions: reproducible on
    any engine or partitioning."""
    base = df.select(
        F.col(id_col).alias("__id"),
        quantize_vec(F.col(vec_col)).alias("__q"),
        sample_key(id_col, seed).alias("__sk"),
    )
    if method == "hash":
        rows = base.orderBy("__sk", "__id").limit(k).collect()
        if len(rows) < k:
            raise ValueError(f"k={k} but corpus has only {len(rows)} rows")
        return [list(r["__q"]) for r in rows]
    if method == "parallel":
        return _kmeans_parallel_init(
            base, k, seed=seed, oversample=oversample, rounds=rounds
        )
    if method != "farthest":
        raise ValueError(f"unknown init method {method!r}")
    first = base.orderBy("__sk", "__id").limit(1).collect()
    if not first:
        raise ValueError(f"k={k} but corpus has only 0 rows")
    cents = [list(first[0]["__q"])]
    # running min-distance: each round scores ONLY the newest centroid and
    # folds it into the carried minimum — O(k·N·dim) total instead of the
    # naive re-score-all-chosen O(k²·N·dim) (review r14 finding). The
    # lineage grows one `least` per round; cache so the quantize + earlier
    # distances evaluate once.
    cur = persist(base.select(
        "__id", "__q", _sq_dist(F.col("__q"), cents[0]).alias("__d")
    ))
    prev = None
    for _ in range(k - 1):
        # this collect materializes cur FROM prev's cache; only then
        # is prev safe to release (releasing earlier would force
        # the whole lineage — every prior fold — to re-evaluate)
        row = cur.orderBy(F.desc("__d"), F.asc("__id")).limit(1).collect()
        if prev is not None:
            release(prev)
        nxt = list(row[0]["__q"])
        if row[0]["__d"] == 0:
            raise ValueError(
                f"k={k} but corpus has fewer than {k} distinct vectors"
            )
        cents.append(nxt)
        nxt_cur = persist(cur.select(
            "__id", "__q",
            F.least(
                F.col("__d"), _sq_dist(F.col("__q"), nxt)
            ).alias("__d"),
        ))
        prev, cur = cur, nxt_cur
    return cents


def _min_dist(q_col: Column, centroids: Sequence[Sequence[int]]) -> Column:
    ds = [_sq_dist(q_col, c) for c in centroids]
    return ds[0] if len(ds) == 1 else F.least(*ds)


def _mindist_fold_arrow(df: DataFrame, new_cents: Sequence[Sequence[int]]) -> DataFrame:
    """Fold the min squared distance to a BATCH of new centroids into an
    existing ``__d`` column (k-means‖ round update).  Row-local
    mapInPandas; the new-centroid matrix broadcasts once per executor.
    Unlike the farthest-first fold (one Column `least` per single new
    centroid) this handles ~ℓ new centroids per round in one vectorized
    pass — a Column fold over 2k exprs would not compile."""
    import numpy as np

    cent = np.asarray([list(c) for c in new_cents], dtype=np.int64)
    bc = broadcast(df.sparkSession, cent)
    cmax, dim, limit, chunk = _dist_params(cent)
    schema = df.schema

    def run(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _stack_q(pdf, dim)
            m = _chunked_sqdist_reduce(q, c, cmax, limit, chunk, "min")
            out = pdf.copy()
            out["__d"] = np.minimum(
                pdf["__d"].to_numpy(dtype=np.int64), m
            )
            yield out

    return df.mapInPandas(run, schema)


def _weighted_kmeans_driver(cand, w, k: int, *, iterations: int = 30) -> list[list[int]]:
    """Driver-side weighted Lloyd over the k-means‖ candidate set
    (Bahmani'12 step 8: "recluster the weighted points in C into k
    clusters").  m ≈ ℓ·rounds candidates — driver-sized by construction.

    Deterministic end to end: weighted farthest-first seeding (argmax of
    w·d², ties → lowest candidate index; zero-weight-but-distinct
    candidates fall back to plain farthest), then Lloyd with argmin ties →
    lowest index and the exact integer weighted mean
    ``floor(Σw·v / Σw + 1/2)`` computed in Python-int (object-dtype)
    arithmetic — w·v can exceed int64 at corpus-scale weights."""
    import numpy as np

    m, dim = cand.shape
    if m < k:
        raise ValueError(
            f"k-means‖ produced only {m} candidates for k={k} — "
            "increase rounds/oversample (or the corpus has fewer than "
            "k distinct vectors)"
        )
    cmax = int(np.abs(cand).max()) if cand.size else 0
    limit = int(math.isqrt((2**63 - 1) // max(dim, 1)))
    start = int(np.argmax(w))
    centers = [start]
    d = _sqdist_matrix(cand, cand[[start]], cmax, limit)[:, 0]
    for _ in range(k - 1):
        score = w.astype(np.float64) * d.astype(np.float64)
        nxt = int(np.argmax(score))
        if score[nxt] == 0.0:
            nxt = int(np.argmax(d))
            if d[nxt] == 0:
                raise ValueError(
                    f"fewer than k={k} distinct k-means‖ candidates "
                    f"({m} total) — increase rounds/oversample"
                )
        centers.append(nxt)
        d = np.minimum(
            d, _sqdist_matrix(cand, cand[[nxt]], cmax, limit)[:, 0]
        )
    cent = cand[centers].copy()
    chunk = _dist_params(cent)[3]
    for _ in range(iterations):
        assign = _chunked_sqdist_reduce(cand, cent, cmax, limit, chunk,
                                        "argmin")
        nxt_cent = cent.copy()
        for ci in range(k):
            idx = np.nonzero(assign == ci)[0]
            # object-dtype sum, same discipline as s_vec below: an int64
            # Σw would wrap past 2^63 at extreme weights while the w·v
            # products are already exact — keep the whole mean exact
            wt = int(w[idx].astype(object).sum())
            if wt == 0:
                continue  # empty/weightless cluster keeps its centroid
            s_vec = (
                w[idx].astype(object)[:, None] * cand[idx].astype(object)
            ).sum(axis=0)
            nxt_cent[ci] = np.asarray(
                [(2 * int(s) + wt) // (2 * wt) for s in s_vec],
                dtype=np.int64,
            )
        if np.array_equal(nxt_cent, cent):
            break  # Lloyd fixed point
        cent = nxt_cent
    return [[int(x) for x in row] for row in cent]


@scoped
def _kmeans_parallel_sample(
    base: DataFrame,
    k: int,
    *,
    seed: int,
    oversample: Optional[int],
    rounds: int,
):
    """The distributed phases of k-means‖ over the prepared ``(__id, __q,
    __sk)`` frame: oversampling rounds + attraction weighting.  Returns
    ``(meta, w)`` with ``meta = [(id, round, quantized_vec), ...]`` in
    deterministic order (seed tagged round −1, then each round's
    selections ordered by id) and ``w`` the int64 attraction weights
    aligned to ``meta``.

    1. seed = smallest-md5-key row;
    2. each round: ψ = Σd²(x, C) (exact integer via decimal(38,0)), then
       select every row whose portable md5 uniform satisfies
       ``u < ℓ·d²/ψ`` — evaluated as the IEEE-double comparison
       ``h·ψ < (ℓ·d²)·16^15`` (correctly-rounded ops: reproducible on any
       engine/partitioning — the ``kmp|cand`` gate part replays it in
       DuckDB); fold the new candidates into the carried min-distance
       with one Arrow pass;
    3. weight each candidate by its attraction count — argmin over the
       candidate matrix, ties → lowest (round, id) position (one
       distributed assignment pass; the ``kmp|w`` gate part).

    Expected candidate count ≈ 1 + ℓ·rounds (driver-sized)."""
    import numpy as np

    from .sampling import _KEY_DIGITS, _KEY_SPACE

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    ell = 2 * k if oversample is None else oversample
    if ell < 1:
        raise ValueError("oversample must be >= 1")
    if 1 + ell * rounds > MAX_INIT_CANDIDATES:
        raise ValueError(
            f"k-means‖ expects ~1 + oversample*rounds = {1 + ell * rounds} "
            f"candidates, above the driver-size bound "
            f"MAX_INIT_CANDIDATES={MAX_INIT_CANDIDATES} — lower oversample "
            f"(default 2k) or rounds; the driver must hold the candidate "
            "matrix for the weighted recluster"
        )
    first = base.orderBy("__sk", "__id").limit(1).collect()
    if not first:
        raise ValueError(f"k={k} but corpus has only 0 rows")
    meta: list[tuple] = [(first[0]["__id"], -1, list(first[0]["__q"]))]
    cur = persist(base.select(
        "__id", "__q", _sq_dist(F.col("__q"), meta[0][2]).alias("__d")
    ))
    prev = None
    for r in range(rounds):
        # this agg materializes cur FROM prev's cache (same discipline
        # as the farthest-first loop); only then is prev releasable
        psi_row = cur.agg(
            F.sum(F.col("__d").cast("decimal(38,0)")).alias("psi")
        ).collect()
        if prev is not None:
            release(prev)
        psi = int(psi_row[0]["psi"] or 0)
        if psi == 0:
            break  # every row coincides with a candidate
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("__id").cast("string"),
                        F.lit(str(seed)),
                        F.lit("kmpar"),
                        F.lit(str(r)),
                    )
                ),
                1,
                _KEY_DIGITS,
            ),
            16,
            10,
        ).cast("long")
        sel = (h.cast("double") * F.lit(float(psi))) < (
            (F.lit(float(ell)) * F.col("__d").cast("double"))
            * F.lit(float(_KEY_SPACE))
        )
        # orderBy before collect: candidate order must not depend on
        # partitioning (it seeds the deterministic driver recluster).
        # limit(remaining+1) bounds the transfer; we RAISE (never
        # truncate — a truncated candidate set would silently change
        # the deterministic init) if the realized selection overshoots
        # the driver bound, e.g. a pathological distance distribution
        # where ℓ·d²/ψ ≥ 1 for huge row counts.
        remaining = MAX_INIT_CANDIDATES - len(meta)
        rows = (
            cur.where(sel)
            .select("__id", "__q")
            .orderBy("__id")
            .limit(remaining + 1)
            .collect()
        )
        if len(rows) > remaining:
            raise ValueError(
                f"k-means‖ round {r} realized more than {remaining} "
                f"candidate selections (driver bound "
                f"MAX_INIT_CANDIDATES={MAX_INIT_CANDIDATES}, "
                f"{len(meta)} already held) — lower oversample/rounds"
            )
        new = [list(x["__q"]) for x in rows]
        if new:
            meta.extend((x["__id"], r, list(x["__q"])) for x in rows)
            if r < rounds - 1:
                nxt = persist(_mindist_fold_arrow(cur, new))
                prev, cur = cur, nxt

    cand = np.asarray([m[2] for m in meta], dtype=np.int64)
    bc = broadcast(base.sparkSession, cand)
    cmax, dim, limit, chunk = _dist_params(cand)

    def weigh(batches):
        import pandas as pd

        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _stack_q(pdf, dim)
            yield pd.DataFrame({
                "cand": _chunked_sqdist_reduce(
                    q, c, cmax, limit, chunk, "argmin"
                )
            })

    counts = (
        base.select("__q")
        .mapInPandas(weigh, "cand int")
        .groupBy("cand")
        .count()
        .collect()
    )
    w = np.zeros(len(meta), dtype=np.int64)
    for row in counts:
        w[row["cand"]] = row["count"]
    return meta, w


def _kmeans_parallel_init(
    base: DataFrame,
    k: int,
    *,
    seed: int,
    oversample: Optional[int],
    rounds: int,
) -> list[list[int]]:
    """k-means‖ (Bahmani et al. 2012): distributed sample + weight
    (:func:`_kmeans_parallel_sample`), then a driver-side weighted Lloyd
    reclusters the candidates down to k."""
    import numpy as np

    meta, w = _kmeans_parallel_sample(
        base, k, seed=seed, oversample=oversample, rounds=rounds
    )
    cand = np.asarray([m[2] for m in meta], dtype=np.int64)
    return _weighted_kmeans_driver(cand, w, k)


def kmeans_parallel_trace(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    oversample: Optional[int] = None,
    rounds: int = 5,
) -> list[tuple]:
    """Audit surface for the k-means‖ distributed phases: returns
    ``[(id, round, weight), ...]`` in deterministic candidate order (seed
    row tagged round −1).  Every value is replayable by an independent
    engine — md5 coins, exact-integer ψ/distances, IEEE-double selection
    compare, argmin weighting with (round, id) tie order — which is what
    the ``kmp|*`` gate parts of ``q_ann_multimodal`` check against
    DuckDB."""
    base = df.select(
        F.col(id_col).alias("__id"),
        quantize_vec(F.col(vec_col)).alias("__q"),
        sample_key(id_col, seed).alias("__sk"),
    )
    meta, w = _kmeans_parallel_sample(
        base, k, seed=seed, oversample=oversample, rounds=rounds
    )
    return [(m[0], m[1], int(w[i])) for i, m in enumerate(meta)]


def _stack_q(pdf, dim: int):
    """Validate + stack a batch's quantized vectors into an (n, dim) int64
    matrix.  A NULL embedding (quantize of NULL is NULL) or a ragged
    dimension raises a descriptive ValueError in the overflow-guard style
    instead of an opaque numpy stack error (r14 advice)."""
    import numpy as np

    for pos, v in enumerate(pdf["__q"]):
        if v is None:
            raise ValueError(
                f"NULL embedding at batch position {pos} — k-means "
                "assignment needs a vector in every row; filter or "
                "impute NULLs upstream"
            )
        if len(v) != dim:
            raise ValueError(
                f"embedding at batch position {pos} has dimension "
                f"{len(v)} but the centroid matrix is dim {dim} — "
                "mixed-dimension corpus"
            )
    return np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])


def _sqdist_matrix(q, cent, cmax: int, limit: int):
    """Exact pairwise squared distances, (n, m) for (n, dim) x (m, dim),
    via the decomposed form ||q||² - 2 q·Cᵀ + ||C||².

    Identical integers to the naive (q-c)² broadcast (every term and every
    partial sum is bounded by dim·(qmax+cmax)² < 2^63 under the guard —
    2ab ≤ (a+b)² and a²+b² ≤ (a+b)²), but it materializes only the (n, m)
    result instead of the naive form's (n, m, dim) intermediate — the
    difference between "works at k=3" and "works with 10⁵ k-means‖
    candidates" (the naive 3-D array at n=10⁴, m=10⁵, dim=64 is 500 GB).

    Fast path (r15): when ``dim·(qmax+cmax)² < 2^53`` — true for
    normalized embedding spaces, where micro-unit components are ≤ ~2e6 —
    every product, every partial sum, and the result are integers exactly
    representable in float64, so float64 arithmetic is EXACT regardless
    of summation order (each op's true result is an integer < 2^53 →
    representable → correctly rounded = itself).  That makes a BLAS
    float64 matmul bit-identical to the int64 loop while being 10-100×
    faster — the lever that keeps the k-means‖ driver recluster at
    SemDeDup-realistic k≈10⁴ (m·k·dim ≈ 6e13 ops) in BLAS minutes instead
    of integer-loop hours.  Outside the bound the int64 path (exact to
    2^63) runs instead; both are pytest-pinned equal on straddling
    fixtures."""
    import numpy as np

    qmax = int(np.abs(q).max()) if q.size else 0
    if qmax + cmax > limit:
        raise ValueError(
            f"quantized magnitude {qmax}+{cmax} exceeds the int64 "
            f"distance bound {limit} for dim {cent.shape[1]} — see "
            "quantize_vec's contract"
        )
    dim = cent.shape[1] if cent.size else 1
    if dim * (qmax + cmax) ** 2 < 2**53:
        qf = q.astype(np.float64)
        cf = cent.astype(np.float64)
        d = (
            (qf * qf).sum(axis=1)[:, None]
            - 2.0 * (qf @ cf.T)
            + (cf * cf).sum(axis=1)[None, :]
        )
        return d.astype(np.int64)
    qq = (q * q).sum(axis=1)
    cc = (cent * cent).sum(axis=1)
    return qq[:, None] - 2 * (q @ cent.T) + cc[None, :]


def _dist_params(cent) -> tuple[int, int, int, int]:
    """(cmax, dim, limit, chunk) for a centroid/candidate matrix: the
    overflow-guard inputs plus a row-chunk size bounding the (rows, k)
    distance block at ~32 MB of int64 cells."""
    import numpy as np

    cmax = int(np.abs(cent).max()) if cent.size else 0
    dim = cent.shape[1] if cent.size else 1
    limit = int(math.isqrt((2**63 - 1) // max(dim, 1)))
    chunk = max(1, (1 << 22) // max(cent.shape[0], 1))
    return cmax, dim, limit, chunk


def _chunked_sqdist_reduce(q, cent, cmax: int, limit: int, chunk: int,
                           reduce: str):
    """Row-chunked pairwise distances reduced per row — the ONE loop every
    Arrow/driver distance consumer shares (argmin assignment, min-distance
    fold): ``"argmin"`` → int32 nearest indices (ties → lowest index),
    ``"min"`` → int64 minima, ``"argmin_min"`` → (indices, minima) from a
    SINGLE distance pass (the D4 shape — computing them separately would
    double the dominant k×N·dim cost)."""
    import numpy as np

    n = q.shape[0]
    if reduce == "argmin_min":
        idx = np.empty(n, dtype=np.int32)
        mn = np.empty(n, dtype=np.int64)
        for s in range(0, n, chunk):
            d = _sqdist_matrix(q[s:s + chunk], cent, cmax, limit)
            i = d.argmin(axis=1)
            idx[s:s + chunk] = i.astype(np.int32)
            mn[s:s + chunk] = d[np.arange(d.shape[0]), i]
        return idx, mn
    out = np.empty(n, dtype=np.int32 if reduce == "argmin" else np.int64)
    for s in range(0, n, chunk):
        d = _sqdist_matrix(q[s:s + chunk], cent, cmax, limit)
        out[s:s + chunk] = (
            d.argmin(axis=1).astype(np.int32) if reduce == "argmin"
            else d.min(axis=1)
        )
    return out


@scoped
def _assign_arrow(
    df: DataFrame,
    centroids: Sequence[Sequence[int]],
    *,
    vec_col: str,
    keep_cols: Sequence[str],
    cluster_col: str = "cluster",
    dist_col: Optional[str] = None,
) -> DataFrame:
    """Arrow-batched assignment: numpy argmin over the k x dim int64
    centroid matrix per batch — the SAME exact-integer decision as the
    Column fold (int64 arithmetic, ties -> lowest index via argmin), at
    vectorized speed.  Row-local (mapInPandas), no shuffle; the centroid
    matrix ships once per executor as a Spark broadcast (k x dim longs —
    at k-means‖-candidate scale that is tens of MB, which must not ride
    every task closure).  ``dist_col`` additionally emits the exact
    integer squared distance to the assigned centroid (the D4
    prototypicality signal)."""
    import numpy as np

    cent = np.asarray([list(c) for c in centroids], dtype=np.int64)
    bc = broadcast(df.sparkSession, cent)
    cols = list(keep_cols)
    fields = [
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in cols
    ]
    fields += ["__q array<bigint>", f"{cluster_col} int"]
    if dist_col is not None:
        fields.append(f"{dist_col} bigint")
    out_schema = ", ".join(fields)
    src = df.select(*cols, quantize_vec(F.col(vec_col)).alias("__q"))

    # per-batch overflow guard: dim * (qmax + cmax)^2 must fit int64 —
    # wrapping would silently produce garbage assignments (the DuckDB
    # replay would error instead, so engine and oracle would even
    # disagree in failure mode)
    cmax, dim, limit, chunk = _dist_params(cent)

    def run(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _stack_q(pdf, dim)
            res = pdf[cols + ["__q"]].copy()
            if dist_col is not None:
                idx, mn = _chunked_sqdist_reduce(
                    q, c, cmax, limit, chunk, "argmin_min"
                )
                res[cluster_col] = idx
                res[dist_col] = mn
            else:
                res[cluster_col] = _chunked_sqdist_reduce(
                    q, c, cmax, limit, chunk, "argmin"
                )
            yield res

    return src.mapInPandas(run, out_schema)


@scoped
def kmeans_update(
    df: DataFrame,
    centroids: Sequence[Sequence[int]],
    *,
    vec_col: str = "embedding",
    method: str = "arrow",
) -> list[list[int]]:
    """One Lloyd step: assign (row-local) then per-cluster deterministic
    integer mean ``floor(sum / n + 0.5)``.  The shuffle carries at most
    k x dim (cluster, dim) partial sums; empty clusters keep their old
    centroid (standard Lloyd's convention).

    ``method``: ``"arrow"`` (default) assigns via the vectorized numpy
    batch (identical exact-integer decisions); ``"column"`` keeps the
    pure-JVM Column fold — fine for small k, but interpreted HOFs price
    each distance at ~10µs/row, so large k x N runs want Arrow (the
    quality.py scoring precedent)."""
    if method == "arrow":
        assigned = _assign_arrow(
            df, centroids, vec_col=vec_col, keep_cols=[]
        ).select(F.col("cluster"), F.posexplode("__q").alias("i", "v"))
    else:
        q = df.select(quantize_vec(F.col(vec_col)).alias("__q"))
        assigned = q.select(
            _assign_expr(F.col("__q"), centroids),
            F.posexplode("__q").alias("i", "v"),
        )
    sums = (
        assigned.groupBy("cluster", "i")
        # decimal(38,0), not int64: Spark's long sum silently wraps past
        # 2^63 while the DuckDB oracle sums in HUGEINT — at corpus-scale
        # component-magnitude x cluster-size products (~1e19, reachable
        # for unnormalized vectors) engine and oracle would diverge.  The
        # k-means‖ ψ aggregation uses the same cast for the same reason
        # (r15 advice).  decimal(38,0) holds |Σv| up to 1e38; the
        # quantize_vec magnitude bound (< ~3.4e8 per component at dim 64)
        # times any realistic row count stays far inside.
        .agg(
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    dim = len(centroids[0])
    out = [list(c) for c in centroids]
    per_cluster: dict[int, dict[int, tuple[int, int]]] = {}
    for r in sums:
        # int(), not Decimal: Decimal.__floordiv__ truncates toward zero,
        # Python int // floors — they disagree on negative numerators,
        # exactly the case the (2s + n) // (2n) form exists to get right
        per_cluster.setdefault(r["cluster"], {})[r["i"]] = (int(r["s"]), r["n"])
    for ci, dims in per_cluster.items():
        out[ci] = [
            # exact integer mean: floor(s/n + 1/2) == (2s + n) // (2n) for
            # any integer s and n > 0 (Python // is floor division, so
            # negatives round correctly) — exact at any magnitude the
            # decimal(38,0) sum can carry (1e38).  A
            # double-division replay (floor(sum::DOUBLE/n + 0.5)) is NOT
            # equivalent: the division's rounding can cross the .5 boundary
            # whenever 1/(2n) falls below half an ulp of s/n (e.g.
            # s=2^53-1, n=3 — review-found counterexample), so the gate
            # oracle replays this SAME integer form (r14 advice + r15
            # review fix).
            (2 * dims[i][0] + dims[i][1]) // (2 * dims[i][1])
            for i in range(dim)
        ]
    return out


def kmeans_fit(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    iterations: int = 5,
    method: str = "arrow",
    init: str = "farthest",
    init_oversample: Optional[int] = None,
    init_rounds: int = 5,
) -> list[list[int]]:
    """Lloyd's k-means: deterministic init + up to ``iterations`` update
    steps, stopping early at the Lloyd fixed point (an unchanged centroid
    matrix reproduces itself forever — exact integers make the equality
    test trivial, no epsilon).  Returns the quantized centroid matrix
    (driver state, k x dim ints).  ``method``: "arrow" (vectorized numpy
    distances; default) or "column" (pure-JVM Column folds) — identical
    exact-integer results.  ``init``: "farthest" (default; k−1 sequential
    top-1 jobs — moderate k), "parallel" (k-means‖ — O(init_rounds)
    passes, the large-k path), or "hash"."""
    cents = kmeans_init(
        df, k, id_col=id_col, vec_col=vec_col, seed=seed, method=init,
        oversample=init_oversample, rounds=init_rounds,
    )
    for _ in range(iterations):
        nxt = kmeans_update(df, cents, vec_col=vec_col, method=method)
        if nxt == cents:
            break
        cents = nxt
    return cents


@scoped
def kmeans_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[int]],
    *,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    method: str = "column",
    dist_col: Optional[str] = None,
) -> DataFrame:
    """Attach the nearest-centroid index as ``cluster_col`` (row-local —
    no shuffle; safe to chain into a within-cluster pair join).
    ``method="arrow"`` routes through the vectorized numpy batch (same
    exact-integer decisions) — use it for large k x N.  ``dist_col``
    additionally attaches the exact integer squared distance to the
    assigned centroid; the Arrow path computes cluster+distance from ONE
    distance pass, while the Column path re-evaluates the k interpreted
    distance folds for each expression (HOFs do no CSE — prefer Arrow
    whenever the distance is needed)."""
    if method == "arrow":
        return _assign_arrow(
            df, centroids, vec_col=vec_col,
            keep_cols=list(df.columns), cluster_col=cluster_col,
            dist_col=dist_col,
        ).drop("__q")
    if dist_col is not None:
        # bind the quantized array once so at least the quantize pass is
        # shared between the CASE chain and the least() fold
        return (
            df.withColumn("__qa", quantize_vec(F.col(vec_col)))
            .withColumn(cluster_col, _assign_expr(F.col("__qa"), centroids))
            .withColumn(dist_col, _min_dist(F.col("__qa"), centroids))
            .drop("__qa")
        )
    return df.withColumn(
        cluster_col,
        _assign_expr(quantize_vec(F.col(vec_col)), centroids),
    )


@scoped
def drop_prototypical(
    df: DataFrame,
    centroids: Sequence[Sequence[int]],
    drop_frac: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    method: str = "arrow",
    dist_col: Optional[str] = None,
) -> DataFrame:
    """D4 diversification (Tirumala et al. 2023, "D4: Improving LLM
    Pretraining via Document De-Duplication and Diversification"): after
    SemDeDup, drop the ``drop_frac`` fraction of each k-means cluster
    NEAREST its centroid — the most prototypical points sit in over-dense
    regions of embedding space, and removing them upweights the diverse
    tail (the paper's SSL-prototypes stage).

    Deterministic + engine-replayable: exact integer squared distances,
    within-cluster rank ordered (distance ASC, id ASC), and
    ``n_drop = floor(drop_frac * cluster_size)`` in IEEE doubles (one
    multiply + floor — identical in any engine); the ``d4|keep`` gate
    part of ``q_ann_multimodal`` replays the whole rule in DuckDB.
    ``dist_col`` keeps the prototypicality distance on the output.

    Plan shape: row-local assignment (centroids broadcast), then ONE
    window shuffle partitioned by cluster — the heaviest partition is the
    largest cluster, the same bound as the SemDeDup within-cluster pair
    stage."""
    if not (0.0 <= drop_frac < 1.0):
        # validate BEFORE kmeans_assign eagerly broadcasts the centroid
        # matrix (tens of MB at candidate scale) — a bad fraction must
        # cost nothing (r15 review)
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    assigned = kmeans_assign(
        df, centroids, vec_col=vec_col, cluster_col=cluster_col,
        method=method, dist_col="__d4d",
    )
    out = prototype_filter(
        assigned, drop_frac,
        id_col=id_col, cluster_col=cluster_col, dist_col="__d4d",
    )
    if dist_col is None:
        return out.drop("__d4d")
    return out.withColumnRenamed("__d4d", dist_col)


def prototype_filter(
    assigned: DataFrame,
    drop_frac: float,
    *,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    dist_col: str = "__d4d",
    invert: bool = False,
) -> DataFrame:
    """The window half of D4 over an ALREADY-ASSIGNED frame carrying
    ``cluster_col`` + ``dist_col``: drop the ``floor(drop_frac·n)`` rows
    of each cluster nearest the centroid, rank ties → lowest id.  Lets a
    composition that already paid the assignment pass (``d4_select``
    shares one clustering between SemDeDup and prototypes) skip paying
    it twice.  ``invert=True`` returns the DROPPED rows instead — one
    window pass either way, so a composition needing the drop set never
    anti-joins the (much larger) keep set to recover it."""
    if not (0.0 <= drop_frac < 1.0):
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    w = Window.partitionBy(cluster_col).orderBy(
        F.asc(dist_col), F.asc(id_col)
    )
    wn = Window.partitionBy(cluster_col)
    keep = F.col("__d4r") > F.floor(
        F.lit(float(drop_frac)) * F.col("__d4n").cast("double")
    )
    return (
        assigned.withColumn("__d4r", F.row_number().over(w))
        .withColumn("__d4n", F.count("*").over(wn))
        .where(~keep if invert else keep)
        .drop("__d4r", "__d4n")
    )


def kmeans_sse(
    df: DataFrame,
    centroids: Sequence[Sequence[int]],
    *,
    vec_col: str = "embedding",
) -> int:
    """Total within-cluster sum of squared (quantized) distances — the
    Lloyd objective, exact integer; monotonically non-increasing across
    ``kmeans_update`` steps (the classic invariant, pytest-pinned)."""
    best = _min_dist(quantize_vec(F.col(vec_col)), centroids)
    row = df.select(F.sum(best).alias("sse")).collect()[0]
    return int(row["sse"] or 0)
