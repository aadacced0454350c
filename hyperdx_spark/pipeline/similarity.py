"""Similarity search over embedding columns (array<float>).

Four tiers:
* ``cosine_topk``      — brute-force exact top-k. The dot product is a single
                         JVM-side ``aggregate(zip_with(...))`` expression; the
                         per-query top-k is a window rank. Baseline + oracle.
* ``cosine_topk_lsh``  — random-hyperplane LSH: queries only meet candidates
                         sharing a signature bucket (multi-probe via bands).
                         The scale path: candidate set shrinks by the bucket
                         fan-out instead of |corpus|.
* ``cosine_topk_ivf``  — coarse-quantizer lists, probe nprobe of nlist
                         (+ a persisted, centroid-partitioned index variant).
* ``cosine_topk_pq``   — product quantization: m-byte codes replace the
                         vector in the candidate scan (ADC table lookups),
                         exact-cosine re-rank of the top `refine`. The
                         memory/compute tier for billion-vector corpora.

Hyperplanes are generated deterministically from a seed via a splitmix-style
integer mix of (seed, plane, dim) — reproducible across runs and engines, no
driver-side randomness shipped to executors.
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hyperdx_spark.io import ensure_min_parallelism
from hyperdx_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    """Element-wise dot product of two array<numeric> columns (JVM-side)."""
    # cast each element BEFORE multiplying: float32 multiply then widen gives
    # different bits than double multiply (matters for oracle determinism)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _list_parts(arr):
    """(offsets int64[n+1], values Array, top_null bool[n], inner_null
    bool[len(values)]) of an Arrow list/large_list array."""
    import numpy as np
    import pyarrow.compute as pc

    offs = arr.offsets.to_numpy().astype(np.int64)
    vals = arr.values
    top_null = np.asarray(pc.is_null(arr))
    inner_null = (
        np.asarray(pc.is_null(vals))
        if vals.null_count
        else np.zeros(len(vals), dtype=bool)
    )
    return offs, vals, top_null, inner_null


def score_pairs_arrow(
    pairs: DataFrame,
    *,
    a_col: str = "__va",
    b_col: str = "__vb",
    out_col: str = "cos",
) -> DataFrame:
    """Append ``out_col`` = :func:`cosine`(a_col, b_col) to a pair frame,
    computed in an Arrow worker with the SAME IEEE fold order — the
    drop-in fast twin of ``withColumn(out, cosine(a, b))``.

    Why: :func:`dot`/:func:`norm` are interpreted higher-order
    expressions — ~15 µs per 64-dim pair, which made exhaustive / SemDeDup
    within-block pair scoring CPU-bound (~30 s per 2M pairs at sf0.1,
    r16).  The worker reproduces the fold ``((0.0 + p₀) + p₁) + …``
    bit-for-bit by accumulating COLUMN BY COLUMN over the stacked batch
    (each step an elementwise float64 add — the identical op sequence per
    row, vectorized across rows), casts elements to float64 BEFORE
    multiplying exactly like ``dot``, and divides by the sqrt-norm
    product in the same order — ~3·dim numpy ops per batch instead of
    ~4·dim interpreted steps per row.

    Exact semantics parity (pytest-fuzzed against the Column form):

    * NULL vector / NULL element / ragged pair → NULL (zip_with padding
      and null propagation);
    * zero (or underflow-zero) norm product → NULL (Spark's double
      division returns NULL for a 0.0 divisor under ANSI-off);
    * NaN elements → NaN cos (a VALUE: it passes ``cos >= t`` filters,
      because Spark orders NaN greatest) — this is why the worker is
      ``mapInArrow``, not a pandas UDF: pandas→Arrow conversion folds NaN
      results into NULL, silently flipping that filter.

    The input frame must contain exactly the pair ids plus ``a_col`` /
    ``b_col``; all non-vector columns pass through untouched.
    """
    import pyarrow as pa

    out_fields = [f for f in pairs.schema.fields if f.name not in (a_col, b_col)]
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(out_fields + [StructField(out_col, DoubleType())])
    pass_names = [f.name for f in out_fields]

    def _batches(it):
        import numpy as np

        for batch in it:
            n = batch.num_rows
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            a_off, a_vals, a_null, a_inull = _list_parts(
                cols[a_col].combine_chunks()
                if isinstance(cols[a_col], pa.ChunkedArray)
                else cols[a_col]
            )
            b_off, b_vals, b_null, b_inull = _list_parts(
                cols[b_col].combine_chunks()
                if isinstance(cols[b_col], pa.ChunkedArray)
                else cols[b_col]
            )
            a_np = a_vals.to_numpy(zero_copy_only=False).astype(np.float64)
            b_np = b_vals.to_numpy(zero_copy_only=False).astype(np.float64)
            a_len = a_off[1:] - a_off[:-1]
            b_len = b_off[1:] - b_off[:-1]
            out = np.zeros(n)
            isnull = a_null | b_null | (a_len != b_len)
            # rows whose span holds a true inner NULL are NULL (zip_with
            # null propagation) — distinct from NaN values, which stay
            for off, inull in ((a_off, a_inull), (b_off, b_inull)):
                if inull.any():
                    cs = np.concatenate(([0], np.cumsum(inull)))
                    isnull |= (cs[off[1:]] - cs[off[:-1]]) > 0
            live = ~isnull
            groups: dict = {}
            for i in np.flatnonzero(live):
                groups.setdefault(int(a_len[i]), []).append(i)
            for dim_, idxs in groups.items():
                ix = np.asarray(idxs)
                if dim_ == 0:
                    isnull[ix] = True  # dot 0.0 / (0.0*0.0) -> NULL divisor
                    continue
                gather = a_off[ix, None] + np.arange(dim_)[None, :]
                A = a_np[gather]
                B = b_np[b_off[ix, None] + np.arange(dim_)[None, :]]
                P = A * B
                QA = A * A
                QB = B * B
                d = np.zeros(len(ix))
                na = np.zeros(len(ix))
                nb = np.zeros(len(ix))
                for j in range(dim_):  # left-to-right fold, same as dot()
                    d = d + P[:, j]
                    na = na + QA[:, j]
                    nb = nb + QB[:, j]
                denom = np.sqrt(na) * np.sqrt(nb)
                zero_div = denom == 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    c = d / denom
                out[ix] = c
                if zero_div.any():
                    isnull[ix[zero_div]] = True
            cos_arr = pa.array(out, type=pa.float64(), mask=isnull)
            yield pa.RecordBatch.from_arrays(
                [cols[nm] for nm in pass_names] + [cos_arr],
                names=pass_names + [out_col],
            )

    return pairs.mapInArrow(_batches, out_schema)


# --- exhaustive all-pairs via corpus broadcast (r17) ------------------------
# The r16 exhaustive path enumerated pairs through a BroadcastNestedLoopJoin
# and shipped BOTH vectors per pair row across the Arrow boundary: at N
# vectors of dim d that is O(N²·d) bytes serialized (2 GB at N=2000, d=64 —
# each vector crosses ~N times), and the whole stage was JVM threads waiting
# on Python workers decoding pair rows. Guide §2.3/§8: when the decision
# (cos ≥ t) needs only a lightweight proxy per pair, move the heavy bytes
# ONCE — broadcast the corpus matrix (O(N·d)), stream each vector row a
# single time, and compute all-pairs inside the worker with the IDENTICAL
# IEEE fold as score_pairs_arrow, emitting only survivors. The exhaustive
# mode is documented as the small-corpus / gate configuration (NOT the
# 100 TB path — LSH banding / block mode are), so a bounded driver collect
# here is the same cost class as the BroadcastExchange the old plan already
# paid; the caps below keep it explicit.

#: eligibility caps for the broadcast all-pairs path: beyond either, fall
#: back to the legacy pair-row plan (which is equally O(N²) compute but
#: never holds the corpus in one piece)
_ALLPAIRS_MAX_ROWS = 131_072
_ALLPAIRS_MAX_ELEMS = 16_777_216  # ~128 MB of float64 payload


class _BroadcastHandle:
    """``unpersist()`` adapter so a py4j Broadcast rides the
    ``_register_cached``/``release_cached`` lifecycle like persisted
    frames do."""

    def __init__(self, bc):
        self._bc = bc

    def unpersist(self) -> None:
        try:
            self._bc.unpersist()
        except Exception:  # pragma: no cover - already destroyed / Connect
            pass


def _allpairs_corpus_parts(rows):
    """Driver-side prep: per-dim (ids, matrix, sqrt-norm) for the broadcast.

    Rows whose pair could NEVER be emitted are dropped here: NULL id (the
    legacy join's ``a.id < b.id`` is NULL), NULL vector / inner-NULL
    element (cos is NULL), zero-length vector (0.0 divisor → NULL).
    NaN ELEMENTS stay — a NaN cos is a VALUE that passes ``cos >= t``
    (Spark orders NaN greatest), exactly as in score_pairs_arrow.
    Norms fold left-to-right per vector — the same op sequence as
    ``norm()``/score_pairs_arrow, so emitted cos doubles are bit-identical.
    """
    import numpy as np

    by_dim: dict = {}
    for r in rows:
        i, v = r[0], r[1]
        if i is None or v is None:
            continue
        if len(v) == 0 or any(x is None for x in v):
            continue
        ids, vecs = by_dim.setdefault(len(v), ([], []))
        ids.append(i)
        vecs.append(v)
    parts = {}
    for dim_, (ids, vecs) in by_dim.items():
        B = np.asarray(vecs, dtype=np.float64)
        QB = B * B
        nb = np.zeros(len(ids))
        for j in range(dim_):  # left-to-right fold, same as norm()
            nb = nb + QB[:, j]
        parts[dim_] = (np.asarray(ids), B, np.sqrt(nb))
    return parts


def _allpairs_broadcast(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> Optional[DataFrame]:
    """(id_a, id_b, cos) for every row pair with ``id_a < id_b`` and
    ``cos >= threshold`` (NaN passes, NULL never emits) — bit-identical to
    the legacy candidate-join + score_pairs_arrow + filter composition,
    pytest-pinned by tests/test_allpairs_broadcast.py. Returns None when
    the corpus exceeds the broadcast caps or the id type is unsupported
    (caller falls back to the legacy plan). Runs two bounded eager jobs at
    construction (size probe + corpus collect), like dedup_groups'
    convergence jobs."""
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StringType,
    )

    if not isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType, StringType),
    ):
        return None
    ids = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    probe = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.array_size("__v"), F.lit(0))).alias("elems"),
        F.count("id").alias("n_ids"),
        F.count_distinct("id").alias("n_distinct"),
    ).collect()[0]
    if (
        probe["n"] > _ALLPAIRS_MAX_ROWS
        or (probe["elems"] or 0) > _ALLPAIRS_MAX_ELEMS
        # duplicate ids: the legacy plan's id-keyed vector joins fan each
        # pair out by the id multiplicities (a degenerate-input shape this
        # row-level scorer would NOT reproduce) — keep bit-compat by
        # declining
        or probe["n_ids"] != probe["n_distinct"]
    ):
        return None
    spark = df.sparkSession
    parts = _allpairs_corpus_parts(ids.collect())
    bc = spark.sparkContext.broadcast(parts)
    t = float(threshold)
    id_sql_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_sql_type}, id_b {id_sql_type}, cos double"
    _PA_ID_TYPES = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "string": "string",
    }
    pa_id_type = _PA_ID_TYPES[id_sql_type]

    def _batches(it):
        import numpy as np
        import pyarrow as pa

        P = bc.value
        for batch in it:
            idc = batch.column(0)
            vc = batch.column(1)
            if isinstance(idc, pa.ChunkedArray):
                idc = idc.combine_chunks()
            a_off, a_vals, a_null, a_inull = _list_parts(
                vc.combine_chunks() if isinstance(vc, pa.ChunkedArray) else vc
            )
            a_np = a_vals.to_numpy(zero_copy_only=False).astype(np.float64)
            a_len = a_off[1:] - a_off[:-1]
            a_ids_py = idc.to_pylist()
            # rows that can never emit: NULL id/vector, inner NULL, dim 0
            dead = a_null | (a_len == 0)
            if a_inull.any():
                cs = np.concatenate(([0], np.cumsum(a_inull)))
                dead |= (cs[a_off[1:]] - cs[a_off[:-1]]) > 0
            groups: dict = {}
            for i in range(batch.num_rows):
                if dead[i] or a_ids_py[i] is None:
                    continue
                groups.setdefault(int(a_len[i]), []).append(i)
            out_a, out_b, out_c = [], [], []
            for dim_, idxs in groups.items():
                part = P.get(dim_)
                if part is None:
                    continue
                b_ids, B, sq_nb = part
                ix = np.asarray(idxs)
                gather = a_off[ix, None] + np.arange(dim_)[None, :]
                A = a_np[gather]
                a_ids = np.asarray([a_ids_py[i] for i in idxs])
                QA = A * A
                d = np.zeros((len(ix), len(b_ids)))
                na = np.zeros(len(ix))
                for j in range(dim_):  # identical fold to score_pairs_arrow
                    d = d + A[:, j][:, None] * B[:, j][None, :]
                    na = na + QA[:, j]
                denom = np.sqrt(na)[:, None] * sq_nb[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    c = d / denom
                    emit = (
                        (a_ids[:, None] < b_ids[None, :])
                        & (denom != 0.0)           # 0.0 divisor → NULL, drop
                        & ((c >= t) | np.isnan(c))  # NaN passes like Spark
                    )
                ai, bi = np.nonzero(emit)
                if len(ai):
                    out_a.append(a_ids[ai])
                    out_b.append(b_ids[bi])
                    out_c.append(c[ai, bi])
            if out_a:
                id_t = getattr(pa, pa_id_type)()
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a).tolist(), type=id_t),
                        pa.array(np.concatenate(out_b).tolist(), type=id_t),
                        pa.array(np.concatenate(out_c), type=pa.float64()),
                    ],
                    names=["id_a", "id_b", "cos"],
                )

    wide = ensure_min_parallelism(ids, key_cols=["id"], probe=df)
    out = wide.mapInArrow(_batches, out_schema)
    from hyperdx_spark.pipeline.dedup import _register_cached

    return _register_cached(out, [_BroadcastHandle(bc)])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine: (query_id, match_id, cos, rank).

    The query side is broadcast (queries are few); the corpus streams through
    one stage — at 100 TB this is a single scan, no shuffle until the
    per-query top-k (tiny after rank filter).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cos", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )


def _hyperplane(seed: int, plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random component in [-1, 1): integer mix of
    (seed, plane, dim) -> fraction. splitmix-style, engine-reproducible."""
    h = F.xxhash64(F.lit(seed), plane, dim)
    return (h.cast("double") / F.lit(float(2**63))).cast("double")


def lsh_signature(
    vec: Column, *, num_planes: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """Random-hyperplane signature: bit p = sign(v . h_p). array<int> of 0/1."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda x, i: (x.cast("double") * _hyperplane(seed, p, i)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def lsh_expected_recall(
    threshold: float, num_planes: int, bands: int
) -> float:
    """Expected probability that a pair at EXACTLY cosine ``threshold``
    collides in at least one band of a random-hyperplane signature
    (Charikar'02): per-plane agreement p = 1 − arccos(s)/π, so
    recall(s) = 1 − (1 − p^r)^b with r = num_planes // bands. Pairs above
    the threshold collide with higher probability, so this is the WORST
    case over the pairs the operator reports.

    Reference points (threshold → recall):

    ======================  ======  ======  ======
    (planes, bands)          s=0.5   s=0.9   s=0.99
    ======================  ======  ======  ======
    (16, 4)  r=4             0.59    0.94    1.00
    (16, 2)  r=8             0.32    0.49    0.94
    (60, 3)  r=20            0.01    0.13    0.78
    ======================  ======  ======  ======

    High-r/low-b configurations are precision-heavy by design (corpus-
    scale SemDeDup cares about cos≈1 duplicates); the guard in
    :func:`cosine_pairs` warns when the at-threshold recall falls below
    its floor so the trade is explicit rather than silent.
    """
    import math

    s = min(max(float(threshold), -1.0), 1.0)
    p = 1.0 - math.acos(s) / math.pi
    r = max(num_planes // bands, 1)
    return 1.0 - (1.0 - p ** r) ** bands


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    exhaustive: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing any signature band with
    the query, then exact cosine + rank over candidates only.

    ``exhaustive=True`` unions the banded candidates with the FULL
    query x corpus candidate set — recall provably 1 while the banding
    machinery still executes end to end.  The gate/verification config,
    the LSH analogue of ``cosine_topk_ivf(nprobe=nlist)`` /
    ``cosine_topk_pq(refine >= corpus)``; r14 note: at sf0.1 (2,000
    vectors) the default geometry missed a true rank-5 neighbour at
    cosine 0.33 (collision probability there is only ~0.73), so exact
    gates must use this flag — banding recall is a scale trade, not an
    exactness guarantee."""
    rows_per_band = num_planes // bands

    def banded(df: DataFrame, idalias: str, vecalias: str) -> DataFrame:
        sig = lsh_signature(F.col(vec_col), num_planes=num_planes, dim=dim, seed=seed)
        return df.select(
            F.col(id_col).alias(idalias),
            F.col(vec_col).alias(vecalias),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(sig, b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select(
            idalias, vecalias, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    qb = banded(queries, "query_id", "__qv")
    cb = banded(corpus, "match_id", "__cv")
    cand = cb.join(F.broadcast(qb), on=["band", "bucket"]).select(
        "query_id", "match_id", "__qv", "__cv"
    )
    if exhaustive:
        full = corpus.select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv")
        ).crossJoin(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__qv"),
                )
            )
        ).select("query_id", "match_id", "__qv", "__cv")
        cand = cand.unionByName(full)
    cand = (
        cand.where(F.col("query_id") != F.col("match_id"))
        .dropDuplicates(["query_id", "match_id"])
        .withColumn("cos", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )


def cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: Optional[int] = 10_000,
    min_expected_recall: Optional[float] = 0.5,
    exhaustive: bool = False,
    block_col: Optional[str] = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (cos >= threshold) via LSH banding —
    the embedding-cosine member of the dedup family.

    ``exhaustive=True`` skips the banding and generates ALL candidate
    pairs (recall provably 1 at ANY threshold) — the gate/verification
    configuration, the pairs analogue of ``cosine_topk_ivf(nprobe=nlist)``
    / ``cosine_topk_pq(refine >= corpus)``. O(N²) candidates: the
    small-corpus or within-cluster mode, NOT the 100 TB path (LSH banding
    with a recall-checked geometry is). r14 note: the default geometry's
    expected recall for a pair AT cosine 0.5 is only ~0.58, which showed
    up as missed boundary pairs at sf0.1 — exact gates must use this flag
    or tighten the banding.

    ``block_col`` (with ``exhaustive=True``): restrict candidates to rows
    sharing the block value — the SemDeDup-paper shape
    (``clustering.kmeans_assign`` then exhaustive pairs WITHIN each
    cluster).  O(sum of block² ) instead of O(N²): the scale-correct
    middle path between banding and global all-pairs; the candidate join
    shuffles on the block key like any co-partitioned equi-join.

    ``min_expected_recall``: warn when the banding geometry's expected
    recall for a pair at exactly ``threshold`` (:func:`lsh_expected_recall`
    — the worst case over reported pairs) falls below this floor, so
    recall-lossy (threshold, planes, bands) combinations are an explicit
    choice rather than a silent miss (VERDICT r5 #5). ``None`` disables
    the check; precision-heavy configs (high rows-per-band for cos≈1
    dedup) are legitimate — the warning names the knobs to turn.

    ``max_bucket_size`` drops degenerate mega-buckets (the embedding
    analogue of boilerplate: all-zero vectors, a default embedding
    stamped on millions of rows) whose n² candidate fan-out would
    otherwise dominate — and (r15) oversized BLOCKS in the
    ``exhaustive`` + ``block_col`` path, which hit the same n² failure
    mode on a degenerate cluster (the global no-block exhaustive path
    stays uncapped by design: it is the gate/verification configuration) — same mandatory-at-scale lever as
    minhash_lsh_pairs' cap and winnow's max_fp_df, and like them capped
    BY DEFAULT at 10k since the r5 sf10 run proved the uncapped family
    OOMs on degenerate inputs (``None`` opts out explicitly).

    Plan shape (the minhash_lsh_pairs discipline): the signature frame is
    persisted so the num_planes x dim hyperplane dot products evaluate ONCE
    per row — the naive form captured the signature expression inside the
    per-band lambda AND fed a self-join, re-evaluating it up to
    2 x bands times per row (measured 6x the whole pair cost at 60
    planes; HOFs are interpreted, no CSE). Only (id, band, bucket) rides
    the candidate shuffle; vectors re-attach to the (much smaller)
    deduplicated pair list for the exact-cosine verify. Release the cached
    signature frame with ``dedup.release_cached(result)``."""
    from hyperdx_spark.pipeline.dedup import _register_cached

    if block_col is not None and not exhaustive:
        raise ValueError(
            "block_col requires exhaustive=True (within-block all-pairs); "
            "the banded path would silently emit cross-block pairs and "
            "miss within-block boundary pairs"
        )
    if exhaustive:
        cached: list = []
        if block_col is not None:
            # NULL never equi-joins: a NULL-blocked row would silently drop
            # out of EVERY pair, breaking exhaustive's recall-1 contract
            # within the corpus. Fail loudly at execution time instead —
            # row-local CASE, no extra job (r14 advice).
            blk = F.when(
                F.col(block_col).isNull(),
                F.raise_error(F.lit(
                    f"cosine_pairs: NULL {block_col!r} block value — "
                    "exhaustive block pairing would silently exclude the "
                    "row from every pair; assign a block (e.g. "
                    "clustering.kmeans_assign) or filter NULLs explicitly"
                )).cast(df.schema[block_col].dataType),
            ).otherwise(F.col(block_col))
            # vectors ride the block self-join (r16): the previous plan
            # emitted slim (id_a, id_b) candidates and RE-JOINED vectors
            # onto every pair — an O(Σ block²) SHUFFLE (measured 1.28 GB
            # at 200k vectors/k=2000 once the vector side outgrew the
            # broadcast threshold and flipped to sort-merge; 155× the sf1
            # peak for 10× input — a 100×-scale killer).  Carrying v
            # through the join keeps the shuffle INPUT-LINEAR (2·N rows
            # hashed on __blk; a block is ≤ max_bucket_size so each join
            # group is small) and the quadratic part stays in-memory
            # inside the join group, where it is CPU, not network.
            ids = df.select(
                F.col(id_col).alias("id"), blk.alias("__blk"),
                F.col(vec_col).alias("__v"),
            )
            # single-row-group gate fixtures deliver a 1-partition scan and
            # the broadcast self-join inherits it — the WHOLE quadratic
            # pair enumeration + Arrow scoring then runs as ONE task
            # (measured: q_embedding_dedup 9.2 s single-task at sf0.1).
            # Hash-spread the streamed side on the high-cardinality id
            # (sort-free, deterministic — io.ensure_min_parallelism); a
            # no-op at scale where the scan is already wide, and the
            # within-block shuffle stays input-linear (the widening moves
            # N vector rows, never pairs).
            ids = ensure_min_parallelism(ids, key_cols=["id"], probe=df)
            if max_bucket_size is not None:
                # the mega-bucket guard applies to BLOCKS too: a degenerate
                # embedding cluster (all-zero / default vector stamped on
                # millions of rows) would otherwise fan out n² within-block
                # pairs with no cap — the exact scenario the banded path's
                # bucket cap exists for (r15 review)
                big = (
                    ids.groupBy("__blk")
                    .agg(F.count("*").alias("__n"))
                    .where(F.col("__n") > max_bucket_size)
                    .select("__blk")
                    .persist()
                )
                cached.append(big)
                # no silent caps (r15 advice): the drop must be observable
                # at runtime, not inferred.  The count is one agg job over
                # the already-persisted ≤-#blocks frame the broadcast join
                # reads anyway; collect() would instead be unbounded (up
                # to n/max_bucket_size mega-blocks at corpus scale).
                # unpersist-on-raise: the count job can fail, and the
                # warning itself raises under warnings-as-errors — either
                # way the freshly persisted frame must not leak (the
                # semantic_dedup handler can only release what a RETURNED
                # frame registers).
                try:
                    n_dropped = big.count()
                    if n_dropped:
                        warnings.warn(
                            f"cosine_pairs: {n_dropped} block(s) exceed "
                            f"max_bucket_size={max_bucket_size} and are "
                            "DROPPED from exhaustive pairing (their rows "
                            "pair with nothing) — a degenerate "
                            "mega-cluster, or a block_k too small for the "
                            "corpus; raise max_bucket_size / increase "
                            "block_k, or pass max_bucket_size=None to "
                            "pair them at O(n²) cost",
                            RuntimeWarning,
                            stacklevel=2,
                        )
                except BaseException:
                    big.unpersist()
                    raise
                ids = ids.join(F.broadcast(big), on="__blk", how="left_anti")
            a_, b_ = ids.alias("a"), ids.alias("b")
            # r16: Arrow fold-exact scorer (score_pairs_arrow) — the
            # interpreted HOF cosine was the block path's per-pair CPU wall
            out = (
                score_pairs_arrow(
                    a_.join(b_, on=F.col("a.__blk") == F.col("b.__blk"))
                    .where(F.col("a.id") < F.col("b.id"))
                    .select(
                        F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.col("a.__v").alias("__va"),
                        F.col("b.__v").alias("__vb"),
                    )
                )
                .where(F.col("cos") >= threshold)
            )
            return _register_cached(out, cached)
        else:
            # r17: broadcast all-pairs scorer — the corpus matrix crosses
            # the Python boundary ONCE (O(N·d) bytes) instead of once per
            # pair (O(N²·d)); survivors-only output. Bit-identical to the
            # legacy join+score+filter plan below (same IEEE fold;
            # tests/test_allpairs_broadcast.py), which remains the
            # fallback above the broadcast caps / for exotic id types.
            fast = _allpairs_broadcast(df, id_col, vec_col, threshold)
            if fast is not None:
                return fast
            ids = df.select(F.col(id_col).alias("id"))
            # same 1-partition rescue as the block path: spread the
            # STREAMED left of the n² cross join so enumeration + scoring
            # parallelize; the id-only shuffle is N rows of 8 bytes
            ids_wide = ensure_min_parallelism(ids, key_cols=["id"], probe=df)
            a_, b_ = ids_wide.alias("a"), ids.alias("b")
            cand = (
                a_.crossJoin(b_)
                .where(F.col("a.id") < F.col("b.id"))
                .select(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                )
            )
        vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        out = (
            score_pairs_arrow(
                cand.join(
                    vecs.withColumnsRenamed({"id": "id_a", "v": "__va"}),
                    on="id_a",
                )
                .join(
                    vecs.withColumnsRenamed({"id": "id_b", "v": "__vb"}),
                    on="id_b",
                )
                .select("id_a", "id_b", "__va", "__vb")
            )
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
        return _register_cached(out, cached)

    if min_expected_recall is not None:
        expected = lsh_expected_recall(threshold, num_planes, bands)
        if expected < min_expected_recall:
            warnings.warn(
                f"cosine_pairs banding recall: a pair at cosine {threshold} "
                f"collides in some band with probability only "
                f"{expected:.2f} (num_planes={num_planes}, bands={bands}, "
                f"rows/band={num_planes // bands}) — below the "
                f"{min_expected_recall} floor. Pairs near the threshold "
                "will be missed; use more bands / fewer rows per band for "
                "recall, or pass min_expected_recall=None to accept the "
                "precision-heavy trade.",
                RuntimeWarning,
                stacklevel=2,
            )

    sig = lsh_signature(F.col(vec_col), num_planes=num_planes, dim=dim, seed=seed)
    rows_per_band = num_planes // bands
    # persist barrier: a cached narrow frame is the one formation Catalyst
    # cannot collapse back into the band lambdas
    sig_rows = df.select(
        F.col(id_col).alias("id"), sig.alias("__sig")
    ).persist()
    banded = sig_rows.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("__sig"), b * rows_per_band + 1, rows_per_band
                            ),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        # the window partitions on the same (band, bucket) keys the join
        # shuffles on, so the exchange is shared, not an extra pass
        banded = (
            banded.withColumn(
                "__bs", F.count("*").over(Window.partitionBy("band", "bucket"))
            )
            .where(F.col("__bs") <= max_bucket_size)
            .drop("__bs")
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    out = (
        score_pairs_arrow(
            cand.join(
                vecs.withColumnsRenamed({"id": "id_a", "v": "__va"}), on="id_a"
            )
            .join(vecs.withColumnsRenamed({"id": "id_b", "v": "__vb"}), on="id_b")
            .select("id_a", "id_b", "__va", "__vb")
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return _register_cached(out, [sig_rows])


def _centroids(
    corpus: DataFrame, *, id_col: str, vec_col: str, nlist: int, seed: int
) -> DataFrame:
    """Deterministic IVF centroids: the nlist corpus vectors with the
    smallest xxhash64(id, seed) — a uniform (hash-ordered) sample that is
    reproducible across runs and engines, no iterative k-means needed for a
    coarse quantizer. One pass + a tiny top-k."""
    return (
        corpus.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("cvec"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
        )
        # global top-k via orderBy+limit = TakeOrderedAndProject: each
        # partition keeps its own nlist smallest, the driver merges — no
        # single-partition global window (which would funnel the whole
        # corpus through one task at 100 TB)
        .orderBy(F.col("__h"), F.col("cent_id"))
        .limit(nlist)
        .drop("__h")
    )


def _assign_arrow(
    df: DataFrame, cents: DataFrame, vec: str, n: int
) -> DataFrame:
    """Vectorized coarse assignment: one numpy matmul per Arrow batch
    against the (tiny, driver-collected, id-sorted) centroid matrix —
    ~100x the interpreted per-(row, centroid, dim) HOF walk of the Column
    path. Ties break to the smaller centroid id (stable argsort over the
    id-ascending matrix), mirroring the Column comparator; float rounding
    of the cosine differs from the left-fold order only at the last ulp,
    which full-probe / refine-covering queries are insensitive to."""
    import numpy as np

    ids, Cn = _unit_cent_matrix(cents.collect())
    id_type = cents.schema["cent_id"].dataType.simpleString()

    def topn(series):
        import pandas as pd

        if len(series) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in series])
        xn = np.linalg.norm(X, axis=1)
        cos = (X @ Cn.T) / np.where(xn == 0, 1.0, xn)[:, None]
        order = np.argsort(-cos, axis=1, kind="stable")[:, :n]
        return pd.Series([[ids[j] for j in row] for row in order])

    udf = F.pandas_udf(topn, f"array<{id_type}>")
    return (
        df.withColumn("__cents", udf(F.col(vec)))
        .withColumn("cent_id", F.explode("__cents"))
        .drop("__cents")
    )


def _assign(df: DataFrame, cents: DataFrame, vec: str, n: int) -> DataFrame:
    """Attach the top-n centroid ids by cosine to every row, entirely
    row-local: the quantizer (tiny by construction) is collected once
    (bounded: nlist rows) and rides a broadcast one-row frame, and the
    per-row top-n is an ``array_sort`` + ``slice`` over nlist scored
    structs — NO shuffle. The previous shape (crossJoin + row_number over
    ``partitionBy(*df.columns)``) shuffled nlist×-amplified rows keyed by
    the full embedding vector, which at corpus scale is the dominant cost
    of the index build."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    spark = df.sparkSession
    rows = cents.collect()  # nlist rows — the coarse quantizer is small
    inner = StructType(
        [
            StructField("id", cents.schema["cent_id"].dataType),
            StructField("cvec", ArrayType(DoubleType())),
        ]
    )
    data = [([(r["cent_id"], [float(x) for x in r["cvec"]]) for r in rows],)]
    cbdf = F.broadcast(
        local_frame(
            spark, data, StructType([StructField("__cents", ArrayType(inner))])
        )
    )
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            cosine(F.col(vec), c["cvec"]).alias("c"), c["id"].alias("id")
        ),
    )
    by_cos_desc_id_asc = F.array_sort(
        scored,
        lambda x, y: (
            F.when(x["c"] > y["c"], -1)
            .when(x["c"] < y["c"], 1)
            .when(x["id"] < y["id"], -1)
            .when(x["id"] > y["id"], 1)
            .otherwise(0)
        ),
    )
    return (
        df.crossJoin(cbdf)
        .withColumn("__top", F.slice(by_cos_desc_id_asc, 1, n))
        .drop("__cents")
        .withColumn("__s", F.explode("__top"))
        .withColumn("cent_id", F.col("__s")["id"])
        .drop("__top", "__s")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    arrow: bool = True,
    centroid_iters: int = 1,
) -> None:
    """Persist an IVF index: corpus vectors written as parquet PARTITIONED
    BY their coarse-centroid list, plus the centroid table. This is the
    build-once/query-many shape for a 100 TB corpus — a query later reads
    ONLY its ``nprobe`` list partitions (partition pruning on ``cent_id``),
    not the whole corpus. ``arrow`` and ``centroid_iters`` as in
    :func:`build_ivfpq_index` — fitted list means tighten the Voronoi
    cells, so partial probes cover more of the true neighbors per list
    read; build-once/query-many amortizes the refit passes."""
    cents = _centroids(corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
    if centroid_iters:
        cents = _refit_centroids(
            corpus, cents, vec_col=vec_col, iterations=centroid_iters
        )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("vec"))
    assign = _assign_arrow if arrow else _assign
    assigned = assign(c, cents, "vec", 1)
    assigned.write.mode("overwrite").partitionBy("cent_id").parquet(path + "/lists")
    cents.write.mode("overwrite").parquet(path + "/centroids")


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k over a persisted IVF index. The probed list ids are collected
    driver-side (bounded: nprobe x |queries| ints) and pushed as an IN
    filter on the partition column, so the scan prunes to the probed
    partitions before any row is read."""
    cents = spark.read.parquet(path + "/centroids")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    ql = _assign(q, cents, "__qv", nprobe)  # _assign broadcasts the centroids
    probed = [r["cent_id"] for r in ql.select("cent_id").distinct().collect()]
    lists = spark.read.parquet(path + "/lists").where(F.col("cent_id").isin(probed))
    cand = (
        lists.join(F.broadcast(ql), on="cent_id")
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cos", cosine(F.col("__qv"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    arrow: bool = True,
    centroid_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    their nearest coarse centroid once; a query scores only the lists of its
    ``nprobe`` nearest centroids. At scale the exact-cosine work drops by
    ~nlist/nprobe; the per-list layout is the natural partitioning for a
    100 TB corpus (cluster by cent_id, one list per partition group).

    Same output contract as :func:`cosine_topk`: (query_id, match_id, cos,
    rank) — and with nprobe high enough to cover the true neighbors it is
    exactly the brute-force answer. ``arrow`` (default) runs the N x nlist
    corpus assignment — the dominant cost at production nlist ~ sqrt(N) —
    as numpy batch math, as in :func:`build_ivf_index`; full-probe results
    are unaffected, partial-probe assignment can shift by last-ulp
    rounding. The (tiny) query-side probe keeps the Column path either
    way. ``centroid_iters`` (default 0 — this is the one-shot path, so
    every refit pass is paid per call) Lloyd-refits the sampled seeds as
    in :func:`build_ivf_index`, tightening partial-probe recall at low
    nprobe."""
    cents = _centroids(corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
    if centroid_iters:
        cents = _refit_centroids(
            corpus, cents, vec_col=vec_col, iterations=centroid_iters
        )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    assign = _assign_arrow if arrow else _assign
    cl = assign(c, cents, "__cv", 1)  # each corpus vector lives in ONE list
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    ql = _assign(q, cents, "__qv", nprobe)  # queries probe several lists
    cand = (
        cl.join(F.broadcast(ql), on="cent_id")
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cos", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the billion-vector memory/compute tier
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    refine_iters: int = 1,
    arrow: bool = False,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: split the vector into ``m`` subspaces and
    use the sub-vectors of the ``codes`` hash-top-k corpus rows as each
    subspace's codewords (the `_centroids` trick per subspace — a uniform
    reproducible sample standing in for k-means; no iterative training).
    Vectors are L2-normalized first so PQ L2 distance orders like cosine;
    ``normalize=False`` trains on the vectors as-is (the residual-encoding
    path, where the input is already ``unit(x) − unit(centroid)`` and
    renormalizing would destroy the decomposition).

    Returns ``books[j][c] = codeword c of subspace j`` as plain lists —
    tiny (m × codes × dim/m floats), ships to executors as literals."""
    anchors = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
        )
        .orderBy("__h", "id")  # TakeOrderedAndProject — no global window
        .limit(codes)
        .collect()
    )
    if not anchors:
        raise ValueError("empty corpus")
    dim = len(anchors[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        book = []
        for r in anchors:
            v = [float(x) for x in r["v"]]
            n = (sum(x * x for x in v) ** 0.5 or 1.0) if normalize else 1.0
            book.append([x / n for x in v[j * sub : (j + 1) * sub]])
        books.append(book)
    # Lloyd refinement: re-center each codeword on the mean of its assigned
    # sub-vectors (k-means iterations over the corpus — each is one
    # encode pass + one (subspace, code) aggregate; deterministic given the
    # deterministic init). Dead codewords keep their previous value.
    from hyperdx_spark.pipeline.dedup import _LocalCheckpointHandle

    for _ in range(refine_iters):
        encode = pq_encode_arrow if arrow else pq_encode
        as_double = (
            _unit(F.col(vec_col))
            if normalize
            else F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        enc = encode(
            corpus, books, vec_col=vec_col, normalize=normalize
        ).withColumn("__u", as_double)
        # checkpoint barrier BEFORE the explode: the interpreted-HOF
        # encode expression would otherwise be re-evaluated per generated
        # row downstream (measured ~20x slower without this).  Lazy, so
        # the handle exists before the means collect materializes the
        # blocks — a died-mid-job eager checkpoint would strand partial
        # blocks handle-less (review r16)
        enc = enc.select("pq_code", "__u").localCheckpoint(eager=False)
        cp_handle = _LocalCheckpointHandle(enc)
        try:
            ex = enc.select(
                F.posexplode("pq_code").alias("j", "c"), "__u"
            ).select(
                "j", "c", F.expr(f"slice(__u, j * {sub} + 1, {sub})").alias("sv")
            )
            means = (
                ex.groupBy("j", "c")
                .agg(
                    F.array(
                        *[F.avg(F.element_at("sv", i + 1)) for i in range(sub)]
                    ).alias("mean")
                )
                .collect()
            )
        finally:
            # the collect is this iteration's terminal action — free the
            # checkpoint blocks now (leak-safe on a failed job too)
            # instead of waiting for JVM GC: at corpus scale each
            # iteration's encode blocks are a full pass of codes
            cp_handle.unpersist()
        for r in means:
            books[r["j"]][r["c"]] = [float(x) for x in r["mean"]]
    return books


def _unit(vec: Column) -> Column:
    n = norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def pq_encode_arrow(
    df: DataFrame,
    books: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Vectorized PQ encode: per Arrow batch, one (rows x codes x sub)
    squared-distance broadcast per subspace over the codebook tensor —
    ~100x the interpreted nested-HOF Column walk. Ties take the first
    (lowest) code index, same as the Column path's array_position.
    ``normalize=False`` encodes the vectors as-is (residual path)."""
    import numpy as np

    m = len(books)
    sub = len(books[0][0])
    B = np.asarray(books, dtype=np.float64)  # m x codes x sub

    def enc(series):
        import pandas as pd

        if len(series) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in series])
        if normalize:
            n = np.linalg.norm(X, axis=1)
            U = X / np.where(n == 0, 1.0, n)[:, None]
        else:
            U = X
        out = np.empty((len(X), m), dtype=np.int64)
        for j in range(m):
            S = U[:, j * sub:(j + 1) * sub]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
            out[:, j] = d2.argmin(axis=1)
        return pd.Series([[int(c) for c in row] for row in out])

    udf = F.pandas_udf(enc, "array<int>")
    return df.withColumn("pq_code", udf(F.col(vec_col)))


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Attach ``pq_code`` (array<int>, length m): per subspace, the index of
    the nearest codeword by L2 on the normalized vector (``normalize=False``:
    on the vector as-is — residual path). All JVM-side — the
    codebooks splice in as array literals; at 100 TB this is a row-local
    projection (zero shuffles) and the 8-byte code replaces the 256-byte
    vector in every downstream candidate pass."""
    m, sub = len(books), len(books[0][0])
    # the codebook rides a broadcast one-row DataFrame and the whole encode
    # is ONE nested-HOF expression that loops over it data-driven — an
    # unrolled per-codeword expression tree (m*codes aggregates) explodes
    # Janino codegen time, which dwarfs the actual work
    spark = df.sparkSession
    cbdf = F.broadcast(
        local_frame(spark, [(books,)], "__cb array<array<array<double>>>")
    )
    as_double = (
        _unit(F.col(vec_col))
        if normalize
        else F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    staged = df.crossJoin(cbdf).withColumn("__u", as_double)

    def sq_dist(cw: Column, usub: Column) -> Column:
        return F.aggregate(
            F.zip_with(cw, usub, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def code_for(j: Column) -> Column:
        usub = F.slice(F.col("__u"), j * sub + 1, sub)
        dists = F.transform(F.element_at("__cb", j + 1), lambda cw: sq_dist(cw, usub))
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    code = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)
    return staged.withColumn("pq_code", code).drop("__u", "__cb")


def _adc_query_tables(
    queries: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC distance tables (m × codes doubles), computed
    driver-side over the (tiny) query rows and returned as a broadcastable
    DataFrame (query_id, __qv, __tables). The id type follows the caller's
    id_col (string doc ids work like the other tiers)."""
    sub = len(books[0][0])
    m = len(books)
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")
    ).collect()
    # One numpy pass over all queries instead of a q*m*codes*sub Python
    # loop nest: V (q, m, 1, sub) against the codebook tensor (m, codes,
    # sub) broadcasts to the full (q, m, codes) table stack.  The collect
    # is bounded (queries are tiny by construction); numpy removes the
    # driver CPU constant when "tiny" is still thousands of rows.
    if qrows:
        import numpy as np

        bk = np.asarray(books, dtype=np.float64)  # (m, codes, sub)
        V = np.asarray([r["v"] for r in qrows], dtype=np.float64)
        norms = np.sqrt(np.einsum("qd,qd->q", V, V))
        norms[norms == 0.0] = 1.0
        Vn = (V / norms[:, None]).reshape(len(qrows), m, 1, sub)
        stack = ((Vn - bk[None]) ** 2).sum(axis=-1)  # (q, m, codes)
        table_rows = [
            (r["query_id"], r["v"], t.tolist())
            for r, t in zip(qrows, stack)
        ]
    else:
        table_rows = []
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    qt_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("__qv", ArrayType(DoubleType())),
            StructField("__tables", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    return local_frame(queries.sparkSession, table_rows, qt_schema)


def _adc_residual_tables(
    queries: DataFrame,
    ql: DataFrame,
    cents: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Per-(query, probed-list) ADC tables for a residual-encoded index:
    ``table[j][c] = ||(q̂ − ĉ)_j − book[j][c]||²``, so the ADC sum
    approximates ``||q̂ − (ĉ + r)||² = ||q̂ − x̂||`` — L2 on the unit
    sphere, i.e. cosine order. One numpy pass over the collected probe
    pairs; the collect is the same |queries| × nprobe set the partition
    pruner already materializes. Returns TWO frames keyed for broadcast:
    (cent_id, query_id, __tables) for the ADC stage and the much smaller
    (query_id, __qv) for the refine re-rank — carrying ``__qv`` inside
    the pair frame would duplicate every query vector nprobe times in
    the broadcast for a stage that never reads it."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    m, codes, sub = len(books), len(books[0]), len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)  # (m, codes, sub)
    ids, Cn = _unit_cent_matrix(cents.collect())
    cidx = {cid: i for i, cid in enumerate(ids)}
    pairs = ql.collect()  # |queries| x nprobe — already driver-bounded
    if len(pairs) * m * codes > 25_000_000:  # ~200 MB of table doubles
        raise ValueError(
            f"residual ADC tables would hold {len(pairs)} probe pairs x "
            f"{m}x{codes} doubles on the driver and in the broadcast — "
            "chunk the query batch (windows.py offset windows) or lower "
            "nprobe instead"
        )
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")
    ).collect()
    qv = {}
    for r in qrows:
        v = np.asarray(r["v"], dtype=np.float64)
        n = float(np.linalg.norm(v)) or 1.0
        qv[r["query_id"]] = v / n
    if pairs:
        D = np.stack(
            [qv[p["query_id"]] - Cn[cidx[p["cent_id"]]] for p in pairs]
        )
        T = ((D.reshape(len(pairs), m, 1, sub) - bk[None]) ** 2).sum(-1)
        rows = [
            (p["cent_id"], p["query_id"], t.tolist())
            for p, t in zip(pairs, T)
        ]
    else:
        rows = []
    spark = queries.sparkSession
    qid_type = queries.schema[id_col].dataType
    pair_schema = StructType(
        [
            StructField("cent_id", cents.schema["cent_id"].dataType),
            StructField("query_id", qid_type),
            StructField("__tables", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    qv_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("__qv", ArrayType(DoubleType())),
        ]
    )
    qv_df = local_frame(
        spark, [(k, v.tolist()) for k, v in qv.items()], qv_schema
    )
    return local_frame(spark, rows, pair_schema), qv_df


def _adc_score() -> Column:
    """ADC distance of a row: sum over subspaces of the table entry at the
    row's code — m array lookups, no vector math."""
    return F.aggregate(
        F.transform(
            F.col("pq_code"),
            lambda c, j: F.element_at(F.element_at("__tables", j + 1), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    refine: int = 50,
    arrow: bool = True,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance, exact-cosine re-ranked.

    Stage 1 (ADC): every corpus row is scored as ``sum_j table[j][code_j]``
    where the per-query distance tables (m × codes doubles) ride the
    broadcast query rows — a table lookup per subspace instead of a
    dim-length dot product, and only the m-byte code is read per row.
    Stage 2: the top ``refine`` ADC candidates per query are re-ranked by
    exact cosine (standard two-stage retrieval; refine bounds the exact
    work per query regardless of corpus size). Output matches
    ``cosine_topk``: (query_id, match_id, cos, rank). ``arrow`` (default)
    runs the full-corpus PQ encode as numpy batch math, as in
    :func:`build_ivfpq_index`; refine-covering queries are unaffected at
    the result level, partial-refine candidate sets can shift by last-ulp
    encode rounding."""
    books = pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, codes=codes, seed=seed,
        arrow=arrow,
    )
    encode = pq_encode_arrow if arrow else pq_encode
    enc = encode(corpus, books, vec_col=vec_col).select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"), "pq_code"
    )
    qt = _adc_query_tables(queries, books, id_col=id_col, vec_col=vec_col)
    adc = (
        enc.crossJoin(F.broadcast(qt))
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("__adc", _adc_score())
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("__adc"), F.asc("match_id"))
    cand = adc.withColumn("__crk", F.row_number().over(w)).where(
        F.col("__crk") <= max(refine, k)
    )
    rer = cand.withColumn("cos", cosine(F.col("__qv"), F.col("__cv")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )

# ---------------------------------------------------------------------------
# IVF-PQ — the composed billion-scale index (FAISS IndexIVFPQ shape)
# ---------------------------------------------------------------------------


def _refit_centroids(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    vec_col: str,
    iterations: int,
) -> DataFrame:
    """Deterministic Lloyd refit of the coarse quantizer: the hash-sampled
    seed rows are quantized to the micro-unit integer space and stepped
    with :func:`clustering.kmeans_update` over the UNIT-normalized corpus
    (cosine geometry), then dequantized back to a centroid frame with the
    original ``cent_id`` ordering.

    Hash-sampled seeds are corpus ROWS, not means — residual encoding
    against them is biased by the seed's own offset from the local mean,
    which is exactly what the IVFADC advantage cannot survive (measured on
    the synth decade: residual recall@10 0.66 vs 0.93 raw at sf10 without
    the refit, 0.94 vs 0.93 with ONE Lloyd step).  The integer Lloyd step
    (exact decimal sums, ``(2s+n)//(2n)`` means) keeps the build
    bit-deterministic under any partitioning — a float ``avg`` refit
    would shift Voronoi-boundary assignments run to run.  Cost per
    iteration: one row-local assignment pass + a (k x dim)-row shuffle,
    the documented ``kmeans_update`` bound."""
    import math

    from hyperdx_spark.pipeline.clustering import VEC_SCALE, kmeans_update

    n = norm(F.col(vec_col))
    safe = F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)
    unit_df = corpus.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double") / safe).alias(
            "__uv"
        )
    )
    rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
    icents = []
    for r in rows:
        v = [float(x) for x in r["cvec"]]
        nv = math.sqrt(sum(x * x for x in v)) or 1.0
        icents.append(
            [math.floor(x / nv * VEC_SCALE + 0.5) for x in v]
        )
    for _ in range(iterations):
        nxt = kmeans_update(unit_df, icents, vec_col="__uv")
        if nxt == icents:
            break
        icents = nxt
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    out_rows = [
        (r["cent_id"], [c / VEC_SCALE for c in cent])
        for r, cent in zip(rows, icents)
    ]
    return local_frame(
        corpus.sparkSession,
        out_rows,
        StructType(
            [
                StructField("cent_id", cents.schema["cent_id"].dataType),
                StructField("cvec", ArrayType(DoubleType())),
            ]
        ),
    )


def _unit_cent_matrix(cent_rows):
    """(sorted cent ids, unit-normalized centroid matrix) from collected
    centroid rows — the shared residual-path quantizer representation."""
    import numpy as np

    rows = sorted(cent_rows, key=lambda r: r["cent_id"])
    ids = [r["cent_id"] for r in rows]
    C = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in rows])
    cn = np.linalg.norm(C, axis=1)
    return ids, C / np.where(cn == 0, 1.0, cn)[:, None]


def _residuals_arrow(
    df: DataFrame, cent_rows, vec: str, cent_id_type
) -> DataFrame:
    """Attach ``__res = unit(vec) − unit(centroid[cent_id])`` per row —
    numpy per Arrow batch against the (tiny, driver-collected) centroid
    matrix, same batch shape as :func:`_assign_arrow`."""
    import numpy as np

    ids, Cn = _unit_cent_matrix(cent_rows)
    idx = {cid: i for i, cid in enumerate(ids)}

    def res(v, cser):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        xn = np.linalg.norm(X, axis=1)
        U = X / np.where(xn == 0, 1.0, xn)[:, None]
        R = U - Cn[[idx[c] for c in cser]]
        return pd.Series([r.tolist() for r in R])

    udf = F.pandas_udf(res, "array<double>")
    return df.withColumn("__res", udf(F.col(vec), F.col("cent_id")))


def _residuals_col(
    df: DataFrame, cent_rows, vec: str, cent_id_type
) -> DataFrame:
    """Pure-Column residuals: broadcast-join the unit centroid per assigned
    list, subtract element-wise. The Column twin of
    :func:`_residuals_arrow` (``arrow=False`` build path) — including the
    zero-norm guard: an unguarded ``_unit`` would emit all-NULL residuals
    for a zero vector (0.0/0.0), which encode to garbage codes whose NULL
    ADC scores sort FIRST and occupy a refine slot in every probe of the
    list, while the arrow twin emits the valid ``0 − ĉ`` residual."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    ids, Cn = _unit_cent_matrix(cent_rows)
    spark = df.sparkSession
    cdf = local_frame(
        spark,
        [(cid, [float(x) for x in row]) for cid, row in zip(ids, Cn)],
        StructType(
            [
                StructField("cent_id", cent_id_type),
                StructField("__cu", ArrayType(DoubleType())),
            ]
        ),
    )
    n = norm(F.col(vec))
    safe = F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)
    unit = F.transform(F.col(vec), lambda x: x.cast("double") / safe)
    return (
        df.join(F.broadcast(cdf), on="cent_id")
        .withColumn(
            "__res",
            F.zip_with(unit, F.col("__cu"), lambda a, b: a - b),
        )
        .drop("__cu")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    arrow: bool = True,
    residual: bool = True,
    centroid_iters: int = 1,
) -> None:
    """Persist an IVF-PQ index: every corpus vector is assigned to its
    coarse-centroid list AND compressed to an m-byte PQ code; the lists are
    written as parquet PARTITIONED BY ``cent_id`` carrying
    (match_id, pq_code, vec), plus the centroid table, codebooks, and a
    meta flag recording the encoding.

    ``residual=True`` (default) is IVFADC (Jégou'11 §IV-A): the PQ code
    quantizes ``unit(x) − unit(centroid_a)`` — the vector's offset from
    its own list's centroid — instead of ``unit(x)`` itself. Raw-vector PQ
    measures quantization error against the whole sphere; on a clustered
    corpus that error dwarfs the margins between true neighbors inside a
    cluster (measured on the synth decade: recall@10 0.26–0.32 at the
    m=8/codes=16/refine=50 defaults, and more codes barely help — 0.40 at
    codes=256). The residual's magnitude is ~ the cluster radius, so the
    same codebook budget resolves exactly the distances the query cares
    about. Codebooks are trained on the residuals (``normalize=False`` —
    renormalizing a residual would destroy the x̂ = ĉ + r decomposition
    the query-side ADC tables rely on).

    ``centroid_iters`` (default 1) Lloyd-refits the hash-sampled coarse
    seeds into actual list MEANS before assignment (deterministic
    integer steps — see :func:`_refit_centroids`). Residual encoding
    NEEDS this: against a raw sampled row the residual carries the
    seed's own offset and the IVFADC advantage inverts (measured 0.66 vs
    0.93 raw at sf10/codes=256/refine=200; 0.94 with the refit).
    ``centroid_iters=0`` keeps the r15 sampled-seed layout.

    ``arrow=True`` (default) runs the three row-local hot loops — coarse
    assignment, residual computation, and PQ encode — as numpy batch math
    (~100x the interpreted HOF walk; build measured 91 s -> seconds at
    20k x 64). Queries are unaffected at the result level whenever they
    re-rank (refine) or probe every list; partial-probe recall can shift
    by last-ulp assignment rounding. ``arrow=False`` keeps the
    pure-Column build.

    This composes the two scale levers: a query prunes the scan to its
    ``nprobe`` list partitions (IVF), then ranks candidates by ADC table
    lookups over the m-byte codes instead of full-dimension math (PQ), and
    only the final ``refine`` rows per query touch the stored vector. At
    true billion scale the ``vec`` column would live only in the primary
    store (codes-only lists + a keyed re-rank fetch); it rides along here
    so the refine stage is one read.

    NOT atomic when rebuilding over an existing index path: the
    component writes (meta, lists, centroids, codebooks) land one by
    one, so a crashed REBUILD can mix files from the two builds. Build
    a replacement at a fresh path and swap (the rename-aside pattern of
    ``incremental._swap_in_staging``). For a FRESH path the write order
    (meta first) guarantees a torn build fails loudly on the missing
    /lists rather than mis-scoring.
    """
    spark = corpus.sparkSession
    cents = _centroids(corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
    if centroid_iters:
        cents = _refit_centroids(
            corpus, cents, vec_col=vec_col, iterations=centroid_iters
        )
    # the meta flag is written FIRST: the query side falls back to raw
    # ADC when /meta is absent, so a build that crashed after /lists but
    # before a trailing meta write would leave a fully-readable residual
    # index silently mis-scored as raw — meta-first means a torn build
    # instead fails loudly on the missing /lists read (review r16)
    local_frame(spark, [(bool(residual),)], "residual boolean").write.mode(
        "overwrite"
    ).parquet(path + "/meta")
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("vec"))
    assign = _assign_arrow if arrow else _assign
    assigned = assign(c, cents, "vec", 1)
    encode = pq_encode_arrow if arrow else pq_encode
    if residual:
        cent_rows = cents.collect()  # nlist rows — bounded by construction
        # persist the residual frame: it feeds the codebook anchor
        # collect, the Lloyd-refinement encode, AND the final encode+write
        # — without the barrier the N x nlist assignment + residual pass
        # (the dominant build cost) re-runs three times
        res_df = (_residuals_arrow if arrow else _residuals_col)(
            assigned, cent_rows, "vec", cents.schema["cent_id"].dataType
        ).persist()
        try:
            books = pq_codebooks(
                res_df, id_col="match_id", vec_col="__res", m=m, codes=codes,
                seed=seed, arrow=arrow, normalize=False,
            )
            enc = encode(
                res_df, books, vec_col="__res", normalize=False
            ).drop("__res")
            enc.select("match_id", "vec", "pq_code", "cent_id").write.mode(
                "overwrite"
            ).partitionBy("cent_id").parquet(path + "/lists")
        finally:
            res_df.unpersist()
    else:
        books = pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, codes=codes,
            seed=seed, arrow=arrow,
        )
        enc = encode(assigned, books, vec_col="vec")
        enc.select("match_id", "vec", "pq_code", "cent_id").write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(path + "/lists")
    cents.write.mode("overwrite").parquet(path + "/centroids")
    local_frame(spark, [(books,)], "__cb array<array<array<double>>>").write.mode(
        "overwrite"
    ).parquet(path + "/codebooks")


def query_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    refine: int = 50,
) -> DataFrame:
    """Top-k over a persisted IVF-PQ index: partition-pruned list scan ->
    ADC ranking over codes -> exact-cosine re-rank of the top ``refine``.
    With nprobe=nlist and refine covering the probed lists this is exactly
    the brute-force answer (the gate asserts that); at scale nprobe and
    refine bound the scanned fraction and the exact work per query.

    Residual-encoded indexes (the ``build_ivfpq_index`` default, recorded
    in the index's meta file) get per-(query, probed-list) ADC tables —
    ``table[j][c] = ||(q̂ − ĉ)_j − book[j][c]||²`` — computed driver-side
    over the collected probe assignments. The driver bound is
    |queries| · nprobe · m · codes doubles (the probe set is
    driver-collected for partition pruning already); a descriptive error
    fires past 2.5e7 table entries (~200 MB of doubles, driver AND
    broadcast) — chunk the query batch (windows.py) instead of raising
    the bound."""
    from pyspark.errors import AnalysisException

    cents = spark.read.parquet(path + "/centroids")
    books_row = spark.read.parquet(path + "/codebooks").collect()[0]
    books = [[list(cw) for cw in book] for book in books_row["__cb"]]
    try:
        residual = bool(
            spark.read.parquet(path + "/meta").collect()[0]["residual"]
        )
    except AnalysisException:  # pre-meta index layout: raw encoding
        residual = False
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    ql = _assign(q, cents, "__qv", nprobe).select("query_id", "cent_id")
    probed = [r["cent_id"] for r in ql.select("cent_id").distinct().collect()]
    lists = spark.read.parquet(path + "/lists").where(F.col("cent_id").isin(probed))
    if residual:
        qt, qv_df = _adc_residual_tables(
            queries, ql, cents, books, id_col=id_col, vec_col=vec_col
        )
        probe_join = lists.join(F.broadcast(qt), on="cent_id")
    else:
        qv_df = None
        qt = _adc_query_tables(queries, books, id_col=id_col, vec_col=vec_col)
        probe_join = lists.join(F.broadcast(ql), on="cent_id").join(
            F.broadcast(qt), on="query_id"
        )
    cand = (
        probe_join
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("__adc", _adc_score())
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("__adc"), F.asc("match_id"))
    top = cand.withColumn("__crk", F.row_number().over(w)).where(
        F.col("__crk") <= max(refine, k)
    )
    if qv_df is not None:
        # the residual pair frame carries only the ADC tables; the query
        # vector joins in here, on the ≤ refine x |queries| survivors
        top = top.join(F.broadcast(qv_df), on="query_id")
    rer = top.withColumn("cos", cosine(F.col("__qv"), F.col("vec")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cos", "rank")
    )

# ---------------------------------------------------------------------------
# PCA — embedding projection/whitening (dim reduction ahead of ANN tiers)
# ---------------------------------------------------------------------------


# Auto-escalation boundary for pca_fit(centered="auto"): the single-pass
# covariance E[xx'] − μμ' subtracts numbers of magnitude ~‖μ‖²/d from
# numbers of magnitude ~(‖μ‖²+σ²·d)/d, losing ~log10(ratio) of the
# ~16 significant decimal digits of a double. At ratio 1e6 ten digits
# remain — ample for eigenvectors; past it, corpus-scale embedding
# offsets (common-crawl-style mean-shifted encoders) start visibly
# biasing the small eigenvalues, so the second pass pays for itself.
PCA_AUTO_CENTER_RATIO = 1e6


def pca_fit(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int | None = None,
    centered: bool | str = "auto",
    ddof: int = 0,
) -> dict:
    """Fit PCA over an embedding column at corpus scale.

    Moment collection is one ``mapInPandas`` pass producing a PARTIAL
    (n, sum, X'X) per Arrow batch stream — each partial is d + d*d floats
    regardless of partition size — combined driver-side and
    eigendecomposed with numpy. No covariance shuffle, no driver-side
    row collection; this is the standard tree-aggregated PCA shape.

    Numerical caveat: the single pass forms cov = E[xx'] − μμ'
    (population divisor n). When ‖μ‖ is large relative to the variance the
    subtraction is cancellation-prone; ``centered=True`` runs a second pass
    accumulating (x−μ)'(x−μ) against the pass-1 mean — one more corpus scan,
    but stable for corpus-scale embeddings with a big common offset.
    ``centered="auto"`` (the default, VERDICT r5 #7) measures the hazard
    from the pass-1 moments themselves — escalate when
    ‖μ‖² / mean-variance > ``PCA_AUTO_CENTER_RATIO`` (or when cancellation
    already produced a non-positive variance estimate) — so corpus-scale
    callers get the stable path without knowing the flag, and well-
    conditioned corpora never pay the second scan. The returned dict's
    ``"centered"`` records the branch actually taken.
    ``ddof=1`` divides by n−1 (the sklearn convention) instead of n; the
    eigenvectors are identical either way, only explained_variance scales.

    Returns {"mean": [d], "components": [k][d], "explained_variance": [k]}
    with components sorted by descending eigenvalue and sign-normalized
    (largest-|coefficient| entry positive) so results are deterministic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("ss", ArrayType(DoubleType())),
    ])

    def make_partials(shift):
        shift_arr = None if shift is None else np.asarray(shift, dtype=np.float64)

        def partials(batches):
            n, s, ss = 0, None, None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]]
                )
                if shift_arr is not None:
                    X = X - shift_arr
                n += X.shape[0]
                s = X.sum(0) if s is None else s + X.sum(0)
                g = X.T @ X
                ss = g if ss is None else ss + g
            if n:
                yield pd.DataFrame(
                    {"n": [n], "s": [list(s)], "ss": [list(ss.ravel())]}
                )

        return partials

    def collect_moments(shift=None):
        parts = corpus.select(vec_col).mapInPandas(
            make_partials(shift), schema
        ).collect()
        if not parts:
            raise ValueError("empty corpus")
        n = sum(r["n"] for r in parts)
        d = len(parts[0]["s"])
        s = np.zeros(d)
        ss = np.zeros((d, d))
        for r in parts:
            s += np.asarray(r["s"])
            ss += np.asarray(r["ss"]).reshape(d, d)
        return n, s, ss

    n, s, ss = collect_moments()
    d = len(s)
    mean = s / n
    denom = max(n - ddof, 1)
    if centered == "auto":
        # hazard measure from the already-collected pass-1 moments: the
        # single-pass per-dim variances are diag(ss)/n − μ², so their mean
        # vs ‖μ‖²/d is exactly the cancellation ratio documented on
        # PCA_AUTO_CENTER_RATIO
        mean_var = float(np.trace(ss) / n - mean @ mean) / d
        mu2 = float(mean @ mean)
        centered = mean_var <= 0.0 or (
            mu2 / mean_var > PCA_AUTO_CENTER_RATIO
        )
    if centered:
        # pass 2: accumulate (x−μ)'(x−μ) directly — no μμ' cancellation.
        # The residual per-partition mean drift `resid` is subtracted so the
        # second-pass sum≈0 numerical noise doesn't bias the diagonal.
        n2, s2, ss2 = collect_moments(shift=mean)
        resid = s2 / n2
        cov = ss2 / denom - (n2 / denom) * np.outer(resid, resid)
    else:
        cov = ss / denom - (n / denom) * np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    kk = k or d
    comps = []
    for j in range(kk):
        v = evecs[:, j]
        if v[np.abs(v).argmax()] < 0:  # deterministic sign convention
            v = -v
        comps.append([float(x) for x in v])
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "explained_variance": [float(max(x, 0.0)) for x in evals[:kk]],
        "centered": bool(centered),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project embeddings onto the fitted components — row-local: the
    (mean, components) ride a broadcast one-row frame (the pq_encode
    technique) and each output coordinate is one JVM dot product; zero
    shuffles at any corpus size. ``whiten=True`` scales each coordinate by
    1/sqrt(explained_variance) (unit-variance output)."""
    spark = df.sparkSession
    scale = [
        1.0 / (ev ** 0.5) if (whiten and ev > 0) else 1.0
        for ev in model["explained_variance"]
    ]
    mdf = F.broadcast(
        local_frame(
            spark,
            [(model["mean"], model["components"], scale)],
            "__mean array<double>, __w array<array<double>>, __sc array<double>",
        )
    )
    centered = F.zip_with(
        F.col(vec_col), F.col("__mean"),
        lambda x, m: x.cast("double") - m,
    )
    proj = F.zip_with(
        F.col("__w"), F.col("__sc"),
        lambda w, sc: sc * F.aggregate(
            F.zip_with(w, F.col("__out_c"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        df.crossJoin(mdf)
        .withColumn("__out_c", centered)
        .withColumn(out_col, proj)
        .drop("__mean", "__w", "__sc", "__out_c")
    )
