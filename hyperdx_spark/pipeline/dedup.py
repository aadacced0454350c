"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup, winnowing partial-copy pairs, C4 span dedup.

Scale design (the point of each algorithm):

* exact:          one hash-shuffle on the fingerprint; no pairwise work.
* n-gram Jaccard: inverted-index join on shingles (pairs share >= 1 shingle),
                  count co-occurrences, Jaccard from set sizes. Never builds
                  the full cross product; hot shingles can be capped
                  (max_shingle_df) the way web-dedup pipelines drop stop-
                  shingles.
* MinHash+LSH:    signature = per-permutation min of a keyed hash; band the
                  signature; only rows sharing a banded bucket meet in the
                  join. Tunable (bands x rows) recall/cost curve; candidates
                  optionally verified with exact Jaccard.
* SimHash:        64-bit weighted-bit-vote fingerprint; near-dups differ in
                  <= k bits; blocking on rotated chunks finds candidates.
* embedding:      delegated to similarity.cosine_pairs (LSH-bucketed).
* winnowing:      Schleimer'03 selected-minima rolling-hash fingerprints;
                  same inverted-index join — catches partial substring
                  reuse (quotes/boilerplate) shingle Jaccard under-weights.
* span dedup:     C4's 3-sentence-span removal; frame-aggregate span
                  assembly, one shuffle keyed by span hash, byte-exact
                  document rebuild.

MinHash uses ``min(xxhash64(seed, shingle))`` — a min-wise family over
64-bit ints. (An md5/lexicographic variant would be bit-identical across SQL
engines, but costs ~10× in hex-string allocation; candidate pairs are
verified with exact Jaccard anyway, so the hash family only affects recall,
not reported similarity.)
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from hyperdx_spark.session import local_frame
from hyperdx_spark.sqlident import sql_ident
from hyperdx_spark.pipeline.text import TOKEN_SPLIT, fingerprint, tokens


def _register_cached(result: DataFrame, cached: list) -> DataFrame:
    """Attach the intermediates an operator persisted on behalf of *result*
    so callers can release them with :func:`release_cached` after the
    terminal action. Long-lived sessions that call a persisting operator
    repeatedly would otherwise accumulate cached blocks until executor
    storage evicts them (ADVICE r4)."""
    result._hyperdx_cached = list(cached)
    return result


def _inherit_cached(*children) -> list:
    """Collect the cached-intermediate registrations of *children* so a
    composing operator can re-register them on ITS result — without this,
    callers of a composed public API (drop_near_duplicates, semantic_dedup)
    could never release blocks persisted by the inner operators, exactly
    the long-lived-session accumulation release_cached exists to prevent
    (ADVICE r5)."""
    out: list = []
    for child in children:
        out.extend(getattr(child, "_hyperdx_cached", ()))
    return out


class _LocalCheckpointHandle:
    """``unpersist()`` handle for a ``localCheckpoint``'d DataFrame.

    ``DataFrame.unpersist()`` only uncaches through the cache manager and
    does NOT free a local checkpoint's RDD blocks (ADVICE r5 — measured:
    storage info keeps the block after ``unpersist()``), so the handle
    reaches through the checkpointed Dataset's ``LogicalRDD`` to the
    internal RDD and unpersists that. NOTE: freeing checkpoint blocks
    destroys the (truncated) lineage — frames derived from the checkpoint
    FAIL to recompute afterwards, so release only after the terminal
    action (which is :func:`release_cached`'s documented call point).
    """

    def __init__(self, df: DataFrame):
        try:
            # analyzed plan of a freshly checkpointed Dataset is the
            # LogicalRDD wrapping the persisted internal RDD
            self._jrdd = df._jdf.queryExecution().analyzed().rdd()
        except Exception:  # pragma: no cover - Connect / plan-shape drift
            self._jrdd = None

    def unpersist(self) -> None:
        if self._jrdd is not None:
            try:
                self._jrdd.unpersist(False)
            except Exception:  # pragma: no cover
                pass


def release_cached(result: DataFrame) -> None:
    """Unpersist every intermediate a pipeline operator cached on behalf of
    *result* (no-op for frames without registered intermediates). Call after
    the terminal action on *result*. Plain cached intermediates recompute
    their lineage on further actions; local-checkpoint intermediates
    (``dedup_groups``'s lineage truncation) do NOT — their lineage is gone
    once freed — so treat release as the end of the frame's life."""
    for cached in getattr(result, "_hyperdx_cached", ()):
        cached.unpersist()


# ---------------------------------------------------------------- exact

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via normalized-content fingerprint: one row per distinct
    content with the keeper id (min id), the duplicate count, and ids."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct content."""
    keep = exact_duplicates(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------- shingles

def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the document.

    NOTE: higher-order-function lambdas are interpreted (never codegen'd) in
    Spark, and any expression referenced inside a lambda is re-evaluated per
    element — so this Column form re-tokenizes the document once per shingle.
    Fine for a handful of rows; in bulk pipelines use ``shingle_table`` which
    materializes the token array in its own projection first (~25× faster).
    """
    toks = tokens(text_col)
    return F.array_distinct(_shingles_of(toks, n))


def _shingles_of(toks: Column, n: int) -> Column:
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (id, s) word n-gram shingle rows.

    Row-based formulation: posexplode the token array once, then build each
    shingle with ``lead()`` windows — every operator is codegen'd. The
    equivalent higher-order-function form (transform + slice + concat per
    shingle) runs interpreted and is ~7× slower wall-clock; worse, adding a
    downstream explode collapses it into the Generate and the cost lands in
    every consumer. Docs shorter than *n* tokens contribute their whole text
    as one shingle (same rule as the array form).

    Input is spread across the cluster first: tiny parquet files arrive as
    1-2 splits and would otherwise serialize the expensive step; at real
    scale the window shuffle on id is the only data movement.

    Construction note (r16): the window/lead/aggregate trees are built as
    single SQL expression strings — every ``Column`` operator is a
    synchronous driver RPC, and this constructor sat on the hot path of
    three gate queries (~0.2 s of pure construction per call measured at
    ~1 ms/RPC).  ``expr`` parses the identical expression tree in one
    round trip; identical window specs collapse into one Window operator
    exactly as the shared-``Window``-object form did.

    Single-pass note (r17): the full / short-doc / empty-doc branches used
    to be three separate plan subtrees, so the tokenize + posexplode
    pipeline (and its Generate) evaluated THREE times per build, plus an
    ObjectHashAggregate and a broadcast anti-join just to classify short
    and empty docs.  Both shingle shapes now come out of the ONE window
    projection: a doc with fewer than *n* tokens is exactly the doc whose
    ``__pos = 0`` row has ``lead(n-1)`` NULL, and its whole-text shingle
    is ``concat_ws`` over the leads up to ``n-2`` (``concat_ws`` skips
    NULLs, so trailing missing tokens drop out).  Empty docs (no tokens at
    all, including NULL text) are detected on ``base`` directly with one
    vectorized re-tokenize — no join.  Row set is bit-identical to the
    three-branch form (pinned by tests for n = 1, 2, 3, 5 incl. NULL/empty
    /punctuation-only/duplicate-text docs).
    """
    spark = df.sparkSession
    base = df.selectExpr(f"{sql_ident(id_col)} AS id", f"{sql_ident(text_col)} AS __text")
    base = base.repartition(spark.sparkContext.defaultParallelism, "id")
    tokrows = base.selectExpr(
        "id",
        f"posexplode(filter(split(lower(__text), '{TOKEN_SPLIT}'), "
        "t -> t != '')) AS (__pos, __tk)",
    )
    over = "OVER (PARTITION BY id ORDER BY __pos)"
    full_chain = "".join(f", lead(__tk, {i}) {over}" for i in range(1, n))
    short_chain = "".join(f", lead(__tk, {i}) {over}" for i in range(1, n - 1))
    main = tokrows.selectExpr(
        "id",
        f"CASE WHEN lead(__tk, {n - 1}) {over} IS NOT NULL"
        f" THEN concat_ws(' ', __tk{full_chain})"
        f" WHEN __pos = 0 THEN concat_ws(' ', __tk{short_chain})"
        " END AS s",
    ).where("s IS NOT NULL")
    # docs with no tokens at all (empty, whitespace/punctuation-only, or
    # NULL text): one '' shingle, straight off base — size() is -1 for a
    # NULL array on non-ANSI sessions and NULL under ANSI, so both gates
    empty = base.selectExpr(
        "id",
        f"size(filter(split(lower(__text), '{TOKEN_SPLIT}'), t -> t != '')) AS __nt",
    ).where("__nt IS NULL OR __nt <= 0").selectExpr("id", "'' AS s")
    return main.unionByName(empty).distinct()


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh: array<string>) with distinct word n-gram shingles — the
    array view over :func:`shingle_rows` (used where whole sets are compared,
    e.g. candidate verification)."""
    return (
        shingle_rows(df, text_col, id_col, n)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("s")).alias("sh"))
    )


# ---------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted-index join.

    Explode shingles -> self-join on shingle (only co-occurring docs meet) ->
    per-pair intersection count -> Jaccard with |A|+|B|-|inter|. Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (stop-shingles) — at corpus scale this bounds the join fan-out; the
    resulting measure is then approximate on those pairs.
    """
    # the shingle DAG feeds two plan branches (postings + set sizes);
    # persist it so the tokenize/window work runs once, not per branch
    # (release with release_cached(result); storage_level=DISK_ONLY trades
    # re-read cost for executor memory at corpus scale)
    sh = shingle_rows(df, text_col, id_col, n).persist(storage_level)
    # Per-doc set size rides INTO the postings as struct(id, sz) (r17):
    # the former groupBy(id) sizes relation forced two joins of the (much
    # larger) candidate-pair table afterwards — and at gate scale Spark
    # picked the PAIR side (1.4M rows) as the broadcast build. One window
    # count over the persisted shingles replaces the sizes agg, and the
    # pair rows carry (sz_a, sz_b) through the count aggregation, so no
    # join touches the pair table at all.  sz is functionally dependent on
    # id, so the widened grouping key produces identical groups and
    # identical jaccard values.
    shsz = sh.selectExpr("id", "s", "count(*) OVER (PARTITION BY id) AS sz")
    # Inverted index as ONE aggregation: group docs per shingle, generate
    # in-posting pairs (posting lists are short once stop-shingles are
    # dropped), count co-occurrences. Compared to the classic self-join this
    # evaluates the shingle pipeline once and shuffles each posting once.
    postings = shsz.groupBy("s").agg(
        F.expr("sort_array(collect_set(struct(id, sz)))").alias("ids")
    )
    if max_shingle_df is not None:
        postings = postings.where(F.size("ids") <= max_shingle_df)
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"), x["sz"].alias("sz_a"),
                        y["id"].alias("id_b"), y["sz"].alias("sz_b"),
                    ),
                ),
            )
        )
    )
    inter = (
        postings.where(F.size("ids") > 1)
        .select(pair.alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.sz_a").alias("sz_a"),
            F.col("p.id_b").alias("id_b"), F.col("p.sz_b").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _register_cached(out, [sh])


# ---------------------------------------------------------------- C4 span dedup

# sentence segmentation without lookaround (RE2-replayable): an optionally
# empty run of non-terminators followed by a terminator run, or the
# unterminated tail. The * prefix (not +) matters: it makes LEADING
# terminator runs ('!!! Hi.') their own segment, so the matches always
# form a partition of the input and documents rebuild byte-identical from
# kept sentences (property-fuzzed).
SENTENCE_PATTERN = "[^.!?]*[.!?]+|[^.!?]+$"


# a PARTITION of the text into token units (token + trailing whitespace;
# a leading/stray whitespace run is its own unit) — rebuilds byte-exact.
# The whitespace class is EXPLICIT because \s differs per dialect (Java
# includes \x0B, RE2 does not, Python re adds Unicode spaces): this exact
# class means Spark, the DuckDB gate replay, and the pytest reference
# tokenize identically on any input.
_WS_CLASS = " \\t\\n\\r\\f"
TOKEN_UNIT_PATTERN = f"[^{_WS_CLASS}]+[{_WS_CLASS}]*|[{_WS_CLASS}]+"


def duplicate_span_removal(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 3,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """C4's three-sentence-span deduplication (Raffel et al. 2020 §2.2):
    any ``span``-sentence window occurring in more than one place in the
    corpus is removed from all but one occurrence (the lexicographically
    first (doc, position) keeps it). Returns
    (id, text_dedup, n_sentences, n_dropped) — ``text_dedup`` rebuilds
    byte-exact from the kept sentences (the segmentation is a partition of
    the input).

    Plan: sentences explode once per doc; span texts assemble via a
    codegen'd frame aggregate (``collect_list OVER ROWS span-1 FOLLOWING``,
    the winnowing-rows pattern); occurrences group by md5(span) — one
    shuffle keyed by span hash whose groups are occurrence lists (tiny);
    dropped sentence indices explode from removed spans; the rebuild is one
    per-doc sort. No step holds more than a document's sentences in one
    task, so the shape survives any corpus size. Like C4, overlapping
    duplicated spans drop the union of their sentences.

    Peak storage is the persisted exploded-sentence table (~corpus bytes) +
    the span-hash table; at corpus scale pass
    ``storage_level=StorageLevel.DISK_ONLY`` to keep it off the executor
    heap, and call :func:`release_cached` on the result after the action.
    """
    return _duplicate_unit_removal(
        df, unit_pattern=SENTENCE_PATTERN, span=span, text_col=text_col,
        id_col=id_col, storage_level=storage_level,
        n_units_alias="n_sentences",
    )


def duplicate_window_removal(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Exact-substring deduplication at token-window granularity (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"
    §3.1 ExactSubstr): any ``window``-token sequence occurring more than
    once in the corpus is removed from all but its first (doc, position)
    occurrence; overlapping duplicated windows drop the UNION of their
    tokens, so a long repeated passage disappears in one pass. Returns
    (id, text_dedup, n_tokens, n_dropped), byte-exact rebuild.

    The reference method builds a corpus suffix array (single-machine);
    this is the shuffle formulation — every length-``window`` token
    window hashes once (stride 1, EXACT: no duplicated window escapes),
    duplicates group on the hash, and no task ever holds more than one
    document's tokens. Same scale shape as
    :func:`duplicate_span_removal`, just token units
    (``TOKEN_UNIT_PATTERN``, a partition of the text) and the paper's
    50-token default."""
    return _duplicate_unit_removal(
        df, unit_pattern=TOKEN_UNIT_PATTERN, span=window, text_col=text_col,
        id_col=id_col, storage_level=storage_level, n_units_alias="n_tokens",
    )


def _duplicate_unit_removal(
    df: DataFrame,
    *,
    unit_pattern: str,
    span: int,
    text_col: str,
    id_col: str,
    storage_level: StorageLevel,
    n_units_alias: str,
) -> DataFrame:
    from pyspark.sql import Window

    # sent feeds four branches (span hashing, keeper lookup, rebuild,
    # totals) — persist so the segmentation explode runs once, not per
    # consumer (plan audit showed 4 Generates over the raw text otherwise)
    sent = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.regexp_extract_all(text_col, F.lit(unit_pattern), F.lit(0))
        ).alias("idx", "s"),
    ).persist(storage_level)
    w_doc = Window.partitionBy("id").orderBy("idx")
    spans = (
        sent.withColumn(
            "span_txt",
            F.array_join(
                F.collect_list("s").over(w_doc.rowsBetween(0, span - 1)), ""
            ),
        )
        .withColumn("__m", F.count("*").over(Window.partitionBy("id")))
        .where(F.col("idx") <= F.col("__m") - span)
        .select("id", "idx", F.md5("span_txt").alias("h"))
        # read twice: keeper aggregate + removed-occurrence join
        .persist(storage_level)
    )
    keepers = (
        spans.groupBy("h")
        .agg(
            F.min(F.struct("id", "idx")).alias("k"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_occ") > 1)
    )
    removed = spans.join(keepers, on="h").where(
        ~((F.col("id") == F.col("k.id")) & (F.col("idx") == F.col("k.idx")))
    )
    drops = removed.select(
        "id", F.explode(F.sequence(F.col("idx"), F.col("idx") + span - 1)).alias("idx")
    ).distinct()
    # rebuild + totals in ONE pass over the persisted sentence table (r16,
    # guide §2.2): the former anti-join + separate totals aggregate read
    # `sent` twice and shuffled it twice; a left join marks dropped units
    # (__d) and a single per-doc aggregate derives the rebuilt text
    # (collect_list skips the NULLed-out dropped structs — same kept set
    # as the anti-join), the unit total (count(*)) and the kept count
    # (count_if(__d IS NULL)). A doc whose every unit dropped still
    # aggregates (count(*) > 0) to text_dedup = '' — identical to the old
    # missing-row + coalesce('') path; zero-unit docs stay absent and
    # coalesce below covers them, exactly as before.
    marked = sent.join(
        drops.withColumn("__d", F.lit(1)), on=["id", "idx"], how="left"
    )
    rebuilt = marked.groupBy("id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN __d IS NULL THEN struct(idx, s) END)),"
            " st -> st.s), '') AS text_dedup"
        ),
        F.expr("count(*) AS __n_units"),
        F.expr("count_if(__d IS NULL) AS n_kept"),
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("__n_units", F.lit(0)).alias(n_units_alias),
            (
                F.coalesce("__n_units", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
        )
    )
    return _register_cached(out, [sent, spans])


# ---------------------------------------------------------------- winnowing

def winnow_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    threshold: float = 0.3,
    max_fp_df: Optional[int] = 1000,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Partial-copy candidate pairs via winnowing fingerprints
    (text.winnow_fingerprint_rows; Schleimer'03). Same inverted-index shape as
    :func:`ngram_jaccard_pairs` — explode fingerprints, group postings,
    emit in-posting pairs, Jaccard over fingerprint SETS — but the
    fingerprints are character-level rolling-hash minima, so two documents
    sharing any >= w+k-1-char run are guaranteed a candidate pair even when
    their word shingles barely overlap (boilerplate headers, quoted
    passages, partial plagiarism).

    ``max_fp_df`` drops fingerprints present in more than that many docs
    (universal boilerplate) to bound join fan-out at corpus scale. The
    default (1000) is MANDATORY at scale, not an optimization: the
    in-posting pair explode is quadratic in posting size, and the uncapped
    path OOM'd a 48 GB heap on a boilerplate-heavy corpus in the sf10
    scale run (SCALE.md r5) — a 1000-doc posting still emits ~500k pairs
    from one fingerprint, well past where a shared run is boilerplate, not
    plagiarism signal. Pass ``None`` to explicitly opt out (small corpora,
    forensic all-pairs runs).
    Returns (id_a, id_b, overlap) with id_a < id_b, overlap = fingerprint
    Jaccard >= threshold.
    """
    from hyperdx_spark.pipeline.text import winnow_fingerprint_rows

    # gram hashes evaluate once per doc, window minima slide via a
    # codegen'd frame aggregate
    fp = winnow_fingerprint_rows(
        df, text_col=text_col, id_col=id_col, k=k, w=w
    ).persist(storage_level)
    # Per-doc fingerprint-set size rides INTO the postings as struct(id, sz)
    # (r17, same device as ngram_jaccard_pairs): the former sizes relation
    # forced two joins of the larger candidate-pair table. sz is
    # functionally dependent on id, so the widened grouping key produces
    # identical groups and identical overlap values.
    fpsz = fp.selectExpr("id", "f", "count(*) OVER (PARTITION BY id) AS sz")
    postings = fpsz.groupBy("f").agg(
        F.expr("sort_array(collect_set(struct(id, sz)))").alias("ids")
    )
    if max_fp_df is not None:
        postings = postings.where(F.size("ids") <= max_fp_df)
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"), x["sz"].alias("sz_a"),
                        y["id"].alias("id_b"), y["sz"].alias("sz_b"),
                    ),
                ),
            )
        )
    )
    inter = (
        postings.where(F.size("ids") > 1)
        .select(pair.alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.sz_a").alias("sz_a"),
            F.col("p.id_b").alias("id_b"), F.col("p.sz_b").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.withColumn(
            "overlap",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )
    return _register_cached(out, [fp])


# ---------------------------------------------------------------- minhash

def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    verify_threshold: Optional[float] = 0.5,
    max_bucket_size: Optional[int] = 10_000,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding.

    num_hashes/bands rows per band; docs colliding in any band become
    candidates; optional exact-Jaccard verification on the (small) candidate
    set. Only bucket collisions are joined — all-pairs work never happens.

    Scale notes: the band self-join shuffles ONLY (id, band, bucket) rows —
    shingle sets are re-attached to the (much smaller) surviving pair list
    afterwards, so the wide arrays never ride through the candidate shuffle.
    ``max_bucket_size`` drops degenerate mega-buckets (boilerplate docs) whose
    n² pair fan-out would otherwise dominate; near-dup pipelines at corpus
    scale always cap these (pairs in a dropped bucket usually also collide in
    a healthier band). Capped BY DEFAULT (10k — a single 10k bucket already
    emits ~50M candidate pairs; the r5 sf10 scale run proved the uncapped
    sibling path OOMs on boilerplate); pass ``None`` to opt out explicitly.
    """
    rows_per_band = num_hashes // bands
    # Signature via shingle rows + 32 min-aggregates (NOT a nested higher-
    # order function): one md5 per (shingle, seed), whole-stage codegen,
    # map-side partial min. The nested-transform formulation forces
    # interpreted expression eval with per-seed shingle recomputation —
    # ~100× slower.
    exploded = shingle_rows(df, text_col, id_col, ngram)
    if verify_threshold is not None:
        # three plan branches read the shingles (signatures + two verify
        # joins) — persist so the expensive DAG runs once (release with
        # release_cached(result))
        exploded = exploded.persist(storage_level)
    # seeds are EXPLODED into rows rather than emitted as num_hashes agg
    # columns: a 32-wide min-aggregate compiles into a huge codegen unit
    # (multi-second janino compile on first execution); the narrow
    # (id, seed) min-agg is tiny, still map-side-combined, and shuffles only
    # the per-(id, seed) minima
    # single-expr construction (r16): same trees, one parse RPC each
    # instead of one RPC per Column operator — see shingle_rows note
    seeded = exploded.selectExpr(
        "id", f"explode(sequence(0, {num_hashes - 1})) AS seed", "s"
    )
    minh = seeded.groupBy("id", "seed").agg(
        F.expr("min(xxhash64(seed, s))").alias("h")
    )
    sig = (
        minh.groupBy("id")
        .agg(F.expr("array_sort(collect_list(struct(seed, h)))").alias("__sh"))
        .selectExpr("id", "__sh.h AS sig")
    )
    banded = sig.selectExpr(
        "id",
        f"explode(transform(sequence(0, {bands - 1}),"
        f" b -> struct(b AS band,"
        f" xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band}))"
        f" AS bucket))) AS bb",
    ).selectExpr("id", "bb.band AS band", "bb.bucket AS bucket")
    # Bucket members meet via ONE aggregation (collect ids per (band,bucket),
    # emit in-bucket pairs) instead of a self-join — the signature pipeline
    # is evaluated once and only bucket ids are shuffled.
    buckets = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    pair = F.expr(
        "explode(flatten(transform(ids,"
        " (x, i) -> transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x AS id_a, y AS id_b)))))"
    )
    cand = (
        buckets.where("size(ids) > 1")
        .select(pair.alias("p"))
        .selectExpr("p.id_a AS id_a", "p.id_b AS id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_threshold is None:
        return cand
    shingle_sets = (
        exploded.groupBy("id").agg(F.expr("sort_array(collect_set(s))").alias("sh"))
    )
    cand = cand.join(
        shingle_sets.selectExpr("id AS id_a", "sh AS sh_a"), on="id_a"
    ).join(shingle_sets.selectExpr("id AS id_b", "sh AS sh_b"), on="id_b")
    inter = "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
    union = f"CAST((size(sh_a) + size(sh_b) - {inter}) AS DOUBLE)"
    out = (
        cand.selectExpr(
            "*",
            f"CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END"
            " AS jaccard",
        )
        .where(f"jaccard >= {float(verify_threshold)!r}D")
        .select("id_a", "id_b", "jaccard")
    )
    return _register_cached(out, [exploded])


# ---------------------------------------------------------------- simhash

def simhash(text_col: str, bits: int = 64) -> Column:
    """SimHash fingerprint: per bit, sign of the sum over tokens of +-1 votes
    (bit b of xxhash64(token)). Near-identical docs differ in few bits.

    Pure higher-order-function implementation (no UDF): for each bit, count
    tokens whose hash has that bit set; bit is 1 when votes > n_tokens/2.
    """
    toks = tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)
    # bit b is 1 when more than half the token hashes have bit b set
    bit_vals = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.when(
            F.size(F.filter(hashes, lambda h: F.bit_get(h, b) == 1)) * 2 > n,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    # fold MSB-first: acc = acc*2 + bit (long overflow wraps — deterministic)
    return F.aggregate(
        F.reverse(bit_vals),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long") + x,
    )


def simhash_near_duplicates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: by pigeonhole, two fingerprints within
    max_hamming bits (max_hamming < blocks) agree on at least one of
    ``blocks`` contiguous 16-bit chunks — block on each chunk, then verify
    the Hamming distance with bit_count(xor).

    Fingerprints are computed distributed via explode + 64 bit-vote
    aggregates (same bits as the ``simhash`` column function, but codegen'd
    with map-side combine instead of interpreted nested lambdas).

    ``token_hash``: ``"xxhash64"`` (default, fastest) or ``"md5"`` — the
    first 64 bits of md5, packed MSB-first from the hex digits. The md5
    family is reproducible in any SQL engine (an external oracle can rebuild
    bit b as ``(hexdigit[(63-b)//4] >> (b%4)) & 1``), at ~2× the hash cost;
    use it when cross-engine verification matters more than throughput."""
    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    base = base.repartition(spark.sparkContext.defaultParallelism, "id")
    toks = base.select("id", F.explode_outer(tokens("__text")).alias("t"))
    if token_hash == "md5":
        hx = F.md5("t")
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        th = F.shiftleft(hi, 32).bitwiseOR(lo)
    elif token_hash == "xxhash64":
        th = F.xxhash64("t")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    tok = toks.select("id", th.alias("th"))
    votes = tok.groupBy("id").agg(
        F.count("th").alias("__n"),
        *[
            F.coalesce(
                F.sum(F.bit_get("th", F.lit(b)).cast("long")), F.lit(0)
            ).alias(f"__b{b}")
            for b in range(64)
        ],
    )
    packed = None
    for b in range(64):
        bit = F.when(
            F.col(f"__b{b}") * 2 > F.col("__n"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed + bit
    hs = votes.select("id", packed.alias("h"))
    return simhash_block_pairs(hs, max_hamming=max_hamming, blocks=blocks)


def simhash_block_pairs(
    hs: DataFrame,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """The blocking half of :func:`simhash_near_duplicates` over an
    ALREADY-FINGERPRINTED frame ``(id, h)``: pigeonhole-block on
    ``blocks`` contiguous ``64/blocks``-bit chunks, then verify
    ``bit_count(xor) <= max_hamming``.  Split out (r16) so the recall
    harness can plant fingerprint pairs at EXACT Hamming distance — the
    vote computation above is deterministic and pytest-pinned; the
    probabilistic recall surface is THIS stage (for h > max guaranteed by
    pigeonhole, recall = P[some block untouched by the h flips], an exact
    inclusion-exclusion prediction the harness measures against)."""
    chunk_bits = 64 // blocks
    blocked = hs.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("h"), b * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("key"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "h", F.col("bb.blk").alias("blk"), F.col("bb.key").alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.expr("bit_count(a.h ^ b.h)")
    return (
        a.join(b, on=["blk", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------- clustering

#: edge cap for the driver-local connected-components fast path; above it
#: (or for non-int/string ids, or any NULL endpoint) dedup_groups runs the
#: distributed propagation loop unchanged
_LOCAL_CC_MAX_EDGES = 262_144


def _dedup_groups_local(
    pairs: DataFrame, a_col: str, b_col: str, max_iterations: int
) -> Optional[DataFrame]:
    """Driver-local replay of dedup_groups' min-label propagation for small
    pair sets — returns None (caller falls back to the distributed loop)
    above ``_LOCAL_CC_MAX_EDGES`` pairs, for non-int/string id types, or if
    any endpoint is NULL.

    Motivation (guide §2/§5, r17): at gate scale the near-dup graph is tens
    of edges, but every distributed propagation round is a full
    join+aggregate job — ~0.7-0.9 s of scheduler/AQE fixed cost per round
    for KBs of data, times 2-4 rounds, times every dedup_groups call. A
    bounded driver collect is the same cost class as the BroadcastExchange
    the pair-finding plan already pays; the cap keeps it explicit, and the
    100 TB path (cap exceeded) is the untouched distributed loop.

    Exactness: this is the IDENTICAL algorithm, not an equivalent one —
    per round new_lbl[x] = min(lbl over neighbors(x) ∪ {x}), convergence
    checked after each round, the same ``max_iterations`` backstop splits
    the same deep components into the same partial groups, and the same
    RuntimeWarning fires on non-convergence (pinned by pytest parity
    including the diameter-overflow case). Int ids compare identically in
    Python and SQL; string ids compare by code point, which equals Spark's
    UTF8-binary ordering (UTF-8 byte order is code-point order).
    """
    ok_types = (ByteType, ShortType, IntegerType, LongType, StringType)
    ta = pairs.schema[a_col].dataType
    tb = pairs.schema[b_col].dataType
    if not isinstance(ta, ok_types) or not isinstance(tb, ok_types) or ta != tb:
        return None
    rows = (
        pairs.select(F.col(a_col), F.col(b_col))
        .limit(_LOCAL_CC_MAX_EDGES + 1)
        .collect()
    )
    if len(rows) > _LOCAL_CC_MAX_EDGES:
        return None
    adj: dict = {}
    for r in rows:
        a, b = r[0], r[1]
        if a is None or b is None:
            # NULL endpoints: keep the distributed plan's exact NULL
            # join/aggregate semantics rather than re-deriving them here
            return None
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {x: x for x in adj}
    converged = not adj  # empty graph: the distributed loop's seed probe
    # detects the fixed point in round 1; with no rows the round is a no-op
    for _ in range(max_iterations):
        if converged:
            break
        changed = False
        new = {}
        for x, nbrs in adj.items():
            m = labels[x]
            for y in nbrs:
                ly = labels[y]
                if ly < m:
                    m = ly
            new[x] = m
            if m != labels[x]:
                changed = True
        labels = new
        if not changed:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"dedup_groups: min-label propagation did not converge within "
            f"{max_iterations} iterations — a component with diameter > "
            f"{max_iterations} is split into multiple groups; raise "
            f"max_iterations for chain-shaped near-dup graphs",
            RuntimeWarning,
            stacklevel=3,
        )
    spark = pairs.sparkSession
    out_schema = StructType(
        [
            StructField("id", ta, True),
            StructField("group_id", ta, True),
            StructField("is_keeper", BooleanType(), True),
        ]
    )
    data = [(x, g, x == g) for x, g in labels.items()]
    return local_frame(spark, data, out_schema)


def dedup_groups(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster near-duplicate pairs into groups: connected components by
    iterative min-label propagation, the standard DataFrame-native CC (each
    round: label = min(label, neighbors' labels); converge in
    O(component diameter) rounds — near-dup clusters are shallow, so a
    handful of shuffles regardless of corpus size; ``max_iterations`` is a
    pathological-chain backstop).

    Returns (id, group_id, is_keeper): group_id = min member id (the kept
    document in keep-lowest-id dedup policies). Only ids that appear in a
    pair are returned — everything else is its own singleton group.

    Small pair sets (≤ ``_LOCAL_CC_MAX_EDGES``, int/string ids, no NULLs)
    take a driver-local replay of the identical algorithm — see
    :func:`_dedup_groups_local`; everything else runs the distributed loop.
    """
    local = _dedup_groups_local(pairs, a_col, b_col, max_iterations)
    if local is not None:
        return local
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        # r17: SELF-LOOPS (x, x) fold each node's own label into the
        # neighbor-min aggregate, so a propagation round is ONE join + ONE
        # aggregate — the former per-round `labels LEFT JOIN neighbor_min
        # + least(...)` (a third per-round operator and its exchange) is
        # gone, and the aggregate's output partitioning (src = id) is
        # exactly what the next round's labels side needs, so rounds chain
        # with a single exchange each (guide §2.4). min(lbl over
        # {neighbors + self}) ≡ least(own, neighbor-min) — identical
        # labels per round, identical fixed point.
        .unionByName(
            pairs.select(F.col(a_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(b_col).alias("dst"))
        )
        .distinct()
        # r16: hash-partition the cached edges on the per-iteration join
        # key so InMemoryTableScan's reported partitioning satisfies the
        # join's distribution every round — one exchange at cache build
        # replaces one per iteration on the (larger) edge side.
        .repartition("dst")
        # every propagation round joins the edge list — persist it, or the
        # UPSTREAM pair-finding DAG (LSH bands, self-join, verify) re-runs
        # once per iteration (measured ~6x the whole semantic-dedup cost at
        # sf1 before this). Released via release_cached on the result.
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
    )
    # r16: for numeric ids the convergence probe is ONE aggregate instead
    # of a labels⋈labels join per round: lbl is non-increasing per id
    # (least of itself and the neighbor min), so Σlbl is strictly
    # decreasing until the fixed point and equal sums ⟺ no change.
    # decimal(38,0) keeps the sum exact at any corpus size (|V|·max_id <
    # 10³⁸).  Non-numeric ids keep the join-based probe.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    numeric_ids = isinstance(
        labels.schema["lbl"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )

    def _label_sum(frame):
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    converged = False
    cp_handles: list[_LocalCheckpointHandle] = []
    new_labels: DataFrame | None = None
    prev_sum = object()  # never equal on the first comparison
    # unpersist-on-raise: the loop runs jobs (eager checkpoints, the
    # convergence count) while edges/labels/checkpoint blocks are
    # persisted — a mid-loop failure would strand them all in a
    # long-lived session, since only a RETURNED frame's registrations
    # reach release_cached.
    try:
        if numeric_ids:
            # seed with the INITIAL label sum (r16 ADVICE #1): an
            # already-converged graph (self-loops, empty edge set) is then
            # detected in iteration 1 instead of needing a second round —
            # and convergence landing exactly on max_iterations no longer
            # raises a spurious did-not-converge warning. One extra small
            # aggregate; it materializes the persisted edges the first
            # propagation round would have paid for anyway.
            prev_sum = _label_sum(labels)
        for it in range(max_iterations):
            # self-loops make the neighbor-min aggregate include the node's
            # own label, so this IS the new label — no least()/left-join
            # pass (see the edges construction note)
            new_labels = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("lbl").alias("lbl"))
                .withColumnRenamed("src", "id")
            )
            # Truncate lineage every few rounds: without this the plan tree
            # at iteration N nests N joins and analysis/scheduling cost
            # blows up on deep components.
            if it > 0 and it % 5 == 0:
                # LAZY checkpoint: the handle must exist BEFORE anything
                # materializes the blocks — an eager checkpoint whose job
                # dies mid-way leaves partial blocks with no handle, which
                # the except path below could never free (review r16).
                # The convergence count right after materializes it.
                new_labels = new_labels.localCheckpoint(eager=False)
                # DataFrame.unpersist() cannot free checkpoint blocks —
                # keep a LogicalRDD handle so release_cached frees them
                # (ADVICE r5)
                cp_handles.append(_LocalCheckpointHandle(new_labels))
            else:
                new_labels = new_labels.persist()
            if numeric_ids:
                new_sum = _label_sum(new_labels)
                unchanged = new_sum == prev_sum
                prev_sum = new_sum
            else:
                unchanged = (
                    new_labels.join(
                        labels.withColumnRenamed("lbl", "old"), on="id"
                    )
                    .where(F.col("lbl") != F.col("old"))
                    .limit(1)
                    .count()
                    == 0
                )
            labels.unpersist()  # no-op on the (unpersisted) first iteration
            labels = new_labels
            if unchanged:
                converged = True
                break
    except BaseException:
        edges.unpersist()
        labels.unpersist()
        if new_labels is not None and new_labels is not labels:
            new_labels.unpersist()
        for handle in cp_handles:
            handle.unpersist()
        raise
    if not converged:
        warnings.warn(
            f"dedup_groups: min-label propagation did not converge within "
            f"{max_iterations} iterations — a component with diameter > "
            f"{max_iterations} is split into multiple groups; raise "
            f"max_iterations for chain-shaped near-dup graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    out = labels.select(
        F.col("id"),
        F.col("lbl").alias("group_id"),
        (F.col("id") == F.col("lbl")).alias("is_keeper"),
    )
    # labels.unpersist() is a no-op when the loop ended on a checkpoint
    # iteration — the cp_handles free those blocks
    return _register_cached(out, [edges, labels, *cp_handles])


# ---------------------------------------------------------------- contamination

def ngram_rows_strict(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """(id, g) word n-gram rows — the strict variant of :func:`shingle_rows`:
    documents with fewer than *n* tokens emit nothing (an n-gram rule cannot
    fire on them), and rows are NOT deduplicated (consumers aggregate with
    ``countDistinct`` or broadcast a ``.distinct()`` of the small side, so a
    corpus-wide pre-dedup shuffle would be pure waste).

    Same codegen-friendly formulation as ``shingle_rows``: posexplode the
    token array once, assemble each gram from ``lead()`` windows — the only
    shuffle is the window partition on the doc id.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    base = base.repartition(spark.sparkContext.defaultParallelism, "id")
    tokrows = base.select(
        "id", F.posexplode(tokens("__text")).alias("__pos", "__tk")
    )
    w = Window.partitionBy("id").orderBy("__pos")
    leads = [F.col("__tk")] + [F.lead("__tk", i).over(w) for i in range(1, n)]
    return (
        tokrows.select(
            "id",
            "__pos",
            F.concat_ws(" ", *leads).alias("g"),
            leads[-1].alias("__ok"),
        )
        .where(F.col("__ok").isNotNull())
        .drop("__ok")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: Optional[str] = None,
    bench_id_col: Optional[str] = None,
) -> DataFrame:
    """Benchmark-contamination report (the GPT-3 appendix-C / PaLM
    decontamination rule): a corpus document is contaminated when it shares
    at least one word *n*-gram (default 8, lower-cased alphanumeric tokens)
    with any benchmark/eval document.

    Returns one row per contaminated corpus document:
    ``(id_col, n_grams_hit, n_bench_docs, n_gram_occ_hit, n_grams_total,
    contaminated_frac)`` — distinct contaminated n-grams, distinct
    benchmark documents hit (the provenance count an auditor wants before
    dropping training data), contaminated gram *positions*, the document's
    total gram positions, and their ratio — the PaLM-style dial ("dirty
    when ≥70% of 8-grams were seen") exposed as
    ``decontaminate(threshold=...)``.

    Scale shape (100 TB corpus vs a few-MB eval suite): the benchmark side
    is exploded to distinct (bench_id, gram) and **broadcast** — eval sets
    are thousands of documents, so the gram table is small by construction.
    The corpus side is exploded narrow (codegen'd lead-window grams, no
    corpus-side distinct) and filtered by the broadcast hash join; the only
    corpus-scale shuffle is the final groupBy on the doc id, which sees hit
    rows only. No all-pairs work anywhere.
    """
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col
    bench = (
        ngram_rows_strict(benchmark, bench_text_col, bench_id_col, n)
        .select(F.col("id").alias("__bid"), "g")
        .distinct()
    )
    hits = ngram_rows_strict(corpus, text_col, id_col, n).join(
        F.broadcast(bench), on="g"
    )
    report = hits.groupBy("id").agg(
        F.countDistinct("g").alias("n_grams_hit"),
        F.countDistinct("__bid").alias("n_bench_docs"),
        F.countDistinct("__pos").alias("n_gram_occ_hit"),
    )
    # Per-doc total gram positions: row-local on the corpus scan; the
    # (small) report side broadcasts under AQE, so no corpus-scale shuffle.
    totals = corpus.select(
        F.col(id_col).alias("id"),
        F.greatest(
            F.size(tokens(text_col)) - n + 1, F.lit(0)
        ).cast("long").alias("n_grams_total"),
    )
    return (
        report.join(totals, on="id")
        .withColumn(
            "contaminated_frac",
            F.col("n_gram_occ_hit") / F.col("n_grams_total"),
        )
        .withColumnRenamed("id", id_col)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: Optional[str] = None,
    bench_id_col: Optional[str] = None,
    threshold: Optional[float] = None,
) -> DataFrame:
    """Corpus minus contaminated documents (anti-join on the
    :func:`ngram_contamination` report). With *threshold* (PaLM policy:
    0.7 ≈ "drop when 70% of the document's n-grams were seen in an eval
    set") only docs whose ``contaminated_frac`` reaches it are dropped;
    the default drops on any shared n-gram (GPT-3 policy). The report side
    carries one row per contaminated doc — small next to the corpus — so
    Spark's join planning (AQE) broadcasts it in the common case."""
    bad = ngram_contamination(
        corpus,
        benchmark,
        n,
        text_col=text_col,
        id_col=id_col,
        bench_text_col=bench_text_col,
        bench_id_col=bench_id_col,
    )
    if threshold is not None:
        bad = bad.where(F.col("contaminated_frac") >= threshold)
    return corpus.join(bad.select(id_col), on=id_col, how="left_anti")


def pick_keepers(
    groups: DataFrame,
    scored: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Re-select the kept document of each duplicate cluster by a quality
    score (the CCNet / RefinedWeb policy: keep the best member, not the
    lowest id). Ties break to the smallest id; members missing from
    *scored* rank last.

    Input: *groups* from :func:`dedup_groups` (id, group_id, is_keeper);
    *scored* carries (id_col, score_col). Output has the same shape as
    *groups* with ``is_keeper`` recomputed.

    Scale shape: two ``groupBy(group_id)`` aggregations (max score, then
    min id among the maximal members) — map-side partial aggregation makes
    them robust to the one pathological mega-cluster (site boilerplate
    duplicated across millions of pages) that would overload a
    window-partition formulation.
    """
    j = groups.select("id", "group_id").join(
        scored.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("__score")
        ),
        on="id",
        how="left",
    )
    best = j.groupBy("group_id").agg(F.max("__score").alias("__best"))
    keep = (
        j.join(best, on="group_id")
        .where(
            F.col("__score").eqNullSafe(F.col("__best"))
        )
        .groupBy("group_id")
        .agg(F.min("id").alias("__keep"))
    )
    return j.join(keep, on="group_id").select(
        "id",
        "group_id",
        (F.col("id") == F.col("__keep")).alias("is_keeper"),
    )


def drop_near_duplicates(
    corpus: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: Optional[str] = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """End-to-end near-dup removal: cluster the candidate *pairs*
    (:func:`dedup_groups`), pick one keeper per cluster — by *score_col*
    on the corpus when given (:func:`pick_keepers`), else lowest id — and
    anti-join the losers out of *corpus*. Documents in no pair are
    untouched (their own singleton cluster).

    The dropped-id side is bounded by the number of clustered documents,
    so the final anti-join broadcasts under AQE whenever near-dups are a
    small fraction of the corpus.

    Intermediates persisted by the inner operators — *pairs*' (when it came
    from an LSH pair finder) and ``dedup_groups``' — are re-registered on
    the returned frame, so one ``release_cached(result)`` frees the whole
    composition (ADVICE r5).
    """
    groups = dedup_groups(
        pairs, a_col=a_col, b_col=b_col, max_iterations=max_iterations
    )
    inherited = _inherit_cached(pairs, groups)
    if score_col is not None:
        groups = pick_keepers(
            groups, corpus, id_col=id_col, score_col=score_col
        )
    losers = groups.where(~F.col("is_keeper")).select(
        F.col("id").alias(id_col)
    )
    out = corpus.join(losers, on=id_col, how="left_anti")
    return _register_cached(out, inherited)


def semantic_dedup(
    corpus: DataFrame,
    embeddings: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: Optional[str] = None,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    max_iterations: int = 20,
    max_bucket_size: Optional[int] = 10_000,
    min_expected_recall: Optional[float] = 0.5,
    exhaustive: bool = False,
    block_col: Optional[str] = None,
    block_k: Optional[int] = None,
    block_iterations: int = 3,
    block_init: str = "parallel",
) -> DataFrame:
    """SemDeDup (Abbas'23): drop documents whose *embeddings* are
    near-duplicates (cosine ≥ *threshold*), keeping one representative per
    semantic cluster — by *score_col* on the corpus when given, else the
    lowest id.

    Pure composition of the scale-audited pieces: LSH-banded cosine pairs
    (``similarity.cosine_pairs`` — banded buckets, never all-pairs),
    connected-components clustering, keeper selection, loser anti-join
    (:func:`drop_near_duplicates`). *embeddings* rows are matched to
    corpus rows by id (``emb_id_col`` ↔ ``id_col``); corpus docs without
    an embedding are kept untouched.

    **The paper's own shape, first-class (r15):** ``block_k=K`` runs
    deterministic k-means (``clustering.kmeans_fit`` with the k-means‖
    init — K can be SemDeDup-realistic, Abbas'23 uses ~11k clusters) and
    dedups EXHAUSTIVELY within each cluster — O(Σ cluster²) candidate
    pairs, never N², with within-cluster recall exactly 1 (and the
    ``max_bucket_size`` cap applying to degenerate mega-clusters).
    Alternatively pass ``block_col`` (together with ``exhaustive=True``
    — the ``cosine_pairs`` contract, enforced there) when *embeddings*
    already carries a cluster column.  Recall across cluster boundaries is a function of K vs the
    corpus's natural granularity (measured: SCALE.md "banded/blocked
    recall", r15) — use the banded path (the default) when a recall floor
    at a specific cosine must hold regardless of cluster geometry.

    ``max_bucket_size`` defaults to ``cosine_pairs``'s 10k cap (sf10-proven
    mandatory at scale; ``None`` opts out). Blocks persisted by the inner
    operators are registered on the result — one
    ``dedup.release_cached(result)`` after the terminal action frees the
    signature frame, edge list and checkpoint blocks (ADVICE r5).
    """
    from hyperdx_spark.pipeline.similarity import cosine_pairs

    cached: list = []
    if block_k is not None:
        if block_col is not None:
            raise ValueError(
                "block_k and block_col are mutually exclusive — block_k "
                "clusters internally, block_col uses a precomputed column"
            )
        from hyperdx_spark.pipeline.clustering import kmeans_assign, kmeans_fit

        cents = kmeans_fit(
            embeddings, block_k, id_col=emb_id_col, vec_col=vec_col,
            seed=seed, iterations=block_iterations, init=block_init,
        )
        # persist: cosine_pairs reads the assignment frame ~3 times (the
        # mega-block cap aggregate + the two sides of the block self-join,
        # which since r16 carries the vectors) and mapInPandas assignments
        # cannot be collapsed by Catalyst — without the barrier the
        # dominant k x N distance pass re-runs each time (the banded path
        # persists its signature frame for the same reason). Registered on
        # the result for release_cached.
        embeddings = kmeans_assign(
            embeddings, cents, vec_col=vec_col,
            cluster_col="__sem_blk", method="arrow",
        ).persist()
        cached.append(embeddings)
        block_col = "__sem_blk"
        exhaustive = True  # we created the blocks: within-block all-pairs
        # is the contract (block_col passed BY THE CALLER instead forwards
        # the caller's exhaustive and lets cosine_pairs enforce its own
        # block_col-requires-exhaustive error rather than silently
        # upgrading a banded request to O(sum block^2))

    # unpersist-on-raise: the assignment frame is persisted BEFORE the
    # downstream wiring; if cosine_pairs validation (or anything after)
    # raises, the block would otherwise leak in a long-lived session until
    # storage eviction — the accumulation release_cached exists to prevent
    # (r15 advice)
    pairs = None
    try:
        pairs = cosine_pairs(
            embeddings,
            id_col=emb_id_col,
            vec_col=vec_col,
            threshold=threshold,
            num_planes=num_planes,
            bands=bands,
            dim=dim,
            seed=seed,
            max_bucket_size=max_bucket_size,
            min_expected_recall=min_expected_recall,
            exhaustive=exhaustive,
            block_col=block_col,
        )
        out = drop_near_duplicates(
            corpus,
            pairs,
            id_col=id_col,
            score_col=score_col,
            max_iterations=max_iterations,
        )
    except BaseException:
        release = list(cached)
        if pairs is not None:
            release += _inherit_cached(pairs)
        for c in release:
            c.unpersist()
        raise
    return _register_cached(out, _inherit_cached(out) + cached)


def d4_select(
    corpus: DataFrame,
    embeddings: DataFrame,
    *,
    block_k: int,
    threshold: float = 0.9,
    drop_frac: float = 0.25,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: Optional[str] = None,
    seed: int = 42,
    block_iterations: int = 3,
    block_init: str = "parallel",
    block_centroids: Optional[Sequence[Sequence[int]]] = None,
    max_bucket_size: Optional[int] = 10_000,
    max_iterations: int = 20,
) -> DataFrame:
    """D4 (Tirumala et al. 2023) end to end, ONE call and ONE clustering
    pass: k-means‖ clusters → SemDeDup within clusters (drop embeddings
    at cosine ≥ ``threshold``, keeper by ``score_col`` else lowest id) →
    SSL-prototypes diversification (drop the ``drop_frac`` fraction of
    each cluster nearest its centroid, over the SemDeDup survivors).
    Returns the kept corpus rows; docs without an embedding pass through
    both stages untouched (the :func:`semantic_dedup` convention).

    The expensive pieces are shared: the centroids are fit once, the
    assignment frame (cluster + exact integer distance) is computed once,
    persisted, and reused by both the within-cluster pair join (via the
    :func:`semantic_dedup` caller-block path — one SemDeDup wiring, not
    two) and the prototype window; the SemDeDup survivor frame is
    persisted too (it feeds both the prototype stage and the final
    anti-join).  Release everything with
    ``dedup.release_cached(result)`` after the terminal action.

    Scale shape: O(rounds) init passes + row-local assignment +
    O(Σ cluster²) capped pair join + one window shuffle per cluster —
    never a global N² and never k sequential jobs.

    ``block_centroids``: pass an already-fitted centroid matrix (r16) to
    skip the internal ``kmeans_fit`` — for callers that already paid a
    clustering pass (must have exactly ``block_k`` rows)."""
    from hyperdx_spark.pipeline.clustering import (
        kmeans_assign, kmeans_fit, prototype_filter,
    )

    if not (0.0 <= drop_frac < 1.0):
        # fail before the k-means fit / assignment / dedup pipeline runs
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    if block_centroids is not None:
        # caller already paid a clustering pass (r16 review): reuse it
        # instead of refitting bit-identical centroids — the operator's
        # whole point is sharing ONE clustering
        if len(block_centroids) != block_k:
            raise ValueError(
                f"block_centroids has {len(block_centroids)} rows but "
                f"block_k={block_k}"
            )
        cents = [list(c) for c in block_centroids]
    else:
        cents = kmeans_fit(
            embeddings, block_k, id_col=emb_id_col, vec_col=vec_col,
            seed=seed, iterations=block_iterations, init=block_init,
        )
    assigned = kmeans_assign(
        embeddings, cents, vec_col=vec_col,
        cluster_col="__sem_blk", method="arrow", dist_col="__sem_d",
    ).persist()
    # unpersist-on-raise, same discipline as semantic_dedup (r15 advice):
    # semantic_dedup releases ITS OWN persists when it raises, but the
    # frames persisted HERE must be released here or they leak
    try:
        sem = semantic_dedup(
            corpus, assigned,
            threshold=threshold, id_col=id_col, emb_id_col=emb_id_col,
            vec_col=vec_col, score_col=score_col, seed=seed,
            max_iterations=max_iterations, max_bucket_size=max_bucket_size,
            exhaustive=True, block_col="__sem_blk",
        ).persist()
    except BaseException:
        assigned.unpersist()
        raise
    try:
        survivors = assigned.join(
            sem.select(F.col(id_col).alias(emb_id_col)),
            on=emb_id_col, how="left_semi",
        )
        dropped = prototype_filter(
            survivors, drop_frac, invert=True,
            id_col=emb_id_col, cluster_col="__sem_blk", dist_col="__sem_d",
        ).select(F.col(emb_id_col).alias(id_col))
        out = sem.join(dropped, on=id_col, how="left_anti")
    except BaseException:
        for c in _inherit_cached(sem) + [assigned, sem]:
            c.unpersist()
        raise
    return _register_cached(out, _inherit_cached(sem) + [assigned, sem])
