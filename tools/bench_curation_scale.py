"""Scale measurement for the FULL curation chain (r15 — verdict task #3).

`tests/test_curation_e2e.py` proves the composition at toy size and the
stages are individually decade-measured, but the CHAIN — normalize →
exact dedup → SemDeDup within k-means clusters → D4 diversification
(drop the most prototypical 25% per cluster, Tirumala'23) → Gopher +
perplexity gates → DSIR → packing, with localCheckpoint materialization
between stages — was not.  This runs the same composition shape at sf1/sf10 and
reports per-stage wall time, per-stage survivor counts, and the peak
single-stage shuffle write (via the Spark UI REST API — the one metric
that flags a stage whose shuffle would not survive a 100× scale-up).

The semantic stage runs at SemDeDup-realistic k = n_vectors/100 with the
r15 k-means‖ init — the configuration farthest-first init could not
reach (k sequential jobs).

Usage: python tools/bench_curation_scale.py [sf_dirs...]
Prints one JSON line; paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from hyperdx_spark.session import RUNTIME_CONFS, release, tune_session  # noqa: E402
from hyperdx_spark.io import ensure_min_parallelism, load_table  # noqa: E402
from hyperdx_spark.pipeline import (  # noqa: E402
    clustering, dedup, dsir, packing, perplexity, similarity, text, textnorm,
)

DIRS = sys.argv[1:] or ["/root/repo/.scale/sf1", "/root/repo/.scale/sf10"]
UI_PORT = 4055


def get_ui_spark(cpus: int = 32) -> SparkSession:
    """get_spark's config, but with the UI on so the REST API can report
    per-stage shuffle bytes (the library session keeps it off)."""
    builder = (
        SparkSession.builder.appName("bench-curation")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
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


def _stages(spark) -> list:
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/stages",
        timeout=10,
    ) as resp:
        return json.loads(resp.read())


def max_stage_id(spark) -> int:
    """High-water stage id — snapshot BEFORE a chain so its shuffle peak
    covers only its own stages (the session is shared across sf dirs; an
    unscoped max would report the biggest EARLIER dir's peak)."""
    try:
        return max((s.get("stageId", -1) for s in _stages(spark)), default=-1)
    except Exception:
        return -1


def peak_stage_shuffle_mb(spark, since_stage: int) -> float:
    """Max shuffle write bytes over stages NEWER than ``since_stage``."""
    try:
        stages = _stages(spark)
        return round(
            max(
                (s.get("shuffleWriteBytes", 0) for s in stages
                 if s.get("stageId", -1) > since_stage),
                default=0,
            )
            / 1e6,
            1,
        )
    except Exception:
        return -1.0  # UI unavailable — report honestly rather than fake 0


def run_chain(spark, sf_dir: str) -> dict:
    stage_mark = max_stage_id(spark)
    docs = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"))
    out: dict = {"docs": docs.count(), "vectors": emb.count()}

    t0 = time.monotonic()
    cleaned = textnorm.normalize_for_dedup(docs).localCheckpoint()
    out["normalize_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    exact = dedup.drop_exact_duplicates(cleaned).localCheckpoint()
    out["exact_rows"] = exact.count()
    out["exact_s"] = round(time.monotonic() - t0, 2)

    # semantic near-dup within k-means clusters at SemDeDup-realistic k
    t0 = time.monotonic()
    semi = emb.join(
        exact.select(F.col("doc_id").alias("vec_id")), on="vec_id",
        how="left_semi",
    )
    k = max(16, out["vectors"] // 100)
    cents = clustering.kmeans_fit(semi, k, iterations=3, init="parallel")
    blocked = clustering.kmeans_assign(semi, cents, method="arrow")
    pairs = similarity.cosine_pairs(
        blocked, id_col="vec_id", threshold=0.99,
        exhaustive=True, block_col="cluster",
    )
    scored = exact.withColumn("score", F.octet_length("text").cast("double"))
    sem = dedup.drop_near_duplicates(
        scored,
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        ),
        id_col="doc_id", score_col="score",
    ).localCheckpoint()
    out["semdedup_k"] = k
    out["sem_rows"] = sem.count()
    out["sem_s"] = round(time.monotonic() - t0, 2)

    # D4 diversification (Tirumala'23): drop the 25% of each cluster
    # nearest its centroid, over the SemDeDup survivors that carry an
    # embedding (docs without one pass through, like semantic_dedup)
    t0 = time.monotonic()
    semi2 = emb.join(
        sem.select(F.col("doc_id").alias("vec_id")), on="vec_id",
        how="left_semi",
    )
    # hold the operator's result while frames derived from it run: it
    # owns the centroid broadcast they read
    kept_d4 = clustering.drop_prototypical(semi2, cents, 0.25)
    kept_vec = kept_d4.select(F.col("vec_id").alias("doc_id"))
    dropped = semi2.select(F.col("vec_id").alias("doc_id")).join(
        kept_vec, on="doc_id", how="left_anti"
    )
    sem = sem.join(dropped, on="doc_id", how="left_anti").localCheckpoint()
    out["d4_rows"] = sem.count()
    out["d4_s"] = round(time.monotonic() - t0, 2)

    # Gopher gate with corpus-calibrated thresholds: the paper defaults
    # target web text (>=2 stopword hits from a fixed English list); the
    # synthetic corpus has ~0 hits of those words, so the uncalibrated
    # conjunction keeps nothing and the rest of the chain would measure
    # empty inputs. Same operator, realistic keep-rate (~73%).
    t0 = time.monotonic()
    gophered = text.gopher_filter(
        sem, keep_only=True,
        min_words=20, min_stopword_hits=1, min_alpha_word_frac=0.5,
    ).select("doc_id", "text").localCheckpoint()
    out["gopher_rows"] = gophered.count()
    out["gopher_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    target = gophered.where(F.col("doc_id") % 17 == 0)
    lm = perplexity.bigram_lm_fit(target, vocab=4096)
    filtered = perplexity.perplexity_filter(
        gophered, lm, 8.0, keep_empty=False
    ).localCheckpoint()
    out["ppl_rows"] = filtered.count()
    out["ppl_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    selected = dsir.dsir_select(filtered, target, 1000, buckets=8192)
    out["dsir_rows"] = selected.count()
    out["dsir_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    with_tokens = selected.select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    packed = packing.pack_sequences(with_tokens, 2048, num_shards=32)
    out["packed_rows"] = packed.count()
    out["pack_s"] = round(time.monotonic() - t0, 2)

    out["chain_s"] = round(
        sum(v for s, v in out.items() if s.endswith("_s")), 2
    )
    out["peak_stage_shuffle_mb"] = peak_stage_shuffle_mb(spark, stage_mark)
    return out


def measure_d4_shared(spark, sf_dir: str) -> dict:
    """r15 verdict #4: quantify d4_select's shared-clustering saving.
    Runs the ONE-CALL d4_select (one k-means fit + one persisted
    assignment shared by SemDeDup and the prototype window) against the
    naive two-pass composition (semantic_dedup(block_k=k), then a SECOND
    kmeans_fit + assignment for the prototype stage).  Both paths are
    deterministic with the same seed, so the kept sets must be IDENTICAL
    — asserted, which re-proves the composition while timing it."""
    docs = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    k = max(16, n // 100)
    out = {"k": k, "vectors": n}

    t0 = time.monotonic()
    sel = dedup.d4_select(
        docs, emb, block_k=k, threshold=0.99, drop_frac=0.25,
    )
    out["d4_select_rows"] = sel.count()
    out["d4_select_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    sem = dedup.semantic_dedup(
        docs, emb, threshold=0.99, block_k=k,
    )
    sem = sem.persist()
    sem.count()
    # the naive second pass: refit + reassign (what a caller composing
    # the two public operators without d4_select would pay)
    cents = clustering.kmeans_fit(emb, k, iterations=3, init="parallel")
    semi = emb.join(
        sem.select(F.col("doc_id").alias("vec_id")), on="vec_id",
        how="left_semi",
    )
    assigned = clustering.kmeans_assign(
        semi, cents, method="arrow", cluster_col="cluster", dist_col="__d",
    )
    dropped = clustering.prototype_filter(
        assigned, 0.25, invert=True, cluster_col="cluster", dist_col="__d",
    ).select(F.col("vec_id").alias("doc_id"))
    naive = sem.join(dropped, on="doc_id", how="left_anti")
    out["naive_rows"] = naive.count()
    out["naive_s"] = round(time.monotonic() - t0, 2)
    # release BOTH paths' cached blocks before returning (even on the
    # mismatch raise): the sf1 call's persisted assignment frames would
    # otherwise stay cached through the sf10 run and bias exactly the
    # timings this function reports (r16 review)
    release(sel)
    release(sem)
    sem.unpersist()
    if out["naive_rows"] != out["d4_select_rows"]:
        raise AssertionError(
            f"d4_select ({out['d4_select_rows']}) and the naive two-pass "
            f"({out['naive_rows']}) kept different row counts — the "
            "composition no longer matches its parts"
        )
    return out


def main() -> None:
    spark = get_ui_spark()
    res = {}
    for sf_dir in DIRS:
        tag = sf_dir.rsplit("/", 1)[-1]
        res[tag] = run_chain(spark, sf_dir)
        res[tag]["d4_shared"] = measure_d4_shared(spark, sf_dir)
    print(json.dumps({"curation_chain": res}))


if __name__ == "__main__":
    main()
