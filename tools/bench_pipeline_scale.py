"""Scale measurement for the adversarial-tier pipeline operators — the
ones whose 100 TB claims carry the most join machinery: MinHash+LSH,
winnowing, C4 span dedup, SemDeDup, and the IVF-PQ index, plus the
mega-cluster keeper fixture (one near-dup cluster = 30% of the corpus)
that proves `pick_keepers`' groupBy formulation holds where a
window-partition formulation funnels the cluster through one task.

Usage: python tools/bench_pipeline_scale.py <sf_dir> [cpus]
Prints one JSON line: {"sf_dir": ..., "ops": {name: sec, ...},
"mega": {...}}. Run on .scale/sf1 and .scale/sf10 and compare —
a healthy operator lands near the 10x data ratio (linear) on the
candidate-structure-preserving corpus build (make_scale.py corpus mode).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hyperdx_spark import get_spark  # noqa: E402
from hyperdx_spark.io import load_table  # noqa: E402
from hyperdx_spark.pipeline import dedup, similarity  # noqa: E402
from hyperdx_spark.session import release  # noqa: E402


def _docs_with_near_dups(spark, sf_dir):
    """Same deterministic mutation the gate queries use: every 10th doc
    gains a mutated near-duplicate, so the pair-finders do real work."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutated tail")).alias("text"),
    )
    return docs.unionByName(mutated)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("pipeline-scale", cpus=cpus)
    results: dict[str, float] = {}

    def clock(name: str, fn) -> None:
        t0 = time.time()
        out = fn()
        results[name] = round(time.time() - t0, 2)
        print(f"{name}: {results[name]}s ({out})", file=sys.stderr)

    docs_nd = _docs_with_near_dups(spark, sf_dir)

    def run_minhash():
        pairs = dedup.minhash_lsh_pairs(
            docs_nd, num_hashes=32, bands=8, verify_threshold=0.5
        )
        n = pairs.count()
        release(pairs)
        return f"{n} pairs"

    clock("minhash_lsh", run_minhash)

    def run_winnow():
        # same 1-in-5 subset rule as the gate entry at every sf, so the
        # ratio compares like with like (keeps all mutated near-dups).
        # max_fp_df is MANDATORY at scale: the synthetic corpus shares
        # template phrasing, so without the stop-fingerprint cap the hot
        # postings pair n² and OOM the executors at sf10 (measured r5).
        # Since r6 the cap is the DEFAULT (1000) — the harness takes the
        # defaults on purpose, proving the out-of-the-box configuration
        # survives the decade (it did not when the default was None).
        pairs = dedup.winnow_pairs(
            docs_nd.where(F.col("doc_id") % 5 == 0), k=8, w=16,
            threshold=0.3,
        )
        n = pairs.count()
        release(pairs)
        return f"{n} pairs"

    clock("winnow", run_winnow)

    def run_span():
        span_docs = docs_nd.withColumn(
            "text", F.replace(F.col("text"), F.lit(" table"), F.lit(" table."))
        )
        out = dedup.duplicate_span_removal(span_docs)
        dropped = out.agg(F.sum("n_dropped")).collect()[0][0]
        release(out)
        return f"{dropped} sentences dropped"

    clock("span_dedup", run_span)

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def run_semdedup():
        # banding sized for corpus scale: rows-per-band ~ log2(n) so random
        # pairs don't collide (hyperplane LSH needs bits that grow with n).
        # min_expected_recall=None: this is the precision-heavy cos≈1
        # configuration the r6 recall guard exists to make explicit —
        # at-threshold (0.9) recall is ~0.13 by design, true copies
        # (cos≈1) still collide at ~0.78
        kept = dedup.semantic_dedup(
            docs, emb, threshold=0.9, num_planes=60, bands=3,
            min_expected_recall=None,
        )
        ret = f"{kept.count()} docs kept"
        release(kept)
        return ret

    clock("semantic_dedup", run_semdedup)

    def run_ivfpq():
        path = tempfile.mkdtemp(prefix="ivfpq_scale_") + "/idx"
        similarity.build_ivfpq_index(emb, path, nlist=64, m=8, codes=16)
        qs = emb.where(F.col("vec_id") < 8)
        got = similarity.query_ivfpq_index(
            spark, path, qs, k=5, nprobe=8, refine=100
        )
        return f"{got.count()} result rows"

    clock("ivfpq_index", run_ivfpq)

    # ---- mega-cluster keeper fixture: ONE connected component holding 30%
    # of the corpus (star edges -> min-label propagation converges fast),
    # keeper = best score then min id. The groupBy(group_id) aggregations in
    # pick_keepers take map-side partials, so the giant group never rides
    # one task — the thing a row_number() OVER (PARTITION BY group_id)
    # window cannot avoid.
    n_docs = docs.count()
    members = docs.where(F.col("doc_id") % 10 < 3).select("doc_id")
    hub = members.agg(F.min("doc_id")).collect()[0][0]
    pairs = members.where(F.col("doc_id") != hub).select(
        F.lit(hub).alias("id_a"), F.col("doc_id").alias("id_b")
    )
    scored = docs.select(
        "doc_id", (F.xxhash64("doc_id") % 1000).cast("double").alias("score")
    )
    mega: dict[str, float | int] = {"cluster_size": members.count(), "n_docs": n_docs}

    def run_mega_groupby():
        groups = dedup.dedup_groups(pairs)
        keep = dedup.pick_keepers(groups, scored, id_col="doc_id", score_col="score")
        kept = keep.where(F.col("is_keeper")).count()
        assert kept == 1, kept  # one keeper for the one cluster
        return "1 keeper"

    t0 = time.time()
    run_mega_groupby()
    mega["groupby_s"] = round(time.time() - t0, 2)

    def run_mega_window():
        from pyspark.sql import Window

        groups = dedup.dedup_groups(pairs)
        j = groups.select("id", "group_id").join(
            scored.select(F.col("doc_id").alias("id"), "score"), on="id"
        )
        w = Window.partitionBy("group_id").orderBy(
            F.desc("score"), F.asc("id")
        )
        kept = (
            j.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .count()
        )
        assert kept == 1, kept
        return "1 keeper"

    t0 = time.time()
    run_mega_window()
    mega["window_s"] = round(time.time() - t0, 2)

    print(json.dumps({"sf_dir": sf_dir, "ops": results, "mega": mega}))


if __name__ == "__main__":
    main()
