"""Incremental dedup-store decade measurement (VERDICT r8 next-round #3).

Usage: python tools/bench_incremental_scale.py [sf_dir] [cpus]

Splits the corpus 90/10 into history/batch, then measures the production
ingestion loop for BOTH store kinds:

* exact:   build_exact_store(history), dedup_exact_against_store(batch)
* minhash: build_minhash_store(history), neardup_against_store(batch),
           plus probe RECALL against a full minhash_lsh_pairs recompute
           over history+batch (exact-Jaccard verify at the same 0.5
           threshold, cross pairs only) — the number that shows the
           incremental loop loses nothing vs re-deduping the world.

Prints one JSON line; paste the row into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hyperdx_spark.pipeline import dedup, incremental as inc  # noqa: E402
from hyperdx_spark.session import get_spark, release  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf10"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("incremental-scale", cpus=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # batch = ids ending in 9: on BOTH fixture families the planted
    # near-dup pairs are id-adjacent (did-1, did) with did ending in 9,
    # so this split puts each pair's partner in the batch and its base in
    # history — the probe recall denominator is non-empty by construction
    # (the previous %10==0 split left every synth planted pair inside
    # history, making recall vacuous — r16).
    hist = docs.where(F.col("doc_id") % 10 != 9)
    batch = docs.where(F.col("doc_id") % 10 == 9)
    n_hist, n_batch = hist.count(), batch.count()
    out: dict = {"sf_dir": sf_dir, "n_hist": n_hist, "n_batch": n_batch}

    def clock(name, fn):
        t0 = time.time()
        r = fn()
        out[name] = round(time.time() - t0, 2)
        print(f"{name}: {out[name]}s ({r})", file=sys.stderr)
        return r

    # ------------------------------------------------------------- exact
    clock("exact_build_s", lambda: inc.build_exact_store(hist, "bx_store"))
    classified = inc.dedup_exact_against_store(batch, spark, "bx_store")
    clock(
        "exact_probe_s",
        lambda: {r["status"]: r["n"] for r in classified.groupBy("status")
                 .agg(F.count("*").alias("n")).collect()},
    )
    spark.sql("DROP TABLE IF EXISTS bx_store")

    # ----------------------------------------------------------- minhash
    clock(
        "minhash_build_s",
        lambda: inc.build_minhash_store(hist, "bx_mh"),
    )
    probe = inc.neardup_against_store(batch, spark, "bx_mh", threshold=0.5)
    got_pairs = set()
    clock(
        "minhash_probe_s",
        lambda: got_pairs.update(
            (r["id"], r["store_id"]) for r in probe.collect()
        ) or len(got_pairs),
    )
    out["probe_pairs"] = len(got_pairs)

    def full_recompute():
        pairs = dedup.minhash_lsh_pairs(docs, verify_threshold=0.5)
        rows = pairs.collect()
        release(pairs)
        return rows

    t0 = time.time()
    rows = full_recompute()
    out["full_recompute_s"] = round(time.time() - t0, 2)
    want = set()
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        if (a % 10 == 9) != (b % 10 == 9):  # cross (batch, hist) pairs
            want.add((a, b) if a % 10 == 9 else (b, a))
    out["full_cross_pairs"] = len(want)
    out["recall"] = round(len(got_pairs & want) / len(want), 4) if want else 1.0
    spark.sql("DROP TABLE IF EXISTS bx_mh")

    print(json.dumps(out))


if __name__ == "__main__":
    main()
