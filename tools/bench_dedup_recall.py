"""Measured recall for the PRODUCTION near-dup configurations
(pipeline/similarity.py), r15 — closes the r14 verdict's loop: the
correctness gate exercises the provably-exact ``exhaustive`` configs, so
the banded / k-means-blocked paths' recall was guarded only by the
``lsh_expected_recall`` geometry warning.  This harness measures it.

Method: plant known near-duplicate pairs at controlled cosines.  For a
corpus vector v and target cosine s, the partner is
``|v| * (s*u + sqrt(1-s^2)*w)`` with u = v/|v| and w a deterministic unit
vector orthogonal to u — cos(v, partner) = s exactly (up to float eps).
Then run the production configs and count how many planted pairs each
reports:

* **banded LSH** (``cosine_pairs`` with a near-dup geometry, 128 planes x
  8 bands => r=16): recall at each tier vs the Charikar'02 prediction
  ``1-(1-p^r)^b`` — the measurement validates the formula the
  ``min_expected_recall`` guard relies on.
* **SemDeDup blocked** (k-means‖ clusters + within-cluster exhaustive
  pairs): a planted pair is found iff both endpoints land in the same
  cluster (within a cluster the pair join is provably exhaustive —
  pytest-pinned), so blocked recall == same-cluster fraction; measured at
  SemDeDup-realistic k = N/100, which only the r15 ``parallel`` init makes
  feasible (farthest-first would be k sequential jobs).
* **MinHash text banding** (:func:`measure_minhash_recall`): pairs
  planted at EXACT word-shingle Jaccard (shared-prefix construction), so
  the Broder identity P[minhash agree] = J makes ``1-(1-J^r)^b`` an
  exact prediction — measured-vs-predicted also validates the xxhash64
  min-wise family.

Usage: python tools/bench_dedup_recall.py [sf_dirs...]
Prints one JSON line; paste into SCALE.md's "banded recall" table.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hyperdx_spark import get_spark  # noqa: E402
from hyperdx_spark.io import ensure_min_parallelism, load_table  # noqa: E402
from hyperdx_spark.pipeline import clustering, similarity  # noqa: E402
from hyperdx_spark.pipeline.sampling import sample_key  # noqa: E402
from hyperdx_spark.session import release  # noqa: E402

DIRS = sys.argv[1:] or ["/root/repo/.scale/sf1", "/root/repo/.scale/sf10"]
TIERS = (0.75, 0.85, 0.95)
PER_TIER = 300
# near-dup production geometry: r=16 rows/band keeps buckets tiny at
# 200k+ rows (2^16 bucket space per band) — precision-heavy by design,
# which is exactly what the measurement should show at the low tiers
NUM_PLANES, BANDS = 128, 8
THRESHOLD = 0.7


def plant_pairs(spark, emb_df, tiers=TIERS, per_tier=PER_TIER, *, seed=7):
    """Append one synthetic partner at each target cosine for a
    deterministic sample of corpus vectors.  Returns
    ``(augmented_df, {tier: [(base_id, partner_id), ...]})``; partner ids
    start above max(vec_id), so planted pairs are (base, partner) in
    id_a < id_b order."""
    import numpy as np

    need = per_tier * len(tiers)
    base = (
        emb_df.select("vec_id", "embedding")
        .orderBy(sample_key("vec_id", seed), "vec_id")
        .limit(need * 2)  # headroom for zero-norm skips
        .collect()
    )
    max_id = emb_df.agg(F.max("vec_id")).collect()[0][0]
    next_id = int(max_id) + 1
    rows, planted = [], {t: [] for t in tiers}
    it = iter(base)
    for t in tiers:
        got = 0
        while got < per_tier:
            row = next(it)
            v = np.asarray(row["embedding"], dtype=np.float64)
            nv = float(np.linalg.norm(v))
            if nv == 0.0:
                continue
            u = v / nv
            # deterministic reference orthogonalized against u
            r = np.array(
                [math.sin(row["vec_id"] * 97.0 + j * 13.0) for j in range(len(v))]
            )
            w = r - float(r @ u) * u
            nw = float(np.linalg.norm(w))
            if nw < 1e-9:
                continue
            p = nv * (t * u + math.sqrt(1.0 - t * t) * (w / nw))
            rows.append((next_id, [float(x) for x in p]))
            planted[t].append((int(row["vec_id"]), next_id))
            next_id += 1
            got += 1
    aug = emb_df.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    return aug, planted


def plant_text_pairs(
    spark,
    *,
    n_base: int = 2000,
    tiers=(0.8, 0.9, 0.95),
    per_tier: int = 300,
    words_per_doc: int = 102,
    ngram: int = 3,
):
    """Synthesize a corpus with planted near-duplicate TEXT pairs at exact
    Jaccard over word ``ngram``-shingles.  Every base doc is
    ``words_per_doc`` globally-unique words (so cross-doc shingle overlap
    is zero except where planted); a partner keeps the first ``q`` words
    and replaces the rest with fresh unique words, sharing exactly
    ``x = q-ngram+1`` of the ``M = words_per_doc-ngram+1`` shingles —
    J(base, partner) = x / (2M - x) EXACTLY, so the Broder identity
    P[minhash agree] = J makes the banding recall prediction
    ``1-(1-J^r)^b`` exact too.  Returns
    ``(corpus_df, {tier: {"j": actual_jaccard, "pairs": [...]}})``."""
    M = words_per_doc - (ngram - 1)
    docs = []
    did = 0
    for _ in range(n_base):
        docs.append(
            (did, " ".join(f"w{did}x{i}" for i in range(words_per_doc)))
        )
        did += 1
    if per_tier * len(tiers) > n_base:
        raise ValueError("not enough base docs for the planted tiers")
    planted = {}
    idx = 0
    for t in tiers:
        x = round(2 * t * M / (1 + t))
        j_actual = x / (2 * M - x)
        q = x + (ngram - 1)
        tier = {"j": round(j_actual, 4), "pairs": []}
        for _ in range(per_tier):
            base_id, base_text = docs[idx]
            idx += 1
            words = base_text.split()
            partner = words[:q] + [
                f"p{did}x{i}" for i in range(words_per_doc - q)
            ]
            docs.append((did, " ".join(partner)))
            tier["pairs"].append((base_id, did))
            did += 1
        planted[t] = tier
    return (
        spark.createDataFrame(docs, "doc_id long, text string"),
        planted,
    )


def measure_recall(pairs_df, planted, spark):
    """Fraction of each tier's planted (id_a, id_b) pairs present in the
    operator's output — one semi-join per tier, no pair collect."""
    out = {}
    for t, pp in planted.items():
        exp = spark.createDataFrame(pp, "id_a long, id_b long")
        found = pairs_df.join(exp, on=["id_a", "id_b"], how="left_semi").count()
        out[t] = round(found / len(pp), 4)
    return out


def measure_minhash_recall(spark, *, n_base: int = 2000) -> dict:
    """MinHash-banding recall at exact planted Jaccards, for the default
    near-dup geometry (32 hashes × 8 bands, r=4 — recall-heavy) and a
    precision-heavy dedup geometry (64 × 4, r=16).  Measured-vs-predicted
    also validates the xxhash64 min-wise family: a biased family would
    show a systematic shortfall from the Broder prediction."""
    from hyperdx_spark.pipeline import dedup

    corpus, planted = plant_text_pairs(spark, n_base=n_base)
    corpus = corpus.persist()
    corpus.count()
    out = {}
    for nh, b in ((32, 8), (64, 4)):
        r = nh // b
        t0 = time.monotonic()
        pairs = dedup.minhash_lsh_pairs(
            corpus, num_hashes=nh, bands=b, verify_threshold=0.75
        )
        tiers = {}
        for t, tier in planted.items():
            exp = spark.createDataFrame(tier["pairs"], "id_a long, id_b long")
            found = pairs.join(
                exp, on=["id_a", "id_b"], how="left_semi"
            ).count()
            tiers[t] = {
                "j": tier["j"],
                "measured": round(found / len(tier["pairs"]), 4),
                "predicted": round(
                    1.0 - (1.0 - tier["j"] ** r) ** b, 4
                ),
            }
        release(pairs)
        out[f"{nh}x{b}"] = {"tiers": tiers,
                            "wall_s": round(time.monotonic() - t0, 2)}
    corpus.unpersist()
    return out


def measure_simhash_recall(
    spark,
    *,
    n_base: int = 3000,
    per_tier: int = 300,
    hams=(1, 2, 3, 4, 5, 6),
    max_hamming: int = 6,
    blocks: int = 4,
    seed: int = 11,
) -> dict:
    """SimHash block-recall at planted EXACT Hamming distances (r15
    verdict #5).  The vote fingerprint is deterministic and pytest-pinned,
    so pairs are planted at the fingerprint level: random 64-bit
    fingerprints, partner = base with h uniformly-chosen distinct bits
    flipped.  Candidate recall through ``simhash_block_pairs`` is then
    P[the h flips leave >= 1 of the ``blocks`` chunks untouched] — exact
    by inclusion-exclusion over uniform-without-replacement positions:
    ``sum_j (-1)^(j+1) C(B,j) C(64-cj, h) / C(64, h)`` — 1.0 for every
    h < blocks (the pigeonhole guarantee the production default rides).
    ``max_hamming`` covers every planted h so the verify filter never
    masks a blocking miss."""
    import random

    from hyperdx_spark.pipeline import dedup

    rng = random.Random(seed)
    c = 64 // blocks

    def pred(h: int) -> float:
        tot = math.comb(64, h)
        p = 0.0
        for j in range(1, blocks + 1):
            if 64 - c * j >= h:
                p += (-1) ** (j + 1) * math.comb(blocks, j) * math.comb(
                    64 - c * j, h
                ) / tot
        return round(p, 4)

    rows, planted, nid = [], {h: [] for h in hams}, 0
    for h in hams:
        for _ in range(per_tier):
            base = rng.getrandbits(64)
            flips = rng.sample(range(64), h)
            part = base
            for b in flips:
                part ^= 1 << b
            for v in (base, part):
                rows.append((nid, v - (1 << 64) if v >= (1 << 63) else v))
                nid += 1
            planted[h].append((nid - 2, nid - 1))
    # noise fingerprints so buckets aren't planted-only
    for _ in range(n_base):
        v = rng.getrandbits(64)
        rows.append((nid, v - (1 << 64) if v >= (1 << 63) else v))
        nid += 1
    hs = spark.createDataFrame(rows, "id long, h long")
    t0 = time.monotonic()
    pairs = dedup.simhash_block_pairs(
        hs, max_hamming=max_hamming, blocks=blocks
    ).persist()
    pairs.count()
    tiers = {}
    for h in hams:
        exp = spark.createDataFrame(planted[h], "id_a long, id_b long")
        found = pairs.join(exp, on=["id_a", "id_b"], how="left_semi").count()
        tiers[h] = {
            "measured": round(found / per_tier, 4),
            "predicted": pred(h),
        }
    pairs.unpersist()
    return {
        "tiers": tiers,
        "blocks": blocks,
        "max_hamming": max_hamming,
        "wall_s": round(time.monotonic() - t0, 2),
    }


def measure_winnow_recall(
    spark,
    *,
    per_tier: int = 250,
    lengths=(12, 16, 20, 23, 32, 46),
    k: int = 8,
    w: int = 16,
    doc_chars: int = 400,
    seed: int = 13,
) -> dict:
    """Winnowing candidate recall at planted shared-substring lengths
    (r15 verdict #5).  Base docs are random lowercase streams; the
    partner is an independent random stream with the base's centered
    L-char substring spliced into its middle.  Schleimer'03's guarantee:
    any shared run of >= w+k-1 chars contains a full window of w k-grams,
    whose min-hash fingerprint is selected in BOTH docs — so candidate
    recall (>= 1 shared fingerprint, threshold ~0) must be EXACTLY 1.0
    at L >= w+k-1 (23 at the production k=8/w=16) and the build fails if
    it isn't; below the guarantee the curve is reported as measured
    (selection there depends on surrounding hashes — no closed form)."""
    import random

    from hyperdx_spark.pipeline import dedup

    rng = random.Random(seed)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def stream(n: int) -> str:
        return "".join(rng.choice(alpha) for _ in range(n))

    docs, planted, did = [], {}, 0
    guarantee = w + k - 1
    for L in lengths:
        pairs = []
        for _ in range(per_tier):
            base = stream(doc_chars)
            start = (doc_chars - L) // 2
            shared = base[start:start + L]
            other = stream(doc_chars)
            mid = doc_chars // 2
            partner = other[:mid] + shared + other[mid:]
            docs.append((did, base))
            docs.append((did + 1, partner))
            pairs.append((did, did + 1))
            did += 2
        planted[L] = pairs
    corpus = spark.createDataFrame(docs, "doc_id long, text string").persist()
    corpus.count()
    t0 = time.monotonic()
    pairs_df = dedup.winnow_pairs(
        corpus, k=k, w=w, threshold=1e-9, max_fp_df=None
    ).persist()
    pairs_df.count()
    tiers = {}
    for L, pp in planted.items():
        exp = spark.createDataFrame(pp, "id_a long, id_b long")
        found = pairs_df.join(exp, on=["id_a", "id_b"], how="left_semi").count()
        tiers[L] = {
            "measured": round(found / len(pp), 4),
            "guaranteed": 1.0 if L >= guarantee else None,
        }
        if L >= guarantee and found != len(pp):
            raise AssertionError(
                f"winnowing guarantee violated: L={L} >= w+k-1={guarantee} "
                f"but only {found}/{len(pp)} planted pairs produced a "
                "shared fingerprint"
            )
    pairs_df.unpersist()  # our own persist; release frees only
    release(pairs_df)  # ...winnow_pairs' fingerprint frame
    corpus.unpersist()
    return {"tiers": tiers, "k": k, "w": w, "guarantee_len": guarantee,
            "wall_s": round(time.monotonic() - t0, 2)}


def main() -> None:
    spark = get_spark("bench-dedup-recall", cpus=32)
    res = {"minhash": measure_minhash_recall(spark),
           "simhash": measure_simhash_recall(spark),
           "winnow": measure_winnow_recall(spark)}
    for sf_dir in DIRS:
        tag = sf_dir.rsplit("/", 1)[-1]
        emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"))
        n = emb.count()
        aug, planted = plant_pairs(spark, emb)
        aug = aug.persist()
        aug.count()

        # banded production path — min_expected_recall=None is the
        # explicit, documented trade: this geometry is precision-heavy at
        # the 0.75 tier and the whole point is to MEASURE that
        t0 = time.monotonic()
        banded = similarity.cosine_pairs(
            aug, id_col="vec_id", threshold=THRESHOLD,
            num_planes=NUM_PLANES, bands=BANDS,
            min_expected_recall=None,
        )
        banded_recall = measure_recall(banded, planted, spark)
        banded_s = round(time.monotonic() - t0, 2)
        predicted = {
            t: round(similarity.lsh_expected_recall(t, NUM_PLANES, BANDS), 4)
            for t in TIERS
        }

        # SemDeDup blocked path at realistic k = N/100 (k-means‖ init)
        k = max(16, n // 100)
        t0 = time.monotonic()
        cents = clustering.kmeans_fit(
            aug, k, iterations=3, init="parallel"
        )
        # hold the operator's result while frames derived from it run:
        # it owns the centroid broadcast they read
        assigned_full = clustering.kmeans_assign(
            aug, cents, method="arrow", cluster_col="cluster"
        )
        assigned = assigned_full.select("vec_id", "cluster").persist()
        assigned.count()
        fit_s = round(time.monotonic() - t0, 2)
        # blocked recall == same-cluster fraction: within a cluster the
        # exhaustive pair join has recall 1 (pytest-pinned), and every
        # planted pair is above THRESHOLD by construction
        t0 = time.monotonic()
        a = assigned.withColumnsRenamed({"vec_id": "id_a", "cluster": "ca"})
        b = assigned.withColumnsRenamed({"vec_id": "id_b", "cluster": "cb"})
        blocked_recall = {}
        for t, pp in planted.items():
            exp = spark.createDataFrame(pp, "id_a long, id_b long")
            same = (
                exp.join(F.broadcast(a), on="id_a")
                .join(F.broadcast(b), on="id_b")
                .where(F.col("ca") == F.col("cb"))
                .count()
            )
            blocked_recall[t] = round(same / len(pp), 4)
        blocked_s = round(time.monotonic() - t0, 2)
        assigned.unpersist()
        aug.unpersist()

        res[tag] = {
            "vectors": n,
            "banded_recall": banded_recall,
            "banded_predicted": predicted,
            "banded_s": banded_s,
            "blocked_k": k,
            "blocked_recall": blocked_recall,
            "blocked_fit_s": fit_s,
            "blocked_measure_s": blocked_s,
        }
    print(json.dumps({
        "dedup_recall": res,
        "geometry": {"num_planes": NUM_PLANES, "bands": BANDS,
                     "threshold": THRESHOLD},
        "per_tier_pairs": PER_TIER,
    }))


if __name__ == "__main__":
    main()
