"""Measured recall of the banded (production) near-dup path against its
own documented expectation (r14 verdict task #2).

The correctness gate exercises the provably-exact ``exhaustive`` configs;
banding recall was previously guarded only by the geometry formula in
``lsh_expected_recall``.  This test PLANTS pairs at a known cosine and
fails if the measured recall of a default-geometry config falls below the
config's own ``min_expected_recall`` floor (0.5) or materially below the
Charikar'02 prediction the guard relies on.

Everything is deterministic: numpy-seeded corpus, seeded hyperplanes, and
the planted-partner construction cos(v, partner) = s exactly (float eps).
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "bench_dedup_recall", os.path.join(ROOT, "tools", "bench_dedup_recall.py")
)
bench_dedup_recall = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_dedup_recall)

from hyperdx_spark.pipeline import similarity  # noqa: E402

DIM = 64
TIER = 0.76        # just above the operator threshold: measures recall
THRESHOLD = 0.75   # essentially AT threshold without the knife-edge of
#                    float32 storage rounding cos to a hair below it


def _corpus(spark, n=600):
    rng = np.random.default_rng(4242)
    v = rng.normal(size=(n, DIM))
    rows = [(i, [float(x) for x in v[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_minhash_banding_recall_tracks_broder_prediction(spark):
    """Planted text pairs at EXACT Jaccard (shared-prefix construction):
    the Broder identity P[minhash agree] = J makes 1-(1-J^r)^b an exact
    prediction, so a measured shortfall would expose bias in the
    xxhash64 min-wise family, not sampling luck (everything is seeded —
    the measurement is deterministic)."""
    from hyperdx_spark.pipeline import dedup
    from hyperdx_spark.session import release

    corpus, planted = bench_dedup_recall.plant_text_pairs(
        spark, n_base=400, tiers=(0.9,), per_tier=150
    )
    pairs = dedup.minhash_lsh_pairs(
        corpus, num_hashes=32, bands=8, verify_threshold=0.75
    )
    tier = planted[0.9]
    exp = spark.createDataFrame(tier["pairs"], "id_a long, id_b long")
    found = pairs.join(exp, on=["id_a", "id_b"], how="left_semi").count()
    release(pairs)
    measured = found / len(tier["pairs"])
    predicted = 1.0 - (1.0 - tier["j"] ** 4) ** 8  # r=4, b=8
    assert measured >= predicted - 0.05, (
        f"minhash banding recall {measured:.3f} vs Broder prediction "
        f"{predicted:.3f} at J={tier['j']} — min-wise family bias?"
    )


def test_banded_recall_meets_documented_floor(spark):
    emb = _corpus(spark)
    aug, planted = bench_dedup_recall.plant_pairs(
        spark, emb, tiers=(TIER,), per_tier=200
    )
    pairs = similarity.cosine_pairs(
        aug, id_col="vec_id", threshold=THRESHOLD,
        num_planes=16, bands=4, min_expected_recall=0.5,
    )
    recall = bench_dedup_recall.measure_recall(pairs, planted, spark)[TIER]
    predicted = similarity.lsh_expected_recall(TIER, 16, 4)
    # the config's own documented floor — dropping below it means the
    # min_expected_recall guard is lying about this geometry
    assert recall >= 0.5, f"measured {recall} < the config's 0.5 floor"
    # and the Charikar prediction must be honest (deterministic seeds:
    # the 0.12 margin is ~5 sigma of the 200-pair binomial, so this pins
    # the formula, not luck)
    assert recall >= predicted - 0.12, (
        f"measured {recall} vs predicted {predicted:.3f} — the "
        "lsh_expected_recall formula overstates this geometry"
    )


def test_simhash_pigeonhole_guarantee_and_prediction(spark):
    """SimHash blocking (r16): within the pigeonhole guarantee
    (h < blocks) every planted fingerprint pair MUST collide in some
    block — recall exactly 1.0, a property of the bits, not the corpus.
    Beyond the guarantee the measured recall must track the exact
    inclusion-exclusion prediction (the harness's closed form)."""
    res = bench_dedup_recall.measure_simhash_recall(
        spark, n_base=300, per_tier=80, hams=(1, 2, 3, 5),
    )
    for h in (1, 2, 3):
        assert res["tiers"][h]["measured"] == 1.0, (
            f"pigeonhole guarantee violated at hamming {h}: "
            f"{res['tiers'][h]}"
        )
    t5 = res["tiers"][5]
    # 80-pair binomial sigma ~ 0.049 at p~0.74; 0.2 is ~4 sigma
    assert abs(t5["measured"] - t5["predicted"]) < 0.2, t5


def test_winnow_guarantee_length_recall_is_one(spark):
    """Winnowing (r16): any shared run >= w+k-1 chars contains a full
    window whose min fingerprint is selected in BOTH docs (Schleimer'03)
    — candidate recall at the guarantee length must be exactly 1.0.
    measure_winnow_recall itself raises on a violation; this pins the
    guarantee into the test suite at pytest size."""
    res = bench_dedup_recall.measure_winnow_recall(
        spark, per_tier=40, lengths=(23, 32),
    )
    assert res["tiers"][23]["measured"] == 1.0
    assert res["tiers"][32]["measured"] == 1.0
