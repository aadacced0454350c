"""Incremental dedup (pipeline/incremental.py): the new-batch-vs-store
loop must classify exactly like a full recompute, the store join must not
reshuffle the store side (bucketed layout), and appends must keep the
loop consistent across cycles."""

import pytest
from pyspark.sql import functions as F

from hyperdx_spark.pipeline import incremental as inc
from hyperdx_spark.pipeline.dedup import drop_exact_duplicates


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def exact_store(spark):
    seed = _df(spark, [
        (1, "the quick brown fox"),
        (2, "jumps over the lazy dog"),
        (3, "the quick brown fox"),      # seed-internal dup -> keeper 1
        (4, "unique seed content here"),
    ])
    spark.sql("DROP TABLE IF EXISTS inc_store")
    inc.build_exact_store(seed, "inc_store", buckets=4)
    yield seed
    spark.sql("DROP TABLE IF EXISTS inc_store")


def test_exact_incremental_classification(spark, exact_store):
    batch = _df(spark, [
        (10, "the quick brown fox"),     # dup of store keeper 1
        (11, "brand new document"),      # novel
        (12, "another brand new doc"),   # novel
        (13, "another brand new doc"),   # in-batch dup of 12
        (14, "jumps over the lazy dog"), # dup of store keeper 2
    ])
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in inc.dedup_exact_against_store(batch, spark, "inc_store").collect()
    }
    assert got == {
        10: ("store_dup", 1),
        11: ("novel", None),
        12: ("novel", None),
        13: ("batch_dup", 12),
        14: ("store_dup", 2),
    }
    # incremental survivors == full-recompute survivors (id sets)
    full = drop_exact_duplicates(exact_store.unionByName(batch))
    keep_full = {r["doc_id"] for r in full.collect()}
    keep_inc = {1, 2, 4} | {d for d, (s, _) in got.items() if s == "novel"}
    assert keep_inc == keep_full


def test_exact_append_cycle(spark, exact_store):
    b1 = _df(spark, [(11, "brand new document"), (12, "another one")])
    c1 = inc.dedup_exact_against_store(b1, spark, "inc_store")
    inc.append_novel_to_store(c1, "inc_store")
    # the next cycle sees the previous batch's content as store dups,
    # keyed to the FIRST batch's ids
    b2 = _df(spark, [(20, "brand new document"), (21, "still newer")])
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in inc.dedup_exact_against_store(b2, spark, "inc_store").collect()
    }
    assert got == {20: ("store_dup", 11), 21: ("novel", None)}


def test_store_side_never_reshuffles(spark, exact_store):
    """The point of the bucketed layout: with broadcast off, the
    incremental join's store branch reads its buckets in place — fewer
    Exchanges than the identical join against a plain (non-bucketed) copy
    of the same store."""
    batch = _df(spark, [(30, "x"), (31, "y")])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            inc.dedup_exact_against_store(batch, spark, "inc_store")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the only Exchanges belong to the BATCH side (the fp window and
        # the probe re-shard into the store's bucket layout); the store's
        # scan feeds the SortMergeJoin directly, bucket-per-file
        assert "inc_store" in plan and "SortMergeJoin" in plan
        assert plan.count("Exchange") <= 2, plan
        # splitting the plan at the store's scan: nothing below it
        # exchanges (the store branch is the plan tail after its FileScan)
        store_scan = plan.rindex("inc_store")
        assert "Exchange" not in plan[store_scan:], plan[store_scan:]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.fixture()
def minhash_store(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the wide green field toward the river bank every morning"
    )
    seed = _df(spark, [
        (1, base),
        (2, "completely different text about spark query planning and "
            "distributed shuffle joins at terabyte scale for analytics"),
    ])
    spark.sql("DROP TABLE IF EXISTS inc_mh")
    inc.build_minhash_store(seed, "inc_mh", buckets=4)
    yield base
    spark.sql("DROP TABLE IF EXISTS inc_mh")


def test_minhash_incremental_probe_and_append(spark, minhash_store):
    base = minhash_store
    batch = _df(spark, [
        (10, base + " with a tiny mutated tail"),   # near-dup of store #1
        (11, "totally unrelated content on gardening tools and seasonal "
             "vegetable planting schedules for temperate climates"),
    ])
    pairs = {
        (r["id"], r["store_id"]): r["est_jaccard"]
        for r in inc.neardup_against_store(
            batch, spark, "inc_mh", threshold=0.5
        ).collect()
    }
    assert (10, 1) in pairs and pairs[(10, 1)] >= 0.5
    assert all(i != 11 for i, _ in pairs)
    # append the batch; a near-dup of doc 10 now hits BOTH 1 and 10
    inc.append_minhash_to_store(batch, "inc_mh")
    b2 = _df(spark, [(20, base + " with a tiny mutated tail indeed")])
    hits = {
        r["store_id"]
        for r in inc.neardup_against_store(
            b2, spark, "inc_mh", threshold=0.5
        ).collect()
    }
    assert {1, 10} <= hits


def test_compact_exact_store(spark, exact_store):
    """Compaction collapses per-append files to one row per fp and keeps
    answers identical (keeper attribution preserved through the rewrite)."""
    b1 = _df(spark, [(11, "brand new document")])
    inc.append_novel_to_store(
        inc.dedup_exact_against_store(b1, spark, "inc_store"), "inc_store"
    )
    before = sorted(map(tuple, spark.table("inc_store").collect()))
    inc.compact_exact_store(spark, "inc_store")
    after = sorted(map(tuple, spark.table("inc_store").collect()))
    assert after == before  # one row per fp already; content unchanged
    # the compacted table still classifies and still accepts appends
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in inc.dedup_exact_against_store(
            _df(spark, [(30, "brand new document"), (31, "even newer")]),
            spark, "inc_store",
        ).collect()
    }
    assert got == {30: ("store_dup", 11), 31: ("novel", None)}
    inc.append_novel_to_store(
        inc.dedup_exact_against_store(
            _df(spark, [(31, "even newer")]), spark, "inc_store"
        ),
        "inc_store",
    )
    assert spark.table("inc_store").where("keep_id = 31").count() == 1


def test_compaction_crash_recovery(spark, exact_store):
    """VERDICT r8 #3: simulate a crash at each statement boundary of the
    rename-aside swap; recover_exact_store must restore a readable,
    correct store from every one."""
    want = sorted(map(tuple, spark.table("inc_store").collect()))
    staging, old = "inc_store__compacting", "inc_store__old"

    def rebuild_staging():
        from hyperdx_spark.io import write_bucketed

        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        compacted = (
            spark.table("inc_store").groupBy("fp")
            .agg(F.min("keep_id").alias("keep_id")).localCheckpoint()
        )
        write_bucketed(compacted, staging, buckets=4,
                       bucket_cols=["fp"], sort_cols=["fp"])

    # crash point A: staging written, no rename yet
    rebuild_staging()
    assert inc.recover_exact_store(spark, "inc_store") == "ok"
    assert not spark.catalog.tableExists(staging)
    assert sorted(map(tuple, spark.table("inc_store").collect())) == want

    # crash point B: live renamed aside, staging not yet renamed in
    rebuild_staging()
    spark.sql(f"ALTER TABLE inc_store RENAME TO {old}")
    assert inc.recover_exact_store(spark, "inc_store") == "restored_from_staging"
    assert not spark.catalog.tableExists(old)
    assert sorted(map(tuple, spark.table("inc_store").collect())) == want

    # crash point C: renamed aside with NO staging (staging write died)
    spark.sql(f"ALTER TABLE inc_store RENAME TO {old}")
    assert inc.recover_exact_store(spark, "inc_store") == "restored_from_old"
    assert sorted(map(tuple, spark.table("inc_store").collect())) == want

    # the recovered store still compacts end-to-end (full happy path)
    inc.compact_exact_store(spark, "inc_store")
    assert sorted(map(tuple, spark.table("inc_store").collect())) == want
    assert not spark.catalog.tableExists(staging)
    assert not spark.catalog.tableExists(old)

    # nothing recoverable -> loud error
    spark.sql("DROP TABLE inc_store")
    with pytest.raises(ValueError, match="no recoverable state"):
        inc.recover_exact_store(spark, "inc_store")
    # leave a table for the fixture teardown
    spark.sql("CREATE TABLE inc_store (fp string, keep_id long) USING parquet")


def _corpus_rows(n, dup_every=5):
    import random

    rng = random.Random(11)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for i in range(n):
        if i % dup_every == 0 and rows:
            # near-dup of an earlier doc: mutate one word
            src = list(rows[rng.randrange(len(rows))][1].split())
            src[rng.randrange(len(src))] = rng.choice(words)
            rows.append((i, " ".join(src)))
        else:
            rows.append((i, " ".join(rng.choice(words) for _ in range(30))))
    return rows


def test_minhash_probe_matches_full_recompute(spark):
    """Candidate-level equivalence: probing a batch against the store must
    surface EXACTLY the (batch, history) collision pairs a full
    minhash_lsh_pairs recompute over history+batch finds (same bands, no
    caps, no thresholds) — the incremental loop loses nothing."""
    from hyperdx_spark.pipeline.dedup import minhash_lsh_pairs, release_cached

    rows = _corpus_rows(80)
    hist, batch = rows[:60], rows[60:]
    inc.build_minhash_store(_df(spark, hist), "inc_mh_eq", buckets=4)
    try:
        got = {
            (r["id"], r["store_id"])
            for r in inc.neardup_against_store(
                _df(spark, batch), spark, "inc_mh_eq",
                threshold=0.0, max_bucket_size=None,
            ).collect()
        }
        full = minhash_lsh_pairs(
            _df(spark, rows), verify_threshold=None, max_bucket_size=None,
        )
        hist_ids = {i for i, _ in hist}
        want = {
            (b, a) if a in hist_ids else (a, b)
            for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
            if (a in hist_ids) != (b in hist_ids)  # cross pairs only
        }
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS inc_mh_eq")


def test_minhash_probe_recall_vs_exact_verify(spark):
    """Recall of the store probe (estimated-Jaccard >= 0.5) against the
    full recompute's exact-Jaccard-verified pairs: the unbiased estimator
    must recover the large majority of true cross near-dups."""
    from hyperdx_spark.pipeline.dedup import minhash_lsh_pairs

    rows = _corpus_rows(120, dup_every=3)
    hist, batch = rows[:90], rows[90:]
    inc.build_minhash_store(_df(spark, hist), "inc_mh_rc", buckets=4)
    try:
        got = {
            (r["id"], r["store_id"])
            for r in inc.neardup_against_store(
                _df(spark, batch), spark, "inc_mh_rc", threshold=0.5,
            ).collect()
        }
        full = minhash_lsh_pairs(_df(spark, rows), verify_threshold=0.5)
        hist_ids = {i for i, _ in hist}
        want = {
            (b, a) if a in hist_ids else (a, b)
            for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
            if (a in hist_ids) != (b in hist_ids)
        }
        assert len(want) >= 3
        recall = len(got & want) / len(want)
        assert recall >= 0.75, (recall, want - got)
    finally:
        spark.sql("DROP TABLE IF EXISTS inc_mh_rc")


def test_minhash_store_side_no_exchange_with_cap(spark, minhash_store):
    """The bucket-size-cap window must ride the store's persisted bucket
    layout: with broadcast off, no Exchange sits between the store's scan
    and the probe join (same property as the exact store)."""
    batch = _df(spark, [(10, minhash_store + " tail")])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            inc.neardup_against_store(batch, spark, "inc_mh", threshold=0.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "inc_mh" in plan and "Window" in plan
        store_scan = plan.rindex("inc_mh")
        assert "Exchange" not in plan[store_scan:], plan[store_scan:]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_compact_minhash_store(spark, minhash_store):
    """Compaction collapses the near-dup store's per-append files and
    leaves probe results identical; the shared recovery protocol covers
    the minhash table name too."""
    base = minhash_store
    batch = _df(spark, [(10, base + " with a tiny mutated tail")])
    inc.append_minhash_to_store(batch, "inc_mh")
    b2 = _df(spark, [(20, base + " with a tiny mutated tail also")])
    before = sorted(
        (r["id"], r["store_id"], round(r["est_jaccard"], 9))
        for r in inc.neardup_against_store(b2, spark, "inc_mh",
                                           threshold=0.5).collect()
    )
    n_files_before = len(spark.table("inc_mh").inputFiles())
    inc.compact_minhash_store(spark, "inc_mh")
    n_files_after = len(spark.table("inc_mh").inputFiles())
    after = sorted(
        (r["id"], r["store_id"], round(r["est_jaccard"], 9))
        for r in inc.neardup_against_store(b2, spark, "inc_mh",
                                           threshold=0.5).collect()
    )
    assert after == before and len(before) >= 2  # hits both 1 and 10
    assert n_files_after < n_files_before
    # appends still work against the compacted layout
    inc.append_minhash_to_store(b2, "inc_mh")
    assert spark.table("inc_mh").where("id = 20").count() > 0
    # crash between the renames -> recovery restores the minhash store
    rows = sorted(map(tuple, spark.table("inc_mh").collect()))
    spark.sql("DROP TABLE IF EXISTS inc_mh__compacting")
    spark.table("inc_mh").localCheckpoint().write.mode("overwrite") \
        .bucketBy(4, "bucket").sortBy("bucket").format("parquet") \
        .saveAsTable("inc_mh__compacting")
    spark.sql("ALTER TABLE inc_mh RENAME TO inc_mh__old")
    assert inc.recover_exact_store(spark, "inc_mh") == "restored_from_staging"
    assert sorted(map(tuple, spark.table("inc_mh").collect())) == rows


def test_warehouse_is_private_to_the_run(spark):
    """Managed stores live in a per-run warehouse, never the repo's
    ``spark-warehouse/``, so a killed run cannot poison the next one."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not os.path.abspath(wh).startswith(repo + os.sep)
