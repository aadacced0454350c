"""r17: shingle_rows single-pass rewrite + ngram_jaccard_pairs inlined sizes.

Pins bit-identical behavior against the genuine pre-r17 implementations,
kept VERBATIM below as twins:

- ``shingle_rows`` used to build full / short-doc / empty-doc shingles as
  three plan branches (window chain, groupBy collect_list, anti-join), so
  the tokenize + posexplode pipeline evaluated three times per build.  The
  r17 form derives full and short shingles from ONE window projection
  (CASE on ``lead(n-1)``; ``concat_ws`` skips NULL leads) and detects
  empty docs on the base relation without a join.
- ``ngram_jaccard_pairs`` used to compute a per-doc ``sizes`` relation and
  join it onto the candidate-pair table twice (Spark broadcast the 1.4M-row
  PAIR side at gate scale).  The r17 form carries ``struct(id, sz)``
  through the postings so no join touches the pair table; sz is
  functionally dependent on id, so groups and jaccard values are identical.
"""

import pytest
from pyspark.sql import functions as F

from hyperdx_spark.pipeline import dedup
from hyperdx_spark.pipeline.dedup import TOKEN_SPLIT, sql_ident
from hyperdx_spark.session import release


def _shingle_rows_twin(df, text_col="text", id_col="doc_id", n=3):
    """Pre-r17 shingle_rows, verbatim (three-branch form)."""
    spark = df.sparkSession
    base = df.selectExpr(f"{sql_ident(id_col)} AS id", f"{sql_ident(text_col)} AS __text")
    base = base.repartition(spark.sparkContext.defaultParallelism, "id")
    tokrows = base.selectExpr(
        "id",
        f"posexplode(filter(split(lower(__text), '{TOKEN_SPLIT}'), "
        "t -> t != '')) AS (__pos, __tk)",
    )
    over = "OVER (PARTITION BY id ORDER BY __pos)"
    lead_chain = "".join(
        f", lead(__tk, {i}) {over}" for i in range(1, n)
    )
    full = (
        tokrows.selectExpr(
            "id",
            f"concat_ws(' ', __tk{lead_chain}) AS s",
            f"lead(__tk, {n - 1}) {over} AS __ok",
        )
        .where("__ok IS NOT NULL")
        .select("id", "s")
    )
    short = (
        tokrows.groupBy("id")
        .agg(
            F.expr(
                "concat_ws(' ', array_sort(collect_list(struct(__pos, __tk))).__tk)"
            ).alias("s"),
            F.expr("count(*)").alias("__n"),
        )
        .where(f"__n < {n}")
        .select("id", "s")
    )
    empty = base.join(
        tokrows.select("id").distinct(), on="id", how="left_anti"
    ).selectExpr("id", "'' AS s")
    return full.unionByName(short).unionByName(empty).distinct()


def _jaccard_pairs_twin(df, *, n=3, threshold=0.5, max_shingle_df=None):
    """Pre-r17 ngram_jaccard_pairs tail, verbatim (sizes-join form), fed by
    the CURRENT shingle_rows (the shingle set itself is pinned separately
    above, and building the twin on the same rows isolates the sizes-join
    vs inlined-sz comparison)."""
    sh = dedup.shingle_rows(df, "text", "doc_id", n)
    postings = sh.groupBy("s").agg(F.sort_array(F.collect_set("id")).alias("ids"))
    if max_shingle_df is not None:
        postings = postings.where(F.size("ids") <= max_shingle_df)
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    inter = (
        postings.where(F.size("ids") > 1)
        .select(pair.alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        [
            (1, "one"),
            (2, "two words"),
            (3, "three word doc"),
            (4, "four word doc here"),
            (5, ""),
            (6, None),
            (7, "...!!!"),
            (8, "three word doc"),       # duplicate text of 3
            (9, "  spaced   out  x "),
            (10, "a b c d e f g h i j"),
            (11, "repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_rows_matches_three_branch_twin(spark, edge_docs, n):
    old = _shingle_rows_twin(edge_docs, "text", "doc_id", n)
    new = dedup.shingle_rows(edge_docs, "text", "doc_id", n)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_shingle_short_doc_is_whole_text(spark, edge_docs):
    rows = {
        r["id"]: r["s"]
        for r in dedup.shingle_rows(edge_docs, "text", "doc_id", 3)
        .where(F.col("id").isin(1, 2, 5, 6, 7, 9))
        .collect()
    }
    assert rows[1] == "one"
    assert rows[2] == "two words"
    assert rows[5] == "" and rows[6] == "" and rows[7] == ""
    assert rows[9] == "spaced out x"


@pytest.mark.parametrize("max_df", [None, 3])
def test_jaccard_pairs_match_sizes_join_twin(spark, edge_docs, max_df):
    old = _jaccard_pairs_twin(edge_docs, n=2, threshold=0.2, max_shingle_df=max_df)
    new = dedup.ngram_jaccard_pairs(
        edge_docs, n=2, threshold=0.2, max_shingle_df=max_df
    )
    o = sorted(map(tuple, old.collect()))
    m = sorted(map(tuple, new.collect()))
    assert o == m and len(m) > 0   # incl. exact jaccard doubles
    release(new)


def test_jaccard_dup_text_pair_is_exact_one(spark, edge_docs):
    new = dedup.ngram_jaccard_pairs(edge_docs, n=3, threshold=0.99)
    rows = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in new.collect())
    # duplicate-text docs (3, 8) and the empty docs (5, 6, 7 — all one ''
    # shingle) are the exact-1.0 pairs, matching the three-branch twin
    assert rows == [(3, 8, 1.0), (5, 6, 1.0), (5, 7, 1.0), (6, 7, 1.0)]
    release(new)


def _winnow_pairs_twin(df, *, k=8, w=16, threshold=0.3, max_fp_df=1000):
    """Pre-r17 winnow_pairs tail, verbatim (sizes-join form)."""
    from hyperdx_spark.pipeline.text import winnow_fingerprint_rows

    fp = winnow_fingerprint_rows(df, text_col="text", id_col="doc_id", k=k, w=w)
    postings = fp.groupBy("f").agg(F.sort_array(F.collect_set("id")).alias("ids"))
    if max_fp_df is not None:
        postings = postings.where(F.size("ids") <= max_fp_df)
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    inter = (
        postings.where(F.size("ids") > 1)
        .select(pair.alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = fp.groupBy("id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), on="id_b")
        .withColumn(
            "overlap",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )


@pytest.fixture(scope="module")
def winnow_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long boilerplate header shared by many documents in this corpus"
    )
    rows = [
        (1, base),
        (2, base + " with a unique suffix appended here"),
        (3, "a completely different text body with no shared runs at all x"),
        (4, base.replace("quick", "slow")),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("max_fp_df", [None, 3])
def test_winnow_pairs_match_sizes_join_twin(spark, winnow_docs, max_fp_df):
    old = _winnow_pairs_twin(winnow_docs, threshold=0.05, max_fp_df=max_fp_df)
    new = dedup.winnow_pairs(winnow_docs, threshold=0.05, max_fp_df=max_fp_df)
    o = sorted(map(tuple, old.collect()))
    m = sorted(map(tuple, new.collect()))
    assert o == m and len(m) > 0  # incl. exact overlap doubles
    release(new)


def test_winnow_plan_has_no_pair_side_join(spark, winnow_docs):
    new = dedup.winnow_pairs(winnow_docs, threshold=0.05)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    release(new)


def test_jaccard_plan_has_no_pair_side_join(spark, edge_docs):
    new = dedup.ngram_jaccard_pairs(edge_docs, n=3, threshold=0.5)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # sizes ride the postings; no join remains
    release(new)
