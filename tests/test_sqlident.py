"""Backtick-safe identifier quoting for the SQL-text builders (r16 ADVICE #3)
and the plan-memo escape hatch (r16 ADVICE #5)."""

import warnings

from pyspark.sql import functions as F

from hyperdx_spark.sqlident import sql_ident


def test_sql_ident_plain():
    assert sql_ident("value") == "`value`"


def test_sql_ident_escapes_embedded_backtick():
    assert sql_ident("a`b") == "`a``b`"
    assert sql_ident("`") == "````"  # quote + doubled tick + quote


def test_sql_ident_roundtrips_through_spark(spark):
    # a column whose NAME contains a backtick must select cleanly — the
    # naive f"`{c}`" wrapper produced a malformed parse here
    df = spark.range(1).select(F.lit(7).alias("a`b"))
    out = df.selectExpr(f"{sql_ident('a`b')} AS v").collect()
    assert out[0]["v"] == 7


def test_dedup_groups_converges_in_one_round_on_fixed_point(spark):
    """r16 ADVICE #1: the sum-probe seed detects an already-converged graph
    (self-loop pairs) at iteration 1 — no spurious did-not-converge warning
    when max_iterations == 1."""
    from hyperdx_spark.pipeline import dedup
    from hyperdx_spark.session import release

    pairs = spark.createDataFrame(
        [(1, 1), (5, 5)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        # only the did-not-converge RuntimeWarning should fail the test —
        # py4j socket ResourceWarnings at GC time are unrelated
        warnings.simplefilter("error", RuntimeWarning)
        out = dedup.dedup_groups(pairs, max_iterations=1)
        rows = {r["id"]: (r["group_id"], r["is_keeper"]) for r in out.collect()}
    release(out)
    assert rows == {1: (1, True), 5: (5, True)}


def test_clear_plan_caches_drops_memo(spark, sf_dir):
    from hyperdx_spark import io

    a = io.load_table(spark, sf_dir, "events")
    b = io.load_table(spark, sf_dir, "events")
    assert a is b  # memo hit: identical plan object
    io.clear_plan_caches(spark)
    c = io.load_table(spark, sf_dir, "events")
    assert c is not a  # memo rebuilt after the escape hatch
    # and the rebuilt plan still reads the same data
    assert c.count() == a.count()
