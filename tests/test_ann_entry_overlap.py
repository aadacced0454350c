"""q_ann_multimodal restructure guards.

Two independent optimizations changed the entry's composition (never its
rows — the strict DuckDB oracle re-verified hash-identical at sf0.01 and
sf0.001):

1. The per-metric ``unionByName`` loop over the multimodal feature frame
   became one ``stack()`` unpivot so the decode subtree appears ONCE in
   the plan instead of seven times. Pin row-set equality of the two
   compositions over the real decode output, and pin the plan property
   (one MapInPandas chain) the rewrite exists for.
2. The eager ANN construction chains run concurrently through
   ``session.overlapped``, whose contract (declared order, cancellation,
   nesting) is pinned by tests/test_overlapped.py. Determinism of each
   chain is pinned by the clustering/similarity suites; the oracle pins
   the composition.
"""

from pyspark.sql import functions as F

METRICS = ("width", "height", "frames", "fps", "rate",
           "duration_us", "grayscale")


def _legacy_union(mm):
    out = None
    for metric in METRICS:
        b = mm.select(
            F.lit(f"mm|{metric}").alias("part"),
            F.col("media_id").cast("long").alias("query_id"),
            F.lit(0).cast("long").alias("match_id"),
            F.col(metric).cast("double").alias("cos"),
            F.lit(0).cast("int").alias("rank"),
            F.col("kind").alias("s"),
        )
        out = b if out is None else out.unionByName(b)
    return out


def _stacked(mm):
    # mirrors __spark_entry__.q_ann_multimodal's stacked select
    return mm.select(
        F.col("media_id").cast("long").alias("query_id"),
        F.col("kind").alias("s"),
        F.expr(
            "stack(7, "
            "'mm|width', CAST(width AS DOUBLE), "
            "'mm|height', CAST(height AS DOUBLE), "
            "'mm|frames', CAST(frames AS DOUBLE), "
            "'mm|fps', CAST(fps AS DOUBLE), "
            "'mm|rate', CAST(rate AS DOUBLE), "
            "'mm|duration_us', CAST(duration_us AS DOUBLE), "
            "'mm|grayscale', CAST(grayscale AS DOUBLE)) AS (part, cos)"
        ),
    ).select(
        "part", "query_id",
        F.lit(0).cast("long").alias("match_id"),
        "cos",
        F.lit(0).cast("int").alias("rank"),
        "s",
    )


def test_stack_unpivot_matches_legacy_union(spark, sf_dir):
    import __spark_entry__ as e

    mm = e.q_multimodal_features(spark, sf_dir)
    legacy = sorted(map(tuple, _legacy_union(mm).collect()))
    stacked = sorted(map(tuple, _stacked(mm).collect()))
    assert len(legacy) > 0
    assert stacked == legacy
    # schema parity (names + types; nullability may differ — lit() marks
    # non-null where stack() stays nullable, and unionByName merges it)
    assert [(f.name, f.dataType) for f in _stacked(mm).schema.fields] == [
        (f.name, f.dataType) for f in _legacy_union(mm).schema.fields
    ]


def test_entry_plans_single_decode(spark, sf_dir):
    """The unpivot's reason to exist: exactly one decode (MapInPandas
    chain) per query, not one per unpivoted metric."""
    import __spark_entry__ as e

    df = e.q_ann_multimodal(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # decode_media contributes the plan's MapInPandas nodes; the legacy
    # 7-branch union planted 7 decode chains (32 MapInPandas total at
    # r17 HEAD~), the stacked form plants 1 (8 total). Bound loosely so
    # unrelated operators may add a node without false-failing.
    assert plan.count("MapInPandas") <= 12
