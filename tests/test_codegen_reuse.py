"""Warm queries reuse their generated code.

Spark caches the Java it generates for a plan by the source text. A warm
query finds its classes there only if the cache holds the engine's working
set (``get_spark`` sizes it) and if the same plan renders the same source
from run to run (``useIdInClassName=false`` keeps the codegen stage id out
of class names). The count of Janino compiles is read from Spark's
``CodegenMetrics``, which every compile updates.
"""

from conftest import SF_DIR_ORACLE

DASHBOARD_TILES = [
    "q_search", "q_timeseries_error_5m", "q_ratio_series",
    "q_counter_rate", "q_promql", "q_alert_backtest",
]


def _compiles(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, name):
    """Build and collect one gate entry; the Janino compiles it made."""
    import __spark_entry__ as e

    before = _compiles(spark)
    e.queries()[name](spark, SF_DIR_ORACLE).collect()
    return _compiles(spark) - before


def test_warm_dashboard_pass_compiles_nothing(spark):
    """The six dashboard tiles need more classes than Spark's default cache
    of 100 holds, so with it a warm pass over them compiled about 50 classes
    again; the third pass must compile none."""
    for _ in range(2):
        for name in DASHBOARD_TILES:
            _run(spark, name)
    third = {name: _run(spark, name) for name in DASHBOARD_TILES}
    assert third == dict.fromkeys(DASHBOARD_TILES, 0)


def test_warm_gauge_compiles_nothing(spark):
    """q_gauge gives one of its pipelines a different codegen stage id from
    run to run; with the id in the class name that pipeline's source, the
    cache key, changed every run."""
    _run(spark, "q_gauge")
    _run(spark, "q_gauge")
    assert _run(spark, "q_gauge") == 0


def test_get_spark_sizes_the_class_cache(spark):
    from hyperdx_spark.session import CODEGEN_CACHE_ENTRIES

    # the 49 gate entries need ~1,750 distinct classes at sf0.01
    assert CODEGEN_CACHE_ENTRIES >= 2 * 1750
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_tune_session_drops_stage_ids_from_class_names(spark):
    """A session the engine did not build gets the runtime conf too."""
    from hyperdx_spark.session import tune_session

    other = spark.newSession()
    other.conf.set("spark.sql.codegen.useIdInClassName", "true")
    assert tune_session(other) is other
    assert other.conf.get("spark.sql.codegen.useIdInClassName") == "false"

