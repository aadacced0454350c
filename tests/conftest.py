import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from hyperdx_spark.session import get_spark

    # A fresh warehouse per run, so managed tables a killed run left behind
    # cannot collide with this one. It is a static conf: it must reach the
    # JVM at launch, before getOrCreate.
    warehouse = tmp_path_factory.mktemp("warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={warehouse} "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("hyperdx_spark_tests", cpus=min(os.cpu_count() or 4, 8))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from hyperdx_spark.io import load_table

    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def events_source():
    from hyperdx_spark.model import Source

    return Source(
        table="events",
        kind="log",
        timestamp_value_expression="ts",
        implicit_column_expression="concat_ws(' ', event_type, props)",
        severity_text_expression="event_type",
        service_name_expression="event_type",
    )
