import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arcane_framework_scala_spark.session import (
    JAVAEXT_JAR,
    get_session,
    use_javaext,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# run the whole suite with deep-frozen OCF cache entries (r11): any
# caller mutating a shared cached manifest record raises HERE instead
# of silently corrupting later plans in production
os.environ.setdefault("SPARK_GRAFT_OCF_FREEZE", "1")


@pytest.fixture(scope="session")
def spark():
    extra = {
        "spark.sql.shuffle.partitions": "32",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        # the javaext in-memory DSv2 catalog with MERGE INTO support, the
        # stand-in for Iceberg/Delta, under both names the tests use
        "spark.jars": JAVAEXT_JAR,
        "spark.sql.catalog.mem": "arcanespark.mem.MemCatalog",
        "spark.sql.catalog.arcm": "arcanespark.mem.MemCatalog",
    }
    spark = get_session(
        app_name="arcane-tests",
        master="local[*]",
        extra_conf=extra,
    )
    use_javaext(spark)  # a missing jar fails the session here, loudly
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
