import os
import sys
import threading

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


@pytest.fixture()
def py4j_round_trips(spark, monkeypatch):
    """``round_trips(fn)``: runs ``fn`` and returns the py4j round trips
    it sent, counted at the gateway client's ``send_command`` and only
    from the calling thread (another thread's calls are not the code
    under test)."""
    client = type(spark.sparkContext._gateway._gateway_client)
    original = client.send_command
    me = threading.get_ident()
    calls = [0]

    def counted(self, *a, **kw):
        if threading.get_ident() == me:
            calls[0] += 1
        return original(self, *a, **kw)

    monkeypatch.setattr(client, "send_command", counted)

    def round_trips(fn) -> int:
        calls[0] = 0
        fn()
        return calls[0]

    return round_trips
