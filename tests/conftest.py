"""Shared Spark session for the suite (local[4], small shuffle)."""
from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from askg_spark.session import get_spark

    s = get_spark(
        "askg-tests", master="local[4]", shuffle_partitions=4,
        extra_confs={
            # session.py's default heap is sized for a 32-core host; a
            # local[4] suite needs far less, and the default let the
            # test JVM grow past a 16 GB host's memory
            "spark.driver.memory": "4g",
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
