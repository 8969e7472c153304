from __future__ import annotations

import pytest

from neuronews_spark.session import CODEGEN_CACHE_ENTRIES, pin_worker_thread_pools

pin_worker_thread_pools()  # before the JVM starts

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.appName("neuronews-spark-tests")
        .master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    yield s
    s.stop()
