import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("loudml-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn started)``,
    counted through a job group of its own.  The status tracker is fed
    by the asynchronous listener bus, so the count is read until it
    holds still."""
    import itertools
    import time

    sc = spark.sparkContext
    ids = itertools.count()

    def count(fn):
        group = f"count-jobs-{id(ids)}-{next(ids)}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        n = -1
        for _ in range(20):
            seen = len(sc.statusTracker().getJobIdsForGroup(group))
            if seen == n:
                break
            n = seen
            time.sleep(0.05)
        return out, n

    return count
