import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    """Local SparkSession for integration tests (FIXTURES.md F4)."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("dedup-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _last_job_id(sc) -> int:
    """Id of the newest Spark job (ids are sequential), -1 before any."""
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.nonEmpty() else -1


def _count_jobs(spark, fn):
    """(fn's result, number of Spark jobs fn submitted).

    Counted by job id, not job group: a streaming query runs its
    foreachBatch jobs under its own group."""
    sc = spark.sparkContext
    before = _last_job_id(sc)
    out = fn()
    return out, _last_job_id(sc) - before


@pytest.fixture()
def count_jobs(spark):
    """`count_jobs(fn)` -> (fn's result, Spark jobs fn submitted)."""
    return lambda fn: _count_jobs(spark, fn)
