from __future__ import annotations

import pytest

from collect_mobile_devices_datalake_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s
    # Every scratch dir the session made — persisted indexes, learned
    # tables, the time-travel lake, streaming roots (hundreds of MB per
    # kernel run at sf0.1) — goes once the session's queries are all
    # consumed; dirs stranded by earlier crashed runs go with them.
    from collect_mobile_devices_datalake_spark import artifacts

    artifacts.cleanup()
    artifacts.sweep_stale()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs that ``action()`` started, counted in a job group of
    its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def compilations(spark, action) -> int:
    """Generated classes Janino compiled while ``action()`` ran: the
    JVM-wide count of codegen compiles, which a hit in Spark's
    generated-class cache does not bump."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    action()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before
