from __future__ import annotations

import uuid

import pytest

from mpi_word_count_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM currently holds persisted (caches and
    localCheckpoint blocks). A leak check compares the ids before and
    after a call, so a JVM GC freeing some older RDD in between cannot
    mask a new one."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def jobs_of(spark, fn) -> int:
    """How many Spark jobs fn() starts: it runs under a job group of
    its own, and the group's jobs are counted from the status tracker
    once the listener bus has delivered every job start."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))
