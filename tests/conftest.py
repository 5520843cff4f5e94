import uuid

import pytest

from kgforge.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kgforge-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """`count_jobs(fn)` -> (Spark jobs `fn()` fired, its result): `fn`
    runs under a job group of its own, read back from the status
    tracker once the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs.{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
