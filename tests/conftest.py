import uuid

import pytest

from kgforge.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kgforge-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _in_job_group(sc, fn):
    """(group, `fn()`): `fn` runs under a job group of its own, returned
    once the listener bus has delivered every job event, so the status
    tracker has them all."""
    group = f"kgforge-tests.{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return group, out


@pytest.fixture
def count_jobs(spark):
    """`count_jobs(fn)` -> (Spark jobs `fn()` fired, its result), read
    from the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group, out = _in_job_group(sc, fn)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture
def stage_tasks(spark):
    """`stage_tasks(fn)` -> the task count of every stage `fn()` ran,
    read from the status tracker; stages skipped because their output
    already exists are left out."""
    sc = spark.sparkContext

    def run(fn):
        group, _ = _in_job_group(sc, fn)
        tracker = sc.statusTracker()
        return [
            info.numTasks
            for job in tracker.getJobIdsForGroup(group)
            for stage in tracker.getJobInfo(job).stageIds
            if (info := tracker.getStageInfo(stage)) is not None and info.numCompletedTasks
        ]

    return run
