from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_search_retrival_big_data_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("msrbd-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def job_group(spark):
    """`job_group(name, fn)` runs `fn()` under its own Spark job group and
    returns (jobs, stages): the group's job count and one
    (stage name, completed tasks) pair per stage that ran, read from
    the status tracker and the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()

    def run(name: str, fn):
        sc.setJobGroup(name, name, False)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = tracker.getJobIdsForGroup(name)
        stages, seen = [], set()
        for jid in jobs:
            for sid in sorted(set(tracker.getJobInfo(jid).stageIds) - seen):
                seen.add(sid)
                sd = store.lastStageAttempt(int(sid))
                if sd.numCompleteTasks():
                    stages.append((sd.name(), sd.numCompleteTasks()))
        return len(jobs), stages

    return run
