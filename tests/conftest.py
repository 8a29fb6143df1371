from __future__ import annotations

import pytest

from snowalert_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="snowalert_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def last_job_id(spark):
    """Callable returning the id of the newest Spark job the session has
    run, once the listener bus has caught up: the difference across a
    call counts the jobs it ran."""
    jsc = spark.sparkContext._jsc.sc()

    def last() -> int:
        jsc.listenerBus().waitUntilEmpty(10_000)
        jobs = jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    return last
