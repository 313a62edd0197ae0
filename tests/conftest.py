import uuid
from contextlib import contextmanager

import pytest

from sciencebeam_parser_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def job_group(spark):
    """``with job_group() as jobs:`` runs the block under a job group of
    its own; ``jobs()`` counts the Spark jobs started in the group so far,
    after the listener bus has delivered every event posted before it."""
    sc = spark.sparkContext

    @contextmanager
    def group():
        name = f"tests-{uuid.uuid4().hex}"
        sc.setJobGroup(name, name)

        def jobs():
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(name))

        try:
            yield jobs
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    return group
