from __future__ import annotations

import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Test sessions default to local[8]: the suite's jobs are KB-sized
# (sf0.001 + tiny synthetic frames), where 32 task slots only add
# scheduling overhead — measured ~10% faster suite at 8 with identical
# results. An explicit SPARK_GRAFT_CPUS (the driver's scaling runs)
# still wins; setdefault never overrides it.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# The engine's 32g default driver heap is sized for the bench, not for
# this suite: on a 15 GB host the JVM grew past physical memory during
# the registry-wide sweep and was OOM-killed, taking every later test
# with it. The heaviest modules peak at ~5 GB RSS under a 6g heap.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from multi_source_data_lake_with_etl_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("mdl-spark-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


_JOB_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """Count the Spark jobs a block launches: ``with spark_jobs() as
    jobs: ...`` leaves the job ids in ``jobs`` once the block ends. The
    block runs under a job group of its own, its jobs are read from
    ``statusTracker``, and the listener bus is drained first, so a job
    that has just finished is never missed."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def track():
        group = f"spark-jobs-{next(_JOB_GROUPS)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        jobs: list[int] = []
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return track
