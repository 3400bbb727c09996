from __future__ import annotations

import itertools
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running breadth coverage (crash-injection kill-point "
        "sweeps, two-process chaos schedules, extra fuzz seeds). The "
        "default run keeps one smoke per family and must finish well "
        "inside the driver's capture budget (VERDICT r10 item 6); set "
        "SPARK_GRAFT_FULL_TESTS=1 to run everything (the builder's "
        "round-close gate).",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow breadth suite; set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from map_reduce_ruby_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(build)`` -> ``(build(), number of Spark jobs build ran)``.

    The jobs are counted in a job group of their own. A control job closes
    the group and must be seen in it, which proves the count works. A
    sentinel job in a second group is awaited before counting; listener
    events arrive in order, so by then every job of the group is recorded.
    The control and the sentinel count an empty RDD: a job with no task."""
    sc = spark.sparkContext
    serial = itertools.count()

    def in_group(group, fn):
        sc.setJobGroup(group, "count_jobs")
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def count(build):
        group = f"count-jobs-{os.getpid()}-{next(serial)}"

        def build_then_control():
            out = build()
            sc.emptyRDD().count()
            return out

        out = in_group(group, build_then_control)
        in_group(f"{group}-sentinel", sc.emptyRDD().count)
        deadline = time.monotonic() + 30
        while (
            not sc.statusTracker().getJobIdsForGroup(f"{group}-sentinel")
            and time.monotonic() < deadline
        ):
            time.sleep(0.01)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs, f"the control job of {group} was not counted"
        return out, len(jobs) - 1

    return count
