import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("frontier-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(group, action, *args)``: the Spark jobs ``action(*args)``
    launches, counted by job group."""

    def count(group, action, *args):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action(*args)
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def pytest_terminal_summary(terminalreporter):
    """Name every skipped test or module with its reason, also under -q,
    so a module that stops running shows up in the summary."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section("skipped", sep="-")
    for rep in skipped:
        path, lineno, reason = rep.longrepr  # skip reports: (path, line, reason)
        reason = reason.removeprefix("Skipped: ")
        terminalreporter.line(f"SKIPPED {os.path.relpath(path)}:{lineno}: {reason}")
