"""Shared test setup.

The read-only reference checkout at /root/reference is the *oracle*: parity
tests import its parser functions and replay them on the same fixture texts,
asserting byte-identical outputs against ocr_spark.  Reference code is never
copied — only invoked.
"""

from __future__ import annotations

import sys
from datetime import date
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
REFERENCE = Path("/root/reference")

for p in (str(REPO), str(REFERENCE)):
    if p not in sys.path:
        sys.path.insert(0, p)

# The reference calls date.today() internally; our engine takes run_date
# explicitly.  Using today's date for both keeps them byte-identical.
RUN_DATE = date.today()


def _new_jobs(spark, fn) -> list[int]:
    """Ids of the Spark jobs, outside any job group, that ``fn()`` runs."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn()
    return sorted(set(tracker.getJobIdsForGroup(None) or []) - before)


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs, outside any job group, that ``fn()`` runs."""
    return len(_new_jobs(spark, fn))


def job_tasks(spark, fn) -> list[int]:
    """Tasks of each Spark job, outside any job group, that ``fn()`` runs
    — in job order."""
    tracker = spark.sparkContext.statusTracker()
    return [sum(tracker.getStageInfo(stage).numTasks
                for stage in tracker.getJobInfo(job).stageIds)
            for job in _new_jobs(spark, fn)]


def global_summary(data) -> dict:
    """The run summary's aggregates recomputed over a read-back ``data/``
    frame — the reference the observed summary is checked against."""
    from ocr_spark.lineage import summary_aggs
    return data.agg(*summary_aggs()).collect()[0].asDict()


@pytest.fixture(scope="session")
def run_date() -> date:
    return RUN_DATE


@pytest.fixture(scope="session")
def spark():
    """local[*] session shared by all Spark tests in one pytest run."""
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("ocr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
