from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksql_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ksql_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def workdir(tmp_path):
    d = str(tmp_path / "engine")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def transcripts(spark, tmp_path_factory):
    """Deterministic transcripts parquet dir (FIXTURES.md §1), session-scoped."""
    from ksql_spark.sources.transcripts import write_transcripts

    path = str(tmp_path_factory.mktemp("data") / "transcripts")
    df = write_transcripts(spark, path, n_convs=60, avg_turns=10, partitions=8)
    return path, df


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns its result and the
    number of Spark jobs it started.

    The status tracker is fed by the listener bus, which runs behind the
    jobs; a fence job in a later job group is waited for, so every job
    ``fn`` started has been counted by then."""
    sc = spark.sparkContext

    def run(fn):
        group, fence = f"counted-{uuid.uuid4()}", f"counted-fence-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(fence, fence)
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(fence) and time.time() < deadline:
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
