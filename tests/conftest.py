import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hipporag_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hipporag-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn ran)``, read
    from the status tracker through a job group of its own."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the tracker through the async listener bus
        bus.waitUntilEmpty()
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture
def checkpoint_writes(monkeypatch):
    """``(store root, step)`` of every ``CheckpointStore.write`` the test
    process makes while the test runs, in order."""
    from hipporag_spark.checkpoint import CheckpointStore

    writes = []
    write = CheckpointStore.write

    def spy(self, step, *args, **kwargs):
        writes.append((self.root, step))
        return write(self, step, *args, **kwargs)

    monkeypatch.setattr(CheckpointStore, "write", spy)
    return writes


def cached_relations(spark) -> int:
    """Entries in Spark's CacheManager (cached query plans), read by
    reflection; the persisted-RDD count misses plans whose cache was
    never materialized."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())
