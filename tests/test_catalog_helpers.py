"""Unit pins for the shared-corpus persist and its release (r13): their
contracts are load-bearing for both the plan audit and the 100 TB
posture, so the exact behaviors are pinned here on tiny frames."""

import pytest

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import catalog


@pytest.fixture()
def df(spark):
    return spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def _last_job_id(spark) -> int:
    """Newest job id in the status store, once pending events have landed."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.last().jobId() if jobs.size() else -1


def test_persist_shared_corpus_frame_is_lazy_disk_only_with_lineage(df):
    from pyspark import StorageLevel

    spark = df.sparkSession
    mark = _last_job_id(spark)
    out = catalog.persist_shared_corpus_frame(df)
    assert _last_job_id(spark) == mark  # lazy: no jobs at construction
    assert out.storageLevel == StorageLevel.DISK_ONLY
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cached subtree the plan audit counts once, visible pre-execution
    assert "InMemoryTableScan" in plan, plan
    assert sorted(r["v"] for r in out.collect()) == [2 * i for i in range(10)]
    out.unpersist(blocking=True)


def test_release_shared_frames_unpersists_and_clears_tracker(df):
    n0 = len(catalog._SHARED_FRAMES)
    a = catalog.persist_shared_corpus_frame(df)
    b = catalog.persist_shared_corpus_frame(df.select("id"))
    assert len(catalog._SHARED_FRAMES) == n0 + 2
    a.count()  # materialize one so there are real blocks to drop
    released = catalog.release_shared_frames(blocking=True)
    assert released == n0 + 2
    assert catalog._SHARED_FRAMES == []
    # both frames really left the CacheManager (lifecycle, ADVICE r13):
    # a re-built identical plan must NOT show an InMemoryTableScan splice
    assert a.storageLevel.useMemory is False and a.storageLevel.useDisk is False
    assert b.storageLevel.useMemory is False and b.storageLevel.useDisk is False
    # idempotent / safe to call with nothing outstanding
    assert catalog.release_shared_frames() == 0
