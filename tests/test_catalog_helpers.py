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


def test_lsh_signature_is_released_with_the_shared_frames(spark):
    """The MinHash signature ``minhash_lsh_dedup`` caches goes through
    ``persist_shared_corpus_frame``: the release after the query drops it,
    so no later query's plan is served from it."""
    from pyspark import StorageLevel

    from pulsar_3_2_codedump_spark.functions.dedup_ml import (
        base_hashes,
        minhash_lsh_dedup,
        minhash_signature,
        shingles,
    )
    from tests.conftest import SF_DIR

    def signature():
        docs = catalog.fanout(catalog.load(spark, SF_DIR, "documents"))
        sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
        return sh.withColumn("hs", base_hashes(F.col("sh"))).select(
            "doc_id", "sh", *minhash_signature(F.col("hs"))
        )

    assert minhash_lsh_dedup(spark, SF_DIR).collect()
    # the query cached this very plan ...
    assert signature().storageLevel != StorageLevel.NONE
    catalog.release_shared_frames(blocking=True)
    # ... and the release took it out of the cache
    assert signature().storageLevel == StorageLevel.NONE


_RESTART_CHILD = r"""
import json, sys
from pulsar_3_2_codedump_spark.session import get_spark
from pulsar_3_2_codedump_spark.functions.dedup_ml import minhash_lsh_dedup
from pulsar_3_2_codedump_spark.functions.similarity import pq_adc_ann_topk

runs = []
for _ in range(2):
    spark = get_spark("restart-queries")
    runs.append({
        fn.__name__: sorted(list(r) for r in fn(spark, sys.argv[1]).collect())
        for fn in (minhash_lsh_dedup, pq_adc_ann_topk)
    })
    spark.stop()
print(json.dumps(runs))
"""


def test_queries_run_again_after_the_session_restarts():
    """A driver that stops its session and starts a new one in the same
    process gets the same rows from the queries that cache a frame: no
    query keeps a frame of the stopped session to release later."""
    import json
    import os
    import subprocess
    import sys

    from tests.conftest import SF_DIR

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    child = subprocess.run(
        [sys.executable, "-c", _RESTART_CHILD, SF_DIR],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert child.returncode == 0, child.stderr[-3000:]
    first, second = json.loads(child.stdout.strip().splitlines()[-1])
    assert first["minhash_lsh_dedup"] and first["pq_adc_ann_topk"]
    assert first == second
