"""Per-query fixed costs that a session pays once, not on every pass:
Spark's generated classes stay in the codegen cache across a cycle of the
benchmark's ``analytics`` queries, ``catalog.load`` infers a fixture's
schema once per file, and a topic append compiles no new class for new
producer marks."""

import datetime as dt
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pulsar_3_2_codedump_spark import catalog, topic
from pulsar_3_2_codedump_spark.catalog import release_shared_frames
from tests.conftest import SF_DIR

# the registry queries of the benchmark's ``analytics`` cycle
ANALYTICS_QUERIES = (
    "tableview_latest",
    "dedup_producer_sequence",
    "key_shared_assignment",
    "tumbling_window_counts",
    "session_window_gaps",
    "pricing_summary",
    "shipping_priority",
    "stats_summary",
    "minhash_lsh_dedup",
    "cosine_topk",
)


def _compiles(spark) -> int:
    """Janino compiles of generated classes in this JVM so far; each is a
    miss of Spark's codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_in_group(spark, fn):
    """``fn()`` and the number of Spark jobs it started, counted by a job
    group of its own."""
    sc = spark.sparkContext
    group = f"fixed_cost_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_second_analytics_pass_compiles_no_class(spark):
    from pulsar_3_2_codedump_spark.envelope import cached_envelope
    from pulsar_3_2_codedump_spark.queries import load_all

    registry = load_all()
    # the session's persisted envelope, once materialized, gives the plans
    # that read it other stats and other codegen stage ids: a one-off
    # change, not a cache miss
    cached_envelope(spark, SF_DIR).count()

    def one_pass():
        before = _compiles(spark)
        for name in ANALYTICS_QUERIES:
            try:
                registry[name].fn(spark, SF_DIR).collect()
            finally:
                release_shared_frames()
        return _compiles(spark) - before

    one_pass()
    assert one_pass() == 0


def _fixture_copy(tmp_path, name="nation"):
    shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_second_load_runs_no_job(spark, tmp_path):
    sf = _fixture_copy(tmp_path)
    first = catalog.load(spark, sf, "nation")
    jobs, second = _jobs_in_group(spark, lambda: catalog.load(spark, sf, "nation"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_fixture_is_inferred_again(spark, tmp_path):
    sf = _fixture_copy(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    assert "note" not in catalog.load(spark, sf, "nation").columns
    t = pq.read_table(path)
    pq.write_table(t.append_column("note", pa.array(["x"] * t.num_rows)), path)
    df = catalog.load(spark, sf, "nation")
    assert df.columns[-1] == "note"
    assert {r["note"] for r in df.collect()} == {"x"}


def test_self_join_of_two_loads(spark, tmp_path):
    sf = _fixture_copy(tmp_path)
    a = catalog.load(spark, sf, "nation")
    b = catalog.load(spark, sf, "nation")
    pairs = (
        a.join(b, a.n_regionkey == b.n_regionkey)
        .select(a.n_nationkey.alias("x"), b.n_nationkey.alias("y"))
        .collect()
    )
    rows = pq.read_table(os.path.join(sf, "nation.parquet")).to_pylist()
    expected = sorted(
        (r["n_nationkey"], s["n_nationkey"])
        for r in rows
        for s in rows
        if r["n_regionkey"] == s["n_regionkey"]
    )
    assert sorted((r.x, r.y) for r in pairs) == expected


@pytest.mark.parametrize("name", catalog.TABLES)
def test_passed_schema_equals_inferred(spark, tmp_path, name):
    sf = _fixture_copy(tmp_path, name)
    inferred = catalog.load(spark, sf, name).schema
    passed = catalog.load(spark, sf, name).schema
    assert [(f.name, f.dataType, f.nullable) for f in passed.fields] == [
        (f.name, f.dataType, f.nullable) for f in inferred.fields
    ]


def _rows(spark, producer, lo, hi):
    """A driver-side frame of ``producer``'s sequence ids ``lo..hi-1``."""
    base = dt.datetime(2024, 5, 1)
    rows = [
        (str(i % 5), f"v{i}".encode(), base + dt.timedelta(seconds=i), producer, i)
        for i in range(lo, hi)
    ]
    return topic.lookup_frame(
        spark, rows, "key string, value binary, publish_time timestamp, producer_name string, sequence_id long"
    )


def test_append_with_new_marks_compiles_no_class(spark, tmp_path):
    tp = topic.create_topic(str(tmp_path), "marks", 2)
    topic.append(spark, _rows(spark, "p", 0, 20), tp)
    topic.append(spark, _rows(spark, "p", 10, 40), tp)
    before = _compiles(spark)
    topic.append(spark, _rows(spark, "p", 30, 60), tp)
    assert _compiles(spark) - before == 0
    assert topic.read_manifest(tp)["producer_seq"] == {"p": 59}
    assert topic.read_topic(spark, tp).count() == 60
