"""Stateful streaming operators: delayed delivery, count windows, counters,
function adapters (§2.F1, §2.G2, §2.H1, §2.I1)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F, types as Ty

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from pulsar_3_2_codedump_spark.streaming.delayed import delayed_delivery
from pulsar_3_2_codedump_spark.streaming.function_runtime import (
    WindowConfig,
    count_window_function,
    keyed_counter,
    pulsar_function,
    window_function,
)
from tests.conftest import SF_DIR


def _events_topic(spark, root, limit=300):
    tp = T.create_topic(root, "ev", n_partitions=2)
    env = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < limit)
        .drop("partition", "offset")
    )
    T.append(spark, env, tp)
    return tp


def test_delayed_delivery_releases_due_messages(spark, tmp_root):
    """Replay the topic twice (same checkpoint): run 1 buffers everything
    (watermark starts at 0); run 2's watermark = run 1's max publish_time,
    so every message whose deliver_at ≤ that watermark is released — the
    batch visibility predicate of operators/timeops.delayed_delivery_due."""
    tp = _events_topic(spark, tmp_root)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    released = delayed_delivery(src)

    collected: list = []

    def grab(batch, _bid):
        collected.extend(batch.collect())

    def run_once():
        q = (
            released.writeStream.foreachBatch(grab)
            .outputMode("append")
            .option("checkpointLocation", tmp_root + "/ck_delay")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # batch 0: watermark starts at 0 → everything buffers
    assert collected == []
    # the log grows (tail append) → next batch runs with batch-0's watermark
    all_env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, all_env.filter(F.col("sequence_id").between(300, 399)), tp)
    run_once()  # batch 1: watermark = max(publish_time of first 300) → release

    assert len(collected) > 0
    first = wrap_events(load(spark, SF_DIR, "events")).filter(F.col("sequence_id") < 300)
    wm = first.agg(F.max("publish_time")).collect()[0][0]
    due = first.filter(F.coalesce(F.col("deliver_at"), F.col("publish_time")) <= F.lit(wm))
    due_seqs = {r["sequence_id"] for r in due.select("sequence_id").collect()}
    rel_seqs = {r["sequence_id"] for r in collected}
    # batch-1 releases are exactly the first-300 messages due at that watermark
    assert rel_seqs <= due_seqs
    assert len(rel_seqs) >= len(due_seqs) - 5  # tail-of-watermark slack
    # and every released row's deliver_at had truly elapsed
    for r in collected:
        assert r["deliver_at"] <= r["released_at_watermark"]


def test_count_window_matches_batch_oracle(spark, tmp_root):
    """Streaming count windows == batch floor(rank/N) oracle (§2.G2)."""
    tp = _events_topic(spark, tmp_root, limit=400)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    wins = count_window_function(src, n=50, key_col="producer_name", seq_col="sequence_id")
    q = (
        wins.writeStream.format("memory").queryName("cw").outputMode("append")
        .option("checkpointLocation", tmp_root + "/ck_cw")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {(r["key"], r["win_id"]): (r["n"], r["first_seq"], r["last_seq"])
           for r in spark.sql("select * from cw").collect()}
    # batch oracle over the same rows
    env = wrap_events(load(spark, SF_DIR, "events")).filter(F.col("sequence_id") < 400)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("producer_name").orderBy("sequence_id")
    oracle = (
        env.withColumn("rn", F.row_number().over(w))
        .withColumn("win_id", F.floor((F.col("rn") - 1) / 50))
        .groupBy("producer_name", "win_id")
        .agg(F.count("*").alias("n"), F.min("sequence_id").alias("lo"), F.max("sequence_id").alias("hi"))
        .filter(F.col("n") == 50)  # streaming only emits FULL windows
    )
    expected = {(r["producer_name"], r["win_id"]): (r["n"], r["lo"], r["hi"]) for r in oracle.collect()}
    assert got == expected


def test_keyed_counter_accumulates(spark, tmp_root):
    tp = _events_topic(spark, tmp_root, limit=200)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    q = (
        keyed_counter(src, "producer_name")
        .writeStream.format("memory").queryName("ctr").outputMode("append")
        .option("checkpointLocation", tmp_root + "/ck_ctr")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r["key"]: r["count"] for r in spark.sql("select * from ctr").collect()}
    env = wrap_events(load(spark, SF_DIR, "events")).filter(F.col("sequence_id") < 200)
    expected = {r["producer_name"]: r["n"] for r in env.groupBy("producer_name").agg(F.count("*").alias("n")).collect()}
    assert got == expected


def test_pulsar_function_adapter_filters_nulls(spark):
    """Function<X,T>: null return filters the message (Function.java:40)."""
    df = spark.range(10).select(F.col("id").cast("double").alias("v"))

    def double_if_even(s: pd.Series) -> pd.Series:
        return s.where(s % 2 == 0) * 2

    out = pulsar_function(df, double_if_even, "v", "out", Ty.DoubleType())
    vals = sorted(r["out"] for r in out.collect())
    assert vals == [0.0, 4.0, 8.0, 12.0, 16.0]


def test_window_function_adapter_batch(spark):
    """WindowFunction over duration windows via applyInPandas (G1)."""
    ev = load(spark, SF_DIR, "events").select(
        F.col("ts").alias("event_time"), "event_type", "value"
    )
    schema = Ty.StructType(
        [
            Ty.StructField("n", Ty.LongType()),
            Ty.StructField("vmax", Ty.DoubleType()),
        ]
    )

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{"n": len(pdf), "vmax": float(pdf["value"].max())}])

    cfg = WindowConfig(window_length_duration="6 hours")
    out = window_function(ev, cfg, process, schema)
    rows = out.collect()
    assert sum(r["n"] for r in rows) == 1000
    total_max = max(r["vmax"] for r in rows)
    assert total_max == ev.agg(F.max("value")).collect()[0][0]


def test_delayed_state_schema_roundtrip():
    """State pack/unpack helpers stay consistent (unit, no Spark)."""
    from pulsar_3_2_codedump_spark.streaming import delayed as D

    assert [f.name for f in D.RELEASED_SCHEMA.fields] == [
        "partition", "key", "sequence_id", "deliver_at", "released_at_watermark",
    ]
    assert [f.name for f in D.STATE_SCHEMA.fields] == ["keys", "seqs", "deliver_ats"]


def test_window_function_streaming_mode(spark, tmp_root):
    """G1 end-to-end on a STREAM: WindowFunction via applyInPandas over
    event-time windows of the pulsarlike source."""
    import pandas as pd
    from pulsar_3_2_codedump_spark.streaming.function_runtime import window_function

    tp = _events_topic(spark, tmp_root, limit=500)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    schema = Ty.StructType([Ty.StructField("n", Ty.LongType())])
    out = window_function(
        src, WindowConfig(window_length_duration="1 hour"),
        lambda pdf: pd.DataFrame([{"n": len(pdf)}]), schema, streaming=True,
    )
    q = (
        out.writeStream.format("memory").queryName("wf_stream").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    total = spark.sql("select sum(n) s from wf_stream").collect()[0]["s"]
    assert total == 500


def test_streaming_tableview_latest_values(spark, tmp_root):
    """A4 streaming form: TableView = groupBy(key).agg(max_by(..., offset))
    in complete mode, continuously updated as the log grows
    (TableViewImpl.handleMessage :182-214)."""
    tp = _events_topic(spark, tmp_root, limit=300)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    tv = src.groupBy("key").agg(
        F.max_by("sequence_id", F.struct("partition", "offset")).alias("latest_seq"),
        F.max("offset").alias("max_offset"),
    )
    def run(i):
        q = (
            tv.writeStream.format("memory").queryName(f"tv{i}").outputMode("complete")
            .option("checkpointLocation", tmp_root + "/ck_tv")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {r["key"]: r["latest_seq"] for r in spark.sql(f"select * from tv{i}").collect()}

    got1 = run(1)
    env = wrap_events(load(spark, SF_DIR, "events"))
    def expected(limit):
        e = env.filter(F.col("sequence_id") < limit)
        return {r["key"]: r["latest_seq"] for r in e.groupBy("key").agg(
            F.max_by("sequence_id", F.struct("partition", "offset")).alias("latest_seq")).collect()}
    assert got1 == expected(300)
    # log grows → the view updates (continuously-updated map semantics)
    T.append(spark, wrap_events(load(spark, SF_DIR, "events"))
             .filter(F.col("sequence_id").between(300, 399)).drop("partition", "offset"), tp)
    got2 = run(2)
    assert got2 == expected(400)


def test_streaming_dedup_drop_duplicates(spark, tmp_root):
    """E1 streaming form: withWatermark + dropDuplicates on the dedup
    identity collapses a replayed producer retry inside the stream."""
    tp = T.create_topic(tmp_root, "dd", n_partitions=2)
    env = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < 200)
        .drop("partition", "offset")
    )
    dup = env.filter(F.col("sequence_id") % 4 == 0)
    T.append(spark, env, tp)
    # simulate a producer retry slipping past broker dedup (different producer mark)
    T.append(spark, dup, tp, dedup=False)
    src = spark.readStream.format("pulsarlike").option("path", tp).load()
    deduped = (
        src.withWatermark("publish_time", "1 hour")
        .dropDuplicates(["producer_name", "sequence_id"])
    )
    q = (
        deduped.writeStream.format("memory").queryName("dd").outputMode("append")
        .option("checkpointLocation", tmp_root + "/ck_dd")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) c from dd").collect()[0]["c"]
    assert n == 200  # 50 replays collapsed


def test_sequence_gap_monitor_detects_cross_generation_gap(spark):
    from pyspark.sql import functions as F

    from pulsar_3_2_codedump_spark.queries import load_all
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        GAP_CUT,
        GAP_DROP_AT,
        GAP_DROP_MOD,
    )
    from tests.conftest import SF_DIR

    out = load_all()["streaming_sequence_gap_monitor"].fn(spark, SF_DIR).collect()
    assert out
    # every gap is exactly one injected drop position
    for r in out:
        assert r["gap_start"] == r["gap_end"]
        assert r["gap_start"] % GAP_DROP_MOD == GAP_DROP_AT
    # the drop at GAP_CUT straddles the generation boundary: gen 1 ends at
    # GAP_CUT-1, gen 2 starts at GAP_CUT+1 — only cross-run state finds it
    assert any(r["gap_start"] == GAP_CUT for r in out)


def test_streaming_chunk_reassembly_crosses_generation_boundary(spark):
    # every 3rd doc's last chunk arrives in generation 2 — a multi-chunk doc
    # divisible by 3 completes ONLY if partial buffers survive the checkpoint
    from pulsar_3_2_codedump_spark.queries import load_all

    out = {r["uuid"]: r for r in
           load_all()["streaming_chunk_reassembly"].fn(spark, SF_DIR).collect()}
    docs = {str(r["doc_id"]): r["text"] for r in
            load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 150).collect()}
    assert set(out) == set(docs)
    import hashlib
    crossers = 0
    for uuid, text in docs.items():
        assert out[uuid]["payload_len"] == len(text)
        assert out[uuid]["payload_md5"] == hashlib.md5(text.encode()).hexdigest()
        if int(uuid) % 3 == 0 and out[uuid]["n_chunks"] > 1:
            crossers += 1
    assert crossers > 0  # the cross-generation path actually exercised


def test_streaming_cusum_matches_batch_and_fold_is_associative(spark):
    """Generation continuity: the CUSUM monitor's carry-fold must absorb the
    stream in ANY number of pieces and land on the same state as one batch
    fold — that associativity is exactly what lets generation 2 continue
    from generation 1's carry without re-reading it."""
    from pulsar_3_2_codedump_spark.operators.behavior import (
        CUSUM_H_MULT,
        CUSUM_SCALE,
    )
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        CUSUM_BUCKET,
        CUSUM_REF_HI,
        _cusum_fold,
        streaming_cusum_alarm,
    )

    got = {r["event_type"]: r for r in streaming_cusum_alarm(spark, SF_DIR).collect()}
    assert got

    # batch recomputation of the same monitor over the replayed range
    env = wrap_events(load(spark, SF_DIR, "events")).filter(
        F.col("sequence_id") < 400
    )
    buckets = (
        env.groupBy(
            F.col("properties")["event_type"].alias("event_type"),
            F.expr(f"sequence_id DIV {CUSUM_BUCKET}").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    kdf = (
        buckets.filter(F.col("bucket") < CUSUM_REF_HI // CUSUM_BUCKET)
        .groupBy("event_type")
        .agg(F.expr(f"(SUM(x) * {CUSUM_SCALE}) DIV COUNT(*)").alias("k_scaled"))
    )
    empty_carry = spark.createDataFrame(
        [], "event_type string, p long, m long, peak long, n long, "
            "last_x long, last_bucket long"
    )
    one_shot = {
        r["event_type"]: r
        for r in _cusum_fold(buckets, empty_carry, kdf)
        .join(kdf, "event_type")
        .collect()
    }
    assert set(got) == set(one_shot)
    for et, r in got.items():
        b = one_shot[et]
        assert r["n_buckets"] == b["n"]
        assert r["last_bucket"] == b["last_bucket"]
        assert r["x_last"] == b["last_x"]
        assert r["s_scaled"] == b["p"] - b["m"]
        assert r["peak_s_scaled"] == b["peak"]
        assert r["alarm_now"] == (r["s_scaled"] > CUSUM_H_MULT * b["k_scaled"])
        assert r["alarm_ever"] == (r["peak_s_scaled"] > CUSUM_H_MULT * b["k_scaled"])

    # associativity at an arbitrary split (not the generation boundary):
    # fold buckets < 3, then fold the rest onto the carry
    pre = buckets.filter(F.col("bucket") < 3)
    post = buckets.filter(F.col("bucket") >= 3)
    two_step = {
        r["event_type"]: r
        for r in _cusum_fold(post, _cusum_fold(pre, empty_carry, kdf), kdf).collect()
    }
    for et, b in one_shot.items():
        t = two_step[et]
        assert (t["p"], t["m"], t["peak"], t["n"], t["last_x"], t["last_bucket"]) == (
            b["p"], b["m"], b["peak"], b["n"], b["last_x"], b["last_bucket"]
        )


def test_cusum_view_merge_survives_arbitrary_microbatch_splits(spark, tmp_root):
    """The CUSUM monitor's view merge must be COMMUTATIVE over micro-batch
    boundaries: with flow control capping each trigger, a generation drains
    in several batches whose rows split volume buckets arbitrarily (the
    2-partition interleave scatters sequence ids), and the merged view must
    still equal the batch bucket counts — the precondition the carry fold
    relies on."""
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        CUSUM_BUCKET,
        _cusum_merge,
        _cusum_open_rows,
        _replay_topic,
        _run_bounded_foreach,
        _versioned_view,
    )

    tp = _replay_topic(spark, SF_DIR, str(tmp_root), 0, 300)
    src = (
        spark.readStream.format("pulsarlike")
        .option("path", tp)
        .option("maxRecordsPerTrigger", "40")  # 2 partitions × 40 per batch
        # flow control across restarts: each start() builds a fresh
        # reader, and the query's checkpoint carries the capped read
        # position forward (reader docstring)
        .option("subscription", "cusum-split-test")
        .load()
    )
    upsert, state = _versioned_view(
        str(tmp_root),
        "event_type string, kind string, bucket long, "
        "v1 long, v2 long, v3 long, v4 long, v5 long",
        lambda b: _cusum_open_rows(
            b.groupBy(
                F.col("properties")["event_type"].alias("event_type"),
                F.expr(f"sequence_id DIV {CUSUM_BUCKET}").alias("bucket"),
            ).agg(F.count(F.lit(1)).alias("x"))
        ),
        _cusum_merge,
    )
    # 6 capped runs drain the 300 rows (routing skews the 2 partitions, so
    # a partition may hold up to ~240 rows) in ≥6 micro-batches, none
    # aligned to a bucket boundary
    _run_bounded_foreach(src, str(tmp_root) + "/ck", [None] * 6, upsert)
    got = {
        (r["event_type"], r["bucket"]): r["v1"]
        for r in spark.read.parquet(state["path"]).collect()
    }
    env = wrap_events(load(spark, SF_DIR, "events")).filter(
        F.col("sequence_id") < 300
    )
    want = {
        (r["event_type"], r["bucket"]): r["x"]
        for r in env.groupBy(
            F.col("properties")["event_type"].alias("event_type"),
            F.expr(f"sequence_id DIV {CUSUM_BUCKET}").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    }
    assert got == want


def test_streaming_token_drift_monitor_matches_batch(spark):
    """The incrementally-maintained drift view equals the batch computation
    over the same replayed document range, and the alarm fires exactly on
    sources whose rounded drift ratio leaves the ±band."""
    from pulsar_3_2_codedump_spark.queries import load_all
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        TDM_BAND,
        TDM_DOCS,
        TDM_REF_HI,
    )

    got = {
        r["source"]: r
        for r in load_all()["streaming_token_drift_monitor"]
        .fn(spark, SF_DIR)
        .collect()
    }
    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < TDM_DOCS)
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    is_ref = F.col("doc_id") < TDM_REF_HI
    want = {
        r["source"]: r
        for r in docs.groupBy("source")
        .agg(
            F.sum(F.when(is_ref, 1).otherwise(0)).cast("long").alias("n_ref"),
            F.sum(F.when(~is_ref, 1).otherwise(0)).cast("long").alias("n_cur"),
            F.sum(F.when(is_ref, toks).otherwise(0)).cast("long").alias("tok_ref"),
            F.sum(F.when(~is_ref, toks).otherwise(0)).cast("long").alias("tok_cur"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        assert (g["n_ref"], g["n_cur"], g["tok_ref"], g["tok_cur"]) == (
            w["n_ref"], w["n_cur"], w["tok_ref"], w["tok_cur"]
        ), src
        ratio = round((w["tok_cur"] / w["n_cur"]) / (w["tok_ref"] / w["n_ref"]), 4)
        assert g["drift_ratio"] == ratio, src
        assert g["alarm"] == (
            not (1 - TDM_BAND <= ratio <= 1 + TDM_BAND)
        ), src


def test_streaming_watermark_skew_rebalance_matches_batch(spark):
    """The incrementally-merged per-producer frontier state equals the
    batch computation over the replayed range, the watermark-defining
    producer is the min-frontier one, and the load/split integers follow
    their closed forms."""
    from pulsar_3_2_codedump_spark.envelope import wrap_events
    from pulsar_3_2_codedump_spark.queries import load_all
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import WSR_HI

    got = {
        r["producer_name"]: r
        for r in load_all()["streaming_watermark_skew_rebalance"]
        .fn(spark, SF_DIR)
        .collect()
    }
    env = wrap_events(load(spark, SF_DIR, "events")).filter(
        F.col("sequence_id") < WSR_HI
    )
    want = {
        r["producer_name"]: (r["n"], r["f"])
        for r in env.groupBy("producer_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.unix_micros("event_time")).alias("f"),
        )
        .collect()
    }
    assert set(got) == set(want)
    gmax = max(f for _, f in want.values())
    gmin = min(f for _, f in want.values())
    total = sum(n for n, _ in want.values())
    np_ = len(want)
    for p, (n, f) in want.items():
        g = got[p]
        assert (g["n_events"], g["frontier_us"]) == (n, f), p
        assert g["lag_us"] == gmax - f, p
        assert g["defines_watermark"] == (f == gmin), p
        assert g["load_bp"] == n * 10000 // total, p
        assert g["rebalance_splits"] == (n * np_ + total - 1) // total, p
    assert sum(1 for g in got.values() if g["defines_watermark"]) >= 1


def test_streaming_eos_sink_commit_replays_batch_and_dedups(spark, monkeypatch):
    """Pins the r13 streaming exactly-once sink-commit audit (§2.K1): the
    injected sink crash must actually fire (run 1 appends, dies before the
    checkpoint commit) and the restarted query must REPLAY that batch
    through the sink — observed as extra T.append invocations — while the
    committed output still equals a single clean publish (batch
    equivalence against wrap_events). Without the crash+replay the append
    count would be 4 (2 fixture appends + 2 clean sink runs); the replay
    makes it >= 5."""
    import pulsar_3_2_codedump_spark.streaming.queries_streaming as S

    calls = {"n": 0}
    real_append = T.append

    def counting_append(sp, df, tp, *a, **kw):
        calls["n"] += 1
        return real_append(sp, df, tp, *a, **kw)

    monkeypatch.setattr(S.T, "append", counting_append)
    got = {
        r["partition"]: (r["n_committed"], r["max_seq"], r["payload_md5_sum"])
        for r in S.streaming_exactly_once_sink_commit(spark, SF_DIR).collect()
    }
    assert calls["n"] >= 5, calls

    exp_df = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < S.EOS_TOTAL)
        .groupBy(F.col("partition").cast("long").alias("partition"))
        .agg(
            F.count(F.lit(1)).alias("n_committed"),
            F.max("sequence_id").alias("max_seq"),
            F.sum(
                F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
            ).cast("long").alias("payload_md5_sum"),
        )
    )
    exp = {
        r["partition"]: (r["n_committed"], r["max_seq"], r["payload_md5_sum"])
        for r in exp_df.collect()
    }
    assert got == exp


def test_streaming_contamination_monitor_generations(spark):
    """The checkpointed cursor means generation 2 scores ONLY the newly
    arrived half: exactly one row per held-out doc, gen split exactly at
    the append boundary, and the per-doc stats equal the batch query's
    (the streaming monitor reuses overlap_span_stats, so divergence here
    means the stream path corrupted the inputs)."""
    from pulsar_3_2_codedump_spark.functions.text import SB_SCORE_DOCS
    from pulsar_3_2_codedump_spark.queries import load_all

    reg = load_all()
    rows = reg["streaming_contamination_monitor"].fn(spark, SF_DIR).collect()
    half = SB_SCORE_DOCS // 2
    assert len(rows) == len({r["doc_id"] for r in rows})  # no double-scoring
    gens = {r["doc_id"]: r["gen"] for r in rows}
    assert all(g == (1 if d < half else 2) for d, g in gens.items())
    assert {1, 2} <= set(gens.values())
    batch = {
        r["doc_id"]: (r["n_tri"], r["n_hit"], r["max_run"])
        for r in reg["cross_corpus_overlap_spans"].fn(spark, SF_DIR).collect()
    }
    got = {r["doc_id"]: (r["n_tri"], r["n_hit"], r["max_run"]) for r in rows}
    assert got == batch


def test_streaming_ann_serving_matches_python_bruteforce(spark):
    """r15 serving twin: every arriving query's top-k must equal a plain-
    Python brute force over its probed cells (independent of the engine's
    join/window machinery), gen-1 rows must be exactly the %100==0 query
    ids and gen-2 the %100==50 ones — the checkpointed cursor proof."""
    import math

    from pulsar_3_2_codedump_spark.functions.similarity import (
        PQIVF_CELLS,
        PQIVF_NPROBE,
        QUERY_ID_CAP,
        QUERY_STRIDE,
    )
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        ANN_SERVE_K,
        streaming_ann_serving,
    )
    import hashlib

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    order = sorted(
        vecs, key=lambda v: (hashlib.md5(f"cell:{v}".encode()).hexdigest(), v)
    )
    cents = {i + 1: vecs[v] for i, v in enumerate(order[:PQIVF_CELLS])}
    assign = {v: min(cents, key=lambda c: (sq(vecs[v], cents[c]), c)) for v in vecs}
    rows = streaming_ann_serving(spark, SF_DIR).collect()
    queries = [v for v in vecs if v % QUERY_STRIDE == 0 and v < QUERY_ID_CAP]
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(queries)
    for q, qr in by_q.items():
        gens = {r["gen"] for r in qr}
        assert gens == {1 if q % 100 == 0 else 2}, (q, gens)
        probe = sorted(cents, key=lambda c: (sq(vecs[q], cents[c]), c))[
            :PQIVF_NPROBE
        ]
        cand = [v for v in vecs if assign[v] in probe and v != q]
        expect = sorted(cand, key=lambda v: (-cos(vecs[q], vecs[v]), v))[
            :ANN_SERVE_K
        ]
        got = [r["neighbor_id"] for r in sorted(qr, key=lambda r: r["rnk"])]
        assert got == expect, q


def test_streaming_minhash_ivm_updates_replace_stale_signatures(spark):
    """r15 IVM twin: the final view must hold EXACTLY one row per doc, the
    gen-2 updated docs at ver = doc_id + VER_BASE with the signature of
    the UPDATED text (computed independently via the batch kernel), and
    every other doc at its gen-1 version with the original signature."""
    from pulsar_3_2_codedump_spark.functions.dedup_ml import (
        N_HASHES,
        base_hashes,
        minhash_signature,
        shingles,
    )
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import (
        MINHASH_IVM_DOCS,
        MINHASH_IVM_UPD_MOD,
        MINHASH_IVM_VER_BASE,
        streaming_minhash_signature_ivm,
    )

    rows = {r["doc_id"]: r for r in streaming_minhash_signature_ivm(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < MINHASH_IVM_DOCS)
    latest = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % MINHASH_IVM_UPD_MOD == 3,
            F.concat(F.col("text"), F.lit(" update-v2")),
        ).otherwise(F.col("text")).alias("text"),
    )
    expect = {
        r["doc_id"]: r
        for r in latest.select(
            "doc_id", *minhash_signature(base_hashes(shingles(F.col("text"))))
        ).collect()
    }
    assert set(rows) == set(expect)
    for d, r in rows.items():
        want_ver = d + MINHASH_IVM_VER_BASE if d % MINHASH_IVM_UPD_MOD == 3 else d
        assert r["ver"] == want_ver, d
        for j in range(N_HASHES):
            assert r[f"h{j}"] == expect[d][f"h{j}"], (d, j)
