"""Delivery semantics: DLQ/retry, transactions, replication (SURVEY §2.J/K/L).

Reference:
  - Dead-letter + retry topics: after maxRedeliverCount nacks the message goes
    to ``<topic>-DLQ``; ``reconsumeLater`` publishes to a ``-RETRY`` topic with
    a delay (pulsar-client-api/.../api/DeadLetterPolicy.java:44-62;
    pulsar-client/.../util/RetryMessageUtil.java:31-33).
  - Transactions: txn messages are staged in the topic transaction buffer and
    only made visible on commit; aborted txns are filtered out of dispatch
    (pulsar-broker/.../transaction/buffer/impl/TopicTransactionBuffer.java:68,
    258,301,343; protocol NEW_TXN/END_TXN PulsarApi.proto:1026-1043).
  - Geo-replication: a per-cluster replicator tails the topic and re-publishes
    to the remote cluster; ``replicated_from`` breaks loops
    (pulsar-broker/.../persistent/PersistentReplicator.java:69,227,291).

Spark re-expression: DLQ/retry are deterministic *routing splits* (a filter
per destination — one scan, no shuffle); txn visibility is a committed-set
semi-join (broadcast: the in-flight txn set is tiny vs the log); replication
is a copy query with a loop-guard filter. Streaming forms use foreachBatch
multi-sink writes (streaming/replicator.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import EVENTS_ENVELOPE_ORACLE, cached_envelope
from pulsar_3_2_codedump_spark.queries import query, scratch_root

_ENV = f"WITH envelope AS ({EVENTS_ENVELOPE_ORACLE})"

MAX_REDELIVER = 3  # DeadLetterPolicy.maxRedeliverCount


def split_dlq(env: DataFrame, redelivery_count, max_redeliver: int = MAX_REDELIVER):
    """Route rows exceeding max redeliveries to the DLQ side; others retry.

    One scan → two filtered writes (Catalyst reuses the scan); no shuffle.
    """
    env = env.withColumn("redelivery_count", redelivery_count)
    dlq = env.filter(F.col("redelivery_count") >= max_redeliver)
    retry = env.filter(F.col("redelivery_count") < max_redeliver)
    return retry, dlq


@query(
    "dlq_routing",
    section="2.J5",
    doc="Dead-letter routing (DeadLetterPolicy.java:44-62): processing of 'error' "
    "messages fails deterministically (redeliveries = sequence_id % 5); rows "
    "reaching maxRedeliverCount=3 land in <topic>-DLQ, the rest in -RETRY.",
    oracle=f"""
        {_ENV}
        SELECT CASE WHEN sequence_id % 5 >= 3 THEN 'events-DLQ' ELSE 'events-RETRY' END
                   AS destination,
               COUNT(*) AS n, MAX(sequence_id % 5) AS max_redeliveries
        FROM envelope WHERE event_type = 'error'
        GROUP BY 1
    """,
)
def dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir).filter(
        F.col("properties")["event_type"] == "error"
    )
    retry, dlq = split_dlq(env, F.col("sequence_id") % 5)
    tag = lambda df, dest: df.select(  # noqa: E731
        F.lit(dest).alias("destination"), "sequence_id", "redelivery_count"
    )
    return (
        tag(dlq, "events-DLQ")
        .unionByName(tag(retry, "events-RETRY"))
        .groupBy("destination")
        .agg(F.count(F.lit(1)).alias("n"), F.max("redelivery_count").alias("max_redeliveries"))
    )


@query(
    "txn_visibility",
    section="2.K2",
    doc="Transaction buffer visibility (TopicTransactionBuffer.java:258,301): "
    "messages belong to txn = sequence_id/50 (50 msgs/txn, the perf default); "
    "txns with id % 10 == 7 aborted → filtered from dispatch; count visible per "
    "partition. Our sink's atomic per-micro-batch commit gives the same "
    "all-or-nothing guarantee natively.",
    oracle=f"""
        {_ENV}
        SELECT partition, COUNT(*) AS n_visible,
               COUNT(DISTINCT sequence_id // 50) AS n_txns
        FROM envelope
        WHERE (sequence_id // 50) % 10 <> 7
        GROUP BY partition
    """,
)
def txn_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    txn = F.floor(F.col("sequence_id") / 50)
    return (
        env.withColumn("txn_id", txn)
        .filter((F.col("txn_id") % 10) != 7)
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_visible"),
            F.countDistinct("txn_id").alias("n_txns"),
        )
    )


@query(
    "replicator_loop_guard",
    section="2.L1",
    doc="Geo-replication copy query (PersistentReplicator.java:227): replicate only "
    "locally-produced messages (replicated_from IS NULL), stamp origin cluster; "
    "per-partition replicated counts.",
    oracle=f"""
        {_ENV}
        SELECT 'cluster-a' AS replicated_from, partition, COUNT(*) AS n_replicated
        FROM envelope
        WHERE 1=1  -- all fixture rows are locally produced (replicated_from IS NULL)
        GROUP BY partition
    """,
)
def replicator_loop_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    out = env.filter(F.col("replicated_from").isNull()).withColumn(
        "replicated_from", F.lit("cluster-a")
    )
    return out.groupBy("replicated_from", "partition").agg(
        F.count(F.lit(1)).alias("n_replicated")
    )


@query(
    "batch_receive_policy",
    section="2.J6",
    doc="BatchReceivePolicy{maxNumMessages=100} (BatchReceivePolicy.java:66-69): "
    "chunk each partition's log into 100-message receive batches; batch count + "
    "bounds per partition.",
    oracle=f"""
        {_ENV}
        SELECT partition, "offset" // 100 AS batch_id, COUNT(*) AS n,
               MIN("offset") AS first_offset, MAX("offset") AS last_offset
        FROM envelope GROUP BY 1, 2
    """,
)
def batch_receive_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    return (
        env.withColumn("batch_id", F.floor(F.col("offset") / 100))
        .groupBy("partition", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
        )
    )


@query(
    "ack_holes_redelivery",
    section="2.J3",
    doc="Individual acks / ack-holes (ManagedCursorImpl.java:131,199,1842): "
    "consumers ack all but every 97th message (scattered holes); a cumulative "
    "ack moves markDelete to offset 10 per partition. The redelivery set is "
    "the log minus the cursor — two broadcast joins against condensed range "
    "METADATA, never per-message driver state.",
    oracle=f"""
        {_ENV}
        SELECT partition, "offset", key, sequence_id
        FROM envelope
        WHERE "offset" > 10 AND sequence_id % 97 = 0
    """,
)
def ack_holes_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark import subscriptions as S

    env = cached_envelope(spark, sf_dir)
    acks = env.filter(F.col("sequence_id") % 97 != 0).select("partition", "offset")
    state = S.ack_individual(S.new_ack_state(), S.condense_ranges(acks))
    for p in list(state):
        S.ack_cumulative(state, p, 10)
    return S.unacked(spark, env, state).select("partition", "offset", "key", "sequence_id")


@query(
    "marker_filtered_scan",
    section="2.C3",
    doc="Marker filtering (PulsarApi.proto:148 marker_type; PulsarMarkers.proto; "
    "AbstractBaseDispatcher.filterEntriesForConsumer): brokers interleave "
    "protocol markers — replicated-subscription snapshots, txn commit/abort — "
    "into the log; NO consumer scan ever sees them. One snapshot marker per "
    "(partition, event day) is injected into the log, then the consumer-visible "
    "view (marker_type IS NULL) is aggregated; leakage of even one marker row "
    "breaks the count against the marker-free oracle. The IS NULL predicate is "
    "pushed to the parquet scan, so marker row-groups prune for free at scale.",
    oracle=f"""
        {_ENV}
        SELECT partition, COUNT(*) AS n_visible,
               CAST(SUM(sequence_id) AS BIGINT) AS sum_seq
        FROM envelope
        GROUP BY partition
    """,
)
def marker_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.envelope import MARKER_REPL_SNAPSHOT

    env = cached_envelope(spark, sf_dir)
    markers = (
        env.groupBy("partition", F.to_date("publish_time").alias("__day"))
        .agg(F.max("publish_time").alias("publish_time"), F.max("offset").alias("offset"))
        .drop("__day")
        .withColumn("marker_type", F.lit(MARKER_REPL_SNAPSHOT))
    )
    log = env.unionByName(markers, allowMissingColumns=True)
    visible = log.filter(F.col("marker_type").isNull())  # the dispatcher's strip
    return visible.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.sum("sequence_id").alias("sum_seq"),
    )


# (subscription, markDelete cursor, backlog quota in messages); the
# message-count analogue of Pulsar's per-topic size quota
BACKLOG_SUBS = [("standard", 5, 400), ("analytics", 50, 700)]


@query(
    "backlog_quota_eviction",
    section="2.J-quota",
    doc="Backlog-quota enforcement with consumer_backlog_eviction policy "
    "(BacklogQuotaManager.dropBacklogForSizeLimit, "
    "pulsar-broker/.../BacklogQuotaManager.java): when a subscription's "
    "backlog (entries behind its markDelete cursor) exceeds its quota, the "
    "broker advances the cursor over the OLDEST entries so only the newest "
    "quota-many remain — message-count quota here as the unit analogue of "
    "the byte quota. Per (subscription, partition): backlog size, evicted "
    "count, and the advanced cursor (= the largest evicted offset). One "
    "broadcast join against the 2-row subscription dim + one ranked agg — "
    "cursor math over metadata, never per-message driver state.",
    oracle=f"""
        {_ENV}
        ,
        subs AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {c}, {q})" for s, c, q in BACKLOG_SUBS)})
                 AS t(sub, cursor, quota)),
        backlog AS (
            SELECT s.sub, e.partition, s.cursor, s.quota, e."offset",
                   ROW_NUMBER() OVER (PARTITION BY s.sub, e.partition
                                      ORDER BY e."offset" DESC) AS rn
            FROM envelope e JOIN subs s ON e."offset" > s.cursor)
        SELECT sub, partition,
               CAST(cursor AS BIGINT) AS old_cursor,
               COUNT(*) AS backlog,
               CAST(GREATEST(COUNT(*) - quota, 0) AS BIGINT) AS evicted,
               CAST(COALESCE(MAX(CASE WHEN rn = quota + 1 THEN "offset" END),
                             cursor) AS BIGINT) AS new_cursor
        FROM backlog GROUP BY sub, partition, cursor, quota
    """,
)
def backlog_quota_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    env = cached_envelope(spark, sf_dir)
    subs = T.lookup_frame(spark, BACKLOG_SUBS, "sub string, cursor int, quota int")
    w = W.partitionBy("sub", "partition").orderBy(F.desc("offset"))
    backlog = (
        env.select("partition", "offset")
        .join(F.broadcast(subs), F.col("offset") > F.col("cursor"))
        .withColumn("rn", F.row_number().over(w))
    )
    n = F.count(F.lit(1))
    return (
        backlog.groupBy("sub", "partition", "cursor", "quota")
        .agg(
            n.alias("backlog"),
            F.greatest(n - F.col("quota"), F.lit(0)).cast("long").alias("evicted"),
            F.coalesce(
                F.max(F.when(F.col("rn") == F.col("quota") + 1, F.col("offset"))),
                F.col("cursor").cast("long"),
            ).cast("long").alias("new_cursor"),
        )
        .select(
            "sub",
            "partition",
            F.col("cursor").cast("long").alias("old_cursor"),
            "backlog",
            "evicted",
            "new_cursor",
        )
    )


# Shared-subscription consumer fleet: (name, priorityLevel); every consumer
# grants the same permit budget per partition-dispatcher
PRIORITY_CONSUMERS = [
    ("c-hi-a", 0), ("c-hi-b", 0), ("c-mid", 1), ("c-low-a", 2), ("c-low-b", 2)
]
PRIORITY_PERMITS = 500


@query(
    "priority_dispatch",
    section="2.J-priority",
    doc="Priority-level Shared dispatch "
    "(PersistentDispatcherMultipleConsumers.getNextConsumer: consumers sort "
    "by priorityLevel, round-robin within a level, highest level drains "
    "first until permits exhaust): each partition runs its own dispatcher "
    "(partitioned topics = one dispatcher per partition), messages in "
    "offset order fill level 0's permit window round-robin, then level 1, "
    "...; messages beyond total permits are flow-control blocked "
    "('__blocked__'). Per-partition window rank + broadcast joins against "
    "the tiny level/consumer dims — the decision math is pure column "
    "arithmetic, parallel across partitions.",
    oracle=f"""
        {_ENV},
        consumers AS (SELECT * FROM (VALUES {", ".join(f"('{n}', {p})" for n, p in PRIORITY_CONSUMERS)})
                      AS t(name, priority)),
        levels AS (
            SELECT priority, COUNT(*) AS n_l,
                   COUNT(*) * {PRIORITY_PERMITS} AS capacity,
                   SUM(COUNT(*) * {PRIORITY_PERMITS}) OVER (ORDER BY priority)
                       - COUNT(*) * {PRIORITY_PERMITS} AS cum_start
            FROM consumers GROUP BY priority),
        lvlconsumers AS (
            SELECT name, priority,
                   ROW_NUMBER() OVER (PARTITION BY priority ORDER BY name) - 1 AS idx
            FROM consumers),
        ranked AS (
            SELECT partition, "offset", sequence_id,
                   ROW_NUMBER() OVER (PARTITION BY partition ORDER BY "offset") - 1 AS r
            FROM envelope),
        assigned AS (
            SELECT m.partition, m.sequence_id,
                   COALESCE(c.name, '__blocked__') AS consumer
            FROM ranked m
            LEFT JOIN levels l ON m.r >= l.cum_start AND m.r < l.cum_start + l.capacity
            LEFT JOIN lvlconsumers c
              ON c.priority = l.priority AND c.idx = (m.r - l.cum_start) % l.n_l)
        SELECT partition, consumer,
               COUNT(*) AS n_messages,
               CAST(SUM(sequence_id) AS BIGINT) AS sum_seq
        FROM assigned GROUP BY partition, consumer
    """,
)
def priority_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    env = cached_envelope(spark, sf_dir)
    consumers = T.lookup_frame(spark, PRIORITY_CONSUMERS, "name string, priority int")
    lw = W.orderBy("priority")
    levels = (
        consumers.groupBy("priority")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .withColumn("capacity", F.col("n_l") * PRIORITY_PERMITS)
        .withColumn(
            "cum_start",
            F.sum("capacity").over(lw.rowsBetween(W.unboundedPreceding, -1)),
        )
        .fillna(0, subset=["cum_start"])
    )
    lvlconsumers = consumers.withColumn(
        "idx", F.row_number().over(W.partitionBy("priority").orderBy("name")) - 1
    )
    mw = W.partitionBy("partition").orderBy("offset")
    ranked = env.select(
        "partition", "offset", "sequence_id", (F.row_number().over(mw) - 1).alias("r")
    )
    assigned = (
        ranked.join(
            F.broadcast(levels),
            (F.col("r") >= F.col("cum_start"))
            & (F.col("r") < F.col("cum_start") + F.col("capacity")),
            "left",
        )
        .join(
            F.broadcast(lvlconsumers),
            (lvlconsumers.priority == levels.priority)
            & (F.col("idx") == (F.col("r") - F.col("cum_start")) % F.col("n_l")),
            "left",
        )
        .select(
            "partition",
            "sequence_id",
            F.coalesce(F.col("name"), F.lit("__blocked__")).alias("consumer"),
        )
    )
    return assigned.groupBy("partition", "consumer").agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.sum("sequence_id").cast("long").alias("sum_seq"),
    )


@query(
    "chunked_messages_roundtrip",
    section="2.B4",
    doc="Message chunking round-trip (ProducerImpl.serializeAndSendMessage "
    "split, ProducerImpl.java:493,617; ConsumerImpl.processMessageChunk "
    "reassembly, ConsumerImpl.java:1431): oversize document payloads split "
    "into 64-byte chunks with MessageMetadata chunk fields (uuid/"
    "chunk_id/num_chunks/total_chunk_msg_size), then reassembled in chunk_id "
    "order per uuid. Output proves the round trip byte-exact: reassembled "
    "length + md5 must equal the original's (the oracle computes both from "
    "the ORIGINAL text, so any split/stitch defect hash-mismatches). Chunk "
    "split is a per-row explode; reassembly is one uuid hash-agg.",
    oracle="""
        SELECT CAST(doc_id AS VARCHAR) AS uuid,
               CAST(GREATEST(CEIL(LENGTH(text) / 64.0), 1) AS INT) AS num_chunks,
               CAST(LENGTH(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 200
    """,
)
def chunked_messages_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import load
    from pulsar_3_2_codedump_spark.envelope import chunk_payloads, reassemble_chunks

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").cast("string").alias("uuid"), F.col("text").alias("payload"))
    )
    chunks = chunk_payloads(docs)
    out = reassemble_chunks(chunks)
    return out.select(
        "uuid",
        F.col("num_chunks").cast("int").alias("num_chunks"),
        F.length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
    )


# Admin cursor surgery dims: (subscription, markDelete cursor, skip count,
# peek count) per subscription — the `pulsar-admin topics skip` / `peek`
# arguments
ADMIN_SUBS = [("sub-p", 100, 50, 5), ("sub-q", 4000, 200, 3)]


@query(
    "peek_skip_messages",
    section="2.J-admin",
    doc="Admin cursor surgery (PersistentTopicsBase.internalPeekNthMessage — "
    "read N messages past markDelete WITHOUT moving the cursor — and "
    "PersistentSubscription.skipMessages / ManagedCursor.skipEntries — "
    "advance markDelete over the next N entries): per (subscription, "
    "partition), the peeked window's first/last offsets and payload bytes, "
    "plus the post-skip cursor (clamped to the log end when fewer than N "
    "entries remain). One broadcast join against the 2-row subscription dim "
    "+ a per-partition window rank — cursor math at metadata cost, "
    "parallel across partitions.",
    oracle=f"""
        {_ENV},
        subs AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {c}, {sk}, {p})" for s, c, sk, p in ADMIN_SUBS)})
                 AS t(sub, cursor, skip_n, peek_n)),
        backlog AS (
            SELECT s.sub, e.partition, s.cursor, s.skip_n, s.peek_n,
                   e."offset", strlen(e.props) AS nbytes,
                   ROW_NUMBER() OVER (PARTITION BY s.sub, e.partition
                                      ORDER BY e."offset") AS rn
            FROM envelope e JOIN subs s ON e."offset" > s.cursor)
        SELECT sub, partition,
               CAST(cursor AS BIGINT) AS old_cursor,
               CAST(SUM(CASE WHEN rn <= peek_n THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_peeked,
               MIN(CASE WHEN rn <= peek_n THEN "offset" END) AS peek_first,
               MAX(CASE WHEN rn <= peek_n THEN "offset" END) AS peek_last,
               CAST(SUM(CASE WHEN rn <= peek_n THEN nbytes ELSE 0 END) AS BIGINT)
                   AS peek_bytes,
               CAST(LEAST(COUNT(*), skip_n) AS BIGINT) AS n_skipped,
               COALESCE(MAX(CASE WHEN rn = skip_n THEN "offset" END),
                        MAX("offset")) AS new_cursor
        FROM backlog GROUP BY sub, partition, cursor, skip_n, peek_n
    """,
)
def peek_skip_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    env = cached_envelope(spark, sf_dir)
    subs = T.lookup_frame(
        spark, ADMIN_SUBS, "sub string, cursor int, skip_n int, peek_n int"
    )
    w = W.partitionBy("sub", "partition").orderBy("offset")
    backlog = (
        env.select("partition", "offset", F.length("value").alias("nbytes"))
        .join(F.broadcast(subs), F.col("offset") > F.col("cursor"))
        .withColumn("rn", F.row_number().over(w))
    )
    peeked = F.col("rn") <= F.col("peek_n")
    return (
        backlog.groupBy("sub", "partition", "cursor", "skip_n", "peek_n")
        .agg(
            F.sum(F.when(peeked, 1).otherwise(0)).cast("long").alias("n_peeked"),
            F.min(F.when(peeked, F.col("offset"))).alias("peek_first"),
            F.max(F.when(peeked, F.col("offset"))).alias("peek_last"),
            F.sum(F.when(peeked, F.col("nbytes")).otherwise(0)).cast("long").alias("peek_bytes"),
            F.least(F.count(F.lit(1)), F.col("skip_n").cast("long")).cast("long").alias("n_skipped"),
            F.coalesce(
                F.max(F.when(F.col("rn") == F.col("skip_n"), F.col("offset"))),
                F.max("offset"),
            ).alias("new_cursor"),
        )
        .select(
            "sub",
            "partition",
            F.col("cursor").cast("long").alias("old_cursor"),
            "n_peeked",
            "peek_first",
            "peek_last",
            "peek_bytes",
            "n_skipped",
            "new_cursor",
        )
    )


NACK_MIN_DELAY_MS = 10_000   # MultiplierRedeliveryBackoff default minDelayMs
NACK_MULTIPLIER = 2          # default multiplier (maxDelayMs=600s never binds at depth ≤ 3)


@query(
    "nack_redelivery_ladder",
    section="2.J4",
    doc="Negative-ack → backoff → redeliver → DLQ ladder (NegativeAcksTracker"
    ".java:38,69,95-115: a nacked message re-enters dispatch after "
    "RedeliveryBackoff.next(redeliveryCount); MultiplierRedeliveryBackoff"
    ".java:45-54: next(k) = min(minDelay·multiplier^k, maxDelay); "
    "DeadLetterPolicy.java:44-62: at maxRedeliverCount=3 nacks the message "
    "routes to <topic>-DLQ instead of redelivering). Deterministic clock: "
    "processing of 'error' messages fails sequence_id % 5 times, so each "
    "message climbs LEAST(fails, 3) rungs; with the default 10s/×2 backoff "
    "the total added latency has the closed form 10s·(2^nacks − 1) — the "
    "whole ladder folds to scan-local integer expressions, one aggregate, "
    "no shuffle beyond the final 4-group rollup. Output per rung: outcome "
    "(acked vs DLQ), message count, ladder delay, and the latest final-"
    "delivery instant.",
    oracle=f"""
        {_ENV},
        ladder AS (
            SELECT LEAST(sequence_id % 5, {MAX_REDELIVER}) AS nacks,
                   CASE WHEN sequence_id % 5 >= {MAX_REDELIVER}
                        THEN 'events-DLQ' ELSE 'acked' END AS outcome,
                   publish_time
            FROM envelope WHERE event_type = 'error')
        SELECT nacks, outcome,
               COUNT(*) AS n_msgs,
               CAST({NACK_MIN_DELAY_MS} * ((1 << nacks) - 1) AS BIGINT) AS ladder_delay_ms,
               STRFTIME(MAX(publish_time
                            + to_microseconds({NACK_MIN_DELAY_MS} * 1000 * ((1 << nacks) - 1))),
                        '%Y-%m-%d %H:%M:%S.%f') AS last_final_delivery
        FROM ladder GROUP BY nacks, outcome
    """,
)
def nack_redelivery_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir).filter(
        F.col("properties")["event_type"] == "error"
    )
    fails = F.col("sequence_id") % 5
    nacks = F.least(fails, F.lit(MAX_REDELIVER).cast("long"))
    delay_ms = F.expr(
        f"CAST({NACK_MIN_DELAY_MS} * (shiftleft(1, CAST(least(sequence_id % 5, "
        f"{MAX_REDELIVER}) AS INT)) - 1) AS BIGINT)"
    )
    ladder = env.select(
        nacks.alias("nacks"),
        F.when(fails >= MAX_REDELIVER, F.lit("events-DLQ"))
        .otherwise(F.lit("acked"))
        .alias("outcome"),
        delay_ms.alias("ladder_delay_ms"),
        F.timestamp_micros(
            F.unix_micros("publish_time") + delay_ms * 1000
        ).alias("final_delivery"),
    )
    return ladder.groupBy("nacks", "outcome", "ladder_delay_ms").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.date_format(F.max("final_delivery"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_final_delivery"
        ),
    ).select("nacks", "outcome", "n_msgs", "ladder_delay_ms", "last_final_delivery")


# GC / expiry admin-scan dims: sub-live tails every partition caught-up;
# sub-lag is a backlogged subscription over partitions 0-3 only, its cursor
# stuck at offset GC_LAG_CURSOR
GC_LAG_CURSOR = 499


@query(
    "topic_gc_candidates",
    section="2.A-admin",
    doc="Inactive-topic GC decision scan (PersistentTopic.checkGC + "
    "InactiveTopicPolicies delete_when_subscriptions_caught_up; the "
    "filesystem sweep itself is topic.gc_inactive_topics, pytest-pinned in "
    "tests/test_topic.py): treating each partition as a topic, a durable "
    "tail subscription (sub-live) is caught up everywhere, while a "
    "backlogged regex subscription (sub-lag, partitions 0-3, cursor stuck "
    f"at {GC_LAG_CURSOR}) pins its partitions — a topic is collectible iff "
    "EVERY durable subscription has consumed to the end. Pure metadata "
    "aggregate: one scan, one group-by, the GC verdict is a scan-local "
    "boolean.",
    oracle=f"""
        {_ENV},
        ends AS (SELECT partition, MAX("offset") AS last_offset, COUNT(*) AS n_msgs
                 FROM envelope GROUP BY partition)
        SELECT partition, last_offset, n_msgs,
               CAST(1 + CASE WHEN partition < 4 THEN 1 ELSE 0 END AS BIGINT) AS n_subs,
               CAST(1 + CASE WHEN partition < 4 AND {GC_LAG_CURSOR} >= last_offset
                             THEN 1 ELSE 0 END AS BIGINT) AS n_caught_up,
               (partition >= 4 OR {GC_LAG_CURSOR} >= last_offset) AS collectible
        FROM ends
    """,
)
def topic_gc_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    ends = env.groupBy("partition").agg(
        F.max("offset").alias("last_offset"), F.count(F.lit(1)).alias("n_msgs")
    )
    lag_covers = F.col("partition") < 4
    lag_caught = F.lit(GC_LAG_CURSOR) >= F.col("last_offset")
    return ends.select(
        "partition",
        "last_offset",
        "n_msgs",
        (F.lit(1) + lag_covers.cast("int")).cast("long").alias("n_subs"),
        (F.lit(1) + (lag_covers & lag_caught).cast("int")).cast("long").alias(
            "n_caught_up"
        ),
        (~lag_covers | lag_caught).alias("collectible"),
    )


# Subscription-expiry scan dims: (subscription, stuck markDelete cursor)
EXPIRY_SUBS = [("sub-idle", 100), ("sub-active", 1_000_000_000)]
EXPIRY_WINDOW_DAYS = 7


@query(
    "subscription_expiry_scan",
    section="2.J-admin",
    doc="Subscription expiry decision scan (PersistentTopic."
    "checkInactiveSubscriptions:2990-3014 — a durable subscription with no "
    "connected consumer whose cursor lastActive is older than "
    "subscriptionExpirationTimeMinutes is deleted; the filesystem sweep is "
    "subscriptions.expire_inactive_subscriptions, pytest-pinned): cursor "
    "lastActive modeled as the publish_time at the markDelete position, so "
    "sub-idle (cursor stuck at offset 100) expired long ago while "
    "sub-active (tailing) is live. Broadcast 2-row dim joined on the "
    "cursor inequality, one aggregate per (sub, partition).",
    oracle=f"""
        {_ENV},
        subs AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {c})" for s, c in EXPIRY_SUBS)})
                 AS t(sub, cursor)),
        la AS (
            SELECT s.sub, e.partition, s.cursor,
                   MAX(e.publish_time) AS last_active
            FROM envelope e JOIN subs s ON e."offset" <= s.cursor
            GROUP BY s.sub, e.partition, s.cursor)
        SELECT sub, partition, CAST(cursor AS BIGINT) AS cursor,
               STRFTIME(last_active, '%Y-%m-%d %H:%M:%S.%f') AS last_active,
               last_active < (SELECT MAX(publish_time) FROM envelope)
                             - INTERVAL {EXPIRY_WINDOW_DAYS} DAY AS expired
        FROM la
    """,
)
def subscription_expiry_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    subs = T.lookup_frame(spark, EXPIRY_SUBS, "sub string, cursor long")
    la = (
        env.select("partition", "offset", "publish_time")
        .join(F.broadcast(subs), F.col("offset") <= F.col("cursor"))
        .groupBy("sub", "partition", "cursor")
        .agg(F.max("publish_time").alias("last_active"))
    )
    horizon = env.agg(
        (F.max("publish_time") - F.expr(f"INTERVAL {EXPIRY_WINDOW_DAYS} DAY")).alias(
            "h"
        )
    )
    return la.crossJoin(F.broadcast(horizon)).select(
        "sub",
        "partition",
        "cursor",
        F.date_format("last_active", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_active"
        ),
        (F.col("last_active") < F.col("h")).alias("expired"),
    )


# expire-messages dims: (subscription, stuck markDelete cursor) — sub-deep
# has a deep backlog to expire, sub-tail is nearly caught up
EXPIRE_SUBS = [("sub-deep", 50), ("sub-tail", 5000)]
EXPIRE_TTL_DAYS = 7


@query(
    "expire_messages_by_time",
    section="2.J-admin",
    doc="Admin per-subscription message expiry (`pulsar-admin topics "
    "expire-messages`; PersistentMessageExpiryMonitor.java:77-104 — "
    "asyncFindNewestMatching walks the subscription backlog for the NEWEST "
    "entry older than the TTL and markDeletes up to it, skipping everything "
    "older in one cumulative ack): per (subscription, partition), the new "
    "cursor = max backlog offset whose publish_time is past the horizon "
    "(valid as a cumulative ack because publish_time is monotone in offset "
    "within a partition — broker-stamped, PulsarApi.proto broker_timestamp), "
    "clamped to the old cursor when nothing expired. Completes the admin "
    "cursor-surgery family (peek / skip / expire). One broadcast 2-row dim "
    "join + per-group aggregate; horizon is a one-row broadcast.",
    oracle=f"""
        {_ENV},
        subs AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {c})" for s, c in EXPIRE_SUBS)})
                 AS t(sub, cursor)),
        horizon AS (SELECT MAX(publish_time) - INTERVAL {EXPIRE_TTL_DAYS} DAY AS h
                    FROM envelope),
        backlog AS (
            SELECT s.sub, e.partition, s.cursor, e."offset", e.publish_time
            FROM envelope e JOIN subs s ON e."offset" > s.cursor)
        SELECT sub, partition, CAST(cursor AS BIGINT) AS old_cursor,
               CAST(SUM(CASE WHEN publish_time < (SELECT h FROM horizon)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
               COALESCE(MAX(CASE WHEN publish_time < (SELECT h FROM horizon)
                                 THEN "offset" END), cursor) AS new_cursor
        FROM backlog GROUP BY sub, partition, cursor
    """,
)
def expire_messages_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    subs = T.lookup_frame(spark, EXPIRE_SUBS, "sub string, cursor long")
    horizon = env.agg(
        (F.max("publish_time") - F.expr(f"INTERVAL {EXPIRE_TTL_DAYS} DAY")).alias("h")
    )
    backlog = (
        env.select("partition", "offset", "publish_time")
        .join(F.broadcast(subs), F.col("offset") > F.col("cursor"))
        .crossJoin(F.broadcast(horizon))
    )
    expired = F.col("publish_time") < F.col("h")
    return backlog.groupBy("sub", "partition", "cursor").agg(
        F.sum(expired.cast("int")).cast("long").alias("n_expired"),
        F.coalesce(
            F.max(F.when(expired, F.col("offset"))), F.first("cursor")
        ).alias("new_cursor"),
    ).select(
        "sub",
        "partition",
        F.col("cursor").alias("old_cursor"),
        "n_expired",
        "new_cursor",
    )


# --------------------------------------------------------------------------
# Exactly-once replay audit (broker dedup end-to-end)
# --------------------------------------------------------------------------
EO_BATCH1_HI = 1200   # first publish: event_id [0, 1200)
EO_OVERLAP_LO = 800   # continuation batch: [800, 2000) — 400 ids overlap
EO_TOTAL = 2000
EO_PARTS = 4


@query(
    "exactly_once_replay_audit",
    section="2.E1-K1",
    doc="END-TO-END exactly-once idempotence audit through the real sink "
    "(MessageDeduplication.java:325 — per-producer sequence high-water "
    "marks consulted under the broker's publish path; our append() holds "
    "them in the topic manifest and checks under the writer lock): a "
    f"producer batch (event_id < {EO_BATCH1_HI}) is published, then "
    "REPLAYED VERBATIM (the retry-after-lost-ack path PulsarClient's "
    "resend logic produces), then a continuation batch "
    f"[{EO_OVERLAP_LO}, {EO_TOTAL}) whose first "
    f"{EO_BATCH1_HI - EO_OVERLAP_LO} ids overlap the first publish. The "
    "committed log must hold each sequence_id EXACTLY ONCE — per-"
    "partition count, max sequence and a payload md5 checksum must equal "
    "what ONE clean publish gives, which is what the oracle computes "
    "directly from events. Exercises append -> hwm dedup -> manifest "
    "commit -> read_topic; the checksum catches duplicate AND corrupted "
    "payloads, not just miscounts. Scale: dedup state is per-producer "
    "high-water marks (manifest metadata), never per-message driver "
    "state; the audit aggregate is one partial-agg scan of the topic.",
    oracle=f"""
        SELECT CAST(event_id % {EO_PARTS} AS BIGINT) AS partition,
               COUNT(*) AS n_committed,
               MAX(event_id) AS max_seq,
               CAST(SUM(CAST(('0x' || substr(md5('ev-' || CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT)) AS BIGINT) AS payload_md5_sum
        FROM events WHERE event_id < {EO_TOTAL}
        GROUP BY 1
    """,
)
def exactly_once_replay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def batch(lo: int, hi: int) -> DataFrame:
        d = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        return d.select(
            F.col("event_id").cast("string").alias("key"),
            F.to_binary(
                F.concat(F.lit("ev-"), F.col("event_id").cast("string")),
                F.lit("utf-8"),
            ).alias("value"),
            F.create_map(F.lit("event_type"), F.col("event_type")).alias(
                "properties"
            ),
            F.col("ts").alias("event_time"),
            F.col("ts").alias("publish_time"),
            F.concat(
                F.lit("p-"), (F.col("event_id") % EO_PARTS).cast("string")
            ).alias("producer_name"),
            F.col("event_id").alias("sequence_id"),
            F.lit(None).cast("timestamp").alias("deliver_at"),
            F.lit(None).cast("int").alias("marker_type"),
            F.lit(None).cast("string").alias("replicated_from"),
            (F.col("event_id") % EO_PARTS).cast("int").alias("partition"),
        )

    with scratch_root(spark) as root:
        tp = T.create_topic(root + "/topics", "replay", n_partitions=EO_PARTS)
        T.append(spark, batch(0, EO_BATCH1_HI), tp)          # clean publish
        T.append(spark, batch(0, EO_BATCH1_HI), tp)          # verbatim replay
        T.append(spark, batch(EO_OVERLAP_LO, EO_TOTAL), tp)  # partial overlap
        out = (
            T.read_topic(spark, tp)
            .groupBy(F.col("partition").cast("long").alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("n_committed"),
                F.max("sequence_id").alias("max_seq"),
                F.sum(
                    F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
                ).cast("long").alias("payload_md5_sum"),
            )
        )
        return T.lookup_frame(spark, out.collect(), out.schema)  # EO_PARTS rows


# Replicated-subscription cursor-sync audit bounds (events fixture has
# >= 1000 rows at every SF, so the three cuts exist everywhere)
REPL_SYNC_GEN1 = 400   # events appended+replicated before snapshot s1
REPL_SYNC_TOTAL = 800  # events appended+replicated before snapshot s2
REPL_SYNC_CUT = 600    # consumer's acked prefix on the source cluster


@query(
    "replicated_cursor_sync_audit",
    section="2.L2",
    doc="REPLICATED-SUBSCRIPTION CURSOR SYNC, audited end-to-end against "
    "real topics (VERDICT r13 item 6c; ReplicatedSubscriptionsController "
    "+ PulsarMarkers.proto:44-68 ReplicatedSubscriptionsSnapshot): a "
    "source cluster (2 partitions) replicates identity-preserving copies "
    "to a destination cluster with DIFFERENT partitioning (3 partitions, "
    "key-routed), snapshot markers s1/s2 are written mid-stream, and a "
    f"consumer acks the first {REPL_SYNC_CUT} events. The audit runs BOTH "
    "cursor translations the module implements — the EXACT identity-join "
    "(subscriptions.translate_cursor: acked set semi-joined onto the dst "
    "log by (producer_name, sequence_id), condensed to dst ranges) and "
    "the reference's snapshot-coarse method (translate_cursor_by_"
    "snapshot: newest marker at-or-before markDelete) — and reports, per "
    "dst partition, the acked coverage of each plus the REDELIVERY COST "
    "of the coarse method (everything between the chosen snapshot and "
    "the true cursor repeats on the destination; at-least-once makes "
    "both correct, the audit quantifies the difference the reference "
    "accepts for avoiding the join). Exact oracle: identity/routing "
    "arithmetic on the events fixture predicts every count. Scale: one "
    "identity-key shuffle per log for the exact path; the coarse path "
    "is a control-plane marker scan.",
    oracle=f"""
        SELECT CAST(user_id % 3 AS INT) AS partition,
               CAST(SUM(CASE WHEN event_id < {REPL_SYNC_CUT} THEN 1 ELSE 0
                        END) AS BIGINT) AS n_acked_exact,
               CAST(SUM(CASE WHEN event_id < {REPL_SYNC_GEN1} THEN 1 ELSE 0
                        END) AS BIGINT) AS snapshot_resume,
               CAST(SUM(CASE WHEN event_id >= {REPL_SYNC_GEN1}
                             AND event_id < {REPL_SYNC_CUT} THEN 1 ELSE 0
                        END) AS BIGINT) AS redelivered
        FROM events WHERE event_id < {REPL_SYNC_TOTAL}
        GROUP BY 1
    """,
)
def replicated_cursor_sync_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark import subscriptions as S
    from pulsar_3_2_codedump_spark.envelope import wrap_events

    with scratch_root(spark) as root:
        src = T.create_topic(root, "src-cluster", n_partitions=2)
        dst = T.create_topic(root, "dst-cluster", n_partitions=3)
        env = (
            wrap_events(load(spark, sf_dir, "events"))
            .filter(F.col("sequence_id") < REPL_SYNC_TOTAL)
            .drop("partition", "offset")
        )
        # deterministic key routing (key = user_id string) so the oracle can
        # predict both clusters' partitioning arithmetically
        part = lambda n: F.pmod(F.col("key").cast("long"), F.lit(n)).cast("int")  # noqa: E731
        for lo, hi, snap in (
            (0, REPL_SYNC_GEN1, "s1"),
            (REPL_SYNC_GEN1, REPL_SYNC_TOTAL, "s2"),
        ):
            batch = env.filter(F.col("sequence_id").between(lo, hi - 1))
            T.append(spark, batch.withColumn("partition", part(2)), src, dedup=False)
            # the replicator carries identity verbatim; the dst router
            # re-partitions by key over ITS 3 partitions
            T.append(spark, batch.withColumn("partition", part(3)), dst, dedup=False)
            S.write_repl_snapshot(spark, src, dst, snap)

        src_env = T.read_topic(spark, src)
        dst_env = T.read_topic(spark, dst)
        acked = src_env.filter(F.col("sequence_id") < REPL_SYNC_CUT)
        state = S.ack_individual(
            S.new_ack_state(), S.condense_ranges(acked.select("partition", "offset"))
        )
        # EXACT translation: dst cursor state covering the same messages
        dst_state = S.translate_cursor(spark, src_env, dst_env, state)
        exact_counts = {
            p: st["mark_delete"] + 1 + sum(hi - lo + 1 for lo, hi in st["ranges"])
            for p, st in dst_state.items()
        }
        # COARSE translation: markDelete as per-partition acked counts (the
        # prefix cursor), snapshot lookup exactly as the reference does it
        md = {
            str(r["partition"]): int(r["n"])
            for r in acked.groupBy("partition").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        coarse = S.translate_cursor_by_snapshot(spark, src, md) or {}
        rows = [
            (
                int(p),
                int(exact_counts.get(p, 0)),
                int(coarse.get(str(p), 0)),
                int(exact_counts.get(p, 0)) - int(coarse.get(str(p), 0)),
            )
            for p in range(3)
        ]
        return T.lookup_frame(
            spark,
            rows,
            "partition int, n_acked_exact long, snapshot_resume long, "
            "redelivered long",
        )
