"""Routing / partitioning / Key_Shared assignment (SURVEY §2.B, §2.C).

Reference:
  - Key-hash routing: partition = murmur3_32(key) mod N
    (pulsar-client/.../impl/RoundRobinPartitionMessageRouterImpl.java:74-77;
    modes MessageRoutingMode.java:39-55). We are semantics-compatible, not
    byte-compatible: the envelope pins a deterministic SQL-expressible router
    (user_id % 8) so the oracle can replay it.
  - Key_Shared dispatch: the 64K key-hash space is mapped onto consumers via
    a consistent-hash ring / hash ranges
    (pulsar-broker/.../service/ConsistentHashingStickyKeyConsumerSelector.java:41,108;
    HashRangeAutoSplitStickyKeyConsumerSelector.java; KeySharedPolicy.java:86-94).
  - EntryFilter: broker-side predicate over metadata/properties before
    dispatch (pulsar-broker/.../service/plugin/EntryFilter.java:34,42-54,
    applied in PersistentDispatcherMultipleConsumers.java:587-594).

Spark re-expression: routing is `repartition(N, key_expr)`; Key_Shared is a
bucket expression (hash-range → consumer) — per-key ordering inside a Spark
partition after sort-by-offset is exactly Key_Shared's per-key ordering
guarantee. EntryFilter is just `filter()` — and strictly stronger: Catalyst
pushes it into the parquet scan and prunes columns, which the reference's
whole-entry ACCEPT/REJECT callback cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import EVENTS_ENVELOPE_ORACLE, cached_envelope, wrap_events
from pulsar_3_2_codedump_spark.queries import query

_ENV = f"WITH envelope AS ({EVENTS_ENVELOPE_ORACLE})"

KEY_HASH_SPACE = 65536  # Key_Shared hash-range space, KeySharedPolicy.java:86


def route_by_key(df: DataFrame, n_partitions: int, key_col: str = "key") -> DataFrame:
    """MessageRoutingMode.KeyHash: co-locate all rows of a key in one partition."""
    return df.repartition(n_partitions, F.col(key_col))


def md5_hash32(col):
    """Deterministic 32-bit key hash shared with the SQL oracle: first 8 hex
    chars of md5 as an integer. (Stands in for murmur3_32 — semantics-compat,
    not byte-compat, per SURVEY §4.)"""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def dispatch_key(df_or_cols=None):
    """The Key_Shared dispatch key: ordering_key overrides the partition key
    when present (PulsarApi.proto:140; Message.getOrderingKey —
    PersistentStickyKeyDispatcherMultipleConsumers peeks the ordering key
    first, StickyKeyConsumerSelector.makeStickyKeyHash). Returns
    coalesce(ordering_key as string, key); envelopes without the column
    fall back to key."""
    cols = df_or_cols.columns if hasattr(df_or_cols, "columns") else df_or_cols
    if cols is not None and "ordering_key" not in cols:
        return F.col("key")
    return F.coalesce(F.col("ordering_key").cast("string"), F.col("key"))


def key_shared_bucket(key_col, n_consumers: int):
    """Key_Shared AUTO_SPLIT: equal hash ranges over the 64K slot space →
    consumer id. The slot is the md5-based 32-bit hash reproducible in
    DuckDB SQL (``md5_hash32``), so the oracle checks the assignment."""
    slot = md5_hash32(key_col) % KEY_HASH_SPACE
    return F.floor(slot / (KEY_HASH_SPACE / n_consumers)).cast("int")


@query(
    "routing_partition_counts",
    section="2.B1",
    doc="Key-hash routing (RoundRobinPartitionMessageRouterImpl.java:74-77): "
    "message count + distinct keys per routed partition.",
    oracle=f"""
        {_ENV}
        SELECT partition, COUNT(*) AS n_messages, COUNT(DISTINCT key) AS n_keys
        FROM envelope GROUP BY partition
    """,
)
def routing_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    return env.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_messages"), F.countDistinct("key").alias("n_keys")
    )


@query(
    "key_shared_assignment",
    section="2.B3",
    doc="Key_Shared AUTO_SPLIT assignment (ConsistentHashingStickyKeyConsumerSelector"
    ".java:108): equal hash-ranges over the 64K slot space → 4 consumers; "
    "per-consumer message/key counts. Per-key ordering holds because a key maps "
    "to exactly one consumer (one Spark partition).",
    oracle=f"""
        {_ENV}
        SELECT CAST(FLOOR((CAST(concat('0x', substr(md5(key), 1, 8)) AS BIGINT) % 65536) / 16384) AS INT) AS consumer,
               COUNT(*) AS n_messages, COUNT(DISTINCT key) AS n_keys
        FROM envelope GROUP BY 1
    """,
)
def key_shared_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    return (
        # dispatch_key: ordering_key would override key here if the fixture
        # set it (PulsarApi.proto:140) — all-NULL in the events envelope
        env.withColumn("consumer", key_shared_bucket(dispatch_key(env), 4))
        .groupBy("consumer")
        .agg(F.count(F.lit(1)).alias("n_messages"), F.countDistinct("key").alias("n_keys"))
    )


@query(
    "entry_filter_pushdown",
    section="2.C1",
    doc="EntryFilter ACCEPT/REJECT as a pushed-down predicate (EntryFilter.java:42-54): "
    "keep purchase/signup messages with value ≥ 100; project only needed columns "
    "(column pruning — impossible in the reference's whole-entry filter).",
    oracle=f"""
        {_ENV}
        SELECT key, sequence_id, event_type, ROUND(value, 2) AS value
        FROM envelope
        WHERE event_type IN ('purchase', 'signup') AND value >= 100
    """,
)
def entry_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    env = wrap_events(ev).join(
        ev.select(F.col("event_id").alias("sequence_id"), F.col("value").alias("ev_value")),
        "sequence_id",
    )
    return env.filter(
        F.col("properties")["event_type"].isin("purchase", "signup") & (F.col("ev_value") >= 100)
    ).select(
        "key",
        "sequence_id",
        F.col("properties")["event_type"].alias("event_type"),
        F.round("ev_value", 2).alias("value"),
    )


RESCHEDULE_DELAY_H = 2  # postponement before a RESCHEDULE entry re-dispatches


def entry_filter_dispatch(env: DataFrame, verdict, as_of: str, delay_hours: int = RESCHEDULE_DELAY_H) -> DataFrame:
    """Full EntryFilter verdict routing (EntryFilter.FilterResult,
    pulsar-broker/.../service/plugin/EntryFilter.java:42-54, applied in
    AbstractBaseDispatcher.filterEntriesForConsumer:163-173): ACCEPT rows
    dispatch immediately; REJECT rows are skipped permanently (acked past);
    RESCHEDULE rows are "postponed — should not go to this consumer" now:
    the dispatcher adds their position to the redelivery set and they come
    back on a later read. Spark re-expression: RESCHEDULE stamps
    ``deliver_at`` = publish_time + delay (the delayed-set form used by
    streaming/delayed.py), and a dispatch at ``as_of`` classifies each row:

    - ``delivered``    — ACCEPT, published by as_of
    - ``redelivered``  — RESCHEDULE whose postponement has elapsed by as_of
    - ``pending``      — RESCHEDULE still postponed (in the redelivery set)
    - ``rejected``     — REJECT (dropped + acked, never delivered)

    One scan, no shuffle: verdict and disposition are both scan-local
    CASE expressions Catalyst folds into the read."""
    ts = F.lit(as_of).cast("timestamp")
    env = env.filter(F.col("publish_time") <= ts).withColumn("verdict", verdict)
    resched_at = F.timestamp_micros(
        F.unix_micros(F.col("publish_time")) + delay_hours * 3_600_000_000
    )
    return env.withColumn(
        "disposition",
        F.when(F.col("verdict") == "REJECT", F.lit("rejected"))
        .when(F.col("verdict") == "ACCEPT", F.lit("delivered"))
        .when(resched_at <= ts, F.lit("redelivered"))
        .otherwise(F.lit("pending")),
    )


@query(
    "entry_filter_reschedule",
    section="2.C1",
    doc="EntryFilter RESCHEDULE verdict routing (EntryFilter.java:42-54 "
    "FilterResult; AbstractBaseDispatcher.filterEntriesForConsumer:163-173 "
    "adds RESCHEDULE positions to entriesToRedeliver): click entries are "
    "REJECTed, signup entries RESCHEDULEd (postponed 2h into the delayed "
    "set), everything else ACCEPTed. Dispatch at an as-of instant counts "
    "each disposition per partition — rescheduled entries whose "
    "postponement elapsed show up as redelivered, the rest sit pending in "
    "the redelivery set. Single scan, one aggregate.",
    oracle=f"""
        {_ENV}
        SELECT partition,
               CAST(SUM(CASE WHEN event_type NOT IN ('click', 'signup')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_delivered,
               CAST(SUM(CASE WHEN event_type = 'signup'
                              AND publish_time + INTERVAL {RESCHEDULE_DELAY_H} HOUR
                                  <= TIMESTAMP '2024-01-15 00:00:00'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_redelivered,
               CAST(SUM(CASE WHEN event_type = 'signup'
                              AND publish_time + INTERVAL {RESCHEDULE_DELAY_H} HOUR
                                  > TIMESTAMP '2024-01-15 00:00:00'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
        FROM envelope
        WHERE publish_time <= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY partition
    """,
)
def entry_filter_reschedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    et = F.col("properties")["event_type"]
    verdict = (
        F.when(et == "click", F.lit("REJECT"))
        .when(et == "signup", F.lit("RESCHEDULE"))
        .otherwise(F.lit("ACCEPT"))
    )
    routed = entry_filter_dispatch(env, verdict, "2024-01-15 00:00:00")
    one_if = lambda d: F.sum(  # noqa: E731
        F.when(F.col("disposition") == d, 1).otherwise(0)
    ).cast("long")
    return routed.groupBy("partition").agg(
        one_if("delivered").alias("n_delivered"),
        one_if("redelivered").alias("n_redelivered"),
        one_if("pending").alias("n_pending"),
        one_if("rejected").alias("n_rejected"),
    )


@query(
    "multi_topic_union",
    section="2.A5",
    doc="Multi-topic subscribe (MultiTopicsConsumerImpl.java): union of N topic scans "
    "with a topic column — modeled as partition-ranges acting as separate topics.",
    oracle=f"""
        {_ENV}
        SELECT topic, COUNT(*) AS n, MAX(sequence_id) AS max_seq FROM (
            SELECT 'topic-a' AS topic, * FROM envelope WHERE partition < 4
            UNION ALL
            SELECT 'topic-b' AS topic, * FROM envelope WHERE partition >= 4
        ) GROUP BY topic
    """,
)
def multi_topic_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    a = env.filter(F.col("partition") < 4).withColumn("topic", F.lit("topic-a"))
    b = env.filter(F.col("partition") >= 4).withColumn("topic", F.lit("topic-b"))
    return (
        a.unionByName(b)
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"), F.max("sequence_id").alias("max_seq"))
    )


def key_shared_sticky(key_col, ranges: list[tuple[int, int, int]]):
    """Key_Shared STICKY mode (KeySharedPolicy.KeySharedPolicySticky:94,
    HashRangeExclusiveStickyKeyConsumerSelector): explicit hash ranges per
    consumer; rows whose slot falls outside every range get consumer -1
    (reference: messages wait for a consumer owning the range)."""
    slot = md5_hash32(key_col) % KEY_HASH_SPACE
    expr = F.lit(-1)
    for lo, hi, consumer in ranges:
        expr = F.when((slot >= lo) & (slot <= hi), F.lit(consumer)).otherwise(expr)
    return expr.cast("int")


@query(
    "key_shared_sticky_ranges",
    section="2.B3",
    doc="Key_Shared STICKY: explicit exclusive hash ranges (0-32767 → c0, "
    "32768-65535 → c1); per-consumer counts.",
    oracle=f"""
        {_ENV}
        SELECT CASE WHEN CAST(concat('0x', substr(md5(key), 1, 8)) AS BIGINT) % 65536 <= 32767
                    THEN 0 ELSE 1 END AS consumer,
               COUNT(*) AS n, COUNT(DISTINCT key) AS n_keys
        FROM envelope GROUP BY 1
    """,
)
def key_shared_sticky_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    sel = key_shared_sticky(F.col("key"), [(0, 32767, 0), (32768, 65535, 1)])
    return (
        env.withColumn("consumer", sel)
        .groupBy("consumer")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("key").alias("n_keys"))
    )


@query(
    "round_robin_routing",
    section="2.B2",
    doc="Keyless round-robin routing (RoundRobinPartitionMessageRouterImpl.java:82-84): "
    "messages without a key spread evenly — partition = sequence mod N; per-partition "
    "counts are balanced to within one message.",
    oracle="""
        SELECT CAST(event_id % 8 AS INT) AS partition, COUNT(*) AS n,
               MIN(event_id) AS first_seq, MAX(event_id) AS last_seq
        FROM events GROUP BY 1
    """,
)
def round_robin_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("partition", (F.col("event_id") % 8).cast("int"))
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("first_seq"),
            F.max("event_id").alias("last_seq"),
        )
    )


def consistent_hash_ring(consumers: list[str], points_per_consumer: int = 100) -> list[tuple[int, str]]:
    """Build the consistent-hash ring of Key_Shared AUTO_SPLIT's default
    selector (ConsistentHashingStickyKeyConsumerSelector.java:108: each
    consumer is hashed onto the ring at ``pointsPerConsumer`` positions;
    a key is served by the first ring point clockwise of its hash).

    Python-side ring construction (it is O(consumers × points) METADATA,
    rebuilt only on consumer join/leave); the per-row lookup below compiles
    to a JVM CASE over ring boundaries — no Python in the data path."""
    import hashlib

    ring: list[tuple[int, str]] = []
    for c in consumers:
        for i in range(points_per_consumer):
            h = int.from_bytes(
                hashlib.md5(f"{c}{i}".encode()).digest()[:4], "big"
            ) % KEY_HASH_SPACE
            ring.append((h, c))
    # ties broken by consumer name, matching the reference's NavigableMap
    # putIfAbsent-by-hash then name-ordered iteration
    return sorted(ring)


def consistent_hash_select(key_col, ring: list[tuple[int, str]]):
    """Consumer for each key via the ring: first point with hash ≥ slot,
    wrapping to the ring's first point. Compiled as a JVM Bucketizer-style
    CASE chain (ring boundaries are literals), evaluated at scan speed."""
    slot = md5_hash32(key_col) % KEY_HASH_SPACE
    # ONE flat CaseWhen (chained .when on the same builder), branches in
    # ascending ring order so the first match is the ceiling point — a
    # nested when().otherwise() chain builds a ring-size-deep expression
    # tree that can overflow the analyzer at realistic ring sizes
    expr = F.when(slot <= ring[0][0], F.lit(ring[0][1]))
    for h, c in ring[1:]:
        expr = expr.when(slot <= h, F.lit(c))
    return expr.otherwise(F.lit(ring[0][1]))  # wrap around to the first point


CHR_POINTS = 16  # ring points per consumer for the rebalance exhibit
CHR_BEFORE = [f"consumer-{i}" for i in range(4)]
CHR_AFTER = CHR_BEFORE + ["consumer-4"]


def _ring_case_sql(ring: list[tuple[int, str]]) -> str:
    """The same ceiling-point lookup consistent_hash_select compiles, as a
    DuckDB CASE chain over the precomputed ring literals."""
    parts = [f"WHEN slot <= {ring[0][0]} THEN '{ring[0][1]}'"]
    parts += [f"WHEN slot <= {h} THEN '{c}'" for h, c in ring[1:]]
    return "CASE " + " ".join(parts) + f" ELSE '{ring[0][1]}' END"


_CHR_RING_A = consistent_hash_ring(CHR_BEFORE, CHR_POINTS)
_CHR_RING_B = consistent_hash_ring(CHR_AFTER, CHR_POINTS)


@query(
    "consistent_hash_rebalance",
    section="2.B3",
    doc="Consistent-hash ring REBALANCE audit (ConsistentHashingStickyKey"
    "ConsumerSelector.java:108 — the reference's default Key_Shared "
    "selector): the key→consumer movement matrix when a fifth consumer "
    "joins a four-consumer ring. Consistent hashing's contract is "
    "minimal disruption — keys either keep their consumer or move TO "
    "the joiner; the matrix makes that auditable (off-diagonal rows "
    "land on consumer-4, keys moving between survivors would be a ring "
    "bug). Both ring lookups compile to flat JVM CASE chains over ring-"
    "boundary literals (metadata rebuilt only on membership change — "
    "never a shuffle); the oracle embeds the identical ring.",
    oracle=f"""
        WITH k AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events
        ),
        s AS (
            SELECT key,
                   CAST(concat('0x', substr(md5(key), 1, 8)) AS BIGINT)
                       % {KEY_HASH_SPACE} AS slot
            FROM k
        ),
        assigned AS (
            SELECT {_ring_case_sql(_CHR_RING_A)} AS consumer_before,
                   {_ring_case_sql(_CHR_RING_B)} AS consumer_after
            FROM s
        )
        SELECT consumer_before, consumer_after,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               consumer_before <> consumer_after AS moved
        FROM assigned
        GROUP BY 1, 2
    """,
)
def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import load

    keys = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
    )
    assigned = keys.select(
        consistent_hash_select(F.col("key"), _CHR_RING_A).alias("consumer_before"),
        consistent_hash_select(F.col("key"), _CHR_RING_B).alias("consumer_after"),
    )
    return assigned.groupBy("consumer_before", "consumer_after").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max(
            F.col("consumer_before") != F.col("consumer_after")
        ).alias("moved"),
    )
