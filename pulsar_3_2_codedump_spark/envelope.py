"""The canonical message envelope.

Pulsar's unit row is a message with protobuf metadata
(reference: pulsar-common/src/main/proto/PulsarApi.proto:106-166
``MessageMetadata``; consumer surface pulsar-client-api/.../api/Message.java:32-182).
We re-express it as a fixed Spark StructType: the at-rest format is columnar
parquet (the reference is row-oriented ByteBufs — the inversion is the point:
column pruning + predicate pushdown are free here, Pulsar's EntryFilter can
only ACCEPT/REJECT whole entries).

Envelope columns (SURVEY.md §1.2):
    key             STRING     partition key         (PulsarApi.proto:116)
    value           BINARY     schema-encoded payload (PulsarApi.proto:158)
    properties      MAP<STRING,STRING>               (PulsarApi.proto:110)
    event_time      TIMESTAMP  app event time        (PulsarApi.proto:129)
    publish_time    TIMESTAMP  broker append time    (PulsarApi.proto:109)
    producer_name   STRING     dedup identity        (PulsarApi.proto:107)
    sequence_id     BIGINT     dedup identity        (PulsarApi.proto:108)
    deliver_at      TIMESTAMP  delayed delivery      (PulsarApi.proto:143)
    marker_type     INT        broker-internal protocol marker; NULL = user
                               data (PulsarApi.proto:148, PulsarMarkers.proto)
    replicated_from STRING     geo-replication loop guard (PulsarApi.proto:114)
    partition       INT        topic partition       (MessageIdData, proto:58-68)
    offset          BIGINT     monotonic per-partition index
                               (BrokerEntryMetadata.index, proto:191 — the
                               Kafka-style offset Pulsar stamps broker-side)

``wrap_events`` turns the ``events`` fixture into this envelope
deterministically so streaming operators can be checked against a batch/duckdb
oracle over the same rows (FIXTURES.md §4).  Every derivation below is plain
SQL, reproducible verbatim in DuckDB — see ``EVENTS_ENVELOPE_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.window import Window

N_PARTITIONS = 8
N_PRODUCERS = 4

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        # overrides key for Key_Shared dispatch when set (PulsarApi.proto:140,
        # Message.getOrderingKey — see operators/routing.dispatch_key)
        T.StructField("ordering_key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("publish_time", T.TimestampType(), True),
        T.StructField("producer_name", T.StringType(), True),
        T.StructField("sequence_id", T.LongType(), True),
        T.StructField("deliver_at", T.TimestampType(), True),
        T.StructField("marker_type", T.IntegerType(), True),
        T.StructField("replicated_from", T.StringType(), True),
        # end-to-end encryption envelope (PulsarApi.proto MessageMetadata
        # encryption_keys/encryption_param; MessageCryptoBc.java): NULL on
        # unencrypted messages — see functions/crypto.py
        T.StructField(
            "encryption_keys", T.MapType(T.StringType(), T.BinaryType()), True
        ),
        T.StructField("encryption_param", T.BinaryType(), True),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
    ]
)

# Internal marker rows (PulsarApi.proto:148 ``marker_type``;
# PulsarMarkers.proto MarkerType): brokers interleave protocol messages —
# replicated-subscription snapshots, txn commit/abort markers — into the same
# log as user data, and every consumer-facing dispatch path strips them
# (AbstractBaseDispatcher.filterEntriesForConsumer). A NULL marker_type is a
# normal user message; readers hide non-null rows unless explicitly asked
# (read_markers / readMarkers=true — the broker-internal reader posture).
MARKER_REPL_SNAPSHOT_REQUEST = 10
MARKER_REPL_SNAPSHOT = 12
MARKER_TXN_COMMIT = 22
MARKER_TXN_ABORT = 23


def wrap_events(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) → envelope.

    Deterministic: partition = user_id % 8 (stands in for
    murmur3(key) mod N routing, RoundRobinPartitionMessageRouterImpl.java:74-77 —
    semantics-compat, not byte-compat); offset = dense append order within the
    partition (row_number over event_id, 0-based), the
    BrokerEntryMetadata.index analogue.
    """
    w = Window.partitionBy("partition").orderBy("event_id")
    return (
        events.withColumn("partition", (F.col("user_id") % N_PARTITIONS).cast("int"))
        .withColumn("offset", F.row_number().over(w).cast("long") - F.lit(1))
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.to_binary(F.col("props"), F.lit("utf-8")).alias("value"),
            F.create_map(
                F.lit("event_type"), F.col("event_type"), F.lit("props"), F.col("props")
            ).alias("properties"),
            F.col("ts").alias("event_time"),
            F.col("ts").alias("publish_time"),
            F.concat(F.lit("producer-"), (F.col("user_id") % N_PRODUCERS).cast("string")).alias(
                "producer_name"
            ),
            F.col("event_id").alias("sequence_id"),
            # delayed delivery: purchase events carry deliver_at = ts + floor(value)s
            # (exact integer-microsecond arithmetic → bit-identical to the oracle)
            F.when(
                F.col("event_type") == "purchase",
                F.timestamp_micros(
                    F.unix_micros(F.col("ts")) + F.floor("value").cast("long") * 1_000_000
                ),
            ).alias("deliver_at"),
            F.lit(None).cast("int").alias("marker_type"),
            F.lit(None).cast("string").alias("replicated_from"),
            "partition",
            "offset",
        )
    )


_ENV_CACHE: dict[tuple[str, str], DataFrame] = {}


def cached_envelope(spark, sf_dir: str) -> DataFrame:
    """The events fixture as an envelope log, materialized once per
    (session, sf dir).

    Offsets/partitions are stamped ONCE at append time in a real topic
    (broker-side BrokerEntryMetadata, PulsarApi.proto:191) and then live in
    the at-rest segments; recomputing the row_number window on every query
    would be re-ingesting the log per read. Persisting the wrapped frame is
    the in-memory stand-in for that at-rest state: every consumer-side
    operator (TableView, compaction, dedup, routing, windows) reads the same
    stored envelope, paying the routing/offset assignment exactly once."""
    from pulsar_3_2_codedump_spark.catalog import load

    key = (spark.sparkContext.applicationId, sf_dir)
    df = _ENV_CACHE.get(key)
    if df is None:
        df = wrap_events(load(spark, sf_dir, "events")).persist()
        _ENV_CACHE[key] = df
    return df


# DuckDB-runnable CTE producing the SQL-visible columns of the same envelope
# (binary/map columns excluded — oracle queries only touch scalar columns).
EVENTS_ENVELOPE_ORACLE = """
    SELECT
        CAST(user_id AS VARCHAR)                                    AS key,
        event_type,
        value,
        props,
        ts                                                          AS event_time,
        ts                                                          AS publish_time,
        'producer-' || CAST(user_id % 4 AS VARCHAR)                 AS producer_name,
        event_id                                                    AS sequence_id,
        CASE WHEN event_type = 'purchase'
             THEN ts + to_microseconds(CAST(FLOOR(value) AS BIGINT) * 1000000)
             END                                                    AS deliver_at,
        CAST(user_id % 8 AS INT)                                    AS partition,
        ROW_NUMBER() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS "offset"
    FROM events
"""


def conform_envelope(df: DataFrame) -> DataFrame:
    """Cast every envelope column the frame carries to its declared
    ENVELOPE_SCHEMA type.

    External sources routinely hand us near-miss types — a DATE or
    TIMESTAMP_NTZ mapped into ``publish_time`` by ``io.ingest_external``, an
    INT sequence id from a CSV — and downstream code (the manifest time
    index's publish-time bounds, the Arrow stream writer) assumes the declared
    types. The broker performs the same normalization when it stamps
    MessageMetadata on the wire (PulsarApi.proto:106-166): whatever the
    client supplied, the at-rest form is canonical. Applied once at the
    append boundary so the batch and streaming writers agree.

    Nullable envelope columns the frame lacks entirely (e.g. ``marker_type``
    on a frame built before markers existed, ``deliver_at`` from a mapped
    external table) are added as typed NULLs — the at-rest form always
    carries the full envelope."""
    types = {f.name: f.dataType for f in ENVELOPE_SCHEMA.fields}
    out = [
        F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
        for c in df.columns
    ]
    have = set(df.columns)
    out += [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in ENVELOPE_SCHEMA.fields
        if f.name not in have and f.nullable
    ]
    return df.select(*out)


def wrap_table(
    df: DataFrame,
    key_col: str,
    event_time_col: str | None,
    producer: str = "producer-0",
) -> DataFrame:
    """Generic fixture→envelope publisher: wrap ANY table's rows as messages
    (the schema-encode step of ProducerImpl.serializeAndSendMessage:617 —
    payload = JSON of all columns; typed decode comes back via the schema
    registry). Tables with no event-time column (dimension/JDBC ingests)
    pass ``event_time_col=None``: epoch timestamps. The rows carry no
    partition or offset: ``topic.append`` routes and numbers them."""
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    et = (
        F.col(event_time_col)
        if event_time_col
        else F.lit("1970-01-01 00:00:00").cast("timestamp")
    )
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_binary(payload, F.lit("utf-8")).alias("value"),
        F.create_map(F.lit("source_table"), F.lit("generic")).alias("properties"),
        et.alias("event_time"),
        et.alias("publish_time"),
        F.lit(producer).alias("producer_name"),
        F.monotonically_increasing_id().alias("sequence_id"),
        F.lit(None).cast("timestamp").alias("deliver_at"),
        F.lit(None).cast("int").alias("marker_type"),
        F.lit(None).cast("string").alias("replicated_from"),
    )


CHUNK_MAX_BYTES = 64  # fixture-scale frame limit (the 5 MB maxMessageSize analogue)


def chunk_payloads(df: DataFrame, payload_col: str = "payload",
                   max_bytes: int = CHUNK_MAX_BYTES) -> DataFrame:
    """Producer-side chunking (ProducerImpl.serializeAndSendMessage,
    pulsar-client/.../ProducerImpl.java:493,617): a payload larger than the
    frame limit splits into ceil(len/max) chunks, each carrying the
    MessageMetadata chunk fields (uuid, chunk_id, num_chunks_from_msg,
    total_chunk_msg_size — PulsarApi.proto MessageMetadata). Input needs a
    unique ``uuid`` column; output is one row per chunk. Pure per-row array
    explode — scan-speed, no shuffle."""
    p = F.col(payload_col)
    # an empty payload is still ONE (empty) chunk — without the clamp,
    # sequence(0, -1) DESCENDS and emits two bogus chunks (hypothesis-found;
    # same failure class as the shingles helper's short-doc fallback)
    n_chunks = F.greatest(F.ceil(F.length(p) / F.lit(max_bytes)), F.lit(1)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(idx, lambda i: F.substring(p, (i * max_bytes + 1).cast("int"), max_bytes))
    return df.select(
        "uuid",
        F.length(p).alias("total_chunk_msg_size"),
        n_chunks.alias("num_chunks"),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    )


def reassemble_chunks(chunks: DataFrame) -> DataFrame:
    """Consumer-side chunk reassembly (ConsumerImpl.processMessageChunk,
    pulsar-client/.../ConsumerImpl.java:1431): buffer chunks per uuid, stitch
    in chunk_id order once num_chunks DISTINCT chunk ids have arrived. The
    reference dedupes redelivered chunks by chunkId before counting — a
    duplicated chunk must neither satisfy completion early nor appear twice
    in the stitched payload, so completion tests countDistinct(chunk_id) and
    the stitch folds the sorted (chunk_id, chunk) structs skipping repeated
    ids (first occurrence in sort order wins — deterministic). One hash-agg
    shuffle on uuid; no window sort."""
    sorted_pairs = F.array_sort(F.collect_list(F.struct("chunk_id", "chunk")))
    stitched = F.aggregate(
        sorted_pairs,
        F.struct(F.lit(-1).alias("last_id"), F.lit("").alias("acc")),
        lambda a, x: F.struct(
            x["chunk_id"].alias("last_id"),
            F.when(x["chunk_id"] == a["last_id"], a["acc"])
            .otherwise(F.concat(a["acc"], x["chunk"]))
            .alias("acc"),
        ),
        lambda a: a["acc"],
    )
    return (
        chunks.groupBy("uuid")
        .agg(
            stitched.alias("payload"),
            F.countDistinct("chunk_id").alias("n_received"),
            F.max("num_chunks").alias("num_chunks"),
            F.max("total_chunk_msg_size").alias("total_chunk_msg_size"),
        )
        # incomplete buffers are held, not delivered (processMessageChunk
        # waits for chunkId == numChunks-1)
        .filter(F.col("n_received") == F.col("num_chunks"))
    )
