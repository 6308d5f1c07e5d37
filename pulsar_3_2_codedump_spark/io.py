"""Pulsar IO surface: external system ↔ topic bridges (SURVEY §2.A6-A8),
non-persistent topics (§2.A10), and interceptors (§2.J7).

Reference:
  - Source connectors pull external records into a topic
    (pulsar-io/core/.../core/Source.java:28,37,45 ``open()/read()``; push/
    batch variants PushSource.java, BatchSource.java); sink connectors write
    topic data out (Sink.java:31,39,47 ``open()/write(Record)``). The
    concrete fleet (kafka/jdbc/elasticsearch/... under pulsar-io/<name>/)
    reduces to: move records between a topic and an external format.
  - Non-persistent topics dispatch in memory with no storage
    (pulsar-broker/.../nonpersistent/NonPersistentTopic.java).
  - Interceptors hook producer/consumer send/ack paths
    (pulsar-client-api/.../api/{Producer,Consumer,Reader}Interceptor.java).

Spark re-expression: a source connector is ``spark.read.format(fmt)`` +
``wrap_table`` + ``topic.append`` (batch) or ``readStream`` + the pulsarlike
sink (streaming); a sink connector is a streaming query with ``foreachBatch``
writing any Spark-supported format — each micro-batch is atomic on the topic
side and idempotent on replay when the destination write is (overwrite-by-
batch-path below). Interceptors are StreamingQueryListener / observe()
hooks — they see every batch's metrics without touching the data path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.envelope import wrap_table


def ingest_external(
    spark: SparkSession,
    path: str,
    fmt: str,
    topic_path: str,
    key_col: str,
    event_time_col: str,
    options: dict | None = None,
) -> dict[int, int]:
    """Source-connector path (§2.A6): external file/table → topic. Any Spark
    reader format works (parquet/csv/json/jdbc/...)."""
    reader = spark.read.format(fmt)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load(path)
    env = wrap_table(
        df, key_col, event_time_col, producer=f"src:{fmt}:{os.path.basename(path)}"
    )
    # connector ingests carry no producer-retry semantics and wrap_table's
    # sequence ids are not stable across reads — broker dedup marks would
    # silently drop rows of a SECOND ingest into the same topic (hwm compare)
    return T.append(spark, env, topic_path, dedup=False)


def sink_to_external(
    spark: SparkSession,
    topic_path: str,
    out_dir: str,
    fmt: str,
    checkpoint: str,
    transform=None,
):
    """Sink-connector path (§2.A7): topic → external format via foreachBatch.

    Each micro-batch writes to ``out_dir/batch_id=N`` with overwrite — a
    replayed batch overwrites its own output, keeping the sink idempotent
    (the JdbcAbstractSink upsert analogue for file formats)."""
    src = spark.readStream.format("pulsarlike").option("path", topic_path).load()

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform else batch
        out.write.mode("overwrite").format(fmt).save(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# Embedded Derby ships in every Spark distribution (the Hive metastore's
# default store), so the REAL spark-jdbc path is testable with no extra jars.
# In production the same two functions take any JDBC url + driver class
# (postgres/mysql/...), exactly like the reference's connector config
# (pulsar-io/jdbc/core/.../JdbcSinkConfig.java jdbcUrl/tableName).
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def ingest_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    topic_path: str,
    key_col: str,
    event_time_col: str,
    driver: str = DERBY_DRIVER,
    options: dict | None = None,
) -> dict[int, int]:
    """JDBC source connector (§2.A8): external relational table → topic,
    through Spark's native JVM JDBC reader (no Python in the data path).

    Scale posture: pass ``partitionColumn``/``lowerBound``/``upperBound``/
    ``numPartitions`` in ``options`` to fan the read across executors — the
    single-connection default is the reference's one-consumer-thread
    KafkaAbstractSource posture and does not scale past one task."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load()
    env = wrap_table(df, key_col, event_time_col, producer=f"jdbc:{table}")
    # see ingest_external: dedup marks + unstable sequence ids would drop a
    # second table's rows silently
    return T.append(spark, env, topic_path, dedup=False)


def sink_jdbc(
    spark: SparkSession,
    topic_path: str,
    url: str,
    table: str,
    checkpoint: str,
    driver: str = DERBY_DRIVER,
    transform=None,
):
    """JDBC sink connector (§2.A8, JdbcAbstractSink.java:52,180): topic →
    relational table via foreachBatch + the JVM JDBC writer.

    Delivery semantics match the reference's INSERT mode: at-least-once — a
    micro-batch replayed after a crash between the JDBC commit and the
    checkpoint commit re-inserts its rows. The reference upgrades to
    effectively-once only with key-based upsert (insertMode=UPSERT,
    JdbcSinkConfig); on engines with MERGE support do the same here inside
    ``transform`` or use a staging table keyed by ``__batch_id`` (written
    below for exactly that purpose)."""
    src = spark.readStream.format("pulsarlike").option("path", topic_path).load()

    def default_projection(batch: DataFrame) -> DataFrame:
        # JDBC-compatible columns only (MAP/BINARY don't map to SQL types;
        # the reference's JdbcAbstractSink likewise binds only schema fields)
        return batch.select(
            "key",
            F.col("value").cast("string").alias("value"),
            "event_time", "publish_time", "producer_name",
            "sequence_id", "partition", "offset",
        )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform else default_projection(batch)
        (
            out.withColumn("__batch_id", F.lit(batch_id))
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("driver", driver)
            .mode("append")
            .save()
        )

    return (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def nonpersistent_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Non-persistent topic (§2.A10): best-effort in-memory dispatch, no
    storage, no replay — the rate source wearing the envelope. Consumers miss
    whatever flows while they are away, exactly like NonPersistentTopic."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return rate.select(
        (F.col("value") % 64).cast("string").alias("key"),
        F.to_binary(F.col("value").cast("string"), F.lit("utf-8")).alias("value"),
        F.create_map(F.lit("kind"), F.lit("nonpersistent")).alias("properties"),
        F.col("timestamp").alias("event_time"),
        F.col("timestamp").alias("publish_time"),
        F.lit("rate-producer").alias("producer_name"),
        F.col("value").alias("sequence_id"),
        F.lit(None).cast("timestamp").alias("deliver_at"),
        F.lit(None).cast("int").alias("marker_type"),
        F.lit(None).cast("string").alias("replicated_from"),
        (F.col("value") % 4).cast("int").alias("partition"),
        F.col("value").alias("offset"),
    )


class InterceptorListener:
    """Producer/consumer interceptor analogue (§2.J7): a
    StreamingQueryListener recording per-batch row counts and sink commits —
    the onSendAcknowledgement / beforeConsume hook points, observed from the
    engine side instead of wrapping the client."""

    def __init__(self):
        self.events: list[dict] = []

    def attach(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.events.append({"type": "started", "id": str(event.id)})

            def onQueryProgress(self, event):
                p = event.progress
                outer.events.append(
                    {
                        "type": "progress",
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "observed": dict(p.observedMetrics or {}),
                    }
                )

            def onQueryTerminated(self, event):
                outer.events.append({"type": "terminated", "id": str(event.id)})

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)


def _register_jdbc_query() -> None:
    """§2.A8 driver-verified evidence: a full JDBC round-trip (Spark → Derby
    → Spark) must reproduce the source table bit-for-bit against the DuckDB
    oracle reading the original parquet."""
    import tempfile

    from pulsar_3_2_codedump_spark.catalog import load
    from pulsar_3_2_codedump_spark.queries import query

    @query(
        "jdbc_roundtrip",
        section="2.A8",
        doc="JDBC connector round-trip (JdbcAbstractSink.java:52,180 / the "
        "pulsar-io jdbc fleet): nation → embedded Derby via the JVM jdbc "
        "writer → read back via the jdbc reader. Row identity is checked "
        "against the oracle reading the original parquet — any type or value "
        "corruption in either JDBC direction breaks the hash.",
        oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    )
    def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        nation = load(spark, sf_dir, "nation")
        dbdir = tempfile.mkdtemp(prefix="pulsarlike_jdbc_")
        url = f"jdbc:derby:{dbdir}/db;create=true"
        (
            nation.write.format("jdbc")
            .option("url", url).option("dbtable", "nation_rt")
            .option("driver", DERBY_DRIVER).mode("overwrite").save()
        )
        back = (
            spark.read.format("jdbc")
            .option("url", url).option("dbtable", "nation_rt")
            .option("driver", DERBY_DRIVER).load()
        )
        return back.select("n_nationkey", "n_name", "n_regionkey")


_register_jdbc_query()


def kafka_records_to_envelope(df: DataFrame, kafka_topic: str) -> DataFrame:
    """Pure ConsumerRecord→envelope mapping (§2.A8,
    pulsar-io/kafka/.../KafkaAbstractSource.java:224-266 ``KafkaRecord`` —
    key/value/timestamp/partition/offset carried into the Pulsar message).

    Input is Spark's native kafka source schema (key BINARY, value BINARY,
    topic STRING, partition INT, offset LONG, timestamp TIMESTAMP,
    timestampType INT, optionally headers ARRAY<STRUCT<key,value>>); output is
    envelope columns ready for ``topic.append``.

    Dedup identity: producer_name is **per source partition**
    (``kafka:<topic>:<partition>``) with sequence_id = the Kafka offset, so the
    broker's per-producer high-water-mark dedup is sound — offsets are
    monotonic within a Kafka partition, making repeated/overlapping ingests of
    the same partition idempotent. (A single producer_name with a composite
    partition<<40|offset sequence would wedge the hwm at the highest partition
    seen and silently drop later partition-0 records.)"""
    header_cols = []
    if "headers" in df.columns:
        # Kafka headers (key STRING, value BINARY) → string properties,
        # matching KafkaAbstractSource's header passthrough posture.
        header_cols = [
            F.map_from_entries(
                F.transform(
                    F.coalesce(F.col("headers"), F.array()),
                    lambda h: F.struct(
                        F.concat(F.lit("kafka_header_"), h["key"]).alias("key"),
                        h["value"].cast("string").alias("value"),
                    ),
                )
            )
        ]
    props = F.create_map(
        F.lit("kafka_partition"), F.col("partition").cast("string"),
        F.lit("kafka_offset"), F.col("offset").cast("string"),
    )
    if header_cols:
        props = F.map_concat(props, header_cols[0])
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").alias("value"),
        props.alias("properties"),
        F.col("timestamp").alias("event_time"),
        F.col("timestamp").alias("publish_time"),
        F.concat(
            F.lit(f"kafka:{kafka_topic}:"), F.col("partition").cast("string")
        ).alias("producer_name"),
        F.col("offset").cast("long").alias("sequence_id"),
    )


def ingest_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    kafka_topic: str,
    topic_path: str,
    starting_offsets: str = "earliest",
) -> dict[int, int]:
    """Kafka source connector (§2.A8, KafkaAbstractSource.java — the
    second-most-used pulsar-io connector): batch-read a Kafka topic through
    Spark's native kafka format and append it as envelope rows via the pure
    ``kafka_records_to_envelope`` mapping (unit-tested without a broker).

    Requires the spark-sql-kafka package on the classpath and a reachable
    broker; neither exists in this container, so the function raises a clear
    error locally and the test suite skips — the code path itself is the
    production form."""
    df = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", kafka_topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    env = kafka_records_to_envelope(df, kafka_topic)
    # dedup=True is deliberate here (unlike ingest_external/ingest_jdbc):
    # (producer_name per kafka partition, sequence_id = offset) is a stable
    # retry identity, so incremental re-ingest is exactly-once.
    return T.append(spark, env, topic_path)


TIER_DOCS = 120  # doc_id < TIER_DOCS feed the tiered/shadow topic
TIER_PARTS = 4

from pulsar_3_2_codedump_spark.queries import query, scratch_root  # noqa: E402


@query(
    "tiered_shadow_roundtrip",
    section="2.A11",
    doc="Tiered storage + shadow topics through REAL topic storage "
    "(`pulsar-admin topics offload`, ManagedLedgerImpl offload path; "
    "PIP-180 shadow topics, PersistentTopic.java:332-335 "
    "ShadowManagedLedgerImpl): documents append to a topic in two "
    "generations, the first generation's segments offload to a tiered base "
    "(copy → manifest commit → delete-local), a SHADOW of the topic is "
    "created, and the result reads back through the shadow — so the scan "
    "crosses shadow resolution AND both storage tiers. Per-partition "
    "count, char total, and an order-insensitive md5-prefix checksum must "
    "equal the oracle computed from the ORIGINAL documents table: any loss "
    "or corruption in offload, tier-union read, or shadow resolution "
    "hash-mismatches. Deterministic routing (doc_id % 4) replays in SQL.",
    oracle=f"""
        SELECT CAST(doc_id % {TIER_PARTS} AS INT) AS partition,
               COUNT(*) AS n_msgs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS payload_chars,
               CAST(SUM(CAST(concat('0x', SUBSTR(md5(text), 1, 8)) AS BIGINT))
                   AS BIGINT) AS md5_sum
        FROM documents WHERE doc_id < {TIER_DOCS}
        GROUP BY 1
    """,
)
def tiered_shadow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < TIER_DOCS)

    def env_slice(lo, hi):
        d = docs.filter(F.col("doc_id").between(lo, hi - 1))
        return d.select(
            F.col("doc_id").cast("string").alias("key"),
            F.to_binary(F.col("text"), F.lit("utf-8")).alias("value"),
            F.create_map(F.lit("source"), F.col("source")).alias("properties"),
            F.timestamp_micros(F.col("doc_id") * 1_000_000).alias("event_time"),
            F.timestamp_micros(F.col("doc_id") * 1_000_000).alias("publish_time"),
            F.lit("producer-docs").alias("producer_name"),
            F.col("doc_id").alias("sequence_id"),
            F.lit(None).cast("timestamp").alias("deliver_at"),
            F.lit(None).cast("int").alias("marker_type"),
            F.lit(None).cast("string").alias("replicated_from"),
            (F.col("doc_id") % TIER_PARTS).cast("int").alias("partition"),
        )

    with scratch_root(spark) as root:
        tp = T.create_topic(root + "/topics", "docs", n_partitions=TIER_PARTS)
        T.append(spark, env_slice(0, TIER_DOCS // 2), tp)
        ends = T.end_offsets(T.read_manifest(tp))
        assert T.offload_segments(tp, root + "/tier", ends) > 0
        T.append(spark, env_slice(TIER_DOCS // 2, TIER_DOCS), tp)
        shadow = T.create_shadow_topic(root + "/topics", "docs-shadow", tp)
        text = F.col("value").cast("string")
        out = (
            T.read_topic(spark, shadow)
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("n_msgs"),
                F.sum(F.length(text)).cast("long").alias("payload_chars"),
                F.sum(
                    F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
                ).cast("long").alias("md5_sum"),
            )
        )
        return T.lookup_frame(spark, out.collect(), out.schema)  # #partitions rows
