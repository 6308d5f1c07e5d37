"""Per-key latest-value operators: compaction & TableView (SURVEY §2.D, §2.A4).

Reference semantics:
  - Topic compaction, two-phase: scan the log building key→latest MessageId,
    then rewrite only the kept entries; an empty value is a tombstone that
    deletes the key (pulsar-broker/.../compaction/TwoPhaseCompactor.java:62,78-92,
    ``latestForKey`` :92,152).
  - Strategic compaction: a pluggable keep-rule decides the winner per key
    instead of log position (StrategicTwoPhaseCompactor.java;
    TopicCompactionStrategy.shouldKeepLeft, pulsar-common/.../topics/
    TopicCompactionStrategy.java:52,70).
  - TableView: client-side continuously updated key→latest-value map
    (pulsar-client/.../impl/TableViewImpl.java:182-214 ``handleMessage``).

Spark re-expression: the whole two-phase dance collapses to ONE declarative
plan — `row_number() over (partition by key order by offset desc) = 1` — which
Catalyst executes as a single shuffle on key + per-partition sort.  At 100 TB
this is the right plan: one exchange, no driver state, AQE handles key skew.
Strategic compaction is `max_by(struct, rank_expr)` per key: a partial+final
hash agg, no sort at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window as W

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import EVENTS_ENVELOPE_ORACLE, cached_envelope
from pulsar_3_2_codedump_spark.queries import query

_ENV = f"WITH envelope AS ({EVENTS_ENVELOPE_ORACLE})"


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can sort/compare the type (maps are not orderable)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    return True


def latest_per_key(env: DataFrame, key_cols=("key",)) -> DataFrame:
    """TableView / compaction phase-1: keep the highest-(partition, offset)
    row per key.

    Plan choice: when every payload column is ORDERABLE, a partial+final
    aggregation of ONE lexicographic ``max(struct(partition, offset,
    payload...))`` (r16; OPTIMIZATION_r16.md). The map-side combine shrinks
    each partition to its distinct keys before the shuffle, so the shuffle
    carries one row per (map partition × key), not the whole log.
    (partition, offset) is unique within a key group (offsets are dense
    per-partition indexes), so the payload fields never decide the
    comparison. Frames carrying map columns (the full envelope's
    ``properties``/``encryption_keys``) cannot enter a struct max; they take
    the ``row_number`` window over (partition, offset) desc, one shuffle on
    the key plus a sort. Per-column ``max_by`` over maps plans two
    ``SortAggregate``s and is slower: on the full envelope at sf0.01
    (150 keys, same rows), 4 CPUs, a ``noop`` write took 0.34 s against the
    window's 0.23 s, median of 8 alternating reps. Callers that need only
    scalar payloads should project them first to take the aggregation
    path."""
    key_cols = list(key_cols)
    others = [c for c in env.columns if c not in key_cols]
    types = {f.name: f.dataType for f in env.schema.fields}
    if (
        "partition" in others
        and "offset" in others
        and all(_orderable(types[c]) for c in others)
    ):
        ride = [c for c in others if c not in ("partition", "offset")]
        agg = env.groupBy(*key_cols).agg(
            F.max(F.struct("partition", "offset", *ride)).alias("__s")
        )
        return agg.select(
            *key_cols, *[F.col(f"__s.{c}").alias(c) for c in others]
        ).select(*env.columns)
    w = W.partitionBy(*key_cols).orderBy(F.desc("partition"), F.desc("offset"))
    return env.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def compact(env: DataFrame, tombstone=None) -> DataFrame:
    """Two-phase compaction as one plan: latest per key, tombstones dropped."""
    kept = latest_per_key(env)
    if tombstone is not None:
        kept = kept.filter(~tombstone)
    return kept


def strategic_compact(env: DataFrame, rank_expr, payload_cols) -> DataFrame:
    """Pluggable keep-rule: winner per key = argmax(rank_expr) (max_by)."""
    return env.groupBy("key").agg(
        *[F.max_by(c, rank_expr).alias(c) for c in payload_cols],
        F.max(rank_expr).alias("winning_rank"),
    )


@query(
    "tableview_latest",
    section="2.A4",
    doc="TableView: continuously-updated latest value per key (TableViewImpl.java:182-214), "
    "batch form: one window pass per key ordered by (partition, offset) desc.",
    oracle=f"""
        {_ENV}
        SELECT key, event_type, ROUND(value, 2) AS value,
               sequence_id, "offset"
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                         ORDER BY partition DESC, "offset" DESC) AS rn
            FROM envelope
        ) WHERE rn = 1
    """,
)
def tableview_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("sequence_id"), "event_type", F.col("value").alias("ev_value")
    )
    # project the scalar payloads first (r16) so latest_per_key plans the
    # single struct-max hash path instead of per-column max_by over the
    # full envelope (whose map columns force the slow per-column form)
    env = env.select("key", "partition", "offset", "sequence_id")
    out = latest_per_key(env).join(ev, "sequence_id")
    return out.select(
        "key",
        "event_type",
        F.round("ev_value", 2).alias("value"),
        "sequence_id",
        "offset",
    )


@query(
    "compaction_tombstones",
    section="2.D1",
    doc="Two-phase compaction with tombstones: latest per key wins "
    "(TwoPhaseCompactor.java:78-92); keys whose latest message is a tombstone "
    "(modeled: event_type='error' ≙ null-value marker) are deleted.",
    oracle=f"""
        {_ENV}
        SELECT key, sequence_id, event_type, partition, "offset"
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                         ORDER BY partition DESC, "offset" DESC) AS rn
            FROM envelope
        ) WHERE rn = 1 AND event_type <> 'error'
    """,
)
def compaction_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    # extract the tombstone marker from the properties map BEFORE the
    # aggregation (r16): the winning row is decided by (partition, offset)
    # alone, so its event_type rides along identically — and with the map
    # column gone latest_per_key takes the single struct-max path
    env = env.select(
        "key",
        "partition",
        "offset",
        "sequence_id",
        F.col("properties")["event_type"].alias("event_type"),
    )
    kept = compact(env, tombstone=F.col("event_type") == "error")
    return kept.select("key", "sequence_id", "event_type", "partition", "offset")


@query(
    "strategic_compaction",
    section="2.D2",
    doc="Strategic compaction: keep-rule = highest payload value per key instead of "
    "log position (TopicCompactionStrategy.shouldKeepLeft :52,70) — max_by hash-agg, no sort.",
    oracle=f"""
        {_ENV}
        SELECT key,
               ARG_MAX(sequence_id, value + sequence_id * 1e-9) AS sequence_id,
               ROUND(MAX(value + sequence_id * 1e-9), 6)        AS winning_rank
        FROM envelope
        GROUP BY key
    """,
)
def strategic_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select("event_id", F.col("value").alias("ev_value"))
    enriched = env.join(ev, env.sequence_id == ev.event_id).withColumn(
        "rank_expr", F.col("ev_value") + F.col("sequence_id") * F.lit(1e-9)
    )
    out = strategic_compact(enriched, F.col("rank_expr"), ["sequence_id"])
    return out.select("key", "sequence_id", F.round("winning_rank", 6).alias("winning_rank"))


@query(
    "compacted_read",
    section="2.D3",
    doc="readCompacted=true: compacted snapshot up to a horizon, raw tail after it "
    "(CompactedTopicImpl.java) — union(latest-per-key ≤ horizon, all > horizon).",
    oracle=f"""
        {_ENV}
        SELECT key, sequence_id, partition, "offset" FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                         ORDER BY partition DESC, "offset" DESC) AS rn
            FROM envelope WHERE "offset" <= 500
        ) WHERE rn = 1
        UNION ALL
        SELECT key, sequence_id, partition, "offset"
        FROM envelope WHERE "offset" > 500
    """,
)
def compacted_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cached_envelope(spark, sf_dir)
    horizon = 500
    cols = ["key", "sequence_id", "partition", "offset"]
    # scalar projection first (r16) — struct-max path, see tableview_latest
    env = env.select("key", "partition", "offset", "sequence_id")
    snapshot = latest_per_key(env.filter(F.col("offset") <= horizon))
    tail = env.filter(F.col("offset") > horizon)
    return snapshot.select(*cols).unionByName(tail.select(*cols))
