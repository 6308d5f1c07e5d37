"""Topic storage: a topic is a partitioned directory of parquet segments
plus a JSON manifest (SURVEY §1, §3.1).

Reference mapping:
  - Topic / partition: persistent://tenant/ns/topic with N independent
    sub-logs (PersistentTopic.java:523 — publish appends to a managed ledger).
    Here: ``<root>/<topic>/partition=<p>/seg-<start>-<count>-<id>/``.
  - Ledger (BookKeeper segment, rolled and trimmed,
    ManagedLedgerImpl.java:1794,2598): one segment, a directory of parquet
    files. Retention / trim = dropping segments from the manifest then
    deleting their directories.
  - BrokerEntryMetadata.index (PulsarApi.proto:191): the monotonic
    per-partition ``offset`` column, stored in every segment. One commit
    function, ``_commit_segments``, assigns it from the manifest's
    per-partition high-water mark, as the broker's single append path does
    (AppendIndexMetadataInterceptor). ``append`` is the one writer; a
    stream writes through it from ``foreachBatch``.
  - Transaction buffer visibility (TopicTransactionBuffer.java:258):
    segments are staged FIRST, then the manifest is atomically replaced
    (write-temp + os.replace) — a reader never sees a half-appended batch.
    A ``batch_token`` recorded in the same replace makes a replayed commit
    a no-op, which is exactly-once for ``foreachBatch`` appends.
  - Message dedup (MessageDeduplication.java:325): append() drops rows whose
    (producer_name, sequence_id) is ≤ the stored per-producer high-water
    mark, then advances the marks in the same manifest commit.

Reads: ``read_topic`` is the one batch read (offset bounds, markers on
request) and ``read_topic_compacted`` the compacted read; the ``pulsarlike``
stream source (sources/pulsarlike.py) reads the same segments as a stream.

Scale posture: the manifest holds only segment-level metadata (start/count
per segment + per-producer seq marks), never row data — listing stays O(#segments).
Readers prune segments by offset range before touching parquet, and parquet
row-group stats prune inside. On a real deployment root can be an object
store path; atomic-rename becomes a conditional-put of the manifest object.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType
from pyspark.sql.window import Window as W

from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA, conform_envelope

MANIFEST = "manifest.json"


def lookup_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A small driver-side frame (offset bounds, constant tables, the rows a
    query collected) built from a pyarrow table, which Spark plans as a
    ``LocalRelation`` scanned in the JVM. ``createDataFrame`` of
    a Python list instead plans a ``PythonRDD``: every evaluation runs one
    Python-worker task per slice, each with a fixed cost (about 0.05 CPU-s
    on a 4-CPU host, see ``worker_daemon``) far above the cost of its few
    rows.

    ``rows`` (tuples or collected ``Row``s, possibly none) are read as
    ``createDataFrame`` reads them: ``schema.toInternal`` turns a naive
    datetime, which is what ``collect()`` returns, into an instant in the
    process's local time zone before pyarrow sees it. A struct column with a
    non-nullable timestamp field is not supported: Spark's arrow conversion
    cannot cast to it."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, schema.toInternal(r))) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table)


def marker_frame(
    spark: SparkSession,
    key: str,
    value: bytes | None,
    properties: dict,
    producer_name: str,
    marker_type: int,
) -> DataFrame:
    """One broker-internal marker row (txn commit/abort, replicated-
    subscription snapshot; §2.C3), published now to partition 0, as a
    ``lookup_frame``: the envelope minus ``offset``, ready for ``append``."""
    import datetime as _dt

    row = (
        key, value, properties, _dt.datetime.now(_dt.timezone.utc),
        producer_name, 0, marker_type, 0,
    )
    return lookup_frame(
        spark,
        [row],
        "key string, value binary, properties map<string,string>, "
        "publish_time timestamp, producer_name string, sequence_id long, "
        "marker_type int, partition int",
    )


def _manifest_path(topic_path: str) -> str:
    return os.path.join(topic_path, MANIFEST)


def read_manifest(topic_path: str) -> dict:
    with open(_manifest_path(topic_path)) as f:
        return json.load(f)


def _write_json_atomic(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # readers see the old or the new file, never half
    except BaseException:
        # a raised fault leaves no temp file; a killed writer's stays
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def _write_manifest_atomic(topic_path: str, manifest: dict) -> None:
    _write_json_atomic(_manifest_path(topic_path), manifest)  # commit point


class ShadowTopicError(RuntimeError):
    """Produce to a shadow topic (shadow topics are read-only replicas:
    PersistentTopic.java:332-335 — a topic backed by ShadowManagedLedgerImpl
    points at its shadow source's ledgers and cannot be published to)."""


def resolve_data_topic(topic_path: str) -> str:
    """Follow a shadow topic's source pointer to the topic that owns the
    ledgers (ShadowManagedLedgerImpl reads the SOURCE managed ledger's
    metadata; the shadow has its own subscriptions but no data of its own).
    Non-shadow topics resolve to themselves."""
    seen = set()
    while True:
        src = read_manifest(topic_path).get("shadow_source")
        if not src:
            return topic_path
        if src in seen:
            raise ValueError(f"shadow source cycle at {src}")
        seen.add(src)
        topic_path = src


def create_shadow_topic(root: str, name: str, source_topic_path: str) -> str:
    """Shadow topic (PIP-180; PersistentTopic.java:332-335,
    ShadowManagedLedgerImpl): a read-only replica sharing the SOURCE
    topic's ledgers — readers see the source's segments live (the shadow
    follows source growth because every scan re-reads the source manifest),
    subscriptions/cursors are the shadow's own, and produce is rejected
    (``_commit_segments`` raises ShadowTopicError)."""
    src_manifest = read_manifest(source_topic_path)  # validates the source
    topic_path = os.path.join(root, name)
    os.makedirs(topic_path, exist_ok=True)
    _write_manifest_atomic(
        topic_path,
        {
            "name": name,
            "n_partitions": src_manifest["n_partitions"],
            "shadow_source": os.path.abspath(source_topic_path),
        },
    )
    return topic_path


def _seg_path(topic_path: str, p: str, s: dict) -> str:
    """Physical location of a segment: offloaded segments live in the
    tiered-storage base recorded at offload time, local ones under the
    topic's partition dir."""
    return s.get("offload_path") or os.path.join(
        topic_path, f"partition={p}", s["path"]
    )


def create_topic(root: str, name: str, n_partitions: int = 4) -> str:
    topic_path = os.path.join(root, name)
    os.makedirs(topic_path, exist_ok=True)
    for p in range(n_partitions):
        os.makedirs(os.path.join(topic_path, f"partition={p}"), exist_ok=True)
    _write_manifest_atomic(
        topic_path,
        {
            "name": name,
            "n_partitions": n_partitions,
            "segments": {str(p): [] for p in range(n_partitions)},
            # per-producer dedup high-water marks (MessageDeduplication analogue)
            "producer_seq": {},
            "compaction_horizon": {str(p): -1 for p in range(n_partitions)},
            # persisted per-partition high-water mark: offsets never regress
            # even if retention trims every live segment (the reference never
            # reuses positions after internalTrimLedgers)
            "next_offset": {str(p): 0 for p in range(n_partitions)},
        },
    )
    return topic_path


class TopicTerminatedError(RuntimeError):
    """Publish to a terminated topic (the reference's
    TopicTerminatedException, raised broker-side once `pulsar-admin topics
    terminate` seals the log — PersistentTopic.terminate)."""


def terminate(topic_path: str) -> dict[int, int]:
    """Seal the topic (`pulsar-admin topics terminate`;
    PersistentTopic.terminate, pulsar-broker/.../persistent/
    PersistentTopic.java — publishes are rejected from the recorded position
    on, consumers drain to the end then observe hasReachedEndOfTopic).
    Records the terminal end offsets in the manifest under the writer lock;
    returns them (the reference returns the last MessageId)."""
    with _topic_write_lock(topic_path):
        manifest = read_manifest(topic_path)
        if "terminated_at" not in manifest:
            manifest["terminated_at"] = {
                str(p): e for p, e in end_offsets(manifest).items()
            }
            _write_manifest_atomic(topic_path, manifest)
        return {int(p): e for p, e in manifest["terminated_at"].items()}


def is_terminated(topic_path: str) -> bool:
    return "terminated_at" in read_manifest(topic_path)


def has_reached_end_of_topic(topic_path: str, cursor: dict[int, int]) -> bool:
    """Consumer.hasReachedEndOfTopic (pulsar-client-api/.../api/
    Consumer.java): true iff the topic is terminated AND the cursor has
    consumed every offset up to the terminal position."""
    manifest = read_manifest(topic_path)
    term = manifest.get("terminated_at")
    if term is None:
        return False
    return all(int(cursor.get(int(p), 0)) >= e for p, e in term.items())


def gc_inactive_topics(
    root: str,
    max_inactive_seconds: float,
    mode: str = "delete_when_no_subscriptions",
    now: float | None = None,
) -> list[str]:
    """Inactive-topic garbage collection (PersistentTopic.checkGC +
    InactiveTopicPolicies — pulsar-broker/.../service/persistent/
    PersistentTopic.java, ServiceConfiguration.brokerDeleteInactiveTopics*;
    behaviors pinned by InactiveTopicDeleteTest/TopicGCTest): a topic whose
    manifest hasn't moved within the window is deleted when

    - ``delete_when_no_subscriptions``: it has NO durable subscriptions, or
    - ``delete_when_subscriptions_caught_up``: every durable subscription's
      cursor has consumed to the end of every partition (no backlog).

    The activity stamp is the manifest's mtime — every append/stream-commit
    atomically rewrites it, exactly when the reference touches the managed
    ledger. Control-plane only (O(#topics) metadata); returns the deleted
    topic names. ``now`` is injectable for deterministic tests.

    Durable subscriptions are the topic's cursors
    (``subscriptions.acked_positions``), a stream's named ``subscription``
    among them, so a topic whose only consumer is such a stream is not
    collected as unsubscribed."""
    import time as _time

    from pulsar_3_2_codedump_spark.subscriptions import acked_positions

    if mode not in ("delete_when_no_subscriptions", "delete_when_subscriptions_caught_up"):
        raise ValueError(f"unknown GC mode: {mode}")
    t = _time.time() if now is None else now
    deleted = []
    for name in sorted(os.listdir(root)):
        tp = os.path.join(root, name)
        mf = _manifest_path(tp)
        if not os.path.isfile(mf):
            continue
        if t - os.path.getmtime(mf) <= max_inactive_seconds:
            continue
        # The delete races concurrent appends/stream-commits: a writer that
        # passed its own checks could land between our mtime check and the
        # rmtree (the reference's checkGC only collects topics with no
        # connected producers). Take the topic writer lock and re-verify
        # EVERYTHING under it — the mtime re-read catches a commit that
        # just finished, the lock excludes one in flight.
        with _topic_write_lock(tp):
            if not os.path.isfile(mf):
                continue
            if t - os.path.getmtime(mf) <= max_inactive_seconds:
                continue
            cursors = acked_positions(tp)
            if mode == "delete_when_no_subscriptions":
                collectible = not cursors
            else:
                ends = end_offsets(read_manifest(tp))
                collectible = all(
                    pos.get(p, 0) >= e for pos in cursors.values() for p, e in ends.items()
                )
            if collectible:
                shutil.rmtree(tp)
                deleted.append(name)
    return deleted


def end_offsets(manifest: dict) -> dict[int, int]:
    """Exclusive end offset per partition (== next offset to assign).

    max(live-segment end, persisted next_offset) so a full retention trim of
    a partition cannot reset the high-water mark and reissue offsets."""
    nxt = manifest.get("next_offset", {})
    out = {}
    # shadow manifests own no segments (their source does)
    for p, segs in manifest.get("segments", {}).items():
        live = max((s["start"] + s["count"] for s in segs), default=0)
        out[int(p)] = max(live, int(nxt.get(p, 0)))
    return out




def _topic_write_lock(topic_path: str):
    """Serialize manifest read-modify-write across concurrent writers.

    The reference serializes appends through the owning broker
    (PersistentTopic single-threaded per-partition publish path); with a
    shared filesystem the equivalent is an exclusive flock over the topic's
    commit section. Held for the whole append (including the staging write)
    — writer-writer serialization only; READERS never take it (they see the
    old or the new manifest, both consistent, thanks to the atomic replace).
    On object storage, replace with a conditional-put (ETag/If-Match) CAS
    loop on the manifest object — same protocol, no lock server needed."""
    import fcntl

    @contextlib.contextmanager
    def _lock():
        fd = os.open(os.path.join(topic_path, ".writer.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    return _lock()


def append(
    spark: SparkSession,
    df: DataFrame,
    topic_path: str,
    dedup: bool = True,
    batch_token: str | None = None,
    validate_schema: bool = False,
) -> dict[int, int]:
    """Concurrency-safe producer append: takes the topic writer lock
    (``_topic_write_lock``) then runs the route → offset-assign → stage →
    atomic-manifest-commit pipeline. Without the lock two concurrent
    appends race on the manifest read-modify-write and the loser's segments
    vanish from the listing (the data files survive but are unreachable).

    ``validate_schema=True`` is AUTO_PRODUCE (AutoProduceBytesSchema.java):
    every payload must decode under the topic's latest registered schema or
    the whole append is rejected with SchemaIncompatibleError — run OUTSIDE
    the writer lock (it's a read-only scan of the incoming batch)."""
    if validate_schema:
        from pulsar_3_2_codedump_spark.schema_registry import validate_payloads

        validate_payloads(spark, df, topic_path)
    with _topic_write_lock(topic_path):
        return _append_unlocked(spark, df, topic_path, dedup, batch_token)


def _append_unlocked(
    spark: SparkSession,
    df: DataFrame,
    topic_path: str,
    dedup: bool = True,
    batch_token: str | None = None,
) -> dict[int, int]:
    """Append envelope rows to the topic: route → dedup → number rows from
    the partition ends → stage, then ``_commit_segments``. Returns new end
    offsets.

    One plan, one action: the producer marks and the partition ends, read
    under the writer lock, enter the plan as map literals (no join, no
    broadcast); the plan dedups topic-wide, numbers rows per partition and
    writes the staged files; the commit's counts, publish-time bounds and
    producer marks are read back from those files (``_staged_stats``).

    ``df`` must carry the envelope columns except offset (which is assigned
    here); ``partition`` may be pre-set or is derived from the key hash.

    ``batch_token``: caller-supplied idempotency token recorded in the SAME
    atomic manifest commit as the segments. A replayed append with an
    already-committed token is a no-op. This closes the foreachBatch
    exactly-once hole (foreachBatch is at-least-once: a crash after append
    but before the streaming checkpoint commit replays the micro-batch —
    reference semantics TopicTransactionBuffer.java:258 all-or-nothing).
    Tokens must be stable across replays of the same logical batch (e.g.
    ``checkpoint_writer_id(checkpoint)`` + batch_id) and unique across
    logical writes to this topic.
    """

    def stage(manifest: dict, ends: dict[int, int], stage_dir: str):
        n_part = manifest["n_partitions"]
        # external sources can hand near-miss types (TIMESTAMP_NTZ
        # publish_time from a mapped date column, int sequence ids);
        # canonicalize before any arithmetic
        rows = conform_envelope(df)
        route = F.pmod(F.xxhash64(F.col("key")), F.lit(n_part)).cast("int")
        if "partition" not in rows.columns:
            rows = rows.withColumn("partition", route)
        else:
            # rows copied from another topic may carry ITS partition
            # numbering; anything outside this topic's range re-routes by key
            # hash (the producer's router always targets the destination's
            # partitions, RoundRobinPartitionMessageRouterImpl.java:74-84)
            rows = rows.withColumn(
                "partition",
                F.when(F.col("partition").between(0, n_part - 1), F.col("partition")).otherwise(route),
            )
        if dedup and manifest["producer_seq"]:
            # a row with no mark (or no producer) passes
            hwm = _map_lookup(manifest["producer_seq"], "string", "producer_name")
            rows = rows.filter(hwm.isNull() | (F.col("sequence_id") > hwm))
        # also dedup inside the batch itself (a retry may land in the same batch)
        if dedup:
            rows = rows.dropDuplicates(["producer_name", "sequence_id"])

        # monotonic offsets: current end + dense rank of arrival within
        # partition; arrival order = publish_time (a real log is
        # publish-ordered — this is what makes seek-by-timestamp a prefix
        # search, PersistentMessageFinder.java:57)
        w = W.partitionBy("partition").orderBy("publish_time", "producer_name", "sequence_id")
        end = F.coalesce(_map_lookup(ends, "int", "partition"), F.lit(0).cast("long"))
        staged = rows.withColumn(
            "offset", F.row_number().over(w).cast("long") - 1 + end
        ).select(*[f.name for f in ENVELOPE_SCHEMA.fields])
        # the write is the plan's one action; the commit's stats come from
        # the files it left
        staged.write.mode("overwrite").partitionBy("partition").parquet(stage_dir)
        return _staged_stats(stage_dir)

    return _commit_segments(topic_path, stage, batch_token)


def _map_lookup(mapping: dict, key_type: str, key_col: str):
    """``mapping[key_col]`` as a column, NULL for a key not in the
    (non-empty) ``mapping`` or a NULL key. The map is a literal, so the
    lookup costs no join and no broadcast, whatever its size."""
    keys, vals = zip(*mapping.items())
    m = F.map_from_arrays(
        F.lit(list(keys)).cast(f"array<{key_type}>"),
        F.lit([int(v) for v in vals]).cast("array<bigint>"),
    )
    return F.element_at(m, F.col(key_col))


def _staged_stats(stage_dir: str):
    """What ``_commit_segments`` needs of a staged batch, read back from
    its files (three columns, no Spark job): ``{p: (count, min_pt,
    max_pt)}`` with publish-time bounds in unix micros (None when every
    ``publish_time`` is null), and ``{producer_name: max sequence_id}``
    without the null producer."""
    parts, tables = {}, []
    for name in sorted(os.listdir(stage_dir)):
        if not name.startswith("partition="):
            continue
        t = pq.read_table(
            os.path.join(stage_dir, name),
            columns=["publish_time", "producer_name", "sequence_id"],
        )
        pt = t.column("publish_time").cast(pa.timestamp("us")).cast(pa.int64())
        bounds = pc.min_max(pt)
        parts[int(name.split("=", 1)[1])] = (
            t.num_rows, bounds["min"].as_py(), bounds["max"].as_py()
        )
        tables.append(t.select(["producer_name", "sequence_id"]))
    marks = {}
    if tables:
        hwm = pa.concat_tables(tables).group_by("producer_name").aggregate(
            [("sequence_id", "max")]
        )
        marks = {
            prod: seq
            for prod, seq in zip(
                hwm.column("producer_name").to_pylist(),
                hwm.column("sequence_id_max").to_pylist(),
            )
            if prod is not None and seq is not None
        }
    return parts, marks


def _commit_segments(topic_path: str, stage, batch_token: str | None = None) -> dict[int, int]:
    """The one commit protocol for every write of new rows to a topic
    (``append``, and through it ``txn_commit`` and every ``foreachBatch``
    stream writer), as every Pulsar producer's entries pass through the
    broker's one append path. The caller holds the writer lock. Returns the
    new end offsets.

    ``stage(manifest, ends, stage_dir)`` gets the rows of one batch into
    ``<stage_dir>/partition=<p>/`` as parquet files that store the
    ``offset`` column, numbered densely from ``ends[p]``. It returns
    ``({p: (count, min_pt, max_pt)}, {producer_name: max sequence_id})``,
    with publish-time bounds in unix micros (None when unknown).

    This function alone does the rest: a batch whose ``batch_token`` is
    already committed is a no-op, a shadow or terminated topic rejects the
    batch, each staged partition moves into place as one segment, and one
    atomic manifest replace records the segments with their offset and time
    bounds (the index seek-by-timestamp prunes on,
    PersistentMessageFinder.java:57), ``next_offset``, the producer marks
    and the token. Segment names end in
    the stage id, so a retry after a crash between the move and the replace
    never lands on the orphan of the failed attempt."""
    manifest = read_manifest(topic_path)
    if batch_token is not None and batch_token in manifest.get("committed_batch_tokens", []):
        return end_offsets(manifest)  # a replay, even past termination: no-op
    if manifest.get("shadow_source"):
        raise ShadowTopicError(f"cannot publish to shadow topic {topic_path}")
    if "terminated_at" in manifest:
        raise TopicTerminatedError(
            f"topic {manifest['name']} is terminated at {manifest['terminated_at']}"
        )
    ends = end_offsets(manifest)
    stage_id = uuid.uuid4().hex[:12]
    stage_dir = os.path.join(topic_path, f"_staging_{stage_id}")
    try:
        parts, marks = stage(manifest, ends, stage_dir)
        for p, (count, min_pt, max_pt) in sorted(parts.items()):
            seg_name = f"seg-{ends[p]:020d}-{count}-{stage_id}"
            shutil.move(
                os.path.join(stage_dir, f"partition={p}"),
                os.path.join(topic_path, f"partition={p}", seg_name),
            )
            entry = {"start": int(ends[p]), "count": int(count), "path": seg_name}
            if min_pt is not None:
                entry["min_pt"], entry["max_pt"] = int(min_pt), int(max_pt)
            manifest["segments"][str(p)].append(entry)
        for prod, hwm in marks.items():
            prev = int(manifest["producer_seq"].get(prod, -1))
            manifest["producer_seq"][prod] = max(prev, int(hwm))
        if batch_token is not None:
            toks = manifest.setdefault("committed_batch_tokens", [])
            toks.append(batch_token)
            # bounded replay horizon: Structured Streaming replays at most
            # the last uncommitted batch per query; 512 tokens is orders of
            # magnitude beyond any concurrent-writer replay window
            del toks[:-512]
        new_ends = end_offsets(manifest)
        manifest["next_offset"] = {str(p): int(e) for p, e in new_ends.items()}
        _write_manifest_atomic(topic_path, manifest)  # the commit point
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    return new_ends


def checkpoint_writer_id(checkpoint: str) -> str:
    """A streaming writer's replay identity: a hash of its query's
    checkpoint location, which a restart keeps. The location is normalised
    first (no ``file:`` scheme, absolute, no trailing ``/``), so every
    spelling of one checkpoint names the same writer and a batch replayed
    under another spelling is still recognised by ``_commit_segments``."""
    if checkpoint.startswith("file:"):
        checkpoint = checkpoint[len("file:"):]
        if checkpoint.startswith("//"):  # file:///x is the local path /x
            checkpoint = "/" + checkpoint.lstrip("/")
    return hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:10]


def read_topic(
    spark: SparkSession,
    topic_path: str,
    start_offsets: dict[int, int] | None = None,
    end: dict[int, int] | None = None,
    read_markers: bool = False,
) -> DataFrame:
    """Batch scan of committed segments (the Reader, §2.A3): only segments
    overlapping [start, end) are listed — file-level pruning before parquet
    row-group pruning.

    Broker-internal marker rows (``marker_type`` non-null — txn commit/abort,
    replicated-subscription snapshots) are hidden from every consumer scan,
    exactly as ``AbstractBaseDispatcher.filterEntriesForConsumer`` strips them
    before dispatch (§2.C3). ``read_markers=True`` is the broker-internal
    reader posture. The predicate is pushed into the parquet scan, so marker
    row-groups prune for free."""
    topic_path = resolve_data_topic(topic_path)  # shadow → source ledgers
    manifest = read_manifest(topic_path)
    paths, off_paths = [], []
    for p, segs in manifest["segments"].items():
        lo = (start_offsets or {}).get(int(p), 0)
        hi = (end or {}).get(int(p))
        for s in segs:
            if s["start"] + s["count"] <= lo:
                continue
            if hi is not None and s["start"] >= hi:
                continue
            (off_paths if s.get("offload_path") else paths).append(
                _seg_path(topic_path, p, s)
            )
    if not paths and not off_paths:
        return lookup_frame(spark, [], ENVELOPE_SCHEMA)
    # offloaded segments read from the tiered base with its own basePath —
    # both tiers keep the partition=<p> hive layout so the partition column
    # materializes identically, and the two scans union (the reference's
    # transparent offloaded-ledger read path)
    tiers = [
        spark.read.schema(ENVELOPE_SCHEMA).option("basePath", base).parquet(*ps)
        for base, ps in ((topic_path, paths), (manifest.get("offload_base"), off_paths))
        if ps
    ]
    df = tiers[0] if len(tiers) == 1 else tiers[0].unionByName(tiers[1])
    if not read_markers:
        df = df.filter(F.col("marker_type").isNull())
    # per-partition bounds as map literals (``_map_lookup``): no join, no
    # broadcast; a partition with no bound is not filtered
    if start_offsets:
        lo = _map_lookup(start_offsets, "int", "partition")
        df = df.filter(lo.isNull() | (F.col("offset") >= lo))
    if end:
        hi = _map_lookup(end, "int", "partition")
        df = df.filter(hi.isNull() | (F.col("offset") < hi))
    return df


def offload_segments(
    topic_path: str, offload_root: str, below: dict[int, int]
) -> int:
    """Tiered-storage offload (§2.A11; `pulsar-admin topics offload`;
    ManagedLedgerImpl offload path + LedgerOffloader: cold whole ledgers
    move to object storage, reads stay transparent, the local copy is
    deleted only after the offload is durably recorded). Segments wholly
    below the per-partition ``below`` offset move to
    ``<offload_root>/<topic>/partition=<p>/`` with the copy → commit →
    delete-local ordering: a crash before the manifest commit leaves the
    local copy authoritative, a crash after it leaves the (already durable)
    tiered copy authoritative — readers never see a missing segment.
    Idempotent; returns the number of segments offloaded. Reads resolve
    through ``_seg_path`` (batch, streaming, seek, stats — all tiers
    transparent); retention trims offloaded segments from the tiered base.
    On a real object store the copytree becomes a multipart upload and the
    same manifest commit point applies."""
    with _topic_write_lock(topic_path):
        manifest = read_manifest(topic_path)
        if manifest.get("shadow_source"):
            raise ShadowTopicError("shadow topics own no ledgers to offload")
        base = os.path.abspath(os.path.join(offload_root, manifest["name"]))
        prior = manifest.get("offload_base")
        if prior is not None and prior != base:
            raise ValueError(f"topic already offloads to {prior}")
        moved, local_copies = 0, []
        for p, segs in manifest["segments"].items():
            for s in segs:
                if s.get("offload_path"):
                    continue  # already offloaded (idempotence)
                if s["start"] + s["count"] > below.get(int(p), 0):
                    continue
                src = os.path.join(topic_path, f"partition={p}", s["path"])
                dst = os.path.join(base, f"partition={p}", s["path"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if not os.path.exists(dst):  # copy, don't move — see ordering
                    shutil.copytree(src, dst)
                s["offload_path"] = dst
                local_copies.append(src)
                moved += 1
        if moved:
            manifest["offload_base"] = base
            _write_manifest_atomic(topic_path, manifest)  # the commit point
            for src in local_copies:  # deletion lag = immediate here
                shutil.rmtree(src, ignore_errors=True)
    return moved


def trim_retention(spark: SparkSession, topic_path: str, min_offset: dict[int, int]) -> int:
    """Retention trim (§2.F4, internalTrimLedgers): drop whole segments fully
    below the per-partition min retained offset. Returns #segments dropped.
    Takes the topic writer lock — trims race producer appends otherwise."""
    with _topic_write_lock(topic_path):
        return _trim_unlocked(topic_path, min_offset)


def _trim_unlocked(topic_path, min_offset) -> int:
    manifest = read_manifest(topic_path)
    # persist the high-water mark BEFORE dropping segments so offsets never
    # regress even when a partition's every segment is trimmed (§ADVICE r1)
    ends = end_offsets(manifest)
    manifest["next_offset"] = {str(p): int(e) for p, e in ends.items()}
    to_delete: list[str] = []
    for p, segs in manifest["segments"].items():
        keep = []
        for s in segs:
            if s["start"] + s["count"] <= min_offset.get(int(p), 0):
                # offloaded segments trim from the tiered base (retention
                # applies across tiers, ManagedLedgerImpl.internalTrimLedgers
                # deletes offloaded ledgers through the offloader)
                to_delete.append(_seg_path(topic_path, p, s))
            else:
                keep.append(s)
        manifest["segments"][p] = keep
    _write_manifest_atomic(topic_path, manifest)  # commit point, then delete
    for path in to_delete:
        shutil.rmtree(path, ignore_errors=True)
    return len(to_delete)


def compact_topic(spark: SparkSession, topic_path: str, tombstone=None) -> dict[int, int]:
    """Background compaction job (§2.D1, TwoPhaseCompactor.java:62): rewrite
    the log ≤ the current end into a compacted snapshot holding only each
    key's latest entry (tombstones dropped), and record the horizon.

    The reference's two phases (scan → build latestForKey map → rewrite) are
    one declarative plan: ``operators.compaction.compact`` (latest per key,
    tombstones dropped) + write. ``read_topic_compacted`` reads
    union(snapshot, tail > horizon). Returns the compaction horizon per
    partition.
    """
    # imported here: the module registers its queries when first imported
    from pulsar_3_2_codedump_spark.operators import compaction

    manifest = read_manifest(topic_path)
    horizon = end_offsets(manifest)
    latest = compaction.compact(read_topic(spark, topic_path, end=horizon), tombstone)

    # a snapshot directory of its own, recorded with its horizon in one
    # manifest commit: a failed compaction leaves the previous view intact
    snap_rel = f"compacted-{uuid.uuid4().hex[:12]}"
    snap_dir = os.path.join(topic_path, snap_rel)
    try:
        latest.write.parquet(snap_dir)
        # re-read under the writer lock: an append that landed while the
        # snapshot job ran must not be clobbered by our stale manifest copy
        with _topic_write_lock(topic_path):
            manifest = read_manifest(topic_path)
            prev = manifest.get("compacted_path")
            manifest["compaction_horizon"] = {str(p): int(e) for p, e in horizon.items()}
            manifest["compacted_path"] = snap_rel
            _write_manifest_atomic(topic_path, manifest)  # commit point
    except BaseException:
        shutil.rmtree(snap_dir, ignore_errors=True)
        raise
    if prev:
        shutil.rmtree(os.path.join(topic_path, prev), ignore_errors=True)
    return horizon


def read_topic_compacted(spark: SparkSession, topic_path: str) -> DataFrame:
    """readCompacted=true (§2.D3, CompactedTopicImpl.java): compacted snapshot
    for the log ≤ horizon, raw tail after it. A shadow topic reads its
    source's snapshot, as it reads the source's segments."""
    topic_path = resolve_data_topic(topic_path)
    manifest = read_manifest(topic_path)
    horizon = {int(p): int(e) for p, e in manifest.get("compaction_horizon", {}).items()}
    snap_rel = manifest.get("compacted_path")
    tail = read_topic(spark, topic_path, start_offsets=horizon or None)
    if not snap_rel:
        return tail
    snap = spark.read.schema(ENVELOPE_SCHEMA).parquet(os.path.join(topic_path, snap_rel))
    return snap.unionByName(tail)


def discover_topics(root: str, pattern: str = ".*") -> list[str]:
    """Regex topic discovery (§2.A5, PatternMultiTopicsConsumerImpl): topics
    under a namespace root whose name matches the pattern."""
    import re

    out = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        if os.path.exists(os.path.join(root, name, MANIFEST)) and re.fullmatch(pattern, name):
            out.append(os.path.join(root, name))
    return out


def read_topics(spark: SparkSession, root: str, pattern: str = ".*") -> DataFrame:
    """Multi-topic scan: unionByName over every matched topic, with a topic
    column (MultiTopicsConsumerImpl semantics)."""
    paths = discover_topics(root, pattern)
    if not paths:
        return lookup_frame(spark, [], ENVELOPE_SCHEMA).withColumn("topic", F.lit(None).cast("string"))
    dfs = [read_topic(spark, p).withColumn("topic", F.lit(os.path.basename(p))) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def merge_small_segments(
    spark: SparkSession, topic_path: str, target_rows: int = 100_000
) -> int:
    """Background segment merge — the ledger-roll/small-file compactor
    (ManagedLedgerImpl.rollCurrentLedgerIfFull:1794 rolls ledgers at a size
    target; high-frequency micro-batch appends produce the inverse problem,
    many small segments, which at 100 TB wrecks scan planning and footer
    overhead).

    Greedily coalesces ADJACENT segments per partition into runs of up to
    ``target_rows``, rewrites each run as one segment (offsets are stored in
    the rows, so the merged file is just their concatenation), and commits
    the manifest atomically. Readers are unaffected mid-merge: they hold the
    old manifest and old files are deleted only after the commit point.
    Holds the topic writer lock for the pass (background maintenance, like
    the reference's ledger roll) so appends serialize behind it.
    Returns the number of segments eliminated.
    """
    with _topic_write_lock(topic_path):
        return _merge_unlocked(spark, topic_path, target_rows)


def _merge_unlocked(spark, topic_path, target_rows) -> int:
    manifest = read_manifest(topic_path)
    eliminated = 0
    to_delete: list[str] = []
    for p, segs in manifest["segments"].items():
        segs = sorted(segs, key=lambda s: s["start"])
        runs: list[list[dict]] = []
        cur: list[dict] = []
        cur_rows = 0
        for s in segs:
            if s.get("offload_path"):
                # offloaded segments stay in the tiered store as-is: the
                # merge only compacts the local (hot) tier
                if cur:
                    runs.append(cur)
                    cur, cur_rows = [], 0
                runs.append([s])
                continue
            if cur and cur_rows + s["count"] > target_rows:
                runs.append(cur)
                cur, cur_rows = [], 0
            cur.append(s)
            cur_rows += s["count"]
        if cur:
            runs.append(cur)
        new_segs = []
        for run in runs:
            if len(run) == 1:
                new_segs.append(run[0])
                continue
            start = run[0]["start"]
            count = sum(s["count"] for s in run)
            paths = [os.path.join(topic_path, f"partition={p}", s["path"]) for s in run]
            # drop partition before writing — segment data files never store
            # it, the partition=<p> directory supplies it at read
            merged = (
                spark.read.schema(ENVELOPE_SCHEMA)
                .option("basePath", topic_path)
                .parquet(*paths)
                .drop("partition")
            )
            merge_id = uuid.uuid4().hex[:12]
            # a unique name, like every segment's (see _commit_segments)
            seg_name = f"seg-{start:020d}-{count}-merged-{merge_id}"
            tmp = os.path.join(topic_path, f"partition={p}", f"_merge_{merge_id}")
            # keep row order = offset order inside the merged segment
            merged.repartition(1).sortWithinPartitions("offset").write.mode(
                "overwrite"
            ).parquet(tmp)
            os.replace(tmp, os.path.join(topic_path, f"partition={p}", seg_name))
            entry = {"start": int(start), "count": int(count), "path": seg_name}
            bounds = [(s.get("min_pt"), s.get("max_pt")) for s in run]
            if all(lo is not None and hi is not None for lo, hi in bounds):
                entry["min_pt"] = min(lo for lo, _ in bounds)
                entry["max_pt"] = max(hi for _, hi in bounds)
            new_segs.append(entry)
            to_delete.extend(paths)
            eliminated += len(run) - 1
        manifest["segments"][p] = new_segs
    _write_manifest_atomic(topic_path, manifest)  # commit point
    for path in to_delete:
        shutil.rmtree(path, ignore_errors=True)
    return eliminated


# ---------------------------------------------------------------------------
# Transactional producer surface (§2.K — TransactionCoordinator +
# TopicTransactionBuffer). Staged data lives OUTSIDE the manifest until the
# commit point, so readers never see an open transaction; the commit/abort
# outcome is additionally recorded as a TXN marker row in the log
# (PulsarMarkers.proto TxnCommitMarker; filtered from consumers per §2.C3).
# ---------------------------------------------------------------------------


def txn_begin(topic_path: str) -> str:
    """NEW_TXN (PulsarApi.proto:1026, TransactionCoordinator): returns the
    txn id; staged data goes under ``_txn_<id>/`` — invisible to every
    reader because visibility is manifest-membership (TopicTransactionBuffer
    .java:258 all-or-nothing)."""
    txn_id = uuid.uuid4().hex[:16]
    os.makedirs(os.path.join(topic_path, f"_txn_{txn_id}"), exist_ok=True)
    return txn_id


def txn_append(spark: SparkSession, df: DataFrame, topic_path: str, txn_id: str) -> None:
    """Produce into an open transaction: rows accumulate in the txn staging
    dir (the transaction buffer), NOT in the manifest."""
    stage = os.path.join(topic_path, f"_txn_{txn_id}")
    if not os.path.isdir(stage):
        raise ValueError(f"unknown or closed txn {txn_id}")
    out = conform_envelope(df)
    if "offset" in out.columns:
        out = out.drop("offset")
    out.write.mode("append").parquet(os.path.join(stage, f"chunk_{uuid.uuid4().hex[:8]}"))


def _txn_marker(spark: SparkSession, txn_id: str, marker_type: int) -> DataFrame:
    return marker_frame(
        spark, f"__txn:{txn_id}", None, {"txn_id": txn_id}, "__txn_coordinator", marker_type
    )


def txn_commit(spark: SparkSession, topic_path: str, txn_id: str) -> dict[int, int]:
    """END_TXN commit (PulsarApi.proto:1043; TopicTransactionBuffer.java:301):
    move the buffered rows into the log with ONE atomic manifest commit
    (idempotent under replay via batch_token=txn id), then record the
    TXN_COMMIT marker. Readers flip from seeing none of the txn's rows to
    all of them at the manifest swap — nothing in between."""
    from pulsar_3_2_codedump_spark.envelope import MARKER_TXN_COMMIT

    stage = os.path.join(topic_path, f"_txn_{txn_id}")
    data_token, marker_token = f"txn:{txn_id}", f"txnmarker:{txn_id}"
    if not os.path.isdir(stage):
        # coordinator retry AFTER the buffer sweep: if this txn's commit is
        # recorded, the whole call is an idempotent no-op (the marker append
        # below is token-guarded too); an unknown txn is still an error
        toks = read_manifest(topic_path).get("committed_batch_tokens", [])
        if data_token not in toks and marker_token not in toks:
            raise ValueError(f"unknown or closed txn {txn_id}")
        append(
            spark, _txn_marker(spark, txn_id, MARKER_TXN_COMMIT), topic_path,
            dedup=False, batch_token=marker_token,
        )
        return end_offsets(read_manifest(topic_path))
    chunks = [os.path.join(stage, c) for c in sorted(os.listdir(stage))]
    if chunks:
        buffered = spark.read.parquet(*chunks)
        ends = append(spark, buffered, topic_path, dedup=False, batch_token=data_token)
    else:
        ends = end_offsets(read_manifest(topic_path))
    # marker is token-guarded so a replayed commit cannot record it twice
    append(
        spark, _txn_marker(spark, txn_id, MARKER_TXN_COMMIT), topic_path,
        dedup=False, batch_token=marker_token,
    )
    shutil.rmtree(stage, ignore_errors=True)
    return ends


def txn_abort(spark: SparkSession, topic_path: str, txn_id: str) -> None:
    """END_TXN abort (TopicTransactionBuffer.java:343 discard): drop the
    buffer, record the TXN_ABORT marker; the log never shows the rows.

    Idempotent under coordinator replay, mirroring txn_commit: the marker
    append is batch_token-guarded so a replayed abort records exactly one
    marker; aborting a txn that was already COMMITTED, or one this topic has
    never seen, raises (TransactionCoordinator rejects END_TXN with a
    mismatched TxnAction — TransactionMetadataStoreService checks the txn
    status before writing the end marker)."""
    from pulsar_3_2_codedump_spark.envelope import MARKER_TXN_ABORT

    stage = os.path.join(topic_path, f"_txn_{txn_id}")
    abort_token = f"txnabort:{txn_id}"
    if not os.path.isdir(stage):
        toks = read_manifest(topic_path).get("committed_batch_tokens", [])
        if f"txn:{txn_id}" in toks or f"txnmarker:{txn_id}" in toks:
            raise ValueError(f"txn {txn_id} already committed; cannot abort")
        if abort_token not in toks:
            raise ValueError(f"unknown or closed txn {txn_id}")
        # replayed abort: the token-guarded append below is a no-op
    shutil.rmtree(stage, ignore_errors=True)
    append(
        spark, _txn_marker(spark, txn_id, MARKER_TXN_ABORT), topic_path,
        dedup=False, batch_token=abort_token,
    )


def topic_stats(topic_path: str) -> dict:
    """Admin stats surface (PersistentTopicsBase.getStats /
    TopicStatsImpl): per-partition message counts, segment counts, storage
    bytes, offset high-water marks, and per-subscription backlog — computed
    from the manifest + cursor files ONLY (pure metadata: no data file is
    opened, exactly like the broker serving stats from ledger metadata).
    Subscriptions are the topic's cursors
    (``subscriptions.acked_positions``); the backlog counts from each one's
    acked position. A shadow topic lists its own subscriptions over its
    source's segments."""
    from pulsar_3_2_codedump_spark.subscriptions import acked_positions

    topic_name = read_manifest(topic_path).get("name")
    data_path = resolve_data_topic(topic_path)
    manifest = read_manifest(data_path)
    ends = end_offsets(manifest)
    parts = {}
    for p, segs in manifest["segments"].items():
        size = 0
        for s in segs:
            sp = _seg_path(data_path, p, s)
            if os.path.isdir(sp):
                size += sum(
                    os.path.getsize(os.path.join(sp, f))
                    for f in os.listdir(sp)
                    if os.path.isfile(os.path.join(sp, f))
                )
        parts[str(p)] = {
            "n_segments": len(segs),
            "msg_count": sum(s["count"] for s in segs),
            "storage_bytes": size,
            "end_offset": int(ends[int(p)]),
        }
    subs = {
        name: {
            "position": {str(p): v for p, v in pos.items()},
            "backlog": sum(max(0, e - pos.get(p, 0)) for p, e in ends.items()),
        }
        for name, pos in acked_positions(topic_path).items()
    }
    return {
        "name": topic_name,
        "n_partitions": manifest["n_partitions"],
        "partitions": parts,
        "subscriptions": subs,
        "producers": {p: int(s) for p, s in manifest.get("producer_seq", {}).items()},
    }


# ---------------------------------------------------------------------------
# Producer access modes (PulsarApi.proto ProducerAccessMode; ServerCnx
# handleProducer exclusive-producer grant; ProducerFencedException semantics)


class ProducerFencedError(RuntimeError):
    """Raised when a producer's exclusive grant was superseded (the
    reference's ProducerFencedException: a newer epoch holds the topic)."""


def acquire_exclusive_producer(
    topic_path: str, producer_name: str, wait_for_exclusive: bool = False
) -> dict:
    """Grant exclusive publish access (ProducerAccessMode.Exclusive /
    WaitForExclusive, PulsarApi.proto; ServerCnx.java handleProducer):
    records {name, epoch} in the manifest under the writer lock. A second
    Exclusive acquisition while another producer holds the grant raises
    (the broker's ProducerBusy response) unless ``wait_for_exclusive`` — our
    batch analogue of WaitForExclusive STEALS the grant with a higher epoch,
    fencing the previous holder (re-acquire after release/failover).
    Returns the grant token to pass to ``append_exclusive``."""
    with _topic_write_lock(topic_path):
        m = read_manifest(topic_path)
        cur = m.get("exclusive_producer")
        if cur and cur["name"] != producer_name and not wait_for_exclusive:
            raise ProducerFencedError(
                f"topic held by exclusive producer {cur['name']} (epoch {cur['epoch']})"
            )
        # topic_epoch is MONOTONIC across grants and releases
        # (CommandProducerSuccess.topic_epoch semantics)
        epoch = m.get("topic_epoch", -1) + 1
        grant = {"name": producer_name, "epoch": epoch}
        m["exclusive_producer"] = grant
        m["topic_epoch"] = epoch
        _write_manifest_atomic(topic_path, m)
        return dict(grant)


def release_exclusive_producer(topic_path: str, grant: dict) -> None:
    """Release the grant (producer close). Stale epochs are ignored — the
    newer holder keeps the topic."""
    with _topic_write_lock(topic_path):
        m = read_manifest(topic_path)
        cur = m.get("exclusive_producer")
        if cur and cur["name"] == grant["name"] and cur["epoch"] == grant["epoch"]:
            del m["exclusive_producer"]
            _write_manifest_atomic(topic_path, m)


def append_exclusive(
    spark: SparkSession,
    df: DataFrame,
    topic_path: str,
    grant: dict,
    dedup: bool = True,
    batch_token: str | None = None,
) -> dict[int, int]:
    """Append that honors exclusive-producer fencing: validated against the
    manifest's current grant INSIDE the writer lock, so a fenced producer
    can never slip a write between the steal and its next append (the
    ordering the broker enforces by closing the old producer's connection)."""
    with _topic_write_lock(topic_path):
        cur = read_manifest(topic_path).get("exclusive_producer")
        if not cur or cur["name"] != grant["name"] or cur["epoch"] != grant["epoch"]:
            raise ProducerFencedError(
                f"producer {grant['name']} (epoch {grant['epoch']}) fenced; "
                f"current holder: {cur}"
            )
        return _append_unlocked(spark, df, topic_path, dedup, batch_token)
