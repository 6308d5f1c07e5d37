"""The ``pulsarlike`` data source — the one real custom engine component
(SURVEY §4 item 1, §7 M2).

A topic (partitioned parquet segment log + manifest, see topic.py) exposed to
Spark as a batch source, a streaming source with Kafka-style
``(partition → offset)`` offsets, and a streaming sink with atomic, idempotent
micro-batch commits.

Reference mapping:
  - Subscription = the streaming query's checkpoint: Structured Streaming
    persists the offset dict per micro-batch exactly like a durable cursor's
    markDeletePosition (ManagedCursorImpl.java:131); ``commit(end)`` is the
    cumulative ack (ServerCnx.handleAck:1860).
  - startingOffsets earliest|latest = SubscriptionInitialPosition.java:36-41.
  - startingOffsets timestamp:<iso> = seek-by-timestamp
    (PersistentMessageFinder.java:57): binary search per partition using
    segment bounds, then an exact scan inside the boundary segment.
  - maxRecordsPerTrigger = consumer flow control / receiver queue permits
    (ServerCnx.handleFlow:1910, receiverQueueSize=1000) — bounds how far
    latestOffset may advance per micro-batch.
  - Sink offset stamping: write tasks stage rows without offsets; the
    driver's commit stamps the ``offset`` column from the partition's end
    under the writer lock and commits through ``topic._commit_segments``,
    the one commit function every writer uses — how BrokerEntryMetadata.index
    is stamped broker-side at append (AppendIndexMetadataInterceptor.java),
    not producer-side. Every segment, whoever wrote it, is a directory of
    parquet files that store ``offset``, so readers have one shape to read.
  - Exactly-once: commit() is atomic (manifest replace) and idempotent (a
    replayed batchId's token ``stream:<sinkId>:<batchId>`` is already
    committed, so the commit is a no-op), the Spark-side equivalent of the
    transaction buffer's all-or-nothing visibility
    (TopicTransactionBuffer.java:258,301).

Scale posture: the batch and stream readers plan through one function,
``plan_tasks``. It splits each topic partition's offset range at segment
boundaries into chunks of at most ``maxRowsPerTask`` rows, so a large scan
fans out over many tasks that each open only their own files. It then packs
adjacent small ranges into one task until the task reaches ``PACK_ROWS`` (or
``maxRowsPerTask``, if lower). Every read task runs in a Python worker, whose
fixed cost does not depend on how few rows it reads: about 0.05 CPU-s on a
4-CPU host, now that ``worker_daemon`` keeps Spark's archives off the
workers' path (about 0.2 CPU-s before). So a live micro-batch of a few
hundred rows over eight partitions is one task, not eight. A range at or
above that size keeps its own task. Arrow batches cross the Python
boundary (no per-row serde); segment pruning happens before any file IO.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pulsar_3_2_codedump_spark import subscriptions as S, topic as T
from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA
from pulsar_3_2_codedump_spark.hashing import route_partition

FORMAT_NAME = "pulsarlike"

# a read task packs adjacent offset ranges until it holds this many rows
PACK_ROWS = 100_000
# default maxRowsPerTask: the most rows one task reads when segments allow
MAX_ROWS_PER_TASK = 5_000_000

# what a sink write task stages: the envelope minus offset (stamped at
# commit) and partition (the segment's directory)
_STAGE_SCHEMA = to_arrow_schema(
    StructType([f for f in ENVELOPE_SCHEMA.fields if f.name not in ("offset", "partition")])
)


def _arrow_schema() -> pa.Schema:
    return to_arrow_schema(ENVELOPE_SCHEMA)


def _ends(manifest: dict) -> dict[str, int]:
    """``topic.end_offsets`` keyed by partition string, the key type of
    stream offsets."""
    return {str(p): e for p, e in T.end_offsets(manifest).items()}


def _segment_batches(
    topic_path: str, p: str, seg: dict, lo: int, hi: int
) -> list[pa.RecordBatch]:
    """Read one segment's rows in [lo, hi) — its stored offsets prune parquet
    row groups — and stamp the partition column."""
    table = pq.read_table(
        T._seg_path(topic_path, p, seg), filters=[("offset", ">=", lo), ("offset", "<", hi)]
    )
    if table.num_rows == 0:
        return []
    cols = []
    target = _arrow_schema()
    for field in target:
        if field.name == "partition":
            cols.append(pa.array([int(p)] * table.num_rows, type=pa.int32()))
        elif field.name in table.column_names:
            cols.append(table.column(field.name).cast(field.type).combine_chunks())
        else:
            cols.append(pa.nulls(table.num_rows, type=field.type))
    return pa.table(cols, schema=target).to_batches()


def _seek_offset_for_timestamp(topic_path: str, p: str, segs: list[dict], ts_us: int) -> int:
    """First offset with publish_time >= ts (PersistentMessageFinder.java:57,
    OpFindNewest.java binary search over ledger entries).

    Two-level search, mirroring the reference's ledger-metadata-then-entries
    structure: (1) prune on the manifest time index — every segment carries
    ``min_pt``/``max_pt`` publish-time bounds (unix micros) written in the
    same atomic commit as the segment (``topic._commit_segments``, for every
    writer) — so segments wholly before the target cost ZERO IO, and a
    segment wholly after resolves from metadata alone; (2) only the boundary
    segment (min_pt < ts <= max_pt) is opened, two stored columns only
    (``publish_time``, ``offset``), and searched vectorized with
    pyarrow.compute — no per-row Python, no driver-side scan of the
    partition. At 100 TB a timestamp seek touches one segment per
    partition."""
    target = pa.scalar(ts_us, type=pa.timestamp("us"))
    for seg in sorted(segs, key=lambda s: s["start"]):
        if seg.get("max_pt") is not None and int(seg["max_pt"]) < ts_us:
            continue  # wholly before the target — pruned, no IO
        if seg.get("min_pt") is not None and int(seg["min_pt"]) >= ts_us:
            return seg["start"]  # wholly at/after — first offset, no IO
        # boundary (or unindexed) segment: vectorized exact search
        tbl = pq.read_table(T._seg_path(topic_path, p, seg), columns=["publish_time", "offset"])
        if tbl.num_rows == 0:
            continue
        pts = tbl.column("publish_time").cast(pa.timestamp("us")).combine_chunks()
        offs = tbl.column("offset").cast(pa.int64()).combine_chunks()
        qual = offs.filter(pc.and_kleene(pc.is_valid(pts), pc.greater_equal(pts, target)))
        if len(qual):
            return pc.min(qual).as_py()
    return max((s["start"] + s["count"] for s in segs), default=0)


@dataclass
class RangePartition(InputPartition):
    partition: str
    lo: int
    hi: int


@dataclass
class PackedPartition(InputPartition):
    """Several small offset ranges read by one task, in order."""

    ranges: list[RangePartition]


@dataclass
class SnapshotPartition(InputPartition):
    """The compacted snapshot (readCompacted=true, §2.D3)."""

    rel_path: str


def _split_range(segs: list[dict], p: str, lo: int, hi: int, max_rows: int) -> list[RangePartition]:
    """Cut ``[lo, hi)`` of partition ``p`` into chunks of at most
    ``max_rows`` rows, aligned to segment boundaries so that every chunk
    opens only its own files (the reference's dispatcher reads per
    ledger-entry range the same way). Whole segments accumulate until the
    next one would pass the budget; a segment larger than the budget is a
    chunk on its own."""
    out = []
    chunk_lo, acc = lo, 0
    for seg in sorted(segs, key=lambda s: s["start"]):
        s_lo = max(seg["start"], lo)
        s_hi = min(seg["start"] + seg["count"], hi)
        if s_lo >= s_hi:
            continue
        if acc and acc + (s_hi - s_lo) > max_rows:
            out.append(RangePartition(p, chunk_lo, s_lo))
            chunk_lo, acc = s_lo, 0
        acc += s_hi - s_lo
    out.append(RangePartition(p, chunk_lo, hi))
    return out


def plan_tasks(
    manifest: dict, bounds: dict[str, tuple[int, int]], max_rows: int
) -> list[InputPartition]:
    """Read tasks for the offset ranges ``bounds`` (partition -> [lo, hi)):
    each range is split at ``max_rows`` (``_split_range``), then adjacent
    chunks, in partition order, are packed into one task until it would pass
    ``min(PACK_ROWS, max_rows)`` rows. A chunk already that large is a task
    on its own. The plan depends only on the bounds and on the segments
    inside them, so a replayed micro-batch plans the same tasks."""
    chunks = [
        c
        for p, (lo, hi) in sorted(bounds.items(), key=lambda kv: int(kv[0]))
        if lo < hi
        for c in _split_range(manifest["segments"].get(p, []), p, lo, hi, max_rows)
    ]
    cap = min(PACK_ROWS, max_rows)
    tasks: list[list[RangePartition]] = []
    acc = 0
    for c in chunks:
        if not tasks or acc + (c.hi - c.lo) > cap:
            tasks.append([])
            acc = 0
        tasks[-1].append(c)
        acc += c.hi - c.lo
    return [t[0] if len(t) == 1 else PackedPartition(t) for t in tasks]


class _SegmentScanMixin:
    """Shared read logic: segment pruning + Arrow batch production."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pulsarlike requires option 'path' (topic directory)")
        # shadow topics (PIP-180, topic.create_shadow_topic) read the SOURCE
        # topic's ledgers; the shadow keeps its own subscriptions (here:
        # its own checkpoints) — only the data path re-points
        self.path = T.resolve_data_topic(self.path)
        self.options = options

    def _manifest(self) -> dict:
        return T.read_manifest(self.path)

    def _max_rows_per_task(self) -> int:
        return int(self.options.get("maxrowspertask", MAX_ROWS_PER_TASK))

    def _hide_markers(self, batches):
        """Strip broker-internal marker rows (marker_type non-null, §2.C3 —
        AbstractBaseDispatcher.filterEntriesForConsumer) unless the caller
        asked for the broker-internal view with readMarkers=true."""
        if (self.options.get("readmarkers") or "").lower() == "true":
            yield from batches
            return
        for b in batches:
            out = b.filter(pc.is_null(b.column(b.schema.get_field_index("marker_type"))))
            if out.num_rows:
                yield out

    def read(self, partition):
        manifest = self._manifest()
        if isinstance(partition, SnapshotPartition):
            target = _arrow_schema()
            snap = pq.read_table(os.path.join(self.path, partition.rel_path))
            for name in target.names:
                if name not in snap.column_names:
                    snap = snap.append_column(name, pa.nulls(snap.num_rows, type=target.field(name).type))
            tbl = snap.select(target.names).cast(target)
            # re-apply consumed pushed filters (offset range / partition
            # equality) — the snapshot is NOT offset-pruned at listing time,
            # and Spark will not re-check filters we claimed in pushFilters
            lo = getattr(self, "_lo", 0)
            hi = getattr(self, "_hi", None)
            only = getattr(self, "_only_partition", None)
            if lo:
                tbl = tbl.filter(pc.greater_equal(tbl.column("offset"), lo))
            if hi is not None:
                tbl = tbl.filter(pc.less(tbl.column("offset"), hi))
            if only is not None:
                tbl = tbl.filter(pc.equal(tbl.column("partition"), only))
            yield from self._hide_markers(tbl.to_batches())
            return
        ranges = partition.ranges if isinstance(partition, PackedPartition) else [partition]
        for r in ranges:
            for seg in sorted(manifest["segments"][r.partition], key=lambda s: s["start"]):
                if seg["start"] + seg["count"] <= r.lo or seg["start"] >= r.hi:
                    continue  # file-level pruning
                yield from self._hide_markers(
                    _segment_batches(self.path, r.partition, seg, r.lo, r.hi)
                )


class PulsarLikeBatchReader(_SegmentScanMixin, DataSourceReader):
    """Batch scan (Reader §2.A3): full log or offset-bounded via options;
    readCompacted=true → compacted snapshot ∪ tail past the horizon (§2.D3).

    Supports filter pushdown on ``offset`` ranges and ``partition`` equality —
    the EntryFilter-at-the-source analogue (§2.C1): pruning happens at
    segment-listing time, before any parquet IO."""

    def __init__(self, options):
        super().__init__(options)
        self._lo = 0
        self._hi: int | None = None
        self._only_partition: int | None = None

    def pushFilters(self, filters):
        unsupported: list[Filter] = []
        for f in filters:
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            if isinstance(f, GreaterThanOrEqual) and col == "offset":
                self._lo = max(self._lo, int(f.value))
            elif isinstance(f, GreaterThan) and col == "offset":
                self._lo = max(self._lo, int(f.value) + 1)
            elif isinstance(f, LessThan) and col == "offset":
                self._hi = min(self._hi, int(f.value)) if self._hi is not None else int(f.value)
            elif isinstance(f, LessThanOrEqual) and col == "offset":
                v = int(f.value) + 1
                self._hi = min(self._hi, v) if self._hi is not None else v
            elif isinstance(f, EqualTo) and col == "partition":
                self._only_partition = int(f.value)
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        manifest = self._manifest()
        ends = _ends(manifest)
        start: dict[str, int] = {}
        read_compacted = (self.options.get("readcompacted") or "").lower() == "true"
        parts: list[InputPartition] = []
        if read_compacted and manifest.get("compacted_path"):
            parts.append(SnapshotPartition(manifest["compacted_path"]))
            start = {p: int(e) for p, e in manifest.get("compaction_horizon", {}).items()}
        bounds = {
            p: (max(start.get(p, 0), self._lo), end if self._hi is None else min(end, self._hi))
            for p, end in ends.items()
            if self._only_partition is None or int(p) == self._only_partition
        }
        parts += plan_tasks(manifest, bounds, self._max_rows_per_task())
        if not parts:
            # Spark requires ≥1 partition; an empty range yields no rows
            parts.append(RangePartition(next(iter(ends), "0"), 0, 0))
        return parts


class PulsarLikeBatchWriter(DataSourceWriter):
    """Batch producer path (§2.A1): ``df.write.format("pulsarlike")`` —
    executors stage parquet per topic-partition, and the driver commits them
    through the same commit as the streaming sink, with no replay token:
    batch writes never replay."""

    def __init__(self, options, schema, overwrite: bool):
        if overwrite:
            raise ValueError("pulsarlike is an append-only log; overwrite unsupported")
        self._delegate = PulsarLikeStreamWriter(options, schema)

    def write(self, iterator):
        return self._delegate.write(iterator)

    def commit(self, messages):
        self._delegate._commit(messages, None)

    def abort(self, messages):
        self._delegate.abort(messages, -1)


class PulsarLikeStreamReader(_SegmentScanMixin, DataSourceStreamReader):
    """Streaming source with (partition → offset) offsets.

    initialOffset honors startingOffsets = earliest | latest |
    timestamp:<iso> | {"0": 123, ...}; latestOffset caps per-partition
    advance at maxRecordsPerTrigger (flow control, §2.J2). The cap counts
    from the end of the last planned batch. A fresh query starts from
    ``initialOffset``. A restarted query learns its checkpointed end from
    Spark itself: before the first ``latestOffset``, Spark re-plans the
    checkpoint's last batch through ``partitions(start, end)``, and
    ``partitions`` max-merges ``end`` into the reader's position.

    Option ``subscription`` names a durable cursor under the topic
    (``subscriptions.subscription_cursor_path``), the broker-side
    subscription state of the reference (PersistentSubscription +
    ManagedCursorImpl:131): ``latestOffset`` advances its read position and
    ``commit`` acks cumulatively. The read position never sets where a
    stream starts or where its cap counts from; Spark's checkpoint does, so
    a new checkpoint on an existing subscription starts at ``initialOffset``.
    """

    def __init__(self, options):
        super().__init__(options)
        sub = options.get("subscription")
        self._cursor = S.subscription_cursor_path(self.path, sub) if sub else None

    def initialOffset(self) -> dict:
        manifest = self._manifest()
        mode = (self.options.get("startingoffsets") or "earliest").strip()
        if mode == "earliest":
            return {p: 0 for p in manifest["segments"]}
        if mode == "latest":
            return _ends(manifest)
        if mode.startswith("timestamp:"):
            import datetime as _dt

            ts = _dt.datetime.fromisoformat(mode.split(":", 1)[1])
            ts_us = int(ts.timestamp() * 1e6) if ts.tzinfo else int(
                ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6
            )
            return {
                p: _seek_offset_for_timestamp(self.path, p, segs, ts_us)
                for p, segs in manifest["segments"].items()
            }
        return {str(k): int(v) for k, v in json.loads(mode).items()}

    def latestOffset(self) -> dict:
        manifest = self._manifest()
        ends = _ends(manifest)
        max_rec = self.options.get("maxrecordspertrigger")
        if max_rec:
            cap = int(max_rec)
            cur = getattr(self, "_last_end", None) or self.initialOffset()
            ends = {p: min(e, cur.get(p, 0) + cap) for p, e in ends.items()}
        self._last_end = ends
        if self._cursor:
            S.advance_read(self._cursor, ends)
        return ends

    def partitions(self, start: dict, end: dict):
        # on a restart this is the checkpointed batch: the cap resumes there
        last = getattr(self, "_last_end", None) or {}
        self._last_end = {p: max(int(e), last.get(p, 0)) for p, e in {**last, **end}.items()}
        bounds = {p: (int(start.get(p, 0)), int(e)) for p, e in end.items()}
        return plan_tasks(self._manifest(), bounds, self._max_rows_per_task())

    def commit(self, end: dict) -> None:
        # cumulative ack: Spark's checkpoint is the consumer-side state; a
        # named subscription ALSO moves the broker-side markDeletePosition,
        # closing any individually acked hole it reaches.
        # NOTE Spark issues this lazily when constructing the NEXT batch, so
        # under availableNow single-batch runs it may never fire before the
        # run stops; the read position stored by latestOffset() still shows
        # how far the subscription has been planned.
        if not self._cursor:
            return
        state = S.load_ack_state(self._cursor)
        for p, e in end.items():
            S.ack_cumulative(state, int(p), int(e) - 1)
        S.save_ack_state(state, self._cursor)


@dataclass
class StagedRows(WriterCommitMessage):
    """One write task's output: each topic partition's staged parquet file
    (rows in arrival order, no offsets)."""

    files: dict[int, str]


class PulsarLikeStreamWriter(DataSourceStreamWriter):
    """Streaming sink: executors stage parquet files; the driver commit
    stamps offsets and commits them with ``topic._commit_segments`` under
    the topic writer lock. A micro-batch commits under the token
    ``stream:<sinkId>:<batchId>``, so a replayed batchId is a no-op
    (exactly-once). Without option ``sinkId`` the sink is named by a hash
    of its query's checkpoint location, so two queries writing one topic
    never take each other's batches for replays.

    SCALE NOTE: the Python DataSource writer API hands ``write()`` Spark Rows
    one at a time, and the commit reads every staged row back on the driver
    to stamp its offset. Fine for live tails (bounded by
    maxRecordsPerTrigger) but NOT a bulk-ingest path. Route bulk / 100 TB
    ingest through ``foreachBatch`` + ``topic.append`` (JVM columnar write
    end-to-end, same commit function, ``batch_token`` for exactly-once) —
    measured ~0.5M rows/s on local[32] (see SCALE.md 'Bulk ingest')."""

    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pulsarlike sink requires option 'path'")
        if T.read_manifest(self.path).get("shadow_source"):
            # shadow topics are read-only replicas (PersistentTopic.java:332)
            raise ValueError(f"cannot publish to shadow topic {self.path}")
        self.options = options
        self._stage_dir = os.path.join(self.path, "_stream_staging")

    def write(self, iterator) -> StagedRows:
        from pyspark import TaskContext

        n_part = T.read_manifest(self.path)["n_partitions"]
        tc = TaskContext.get()
        task = f"{tc.partitionId()}-{uuid.uuid4().hex[:8]}" if tc else uuid.uuid4().hex[:8]
        rows_by_part: dict[int, list] = {}
        for row in iterator:
            d = row.asDict(recursive=False)
            p = d.get("partition")
            if p is None or not 0 <= p < n_part:
                # deterministic routing, bit-identical to topic.append's
                # pmod(xxhash64(key), N), which also re-routes partitions
                # outside this topic's range — builtin hash() is
                # PYTHONHASHSEED-randomized per worker
                p = route_partition(d.get("key"), n_part)
            rows_by_part.setdefault(int(p), []).append(d)

        os.makedirs(self._stage_dir, exist_ok=True)
        files = {}
        for p, rows in rows_by_part.items():
            files[p] = f"stage-{task}-p{p}.parquet"
            pq.write_table(
                pa.Table.from_pylist(rows, schema=_STAGE_SCHEMA),
                os.path.join(self._stage_dir, files[p]),
            )
        return StagedRows(files=files)

    def commit(self, messages, batchId) -> None:
        # Replay idempotency is keyed per SINK, not per topic: two streaming
        # queries writing the same topic both start at batchId 0 and must not
        # be treated as each other's replays. The sink is option("sinkId")
        # or else its query's checkpoint, which a restart keeps.
        ckpt = self.options.get("checkpointlocation")
        sink = self.options.get("sinkid") or (T.checkpoint_writer_id(ckpt) if ckpt else "")
        self._commit(messages, f"stream:{sink}:{batchId}")

    def _commit(self, messages, token: str | None) -> None:
        staged = [m for m in messages or [] if m is not None]

        def stage(manifest: dict, ends: dict[int, int], stage_dir: str):
            # one segment per partition: the batch's staged files in task
            # order, offsets stamped densely from the partition's end. The
            # sink does not dedup, so it leaves the producer marks alone.
            parts = {}
            for p in sorted({p for m in staged for p in m.files}):
                tbl = pa.concat_tables(
                    pq.read_table(os.path.join(self._stage_dir, m.files[p]))
                    for m in staged
                    if p in m.files
                )
                offsets = np.arange(ends[p], ends[p] + tbl.num_rows, dtype=np.int64)
                os.makedirs(os.path.join(stage_dir, f"partition={p}"))
                pq.write_table(
                    tbl.append_column("offset", pa.array(offsets)),
                    os.path.join(stage_dir, f"partition={p}", "part-00000.parquet"),
                )
                pt = pc.min_max(tbl.column("publish_time").cast(pa.timestamp("us")))
                parts[p] = (tbl.num_rows, pt["min"].value, pt["max"].value)
            return parts, {}

        try:
            with T._topic_write_lock(self.path):
                T._commit_segments(self.path, stage, token)
        finally:
            self._cleanup(messages)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)

    def _cleanup(self, messages) -> None:
        for msg in messages or []:
            if msg is None:
                continue
            for fname in msg.files.values():
                try:
                    os.remove(os.path.join(self._stage_dir, fname))
                except OSError:
                    pass


class PulsarLikeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return PulsarLikeBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return PulsarLikeBatchWriter(self.options, schema, overwrite)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return PulsarLikeStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return PulsarLikeStreamWriter(self.options, schema)


def register(spark) -> None:
    # required for the reader's pushFilters (runtime-settable SQL conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PulsarLikeDataSource)
