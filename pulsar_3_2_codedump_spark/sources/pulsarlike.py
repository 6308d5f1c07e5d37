"""The ``pulsarlike`` data source — the one real custom engine component
(SURVEY §4 item 1, §7 M2): a topic (partitioned parquet segment log +
manifest, see topic.py) exposed to Spark as a streaming source with
Kafka-style ``(partition → offset)`` offsets.

The source only reads streams. Every other path is a ``topic`` function:
``topic.read_topic`` is the batch read (offset or partition bounds, markers
on request), ``topic.read_topic_compacted`` the compacted read and
``topic.append`` the one writer. An exactly-once stream write is
``foreachBatch`` + ``append`` with a checkpoint-keyed ``batch_token``, as
``streaming.replicator.replicate`` does: the token is recorded in the
manifest replace that commits the batch, so a replayed micro-batch is a
no-op (the transaction buffer's all-or-nothing visibility,
TopicTransactionBuffer.java:258,301).

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

Scale posture: the stream reader plans each micro-batch through
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
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pulsar_3_2_codedump_spark import subscriptions as S, topic as T
from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA

FORMAT_NAME = "pulsarlike"

# a read task packs adjacent offset ranges until it holds this many rows
PACK_ROWS = 100_000
# default maxRowsPerTask: the most rows one task reads when segments allow
MAX_ROWS_PER_TASK = 5_000_000


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


class PulsarLikeStreamReader(DataSourceStreamReader):
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
        path = options.get("path")
        if not path:
            raise ValueError("pulsarlike requires option 'path' (topic directory)")
        self.options = options
        # a shadow topic (PIP-180, topic.create_shadow_topic) keeps its own
        # subscriptions under its own directory, but reads the SOURCE
        # topic's ledgers: only the data path re-points
        sub = options.get("subscription")
        self._cursor = S.subscription_cursor_path(path, sub) if sub else None
        self.path = T.resolve_data_topic(path)

    def _manifest(self) -> dict:
        return T.read_manifest(self.path)

    def _max_rows_per_task(self) -> int:
        return int(self.options.get("maxrowspertask", MAX_ROWS_PER_TASK))

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

    def read(self, partition):
        """The rows of one task's offset ranges, with broker-internal marker
        rows (marker_type non-null, §2.C3 —
        AbstractBaseDispatcher.filterEntriesForConsumer) stripped unless
        ``readMarkers=true`` asks for the broker-internal view."""
        manifest = self._manifest()
        show_markers = (self.options.get("readmarkers") or "").lower() == "true"
        ranges = partition.ranges if isinstance(partition, PackedPartition) else [partition]
        for r in ranges:
            for seg in sorted(manifest["segments"][r.partition], key=lambda s: s["start"]):
                if seg["start"] + seg["count"] <= r.lo or seg["start"] >= r.hi:
                    continue  # file-level pruning
                for b in _segment_batches(self.path, r.partition, seg, r.lo, r.hi):
                    if not show_markers:
                        b = b.filter(pc.is_null(b.column(b.schema.get_field_index("marker_type"))))
                    if b.num_rows:
                        yield b


class PulsarLikeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return PulsarLikeStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PulsarLikeDataSource)
