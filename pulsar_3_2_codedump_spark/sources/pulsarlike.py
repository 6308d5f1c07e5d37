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
  - Sink offset stamping: segments written by the streaming sink store rows
    in order and the manifest records the base offset; the reader computes
    ``offset = base + row_position`` — exactly how BrokerEntryMetadata.index
    is stamped broker-side at append (AppendIndexMetadataInterceptor.java),
    not producer-side.
  - Exactly-once: commit() is atomic (manifest replace) and idempotent
    (replayed batchIds are skipped), the Spark-side equivalent of the
    transaction buffer's all-or-nothing visibility
    (TopicTransactionBuffer.java:258,301).

Scale posture: the batch and stream readers plan through one function,
``plan_tasks``. It splits each topic partition's offset range at segment
boundaries into chunks of at most ``maxRowsPerTask`` rows, so a large scan
fans out over many tasks that each open only their own files. It then packs
adjacent small ranges into one task until the task reaches ``PACK_ROWS`` (or
``maxRowsPerTask``, if lower). Every read task runs in a Python worker, whose
fixed cost does not depend on how few rows it reads, so a live micro-batch of
a few hundred rows over eight partitions is one task, not eight. A range at
or above that size keeps its own task. Arrow batches cross the Python
boundary (no per-row serde); segment pruning happens before any file IO.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
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

from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA

FORMAT_NAME = "pulsarlike"

# a read task packs adjacent offset ranges until it holds this many rows
PACK_ROWS = 100_000
# default maxRowsPerTask: the most rows one task reads when segments allow
MAX_ROWS_PER_TASK = 5_000_000

# envelope minus offset/partition (stamped at read from manifest base)
_DATA_FIELDS = [f for f in ENVELOPE_SCHEMA.fields if f.name not in ("offset", "partition")]
_DATA_SCHEMA = StructType(_DATA_FIELDS)


def _arrow_schema() -> pa.Schema:
    return to_arrow_schema(ENVELOPE_SCHEMA)


def _read_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def _write_manifest_atomic(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, f"manifest.json.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, "manifest.json"))


def _end_offsets(manifest: dict) -> dict[str, int]:
    # max(live-segment end, persisted next_offset) — offsets never regress
    # after a retention trim drops every segment (mirrors topic.end_offsets)
    nxt = manifest.get("next_offset", {})
    out = {}
    for p, segs in manifest["segments"].items():
        live = max((s["start"] + s["count"] for s in segs), default=0)
        out[p] = max(live, int(nxt.get(p, 0)))
    return out


def _seg_location(topic_path: str, p: str, seg: dict) -> str:
    # offloaded segments (topic.offload_segments) carry their tiered-store
    # location in the manifest entry; local ones live under the topic dir
    return seg.get("offload_path") or os.path.join(
        topic_path, f"partition={p}", seg["path"]
    )


def _segment_batches(
    topic_path: str, p: str, seg: dict, lo: int, hi: int
) -> list[pa.RecordBatch]:
    """Read one segment, slice to [lo, hi), stamp partition/offset columns."""
    seg_path = _seg_location(topic_path, p, seg)
    table = pq.read_table(seg_path)
    base = seg["start"]
    if "offset" in table.column_names:
        # batch-appended segment: offsets are materialized in the data
        mask = pa.compute.and_(
            pa.compute.greater_equal(table.column("offset"), lo),
            pa.compute.less(table.column("offset"), hi),
        )
        table = table.filter(mask)
        if table.num_rows == 0:
            return []
        offsets = table.column("offset").cast(pa.int64()).combine_chunks()
        n_out = table.num_rows
    else:
        # stream-sink segment: rows are in append order; offset = base + position
        n = table.num_rows
        start_row = max(0, lo - base)
        end_row = min(n, hi - base)
        if start_row >= end_row:
            return []
        table = table.slice(start_row, end_row - start_row)
        offsets = pa.array(range(base + start_row, base + end_row), type=pa.int64())
        n_out = end_row - start_row
    parts = pa.array([int(p)] * n_out, type=pa.int32())
    cols, names = [], []
    target = _arrow_schema()
    for field in target:
        if field.name == "offset":
            cols.append(offsets)
        elif field.name == "partition":
            cols.append(parts)
        elif field.name in table.column_names:
            cols.append(table.column(field.name).cast(field.type).combine_chunks())
        else:
            cols.append(pa.nulls(n_out, type=field.type))
        names.append(field.name)
    out = pa.table(cols, names=names).cast(target)
    return out.to_batches()


def _seek_offset_for_timestamp(topic_path: str, p: str, segs: list[dict], ts_us: int) -> int:
    """First offset with publish_time >= ts (PersistentMessageFinder.java:57,
    OpFindNewest.java binary search over ledger entries).

    Two-level search, mirroring the reference's ledger-metadata-then-entries
    structure: (1) prune on the manifest time index — every segment carries
    ``min_pt``/``max_pt`` publish-time bounds (unix micros) written in the
    same atomic commit as the segment (topic.append stats / stream-sink
    write()) — so segments wholly before the target cost ZERO IO, and a
    segment wholly after resolves from metadata alone; (2) only the boundary
    segment (min_pt < ts <= max_pt) is opened, two columns only, and searched
    vectorized with pyarrow.compute — no per-row Python, no driver-side scan
    of the partition. At 100 TB a timestamp seek touches one segment file per
    partition."""
    import pyarrow.compute as pc

    target = pa.scalar(ts_us, type=pa.timestamp("us"))
    for seg in sorted(segs, key=lambda s: s["start"]):
        if seg.get("max_pt") is not None and int(seg["max_pt"]) < ts_us:
            continue  # wholly before the target — pruned, no IO
        if seg.get("min_pt") is not None and int(seg["min_pt"]) >= ts_us:
            return seg["start"]  # wholly at/after — first offset, no IO
        # boundary (or unindexed legacy) segment: vectorized exact search
        seg_path = _seg_location(topic_path, p, seg)
        try:  # segment may be a file (stream sink) or a directory (batch append)
            tbl = pq.read_table(seg_path, columns=["publish_time", "offset"])
            has_offset = True
        except Exception:
            tbl = pq.read_table(seg_path, columns=["publish_time"])
            has_offset = False
        if tbl.num_rows == 0:
            continue
        pts = tbl.column("publish_time").cast(pa.timestamp("us"))
        if has_offset:
            offs = tbl.column("offset").cast(pa.int64())
        else:
            # stream-sink segment: offset = start + row position
            offs = pa.chunked_array([pa.array(range(seg["start"], seg["start"] + tbl.num_rows), type=pa.int64())])
        offs = offs.combine_chunks() if isinstance(offs, pa.ChunkedArray) else offs
        pts = pts.combine_chunks() if isinstance(pts, pa.ChunkedArray) else pts
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
        self.path = options.get("path") or options.get("topic")
        if not self.path:
            raise ValueError("pulsarlike requires option 'path' (topic directory)")
        # shadow topics (PIP-180, topic.create_shadow_topic) read the SOURCE
        # topic's ledgers; the shadow keeps its own subscriptions (here:
        # its own checkpoints) — only the data path re-points
        seen = set()
        while True:
            src = _read_manifest(self.path).get("shadow_source")
            if not src or src in seen:
                break
            seen.add(src)
            self.path = src
        self.options = options

    def _manifest(self) -> dict:
        return _read_manifest(self.path)

    def _max_rows_per_task(self) -> int:
        return int(self.options.get("maxrowspertask", MAX_ROWS_PER_TASK))

    def _hide_markers(self, batches):
        """Strip broker-internal marker rows (marker_type non-null, §2.C3 —
        AbstractBaseDispatcher.filterEntriesForConsumer) unless the caller
        asked for the broker-internal view with readMarkers=true."""
        if (self.options.get("readmarkers") or "").lower() == "true":
            yield from batches
            return
        import pyarrow.compute as pc

        for b in batches:
            out = b.filter(pc.is_null(b.column(b.schema.get_field_index("marker_type"))))
            if out.num_rows:
                yield out

    def read(self, partition):
        manifest = self._manifest()
        if isinstance(partition, SnapshotPartition):
            import pyarrow.compute as pc

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
        ends = _end_offsets(manifest)
        start = json.loads(self.options.get("startingoffsets_json", "{}") or "{}")
        read_compacted = (self.options.get("readcompacted") or "").lower() == "true"
        parts: list[InputPartition] = []
        if read_compacted and manifest.get("compacted_path"):
            parts.append(SnapshotPartition(manifest["compacted_path"]))
            horizon = {
                p: int(e) for p, e in manifest.get("compaction_horizon", {}).items()
            }
            start = {p: max(int(start.get(p, 0)), horizon.get(p, 0)) for p in ends}
        bounds = {
            p: (max(int(start.get(p, 0)), self._lo), end if self._hi is None else min(end, self._hi))
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
    executors stage parquet per topic-partition, driver commit assigns base
    offsets and atomically swaps the manifest (same protocol as the
    streaming sink, minus batch-id idempotency which batch writes don't
    replay)."""

    def __init__(self, options, schema, overwrite: bool):
        if overwrite:
            raise ValueError("pulsarlike is an append-only log; overwrite unsupported")
        self._delegate = PulsarLikeStreamWriter(options, schema)

    def write(self, iterator):
        return self._delegate.write(iterator)

    def commit(self, messages):
        # batch writes never replay with the same id, so the idempotency
        # ledger must not be able to collide across concurrent writers — a
        # manifest-length-derived id computed outside the lock did exactly
        # that (two writers both compute -1; the loser is discarded as a
        # "replay"). A fresh uuid key is unique by construction.
        self._delegate.commit(messages, f"batch-{uuid.uuid4().hex}")

    def abort(self, messages):
        self._delegate.abort(messages, -1)


class PulsarLikeStreamReader(_SegmentScanMixin, DataSourceStreamReader):
    """Streaming source with (partition → offset) offsets.

    initialOffset honors startingOffsets = earliest | latest |
    timestamp:<iso> | {"0": 123, ...}; latestOffset caps per-partition
    advance at maxRecordsPerTrigger (flow control, §2.J2).
    """

    def initialOffset(self) -> dict:
        manifest = self._manifest()
        mode = (self.options.get("startingoffsets") or "earliest").strip()
        if mode == "earliest":
            return {p: 0 for p in manifest["segments"]}
        if mode == "latest":
            return _end_offsets(manifest)
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

    def _cursor_file(self) -> str | None:
        """Named durable cursor under the topic dir (option 'subscription') —
        the broker-side subscription state of the reference
        (PersistentSubscription + ManagedCursorImpl:131). The JSON holds both
        cursor positions a managed cursor tracks: ``read`` (readPosition —
        next entry to fetch, advanced when a micro-batch is planned) and
        ``ack`` (markDeletePosition — cumulative ack, advanced by commit()).
        Needed for flow control across query restarts: the Python DataSource
        latestOffset() never sees the checkpoint-restored start, so a capped
        reader must recover its own position from somewhere durable. The
        read position is persisted at planning time because under
        Trigger.AvailableNow a run executes one batch and stops before the
        lazy source-commit (which Spark issues at the NEXT batch's
        construction) ever fires."""
        sub = self.options.get("subscription")
        if not sub:
            return None
        import re as _re

        safe = _re.sub(r"[^A-Za-z0-9._-]", "_", sub)
        return os.path.join(self.path, "_subscriptions", safe + ".json")

    def _durable_cursor(self, kind: str = "read") -> dict | None:
        f = self._cursor_file()
        if f and os.path.exists(f):
            with open(f) as fh:
                state = json.load(fh)
            pos = state.get(kind)
            if pos is not None:
                return {str(k): int(v) for k, v in pos.items()}
        return None

    def _persist_cursor(self, kind: str, pos: dict) -> None:
        """Max-merge ``pos`` into the named cursor — positions never regress
        (a replayed/restarted batch must not rewind the durable cursor)."""
        f = self._cursor_file()
        if not f:
            return
        os.makedirs(os.path.dirname(f), exist_ok=True)
        state: dict = {}
        if os.path.exists(f):
            with open(f) as fh:
                state = json.load(fh)
        cur = state.get(kind) or {}
        state[kind] = {
            p: max(int(pos.get(p, 0)), int(cur.get(p, 0)))
            for p in set(map(str, pos)) | set(map(str, cur))
        }
        tmp = f + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, f)

    def latestOffset(self) -> dict:
        manifest = self._manifest()
        ends = _end_offsets(manifest)
        max_rec = self.options.get("maxrecordspertrigger")
        if max_rec:
            cap = int(max_rec)
            cur = (
                getattr(self, "_last_end", None)
                or self._durable_cursor("read")
                or self.initialOffset()
            )
            ends = {p: min(e, cur.get(p, 0) + cap) for p, e in ends.items()}
        self._last_end = ends
        self._persist_cursor("read", ends)
        return ends

    def partitions(self, start: dict, end: dict):
        bounds = {p: (int(start.get(p, 0)), int(e)) for p, e in end.items()}
        return plan_tasks(self._manifest(), bounds, self._max_rows_per_task())

    def commit(self, end: dict) -> None:
        # cumulative ack: Spark's checkpoint is the consumer-side state; a
        # named subscription ALSO moves the broker-side markDeletePosition.
        # NOTE Spark issues this lazily when constructing the NEXT batch, so
        # under availableNow single-batch runs it may never fire — the read
        # position persisted in latestOffset() carries restart flow control.
        self._persist_cursor("ack", {str(k): int(v) for k, v in end.items()})


@dataclass
class SegmentCommit(WriterCommitMessage):
    partition_counts: str  # json {partition: [staged_file, count]}


class PulsarLikeStreamWriter(DataSourceStreamWriter):
    """Streaming sink: executors stage parquet files; the driver commit
    assigns base offsets and atomically replaces the manifest (idempotent
    per batchId → exactly-once).

    SCALE NOTE: the Python DataSource writer API hands ``write()`` Spark Rows
    one at a time — inherently row-at-a-time Python, fine for live tails
    (bounded by maxRecordsPerTrigger) but NOT a bulk-ingest path. Route bulk
    / 100 TB ingest through ``foreachBatch`` + ``topic.append`` (JVM columnar
    write end-to-end, same atomic manifest commit, ``batch_token`` for
    exactly-once) — measured ~0.5M rows/s on local[32] vs this sink's
    per-row pace (see SCALE.md 'Bulk ingest')."""

    def __init__(self, options, schema):
        self.path = options.get("path") or options.get("topic")
        if not self.path:
            raise ValueError("pulsarlike sink requires option 'path'")
        if _read_manifest(self.path).get("shadow_source"):
            # shadow topics are read-only replicas (PersistentTopic.java:332)
            raise ValueError(f"cannot publish to shadow topic {self.path}")
        self.options = options

    def write(self, iterator) -> SegmentCommit:
        from pyspark import TaskContext

        manifest = _read_manifest(self.path)
        n_part = manifest["n_partitions"]
        tc = TaskContext.get()
        task = f"{tc.partitionId()}-{uuid.uuid4().hex[:8]}" if tc else uuid.uuid4().hex[:8]
        rows_by_part: dict[int, list] = {}
        from pulsar_3_2_codedump_spark.hashing import route_partition

        for row in iterator:
            d = row.asDict(recursive=False)
            p = d.get("partition")
            if p is None:
                # deterministic routing, bit-identical to the batch path's
                # pmod(xxhash64(key), N) (topic.append) — builtin hash() is
                # PYTHONHASHSEED-randomized per worker and would scatter a
                # key across partitions between executors/restarts
                p = route_partition(d.get("key"), n_part)
            rows_by_part.setdefault(int(p), []).append(d)

        staged: dict[int, list] = {}
        stage_dir = os.path.join(self.path, "_stream_staging")
        os.makedirs(stage_dir, exist_ok=True)
        data_schema = to_arrow_schema(_DATA_SCHEMA)
        for p, rows in rows_by_part.items():
            arrays = []
            for field in _DATA_FIELDS:
                vals = [r.get(field.name) for r in rows]
                arrays.append(pa.array(vals, type=data_schema.field(field.name).type))
            tbl = pa.table(arrays, names=[f.name for f in _DATA_FIELDS])
            fname = f"stage-{task}-p{p}.parquet"
            pq.write_table(tbl, os.path.join(stage_dir, fname))
            # publish-time bounds (unix micros) for the manifest time index
            # used by seek-by-timestamp (PersistentMessageFinder.java:57)
            mm = pa.compute.min_max(tbl.column("publish_time").cast(pa.timestamp("us")))
            lo, hi = mm["min"].value, mm["max"].value
            staged[p] = [fname, len(rows), lo, hi]
        return SegmentCommit(partition_counts=json.dumps(staged))

    def commit(self, messages, batchId) -> None:
        import shutil

        from pulsar_3_2_codedump_spark.topic import _topic_write_lock

        # Replay idempotency is keyed per SINK, not per topic: two streaming
        # queries writing the same topic both start at batchId 0 and must not
        # be treated as each other's replays. Pass option("sinkId", ...) to
        # scope the ledger; single-query topics work unchanged without it.
        sink_id = self.options.get("sinkid")
        key = f"{sink_id}:{batchId}" if sink_id else batchId
        with _topic_write_lock(self.path):
            self._commit_locked(messages, key, shutil)

    def _commit_locked(self, messages, batchId: int, shutil) -> None:
        # writer lock held: a concurrent batch append (or another streaming
        # query on the same topic) cannot lose this commit's segments to the
        # manifest read-modify-write race
        manifest = _read_manifest(self.path)
        done = manifest.setdefault("committed_stream_batches", [])
        if batchId in done:
            # replayed micro-batch after restart — idempotent skip
            self._cleanup(messages)
            return
        if "terminated_at" in manifest:
            from pulsar_3_2_codedump_spark.topic import TopicTerminatedError

            self._cleanup(messages)
            raise TopicTerminatedError(
                f"topic {manifest['name']} is terminated — streaming sink "
                "cannot commit new micro-batches"
            )
        ends = _end_offsets(manifest)
        stage_dir = os.path.join(self.path, "_stream_staging")
        for msg in messages:
            if msg is None:
                continue
            for p_str, entry in sorted(json.loads(msg.partition_counts).items()):
                fname, count = entry[0], entry[1]
                pt_bounds = entry[2:4] if len(entry) >= 4 else (None, None)
                p = int(p_str)
                base = ends.get(str(p), ends.get(p, 0))
                seg_name = f"seg-{base:020d}-{count}"
                pdir = os.path.join(self.path, f"partition={p}")
                os.makedirs(pdir, exist_ok=True)
                shutil.move(os.path.join(stage_dir, fname), os.path.join(pdir, seg_name))
                seg = {"start": int(base), "count": int(count), "path": seg_name}
                if pt_bounds[0] is not None:
                    seg["min_pt"], seg["max_pt"] = int(pt_bounds[0]), int(pt_bounds[1])
                manifest["segments"].setdefault(str(p), []).append(seg)
                ends[str(p)] = base + count
        done.append(batchId)
        nxt = manifest.setdefault("next_offset", {})
        for p, e in ends.items():
            nxt[str(p)] = max(int(nxt.get(str(p), 0)), int(e))
        _write_manifest_atomic(self.path, manifest)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)

    def _cleanup(self, messages) -> None:
        stage_dir = os.path.join(self.path, "_stream_staging")
        for msg in messages or []:
            if msg is None:
                continue
            # staged entries are [fname, count] or [fname, count, min_pt, max_pt]
            # (see write()) — unpack positionally, never destructure
            for _p, entry in json.loads(msg.partition_counts).items():
                fname = entry[0]
                try:
                    os.remove(os.path.join(stage_dir, fname))
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
