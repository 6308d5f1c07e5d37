"""Subscription types as query topologies (SURVEY §2.J1).

Reference (pulsar-client-api/.../api/SubscriptionType.java:33-61, dispatchers
PersistentDispatcherSingleActiveConsumer / MultipleConsumers /
StickyKeyDispatcher):

  - Exclusive: one consumer owns the whole topic.
  - Failover: one ACTIVE consumer; a standby takes over on failure.
  - Shared: work-queue — messages spread round-robin over N consumers,
    no ordering guarantee.
  - Key_Shared: N consumers, each owning a hash range of keys; per-key order.

Spark re-expression: a "consumer" is a streaming query with a checkpoint.
  - Exclusive/Failover = ONE query; failover is the checkpoint itself — the
    replacement query resumes from the same checkpoint (same subscription).
  - Shared = N queries, each assigned a partition subset (work-queue split;
    the driver-side analogue of round-robin dispatch at entry granularity —
    we split at partition granularity, which also preserves per-partition
    order, strictly stronger than Pulsar's Shared).
  - Key_Shared = partition-subset assignment where routing already co-located
    keys (operators/routing.key_shared_bucket).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark import topic as T


def exclusive(spark: SparkSession, topic_path: str) -> DataFrame:
    """Exclusive/Failover: the single consumer's stream. Failover = start the
    same thing with the same checkpoint elsewhere."""
    return spark.readStream.format("pulsarlike").option("path", topic_path).load()


def shared(spark: SparkSession, topic_path: str, n_consumers: int) -> list[DataFrame]:
    """Shared (work-queue): partition-granular assignment — consumer i gets
    partitions p where p % n == i. Disjoint and exhaustive."""
    src = exclusive(spark, topic_path)
    return [
        src.filter(F.col("partition") % n_consumers == i) for i in range(n_consumers)
    ]


def key_shared(spark: SparkSession, topic_path: str, n_consumers: int) -> list[DataFrame]:
    """Key_Shared: same split, but consumers rely on the producer's key
    routing — all messages of one key live in one partition, so per-key order
    is preserved within each consumer's stream."""
    return shared(spark, topic_path, n_consumers)


# ---------------------------------------------------------------------------
# Individual acks / ack-holes (SURVEY §2.J3)
#
# Reference: a cursor is markDeletePosition (everything ≤ it is acked,
# ManagedCursorImpl.java:131) plus individualDeletedMessages — a compact
# range set of positions acked BEYOND the mark (ManagedCursorImpl.java:199).
# Acks that close the gap above the mark advance it
# (setAcknowledgedPosition, ManagedCursorImpl.java:1842); the persisted
# range count is capped (managedLedgerMaxUnackedRangesToPersist = 10000,
# ServiceConfiguration.java:2073) — overflow ranges are forgotten and those
# messages redelivered (at-least-once).
#
# Spark re-expression: the range set is METADATA (small), the log is DATA
# (huge). Condensing acked ids → ranges is a distributed gap-and-island
# aggregation; the redelivery scan is the log minus two broadcast-joined
# metadata frames. Nothing driver-side ever touches per-message state —
# only the condensed ranges, same as the reference's cursor.
# ---------------------------------------------------------------------------


def condense_ranges(acks: DataFrame) -> DataFrame:
    """(partition, offset) acked ids → contiguous (partition, lo, hi) ranges.

    Distributed gap-and-island: one shuffle on partition; the output is
    cursor metadata (bounded by the number of ack holes, not messages)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("partition").orderBy("offset")
    gap = F.when(F.col("offset") - F.lag("offset", 1).over(w) == 1, 0).otherwise(1)
    return (
        acks.select("partition", "offset")
        .dropDuplicates()
        .withColumn("island", F.sum(gap).over(w))
        .groupBy("partition", "island")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"))
        .drop("island")
    )


def _merge_ranges(ranges: list[list[int]]) -> list[list[int]]:
    """Merge overlapping/adjacent [lo, hi] ranges (pure metadata op)."""
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def new_ack_state() -> dict:
    """Empty cursor: per-partition {"mark_delete": -1, "ranges": [[lo,hi],…]}."""
    return {}


def ack_individual(
    state: dict, new_ranges: DataFrame | list, max_ranges: int | None = 10000
) -> dict:
    """Apply individually-acked ranges to cursor state (mutates and returns).

    ``new_ranges`` is either a condensed ranges DataFrame (from
    condense_ranges) or a [(partition, lo, hi), …] list. Ranges contiguous
    with the mark advance it (hole closing, ManagedCursorImpl.java:1842);
    beyond ``max_ranges`` holes per partition the HIGHEST ranges are
    forgotten → redelivered, the reference's persist-cap semantics."""
    if isinstance(new_ranges, DataFrame):
        new_ranges = [(r["partition"], r["lo"], r["hi"]) for r in new_ranges.collect()]
    per_part: dict[int, list[list[int]]] = {}
    for p, lo, hi in new_ranges:
        per_part.setdefault(int(p), []).append([int(lo), int(hi)])
    for p, ranges in per_part.items():
        cur = state.setdefault(p, {"mark_delete": -1, "ranges": []})
        merged = _merge_ranges(cur["ranges"] + ranges)
        # drop ranges already below the mark, advance through the contiguous run
        merged = [r for r in merged if r[1] > cur["mark_delete"]]
        while merged and merged[0][0] <= cur["mark_delete"] + 1:
            cur["mark_delete"] = merged.pop(0)[1]
        if max_ranges is not None and len(merged) > max_ranges:
            merged = merged[:max_ranges]
        cur["ranges"] = merged
    return state


def ack_cumulative(state: dict, partition: int, offset: int) -> dict:
    """Cumulative ack: move the mark, drop subsumed holes (mutates)."""
    cur = state.setdefault(int(partition), {"mark_delete": -1, "ranges": []})
    if offset > cur["mark_delete"]:
        cur["mark_delete"] = int(offset)
    cur["ranges"] = [r for r in cur["ranges"] if r[1] > cur["mark_delete"]]
    # the mark may now touch the first surviving range — close the hole
    while cur["ranges"] and cur["ranges"][0][0] <= cur["mark_delete"] + 1:
        cur["mark_delete"] = max(cur["mark_delete"], cur["ranges"].pop(0)[1])
    return state


def unacked(spark: SparkSession, env: DataFrame, state: dict) -> DataFrame:
    """The redelivery set: log rows not covered by the cursor.

    Two broadcast joins against cursor METADATA: offset > mark_delete per
    partition, then anti range-join on the hole-free acked ranges. The
    range anti-join is a BroadcastNestedLoopJoin on purpose — the build
    side is bounded by max_ranges (10k), never by data volume."""
    md_rows = [(p, s["mark_delete"]) for p, s in state.items()]
    rng_rows = [(p, lo, hi) for p, s in state.items() for lo, hi in s["ranges"]]
    md = T.lookup_frame(spark, md_rows or [(-1, -1)], "partition int, mark_delete long")
    out = (
        env.join(F.broadcast(md), "partition", "left")
        .filter(F.col("offset") > F.coalesce(F.col("mark_delete"), F.lit(-1)))
        .drop("mark_delete")
    )
    if rng_rows:
        rng = T.lookup_frame(spark, rng_rows, "rp int, lo long, hi long")
        out = out.join(
            F.broadcast(rng),
            (F.col("partition") == F.col("rp"))
            & F.col("offset").between(F.col("lo"), F.col("hi")),
            "left_anti",
        )
    return out


def covered(spark: SparkSession, env: DataFrame, state: dict) -> DataFrame:
    """The acked set: rows at/below the mark plus rows inside acked ranges
    (complement of ``unacked``; same broadcast-metadata plan shape)."""
    md_rows = [(p, s["mark_delete"]) for p, s in state.items()]
    rng_rows = [(p, lo, hi) for p, s in state.items() for lo, hi in s["ranges"]]
    md = T.lookup_frame(spark, md_rows or [(-1, -1)], "partition int, mark_delete long")
    below = (
        env.join(F.broadcast(md), "partition")
        .filter(F.col("offset") <= F.col("mark_delete"))
        .drop("mark_delete")
    )
    if not rng_rows:
        return below
    rng = T.lookup_frame(spark, rng_rows, "rp int, lo long, hi long")
    in_ranges = env.join(
        F.broadcast(rng),
        (F.col("partition") == F.col("rp"))
        & F.col("offset").between(F.col("lo"), F.col("hi")),
        "left_semi",
    )
    return below.unionByName(in_ranges)


def translate_cursor(
    spark: SparkSession, src_env: DataFrame, dst_env: DataFrame, src_state: dict
) -> dict:
    """Replicated-subscription cursor sync (SURVEY §2.L2).

    Reference: ReplicatedSubscriptionsController writes periodic snapshot
    markers correlating cluster positions (PulsarMarkers.proto:44-68);
    moving a subscription across clusters snaps to the newest snapshot at
    or before the acked position — a coarse approximation bounded by
    snapshot frequency.

    Spark re-expression is EXACT, not snapshot-coarse: replicated copies
    preserve message identity (producer_name, sequence_id) — the replicator
    carries them verbatim (PersistentReplicator.java:291 analogue in
    streaming/replicator.replicate). The src cursor's acked set semi-joins
    onto the dst log by identity, condenses to dst-native ranges, and
    becomes a dst cursor covering exactly the same messages, even when the
    two clusters partition/ordered the log differently.

    Scale: one shuffle of each log on the identity key — the honest cost of
    exact cross-cluster sync. The reference's marker scheme avoids the join
    at the price of coarse positions; with at-least-once delivery both are
    correct, ours redelivers strictly less."""
    acked_ids = covered(spark, src_env, src_state).select("producer_name", "sequence_id")
    dst_acked = dst_env.join(
        acked_ids, ["producer_name", "sequence_id"], "left_semi"
    ).select("partition", "offset")
    return ack_individual(new_ack_state(), condense_ranges(dst_acked))


def drain_available_now(
    start_query, checkpoint_dir: str, topic_path: str, max_rounds: int = 1000
) -> int:
    """Bounded catch-up read (F7/J2): loop availableNow passes until the
    subscription's cursor reaches the topic's current end offsets.

    Spark's Python DataSource API has no SupportsTriggerAvailableNow hook,
    so Trigger.AvailableNow falls back to ONE micro-batch — which, under
    maxRecordsPerTrigger flow control, leaves backlog. This helper is the
    drain loop: each round resumes from the same checkpoint (same
    subscription), so the sequence of capped batches is exactly what a
    native AvailableNow admission would have planned. Returns the number
    of rounds run. ``start_query`` must start and return a
    StreamingQuery wired to trigger(availableNow=True) and
    ``checkpoint_dir``."""
    for rounds in range(1, max_rounds + 1):
        q = start_query()
        q.awaitTermination()
        ends = T.end_offsets(T.read_manifest(topic_path))
        pos = subscription_position(checkpoint_dir) or {}
        if all(int(pos.get(str(p), pos.get(p, 0)) or 0) >= e for p, e in ends.items()):
            return rounds
    raise RuntimeError(f"topic not drained after {max_rounds} availableNow rounds")


def subscription_position(checkpoint_dir: str) -> dict[str, int] | None:
    """Inspect a subscription's committed cursor (markDeletePosition analogue)
    from the Structured Streaming offset log."""
    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(offsets_dir):
        return None
    batches = sorted(int(f) for f in os.listdir(offsets_dir) if f.isdigit())
    if not batches:
        return None
    with open(os.path.join(offsets_dir, str(batches[-1]))) as f:
        lines = f.read().strip().splitlines()
    # v1 offset log: line 0 = version, line 1 = metadata, line 2+ = per-source offsets
    try:
        return json.loads(lines[-1])
    except (ValueError, IndexError):
        return None


# ---------------------------------------------------------------------------
# Marker-based replicated-subscription snapshots (§2.L2 — the reference's
# actual mechanism, enabled by the marker_type envelope column)
# ---------------------------------------------------------------------------


def write_repl_snapshot(
    spark: SparkSession, src_topic_path: str, dst_topic_path: str, snapshot_id: str
) -> dict:
    """ReplicatedSubscriptionsController snapshot write
    (PulsarMarkers.proto:44-68 ReplicatedSubscriptionsSnapshot;
    ReplicatedSubscriptionsController.java): append a REPL_SNAPSHOT marker
    row to the SOURCE topic whose payload correlates the two clusters'
    positions (here: both end-offset maps) at issue time. The marker holds a
    log position like any entry but is invisible to consumers (§2.C3).
    Returns the correlated positions it recorded."""
    from pulsar_3_2_codedump_spark.envelope import MARKER_REPL_SNAPSHOT

    src_ends = {str(p): int(e) for p, e in T.end_offsets(T.read_manifest(src_topic_path)).items()}
    dst_ends = {str(p): int(e) for p, e in T.end_offsets(T.read_manifest(dst_topic_path)).items()}
    payload = {"snapshot_id": snapshot_id, "src": src_ends, "dst": dst_ends}
    marker = T.marker_frame(
        spark,
        f"__snapshot:{snapshot_id}",
        json.dumps(payload).encode("utf-8"),
        {"snapshot_id": snapshot_id},
        "__repl_snapshot_controller",
        MARKER_REPL_SNAPSHOT,
    )
    T.append(spark, marker, src_topic_path, dedup=False)
    return payload


def translate_cursor_by_snapshot(
    spark: SparkSession, src_topic_path: str, mark_delete: dict
) -> dict | None:
    """Snapshot-based cursor translation — the reference's coarse method
    (ReplicatedSubscriptionsSnapshotCache.getSnapshotForPosition): pick the
    NEWEST snapshot whose recorded source positions are all ≤ the cursor's
    markDeletePosition and return its recorded destination positions.
    Returns None when no snapshot qualifies (subscription starts at
    earliest on the destination — the reference's fallback).

    Bounded by snapshot frequency: everything between the chosen snapshot
    and the true cursor is redelivered on the destination (at-least-once).
    `translate_cursor` above is the exact identity-join alternative; this
    one costs a metadata-scale marker scan instead of a log join.
    """
    from pulsar_3_2_codedump_spark.envelope import MARKER_REPL_SNAPSHOT

    markers = (
        T.read_topic(spark, src_topic_path, read_markers=True)
        .filter(F.col("marker_type") == MARKER_REPL_SNAPSHOT)
        .select("value", "offset", "partition")
        .collect()  # control-plane rows: O(#snapshots), not O(log)
    )
    md = {str(p): int(v) for p, v in mark_delete.items()}
    best, best_key = None, None
    for row in markers:
        snap = json.loads(bytes(row["value"]).decode("utf-8"))
        if all(int(e) <= md.get(p, 0) for p, e in snap["src"].items()):
            # recency = recorded source progress (appends are monotone, so the
            # pointwise-greatest qualifying snapshot has the greatest total)
            key = sum(int(e) for e in snap["src"].values())
            if best_key is None or key > best_key:
                best, best_key = snap, key
    return None if best is None else {p: int(e) for p, e in best["dst"].items()}


# ---------------------------------------------------------------------------
# The durable cursor store (§2.J3). A subscription is one named cursor, as
# in the reference (ManagedCursorImpl: markDeletePosition :131,
# individualDeletedMessages :199, readPosition), kept in one file,
# <topic>/subscriptions/<name>.json: per partition
# {"mark_delete": last acked offset (inclusive), "ranges": [[lo, hi], …]}
# plus, once a ``pulsarlike`` stream reader has planned a batch, "read" (the
# next offset to fetch, exclusive). Every reader and writer of cursor files
# is in this section.
# ---------------------------------------------------------------------------


def subscription_cursor_path(topic_path: str, name: str) -> str:
    """Canonical durable-cursor location: <topic>/subscriptions/<name>.json.
    The name comes from outside the program, so every character outside
    ``[A-Za-z0-9._-]`` becomes ``_``: no name reaches another directory."""
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", name)
    return os.path.join(topic_path, "subscriptions", f"{safe}.json")


def save_ack_state(state: dict, path: str) -> None:
    """Replace the cursor file atomically, like the cursor's metadata-store
    write: a reader sees the old or the new state, never half of one."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    T._write_json_atomic(path, {str(k): v for k, v in state.items()})


def load_ack_state(path: str) -> dict:
    try:
        with open(path) as f:
            return {int(k): v for k, v in json.load(f).items()}
    except FileNotFoundError:
        return new_ack_state()


def read_position(path: str) -> dict[str, int] | None:
    """The stream reader's read position (readPosition: the next offset to
    fetch), keyed by partition string like stream offsets; None when no
    batch has been planned under this cursor."""
    pos = {str(p): int(c["read"]) for p, c in load_ack_state(path).items() if "read" in c}
    return pos or None


def advance_read(path: str, pos: dict) -> None:
    """Max-merge ``pos`` into the cursor's read position; positions never
    regress (a replayed or restarted batch must not rewind the cursor).

    The ``pulsarlike`` stream source calls this when it plans a micro-batch
    (``latestOffset``) under a named ``subscription``: the read position is
    how far the subscription has been planned, the broker cursor's read
    position, as stats and expiry see it. The reader does not resume from
    it: Spark's checkpoint sets where a stream starts, and a restarted query
    learns its checkpointed end through ``partitions``. The position is
    stored at planning time because under Trigger.AvailableNow a run
    executes one batch and stops before the lazy source commit (which Spark
    issues at the NEXT batch's construction) ever fires.

    An unchanged position is not rewritten: Spark polls ``latestOffset``
    after every empty trigger, and an idle cursor must age for
    ``expire_inactive_subscriptions``."""
    state = load_ack_state(path)
    moved = False
    for p, o in pos.items():
        cur = state.setdefault(int(p), {"mark_delete": -1, "ranges": []})
        if int(o) > cur.get("read", -1):
            cur["read"] = int(o)
            moved = True
    if moved:
        save_ack_state(state, path)


def acked_positions(topic_path: str) -> dict[str, dict[int, int]]:
    """Every durable subscription's acked position: name -> {partition:
    first offset not yet acked}, i.e. the mark-delete position + 1. Ranges
    acked beyond the mark and the read position do not move it, so a stream
    reader that has only planned batches has acked nothing. Partitions a
    cursor does not mention are at offset 0."""
    sub_dir = os.path.join(topic_path, "subscriptions")
    if not os.path.isdir(sub_dir):
        return {}
    return {
        fn[: -len(".json")]: {
            p: int(c["mark_delete"]) + 1
            for p, c in load_ack_state(os.path.join(sub_dir, fn)).items()
        }
        for fn in sorted(os.listdir(sub_dir))
        if fn.endswith(".json")
    }


def expire_inactive_subscriptions(
    topic_path: str, max_idle_seconds: float, now: float | None = None
) -> list[str]:
    """Drop durable subscriptions idle past the expiry window.

    Mirrors PersistentTopic.checkInactiveSubscriptions /
    ServiceConfiguration.subscriptionExpirationTimeMinutes: a durable
    subscription whose cursor hasn't moved within the window is deleted, so
    its backlog stops pinning retention. The activity stamp is the cursor
    file's mtime: ``save_ack_state`` atomically rewrites it on every ack, a
    stream's cumulative ack included, and ``advance_read`` whenever a stream
    reader's read position moves, exactly when the reference updates the
    cursor's ledger position. A live stream reader whose cursor expired
    re-creates it at its next ``latestOffset``. Control-plane only
    (O(#subscriptions) metadata); returns the expired subscription names.
    ``now`` is injectable for deterministic tests."""
    import time as _time

    sub_dir = os.path.join(topic_path, "subscriptions")
    if not os.path.isdir(sub_dir):
        return []
    t = _time.time() if now is None else now
    expired = []
    for fn in sorted(os.listdir(sub_dir)):
        if not fn.endswith(".json"):
            continue
        p = os.path.join(sub_dir, fn)
        if t - os.path.getmtime(p) > max_idle_seconds:
            os.remove(p)
            expired.append(fn[: -len(".json")])
    return expired
