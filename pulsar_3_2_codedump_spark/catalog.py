"""Fixture catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _conform_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-local TIMESTAMP.

    The driver regenerates fixtures with ``isAdjustedToUTC=false`` parquet
    timestamps, which PySpark 4.x (inferTimestampNTZ) reads as
    ``TimestampNTZType`` — a type ``unix_micros``/watermarks reject.  The
    session timezone is pinned to UTC (session.py), so the cast is
    value-preserving and the DuckDB oracle (which reads the same parquet
    naively) still hash-matches.  One projection, applied at the read
    boundary — nothing downstream ever sees NTZ."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if not ntz:
        return df
    return df.select(
        *[F.col(c).cast("timestamp").alias(c) if c in ntz else F.col(c) for c in df.columns]
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes timestamp representations the
    fixtures have shipped with across driver versions — nanosecond
    TIMESTAMP(NANOS) (readable only as long) and tz-naive TIMESTAMP_NTZ —
    down to plain session-TZ microsecond TIMESTAMP, matching what DuckDB's
    reader produces on the same files."""
    try:
        # Prefer reading tz-naive parquet timestamps as TIMESTAMP directly;
        # the cast below still guards sessions where this conf is absent/locked.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _conform_timestamps(df)
    return _conform_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def fanout(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition before expression-heavy per-row work.

    The fixtures are single-row-group parquet files, which Spark scans with
    ONE task; anything computing per-row kernels (md5 shingles, dot products)
    right after the scan would run single-threaded. A cheap round-robin
    exchange of the raw rows buys full-core parallelism for the expensive
    projection. At 100 TB inputs arrive as many splits and this becomes a
    no-op decision — keep data small when it fans out, never collect it.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


# Count of checkpoints suppressed under SPARK_GRAFT_PLAN_ONLY since process
# start. Planning-only sweeps (tools/scan_audit.py) snapshot this around each
# query's construction: a positive delta means the query carries the
# persist-before-reuse discipline even though the PLAN they inspect shows the
# raw (identity) lineage — without it the audit permanently false-positives
# the very queries the discipline fixed (ADVICE r12).
PLAN_ONLY_SUPPRESSED_CKPTS = 0

# Which FACT TABLES the materialization discipline actually covers, recorded
# per helper call while SPARK_GRAFT_PLAN_ONLY is set (ADVICE r13: a bare
# counter tick made discipline a per-query boolean, so a query that
# checkpoints one tiny control-plane frame but re-scans a DIFFERENT fact
# table >=4x passed the gate undetected). scan_audit snapshots this set
# around each construction; a multi-scanned table only counts as disciplined
# when some materialized frame's own subtree read it. Zero product-mode
# cost: recording only happens under the sweep env var.
PLAN_ONLY_MATERIALIZED_TABLES: set[str] = set()

_FACT_TABLES = ("orders", "lineitem", "events", "documents", "embeddings")

# Count of inputFiles() failures while recording plan-only materialization
# coverage (ADVICE r15): when attribution is lost for a frame, the audit's
# legacy any-table excuse would otherwise silently pass a query whose
# fact-table coverage went through the exception path — scan_audit
# snapshots this counter per query and withholds the legacy excuse when
# it ticked.
PLAN_ONLY_COVERAGE_LOSSES = 0


def record_plan_only_materialization(df: DataFrame) -> None:
    """Under SPARK_GRAFT_PLAN_ONLY, note which fact tables ``df``'s analyzed
    plan reads — called by every materialize-once site (the two catalog
    helpers plus ad-hoc control-plane collects like similarity._ivf_cells)
    so the scan audit can attribute discipline to tables, not queries."""
    import os

    if not os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
        return
    try:
        # inputFiles() resolves the plan's file-source relations to paths
        # without running a job (the logical plan's toString omits paths)
        txt = " ".join(df.inputFiles())
    except Exception as e:  # noqa: BLE001 — sweep-only path, zero product cost
        # losing attribution here surfaces only as a confusing downstream
        # scan-audit hit — make the loss visible (ADVICE r14) and COUNTED
        # (ADVICE r15: the audit withholds the legacy excuse on a tick)
        global PLAN_ONLY_COVERAGE_LOSSES
        PLAN_ONLY_COVERAGE_LOSSES += 1
        import sys

        print(
            f"# plan-only materialization: inputFiles() failed "
            f"({type(e).__name__}: {e}) — table coverage lost for this frame",
            file=sys.stderr,
        )
        return
    for t in _FACT_TABLES:
        if f"{t}.parquet" in txt:
            PLAN_ONLY_MATERIALIZED_TABLES.add(t)


def ckpt_unless_plan_only(df: DataFrame, cut_plan_only: bool = False) -> DataFrame:
    """localCheckpoint in product runs; lazy under SPARK_GRAFT_PLAN_ONLY.

    The persist-before-reuse discipline (rfm_scores' shared base,
    token_budget_selection's tokenized projection, ivfpq's residual
    assignment): a frame consumed by several downstream branches is
    materialized once instead of re-executed per reference. localCheckpoint
    is EAGER — it runs a job at DataFrame construction — so planning-only
    sweeps (the flip/scan audits) set SPARK_GRAFT_PLAN_ONLY and get back:

    - default: the lazy frame unchanged — identical rows, un-materialized,
      plan shape preserved so the flip audit's boundedness classifier sees
      THROUGH the checkpoint into the build subtree;
    - ``cut_plan_only=True``: an empty-RDD frame with the same schema
      (LogicalRDD — zero jobs, statically non-empty so Catalyst's
      PropagateEmptyRelation cannot collapse the downstream plan). Use for
      LOOP-CARRIED frames (connected-components labels, greedy-selection
      accumulators, power-iteration vectors) where the identity form would
      nest the plan exponentially per unrolled round. This reproduces
      exactly the plan shape the sweeps saw when the site was a raw eager
      localCheckpoint (truncated at Scan ExistingRDD) — minus the jobs.

    Either way the suppressed-checkpoint counter ticks so scan_audit can see
    the discipline. Production behavior is identical in both modes.

    For CORPUS-SIZED shared frames prefer ``persist_shared_corpus_frame``
    (lazy DISK_ONLY persist, lineage kept): localCheckpoint stores
    non-replicated executor-local blocks and truncates lineage, so at 100 TB
    an executor loss makes the job unrecoverable (ADVICE r12). Reserve this
    helper for bounded / control-plane / loop-carried frames."""
    import os

    if os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
        global PLAN_ONLY_SUPPRESSED_CKPTS
        PLAN_ONLY_SUPPRESSED_CKPTS += 1
        record_plan_only_materialization(df)
        # SPARK_GRAFT_PLAN_ONLY_NO_CUT (ADVICE r13): the empty-RDD cut
        # hides the cut subtree's explicit broadcasts and fact scans from
        # the flip/scan audits. Setting this extra var keeps even
        # cut-marked frames in IDENTITY form so a targeted audit pass can
        # inspect those subtrees. Only for bounded-unroll queries — the
        # deeply loop-carried builds (connected components' log rounds,
        # BPE's merge chain) nest the identity plan exponentially, which
        # is the reason the cut exists.
        if cut_plan_only and not os.environ.get("SPARK_GRAFT_PLAN_ONLY_NO_CUT"):
            spark = df.sparkSession
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), df.schema)
        return df
    return df.localCheckpoint()


# Every frame persist_shared_corpus_frame has handed out and not yet
# released. The persist has a LIFECYCLE (ADVICE r13): across a long session
# (271-query sweep, plans_report, bench passes) un-released DISK_ONLY blocks
# accumulate unboundedly AND Spark's CacheManager silently splices any
# already-cached identical fragment into LATER queries' plans (byte-identical
# shingle frames across the ngram/shingle pair family; a bench pass-2 plan
# served from pass-1's blocks) — so suite/report/bench drivers call
# release_shared_frames() after each query's result is materialized.
_SHARED_FRAMES: list[DataFrame] = []


def persist_shared_corpus_frame(df: DataFrame) -> DataFrame:
    """Lazy DISK_ONLY persist for a corpus-sized frame shared by branches.

    The same materialize-once discipline as ``ckpt_unless_plan_only`` but for
    frames proportional to the corpus (a tokenized projection, a basket
    table): persist keeps LINEAGE, so on executor loss the partition is
    recomputed from the parquet scan instead of killing the job the way a
    lost localCheckpoint block would, and DISK_ONLY keeps a 100 TB-scale
    frame out of executor memory entirely (ADVICE r12). Persist is lazy —
    zero jobs at construction — so planning-only sweeps need no gating; the
    plan shows InMemoryRelation/InMemoryTableScan immediately, which
    scan_audit already recognizes as the discipline marker.

    Frames are tracked in ``_SHARED_FRAMES``; long-running drivers release
    them between queries via ``release_shared_frames`` (ADVICE r13 — see
    the tracker comment above)."""
    from pyspark import StorageLevel

    record_plan_only_materialization(df)
    out = df.persist(StorageLevel.DISK_ONLY)
    _SHARED_FRAMES.append(out)
    return out


def release_shared_frames(blocking: bool = False) -> int:
    """Unpersist every outstanding shared-corpus frame; returns the count.

    Call after a query's result is fully materialized (collected / written /
    timed): its shared frames exist to dedupe scans WITHIN one query's plan,
    never to leak warm state into the NEXT query's measurement or plan
    (the cross-query cache-splice ADVICE r13 names). Safe to call anytime —
    unpersist on an already-unpersisted frame is a no-op."""
    n = len(_SHARED_FRAMES)
    for df in _SHARED_FRAMES:
        try:
            df.unpersist(blocking=blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    _SHARED_FRAMES.clear()
    return n
