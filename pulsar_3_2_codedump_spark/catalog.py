"""Fixture catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os

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


# (applicationId, absolute path) -> ((size, st_mtime_ns), the schema Spark
# inferred for the file at that size and mtime); see ``load``
_SCHEMAS: dict[tuple[str, str], tuple[tuple[int, int], T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema of a file only on
    its first read in this session."""
    # a directory's size and mtime do not change when a file in it is
    # rewritten in place, so only a single file is memoized
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    stamp = (st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes timestamp representations the
    fixtures have shipped with across driver versions — nanosecond
    TIMESTAMP(NANOS) (readable only as long) and tz-naive TIMESTAMP_NTZ —
    down to plain session-TZ microsecond TIMESTAMP, matching what DuckDB's
    reader produces on the same files.

    Spark infers a parquet file's schema with a Spark job that reads its
    footer. ``load`` memoizes the inferred schema per session
    (``applicationId``), absolute path, file size and ``st_mtime_ns``, and
    later loads of the same file pass it to the reader, so they run no job.
    A rewritten fixture has a new size or mtime and is inferred again. Each
    call still builds a new relation: two loads of one table in a self-join
    keep distinct attribute ids."""
    try:
        # Prefer reading tz-naive parquet timestamps as TIMESTAMP directly;
        # the cast below still guards sessions where this conf is absent/locked.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _conform_timestamps(df)
    return _conform_timestamps(_read_parquet(spark, path))


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
    """Lazy DISK_ONLY persist: the one lifecycle for any frame a query
    caches, whatever its size (a tokenized projection, a basket table, a
    MinHash signature, a trained codebook).

    Loop-carried frames use ``localCheckpoint`` instead. Persist keeps
    LINEAGE, so on executor loss the partition is recomputed from the
    parquet scan instead of killing the job the way a lost localCheckpoint
    block would, and DISK_ONLY keeps a 100 TB-scale frame out of executor
    memory entirely (ADVICE r12). Persist is lazy — zero jobs at
    construction; the plan shows InMemoryRelation/InMemoryTableScan
    immediately.

    Frames are tracked in ``_SHARED_FRAMES``; long-running drivers release
    them between queries via ``release_shared_frames`` (ADVICE r13 — see
    the tracker comment above). No query keeps a cached frame of its own
    between calls: one left behind would be spliced into later plans and
    would outlive the session that made it."""
    from pyspark import StorageLevel

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
