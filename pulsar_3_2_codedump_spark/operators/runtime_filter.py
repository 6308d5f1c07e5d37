"""Explicit bloom-filter runtime pruning — the 100 TB semi-join story.

Spark's own optimizer injects bloom runtime filters on shuffle joins
(`spark.sql.optimizer.runtime.bloomFilter.enabled`, InjectRuntimeFilter);
this operator re-expresses the mechanism as an AUDITABLE first-class query
so its cost/benefit is measurable: the build side's key set is folded into
an m-bit bloom (k probes, classic double hashing h1 + i*h2 — Kirsch &
Mitzenmacher "Less Hashing, Same Performance"), shipped to the probe side
as a broadcast word table (one BroadcastHashJoin per probe position — an
O(1) hash lookup at any m), and every probe row is filtered scan-locally
with zero shuffle. The exact semi-join runs alongside to report the
realized false-positive rate — the number a pipeline operator watches
before trusting the filter at scale.

Scale shape: the build is one distinct + one metadata-scale (m/32-row)
aggregate; the bloom crosses the cluster once as a broadcast; the probe
pass is embarrassingly parallel (pure JVM hash/bit expressions inside
whole-stage codegen, no Python). At 100 TB the probe never shuffles on
account of the filter — exactly the property that makes runtime filters
the standard big-join pruning device.

Hash parity: both engines derive h1/h2 from the same md5 hex substrings
(the repo's established md5+conv oracle-parity device, `routing.py`), and
words are 32-bit so `1 << bit` never overflows DuckDB's checked BIGINT
shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.queries import query

BLOOM_M_BITS = 16384  # filter size in bits (m)
BLOOM_K = 4           # probes per key (k)


def _h1h2(key_col):
    """Double-hashing bases from md5 hex — reproducible in both engines."""
    s = key_col.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    # *2+1 forces the stride odd (coprime with the power-of-two m) without
    # engine-specific bitwise OR semantics
    h2 = F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


@query(
    "bloom_filter_semi_join",
    section="2.N-relational",
    doc="Bloom-filter runtime pruning audit (the explicit form of Spark's "
    "InjectRuntimeFilter): build an m=16384-bit / k=4 bloom over the "
    "distinct customer keys of URGENT orders (double hashing from md5 — "
    "Kirsch & Mitzenmacher), broadcast the word table, probe every "
    "customer scan-locally (one BroadcastHashJoin per position + codegen "
    "bit tests, no shuffle), and "
    "reconcile against the exact semi-join: per market segment, probe "
    "count, bloom passes, true members, false positives and the realized "
    "FP rate. No false negatives by construction — asserted by the "
    "n_pass >= n_true invariant the oracle reproduces.",
    oracle=f"""
        WITH bkeys AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ),
        bh AS (
            SELECT CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h1,
                   CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 9, 8))
                        AS BIGINT) * 2 + 1 AS h2
            FROM bkeys
        ),
        bpos AS (
            SELECT ((h1 + i.i * h2) % {BLOOM_M_BITS}) AS p
            FROM bh, (SELECT UNNEST([0,1,2,3]) AS i) i
        ),
        words AS (
            SELECT p // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS wbits
            FROM bpos GROUP BY 1
        ),
        ph AS (
            SELECT c_custkey, c_mktsegment,
                   CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h1,
                   CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))
                        AS BIGINT) * 2 + 1 AS h2
            FROM customer
        ),
        pp AS (
            SELECT c_custkey, c_mktsegment,
                   ((h1 + i.i * h2) % {BLOOM_M_BITS}) AS p
            FROM ph, (SELECT UNNEST([0,1,2,3]) AS i) i
        ),
        hits AS (
            SELECT pp.c_custkey, pp.c_mktsegment,
                   SUM(CASE WHEN w.wbits IS NOT NULL
                             AND (w.wbits & (CAST(1 AS BIGINT)
                                             << CAST(pp.p % 32 AS INT))) <> 0
                            THEN 1 ELSE 0 END) AS nhit
            FROM pp LEFT JOIN words w ON w.word = pp.p // 32
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT c.c_custkey,
                   MAX(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS istrue
            FROM customer c LEFT JOIN bkeys b ON b.k = c.c_custkey
            GROUP BY 1
        )
        SELECT hits.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_probe,
               CAST(SUM(CASE WHEN nhit = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass,
               CAST(SUM(istrue) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN nhit = {BLOOM_K} AND istrue = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               ROUND(CAST(SUM(CASE WHEN nhit = {BLOOM_K} AND istrue = 0
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / NULLIF(COUNT(*) - SUM(istrue), 0), 6) AS fp_rate
        FROM hits JOIN truth ON truth.c_custkey = hits.c_custkey
        GROUP BY 1
    """,
)
def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")

    bkeys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    h1, h2 = _h1h2(F.col("k"))
    probes = F.array(*[F.lit(i) for i in range(BLOOM_K)])
    bpos = (
        bkeys.select(h1.alias("h1"), h2.alias("h2"), F.explode(probes).alias("i"))
        .select(((F.col("h1") + F.col("i") * F.col("h2")) % BLOOM_M_BITS).alias("p"))
    )
    words = (
        bpos.select(
            F.expr("p DIV 32").alias("word"),
            F.expr("CAST(p % 32 AS INT)").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wbits"))
    )
    # One broadcast hash join per probe position: BroadcastHashJoin gives a
    # real O(1) hash lookup into the word table and keeps the probe pass
    # shuffle-free at ANY filter size (a single map-column literal would be
    # broadcastable too, but Spark's MapData lookup is a linear scan — at
    # m=2^24 that is 500k comparisons per element_at; measured 25x slower in
    # tools/scale_smoke.py).
    # metadata-scale (m/32 rows); cut lineage
    words = words.localCheckpoint()
    probe = customer.select("c_custkey", "c_mktsegment")
    passes = None
    for i in range(BLOOM_K):
        probe = probe.withColumn(f"w{i}", F.expr(f"(( {_pos_sql(i)} ) DIV 32)"))
        probe = probe.join(
            F.broadcast(
                words.select(
                    F.col("word").alias(f"w{i}"), F.col("wbits").alias(f"wb{i}")
                )
            ),
            f"w{i}",
            "left",
        )
        hit = (
            F.coalesce(F.col(f"wb{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(( {_pos_sql(i)} ) % 32 AS INT))")
            )
            != 0
        )
        passes = hit if passes is None else (passes & hit)
    flagged = probe.withColumn("bloom_pass", passes).select(
        "c_custkey", "c_mktsegment", "bloom_pass"
    )

    # estimate-driven join (NO explicit broadcast): bkeys is the DISTINCT
    # urgent-order customer-key set — corpus-proportional, so a broadcast
    # hint would materialize it through the driver at 100 TB (the r11
    # TPC-H de-hinting class; found by the r12 flip audit after 'k' left
    # the global bounded-key set). Catalyst still picks BroadcastHashJoin
    # from size estimates at test SF and flips to a custkey shuffle join
    # past the threshold.
    truth = flagged.join(
        bkeys.withColumn("istrue", F.lit(1)),
        flagged.c_custkey == F.col("k"),
        "left",
    ).select(
        "c_mktsegment",
        "bloom_pass",
        F.coalesce("istrue", F.lit(0)).alias("istrue"),
    )
    return truth.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum("istrue").cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("bloom_pass") & (F.col("istrue") == 0), 1).otherwise(0)
        ).cast("long").alias("n_false_pos"),
        F.round(
            F.sum(
                F.when(F.col("bloom_pass") & (F.col("istrue") == 0), 1).otherwise(0)
            ).cast("double")
            / F.nullif(
                F.count(F.lit(1)) - F.sum("istrue"), F.lit(0)
            ),
            6,
        ).alias("fp_rate"),
    )


def _pos_sql(i: int) -> str:
    """SQL fragment computing probe position i from c_custkey (codegen-side)."""
    return (
        "(CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        f" + {i} * (CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10)"
        f" AS BIGINT) * 2 + 1)) % {BLOOM_M_BITS}"
    )
