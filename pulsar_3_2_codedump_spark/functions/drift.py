"""Dataset-drift and model-evaluation operators for training-data pipelines.

A production corpus pipeline re-ingests continuously; before a new slice is
admitted it is compared against the reference distribution and the quality
gate's classifier is re-audited. Beyond-reference §2.N extensions (the
reference broker has no analytics surface; these are the standard public
formulations):

  - **Population Stability Index** (the banking/industry drift score;
    Karakoulas 2004 formulation): per-category
    ``(p_cur - p_ref) * ln(p_cur / p_ref)`` between a reference and a
    current window of the event stream. Both halves come out of ONE scan
    (conditional aggregation), the per-category frame is metadata-scale,
    and the totals are a single broadcast row — no second pass, no driver
    collect.
  - **Kolmogorov-Smirnov two-sample statistic** (exact, not binned):
    ``D = max_v |F1(v) - F2(v)|`` over the observed support. The running
    CDFs are EXACT INTEGER prefix counts computed with the distributed
    prefix decomposition (`operators/prefixops.py`) — no single-partition
    window anywhere — and the max is scale-free:
    ``D_num = max |c1*n2 - c2*n1|`` stays in BIGINT, so both engines hash
    identically; the float D is derived once at the end.
  - **Calibration bins** (reliability diagram, Niculescu-Mizil & Caruana
    2005): decile-bucket a deterministic quality score, per bin emit count,
    positive count and exact-integer mean score / positive rate. The decile
    assignment uses the exact distributed global rank (no NTILE over an
    unpartitioned window), so bucket membership is reproducible under any
    partitioning.

All arithmetic that crosses the hash oracle is integer (counts, scaled
scores) or a ratio of integers rounded once at emission — no float
aggregation order-sensitivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from pulsar_3_2_codedump_spark.catalog import fanout, load
from pulsar_3_2_codedump_spark.operators.prefixops import (
    distributed_rank,
    range_bucket,
)
from pulsar_3_2_codedump_spark.queries import query


@query(
    "psi_drift",
    section="2.N-quality",
    doc="Population Stability Index between the first and second half of "
    "the event stream (split at the midpoint of the observed epoch-"
    "microsecond range — integer arithmetic, both engines agree exactly): "
    "per event_type, psi_term = (p_cur - p_ref) * ln(p_cur / p_ref). ONE "
    "corpus scan with conditional aggregation produces both windows' "
    "counts; the category frame and the totals row are metadata-scale "
    "broadcasts. Counts are exact BIGINT; only the final per-category term "
    "is floating, computed once from exact integers and rounded 6dp.",
    oracle="""
        WITH bounds AS (
            SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
            FROM events
        ),
        cat AS (
            SELECT event_type,
                   SUM(CASE WHEN epoch_us(ts) <= bounds.mid THEN 1 ELSE 0 END) AS n_ref,
                   SUM(CASE WHEN epoch_us(ts) > bounds.mid THEN 1 ELSE 0 END) AS n_cur
            FROM events, bounds
            GROUP BY event_type
        ),
        tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cat)
        SELECT cat.event_type,
               CAST(cat.n_ref AS BIGINT) AS n_ref,
               CAST(cat.n_cur AS BIGINT) AS n_cur,
               ROUND((CAST(cat.n_cur AS DOUBLE) / tot.t_cur
                      - CAST(cat.n_ref AS DOUBLE) / tot.t_ref)
                     * LN((CAST(cat.n_cur AS DOUBLE) / tot.t_cur)
                          / (CAST(cat.n_ref AS DOUBLE) / tot.t_ref)), 6)
                   AS psi_term
        FROM cat, tot
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = events.agg(
        F.min(us).alias("__mn"), F.max(us).alias("__mx")
    ).select(F.expr("(__mn + __mx) DIV 2").alias("mid"))
    cat = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(us <= F.col("mid"), 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(us > F.col("mid"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = cat.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    return cat.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"
KS_BUCKETS = 32


@query(
    "ks_two_sample",
    section="2.N-quality",
    doc="Exact two-sample Kolmogorov-Smirnov statistic between the order-"
    f"value distributions of the {KS_SEG_A} and {KS_SEG_B} market segments: "
    "D = max over observed values of |F_a(v) - F_b(v)|. The comparison "
    "stays in EXACT INTEGERS (D_num = max |c_a*n_b - c_b*n_a|) so the "
    "hash oracle is sound; the running per-value counts are computed with "
    "the distributed prefix-sum decomposition (range-bucket partials + "
    "triangular carry-in join) — no unpartitioned window, holds at any "
    "corpus size. One output row.",
    oracle=f"""
        WITH s AS (
            SELECT o.o_totalprice AS v,
                   CASE WHEN c.c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS ga
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
        ),
        pv AS (
            SELECT v, SUM(ga) AS na, SUM(1 - ga) AS nb
            FROM s GROUP BY v
        ),
        run AS (
            SELECT v,
                   SUM(na) OVER (ORDER BY v) AS ca,
                   SUM(nb) OVER (ORDER BY v) AS cb
            FROM pv
        ),
        tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM pv)
        SELECT CAST(MAX(ABS(run.ca * tot.n_b - run.cb * tot.n_a)) AS BIGINT)
                   AS ks_num,
               CAST(tot.n_a AS BIGINT) AS n_a,
               CAST(tot.n_b AS BIGINT) AS n_b,
               ROUND(CAST(MAX(ABS(run.ca * tot.n_b - run.cb * tot.n_a))
                          AS DOUBLE) / (tot.n_a * tot.n_b), 6) AS ks_d
        FROM run, tot
        GROUP BY tot.n_a, tot.n_b
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    s = (
        orders.join(
            F.broadcast(
                customer.filter(
                    F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B)
                ).select("c_custkey", "c_mktsegment")
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == KS_SEG_A, 1).otherwise(0).alias("ga"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("ga").alias("na"), F.sum(F.lit(1) - F.col("ga")).alias("nb")
    )
    # exact running counts without a global window: range-bucket the distinct
    # values, per-bucket partials, triangular exclusive carry, within-bucket
    # running sums partitioned by bucket
    b = range_bucket(pv, "v", KS_BUCKETS)
    # one triangular carry join for BOTH running sums over the
    # metadata-scale (KS_BUCKETS-row, lineage-cut) partials frame
    parts = (
        b.groupBy("bucket")
        .agg(F.sum("na").alias("pa"), F.sum("nb").alias("pb"))
        .localCheckpoint()
    )
    carry = (
        parts.select(F.col("bucket").alias("__b"))
        .join(
            F.broadcast(parts.select(
                F.col("bucket").alias("__pb"), "pa", "pb"
            )),
            F.col("__pb") < F.col("__b"),
            "left",
        )
        .groupBy("__b")
        .agg(F.sum("pa").alias("ca0"), F.sum("pb").alias("cb0"))
        .select(F.col("__b").alias("bucket"), "ca0", "cb0")
    )
    w = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = (
        b.join(F.broadcast(carry), "bucket")
        .select(
            "v",
            (F.coalesce("ca0", F.lit(0)) + F.sum("na").over(w)).alias("ca"),
            (F.coalesce("cb0", F.lit(0)) + F.sum("nb").over(w)).alias("cb"),
        )
    )
    tot = pv.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    diff = F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
    return (
        run.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(F.max(diff).alias("ks_num"))
        .select(
            F.col("ks_num").cast("long").alias("ks_num"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("ks_num").cast("double") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("ks_d"),
        )
    )


CAL_BINS = 10


@query(
    "score_calibration_bins",
    section="2.N-quality",
    doc="Classifier reliability diagram over the documents corpus: a "
    "deterministic integer quality score (percent of alphabetic chars, "
    "0..100) is decile-bucketed by EXACT global rank (distributed_rank — "
    "range-bucketed partials + carry-in, no unpartitioned NTILE) against "
    "the lang='en' label; per bin the count, positive count, mean score "
    "and positive rate come from exact integer sums. The standard "
    "calibration audit for the corpus quality gate (Niculescu-Mizil & "
    "Caruana 2005), reproducible under any partitioning.",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   (100 * LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                       // LENGTH(text) AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
            WHERE LENGTH(text) > 0
        ),
        ranked AS (
            SELECT score, pos,
                   ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM scored
        )
        SELECT CAST(((rn - 1) * {CAL_BINS}) // n AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               ROUND(CAST(SUM(score) AS DOUBLE) / COUNT(*), 6) AS mean_score,
               ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
        FROM ranked
        GROUP BY 1
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    docs = fanout(load(spark, sf_dir, "documents")).filter(F.length("text") > 0)
    # the scored projection feeds the rank machinery (bounds, partials,
    # ranked pass) and the count row — persist once (corpus-sized 3-col
    # frame → DISK_ONLY; r13 scan audit: 4 documents scans -> 1)
    scored = persist_shared_corpus_frame(
        docs.select(
            "doc_id",
            F.floor(
                F.lit(100)
                * F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
                / F.length("text")
            ).cast("long").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    # exact global rank without a single-partition window; score is already
    # 0..100 so it is its own monotone range bucket
    ranked = distributed_rank(
        scored, F.col("score"), [F.col("score"), F.col("doc_id")], out="rn"
    )
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "bin", ((F.col("rn") - 1) * CAL_BINS / F.col("n")).cast("long")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_pos"),
            F.sum("score").alias("sum_score"),
        )
        .select(
            "bin",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(
                F.col("sum_score").cast("double") / F.col("n_docs"), 6
            ).alias("mean_score"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs"), 6
            ).alias("pos_rate"),
        )
    )


BOOT_B = 8  # bootstrap replicates
# Poisson(1) CDF thresholds (k=0..7; tail collapses to 8). Literal constants
# shared verbatim by both engines, compared against an exact dyadic-rational
# uniform — weight assignment is deterministic, no RNG state.
_POIS_CDF = [
    0.367879441, 0.735758882, 0.919698603, 0.981011843,
    0.996340153, 0.999405815, 0.999916759, 0.999989751,
]


def _pois_case_sql(ucol: str) -> str:
    branches = "".join(
        f" WHEN {ucol} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE{branches} ELSE 8 END"


@query(
    "poisson_bootstrap_means",
    section="2.N-quality",
    doc="Poisson bootstrap (Chamandy et al., 'Estimating Uncertainty for "
    "Massive Data Streams' — the resampling scheme that works when the "
    "data cannot be held, let alone resampled, on one machine): each row "
    f"independently draws a Poisson(1) weight per replicate ({BOOT_B} "
    "replicates) from a deterministic md5 uniform, so every replicate's "
    "weighted mean is computed in the SAME single scan with no "
    "with-replacement shuffle. Weights are exact integers from literal "
    "CDF thresholds vs a dyadic-rational uniform — both engines assign "
    "identically; only the final per-replicate mean is floating (rounded "
    "4dp). Output: one row per replicate with effective n and the "
    "weighted mean order value — the spread across rows IS the bootstrap "
    "standard error.",
    oracle=f"""
        WITH w AS (
            SELECT r.r AS replicate,
                   {_pois_case_sql("(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(r.r AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)")} AS wt,
                   o_totalprice AS v
            FROM orders, (SELECT UNNEST(range({BOOT_B})) AS r) r
        )
        SELECT CAST(replicate AS BIGINT) AS replicate,
               CAST(SUM(wt) AS BIGINT) AS n_eff,
               ROUND(SUM(wt * v) / SUM(wt), 4) AS mean_price
        FROM w
        GROUP BY replicate
    """,
)
def poisson_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    reps = F.array(*[F.lit(i) for i in range(BOOT_B)])
    u_sql = (
        "(CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), '#', "
        "CAST(replicate AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0)"
    )
    w = (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").alias("v"),
            F.explode(reps).alias("replicate"),
        )
        .withColumn("wt", F.expr(_pois_case_sql(u_sql)))
    )
    return (
        w.groupBy("replicate")
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("wt") * F.col("v")) / F.sum("wt"), 4
            ).alias("mean_price"),
        )
        .select(
            F.col("replicate").cast("long").alias("replicate"),
            "n_eff",
            "mean_price",
        )
    )


@query(
    "bootstrap_median_replicates",
    section="2.N-quality",
    doc="Bootstrap sampling distribution of the MEDIAN — the quantile case "
    "where analytic standard errors fail and the bootstrap is the "
    "standard answer: the same deterministic Poisson(1) weights as "
    "poisson_bootstrap_means, but each replicate's statistic is the "
    "weighted LOWER MEDIAN (first value whose running weight reaches "
    "ceil(W/2)) — an EXACT data value, no interpolation, so the hash "
    "oracle is sound. Running weights use the per-replicate distributed "
    "prefix decomposition (range-bucket partials + per-replicate "
    "triangular carry + bucket-partitioned windows) — no per-replicate "
    "single-partition window. Spread across the replicate rows IS the "
    "median's bootstrap CI.",
    oracle=f"""
        WITH w AS (
            SELECT r.r AS replicate,
                   {_pois_case_sql("(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(r.r AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)")} AS wt,
                   o_totalprice AS v
            FROM orders, (SELECT UNNEST(range({BOOT_B})) AS r) r
        ),
        pv AS (
            SELECT replicate, v, SUM(wt) AS na FROM w
            WHERE wt > 0 GROUP BY 1, 2
        ),
        run AS (
            SELECT replicate, v,
                   SUM(na) OVER (PARTITION BY replicate ORDER BY v) AS c,
                   SUM(na) OVER (PARTITION BY replicate) AS tot
            FROM pv
        )
        SELECT CAST(replicate AS BIGINT) AS replicate,
               CAST(MAX(tot) AS BIGINT) AS n_eff,
               MIN(CASE WHEN c >= (tot + 1) // 2 THEN v END) AS median
        FROM run
        GROUP BY replicate
    """,
)
def bootstrap_median_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    reps = F.array(*[F.lit(i) for i in range(BOOT_B)])
    u_sql = (
        "(CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), '#', "
        "CAST(replicate AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0)"
    )
    # persist-before-reuse (r12 scan audit): pv is the (replicate x
    # distinct-value) weighted frame — every downstream pass (range-bucket
    # bounds, bucket partials, the triangular carry's two partials refs,
    # the in-bucket resolution) re-ran the corpus explode + Poisson weight
    # when left lazy (7 orders scans in the emitted plan). Checkpoint the
    # post-aggregation frame once: one corpus scan, and everything after
    # operates on the B x NDV(v) reduction.
    pv = (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").alias("v"),
            F.explode(reps).alias("replicate"),
        )
        .withColumn("wt", F.expr(_pois_case_sql(u_sql)))
        .filter(F.col("wt") > 0)
        .groupBy("replicate", "v")
        .agg(F.sum("wt").alias("na"))
        .localCheckpoint()
    )
    b = range_bucket(pv, "v", 32)
    partials = b.groupBy("replicate", "bucket").agg(F.sum("na").alias("pn"))
    # per-replicate triangular carry over the (B x 32)-row partials frame
    carry = (
        partials.select(
            F.col("replicate").alias("__r"), F.col("bucket").alias("__b")
        )
        .join(
            F.broadcast(
                partials.select(
                    F.col("replicate").alias("__pr"),
                    F.col("bucket").alias("__pb"),
                    "pn",
                )
            ),
            (F.col("__pr") == F.col("__r")) & (F.col("__pb") < F.col("__b")),
            "left",
        )
        .groupBy("__r", "__b")
        .agg(F.sum("pn").alias("c0"))
        .select(
            F.col("__r").alias("replicate"), F.col("__b").alias("bucket"), "c0"
        )
    )
    win = Window.partitionBy("replicate", "bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = pv.groupBy("replicate").agg(F.sum("na").alias("tot"))
    run = (
        b.join(F.broadcast(carry), ["replicate", "bucket"])
        .withColumn("c", F.coalesce("c0", F.lit(0)) + F.sum("na").over(win))
        .join(F.broadcast(tot), "replicate")
    )
    return (
        run.groupBy("replicate")
        .agg(
            F.max("tot").cast("long").alias("n_eff"),
            F.min(
                F.when(
                    F.col("c") >= F.expr("(tot + 1) DIV 2"), F.col("v")
                )
            ).alias("median"),
        )
        .select(
            F.col("replicate").cast("long").alias("replicate"),
            "n_eff",
            "median",
        )
    )


MAD_K = 3.0  # outlier threshold: |v - median| > MAD_K * MAD


@query(
    "robust_mad_outliers",
    section="2.N-quality",
    doc="Robust outlier detection via Median Absolute Deviation (the "
    "Hampel identifier — unlike anomaly_zscore's mean/stddev, the "
    "median/MAD pair has a 50% breakdown point, so the outliers "
    "themselves cannot mask the threshold): per event_type, med = "
    "median(value), MAD = median(|value - med|), and values with "
    f"|value - med| > {MAD_K} * MAD are flagged. Two exact interpolated "
    "medians (same partial-agg form both engines, the stats_summary "
    "contract) + two broadcast joins of the 5-row group frame back onto "
    "the fact scan — the fact table is scanned twice but never "
    "shuffled-wide; group cardinality bounds the buffered state.",
    oracle=f"""
        WITH m AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY event_type
        ),
        a AS (
            SELECT e.event_type, abs(e.value - m.med) AS adev, m.med AS med
            FROM events e JOIN m USING (event_type)
        ),
        s AS (
            SELECT event_type, median(adev) AS mad
            FROM a GROUP BY event_type
        )
        SELECT a.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MAX(a.med), 4) AS med,
               ROUND(MAX(s.mad), 4) AS mad,
               CAST(SUM(CASE WHEN a.adev > {MAD_K} * s.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               ROUND(MAX(a.adev), 4) AS max_adev
        FROM a JOIN s USING (event_type)
        GROUP BY a.event_type
    """,
)
def robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    # the 2-col projection feeds both median passes AND the final agg —
    # the Hampel identifier is inherently two-pass, but every pass should
    # read the persisted projection, not re-scan parquet (r13 scan audit:
    # 4 events scans -> 1)
    events = persist_shared_corpus_frame(
        load(spark, sf_dir, "events").select("event_type", "value")
    )
    med = events.groupBy("event_type").agg(F.median("value").alias("med"))
    a = events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = a.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        a.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("adev"), 4).alias("max_adev"),
        )
    )


@query(
    "ab_test_z_scores",
    section="2.N-quality",
    doc="Two-proportion z-test per event surface (the experimentation "
    "readout a platform runs beside its PSI/KS drift monitors): users "
    "are deterministically split into arms by user_id parity (the "
    "hash-bucket assignment an experiment framework uses), conversion = "
    "the user purchased at least once, and per event-surface cohort "
    "(users who touched that surface) the pooled-variance z statistic "
    "is computed from EXACT integer counts — the only floats are the "
    "final sqrt and one division, identical single libm ops on both "
    "engines. Conversion is 'heavy buyer' (>= 14 purchases — the fixture "
    "has ~13 purchases/user at every SF, so both outcomes stay "
    "populated). Two user_id-keyed aggs + a 5-row stats frame; nothing "
    "unbounded.",
    oracle="""
        WITH conv AS (
            SELECT user_id,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        cohort AS (
            SELECT DISTINCT e.event_type, e.user_id
            FROM events e WHERE e.event_type <> 'purchase'
        ),
        arms AS (
            SELECT c.event_type,
                   SUM(CASE WHEN c.user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN c.user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN c.user_id % 2 = 0 THEN v.converted ELSE 0 END)
                       AS x_a,
                   SUM(CASE WHEN c.user_id % 2 = 1 THEN v.converted ELSE 0 END)
                       AS x_b
            FROM cohort c JOIN conv v ON v.user_id = c.user_id
            GROUP BY c.event_type
        )
        SELECT event_type,
               CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
               CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
               ROUND((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                     / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                            * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                            * (CAST(1 AS DOUBLE) / n_a
                               + CAST(1 AS DOUBLE) / n_b)), 4) AS z
        FROM arms
        WHERE x_a + x_b > 0 AND x_a + x_b < n_a + n_b
    """,
)
def ab_test_z_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    conv = events.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 14
        )
        .cast("int")
        .alias("converted")
    )
    cohort = (
        events.filter(F.col("event_type") != "purchase")
        .select("event_type", "user_id")
        .distinct()
    )
    a_arm = F.col("user_id") % 2 == 0
    arms = (
        cohort.join(conv, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(a_arm, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~a_arm, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(a_arm, F.col("converted")).otherwise(0)).alias("x_a"),
            F.sum(F.when(~a_arm, F.col("converted")).otherwise(0)).alias("x_b"),
        )
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (1 - pool)
        * (
            F.lit(1).cast("double") / F.col("n_a")
            + F.lit(1).cast("double") / F.col("n_b")
        )
    )
    return (
        arms.filter(
            (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
        )
        .select(
            "event_type",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("x_a").cast("long").alias("x_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("x_b").cast("long").alias("x_b"),
            F.round((p_a - p_b) / se, 4).alias("z"),
        )
    )
