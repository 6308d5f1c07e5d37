"""Behavioral event analytics: ordered funnels and cohort retention.

Beyond-reference §2.N extensions over the ``events`` fixture — the two
workhorse product-analytics shapes a stream-analytics engine is expected to
answer over an event log (the reference's SQL surface answers them via
`pulsar-sql` / Trino on topic storage; here they are plain DataFrame plans).

Scale posture (100 TB):
  - funnel: one hash-agg shuffle on ``user_id`` for step 1, then per-step
    joins that stay on the same ``user_id`` key — Spark reuses the hash
    partitioning across the chain, so the funnel is a linear sequence of
    co-partitioned narrow joins, never a cross product. Step frames shrink
    monotonically (funnel property), so AQE can demote later joins to
    broadcast automatically.
  - cohort retention: two aggregations keyed on ``user_id`` then a small
    (cohort_week × week_offset) hash-agg — output is bounded by the
    calendar, not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pulsar_3_2_codedump_spark.catalog import (
    ckpt_unless_plan_only,
    load,
    persist_shared_corpus_frame,
)
from pulsar_3_2_codedump_spark.queries import query

FUNNEL_STEPS = ["view", "click", "purchase"]


@query(
    "funnel_conversion",
    section="2.N-behavior",
    doc="Ordered funnel view→click→purchase: a user completes step N at the "
    "earliest event of that type strictly AFTER completing step N-1. "
    "Per-user min-ts aggs + co-partitioned user_id joins — no cross product.",
    oracle="""
        WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
              WHERE e.event_type = 'click' GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
              WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        SELECT 1 AS step_no, 'view' AS step, COUNT(*) AS users FROM v
        UNION ALL SELECT 2, 'click', COUNT(*) FROM c
        UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load(spark, sf_dir, "events"), FUNNEL_STEPS)


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel core: step 1 completes at a user's first event of that
    type; step N at the first event of its type strictly AFTER step N-1."""
    prev = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("step_ts"))
    )
    counts = [prev.agg(F.count(F.lit(1)).alias("users"))]
    for step in steps[1:]:
        nxt = (
            events.filter(F.col("event_type") == step)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col("step_ts"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("step_ts"))
        )
        counts.append(nxt.agg(F.count(F.lit(1)).alias("users")))
        prev = nxt
    rows = [
        c.select(
            F.lit(i + 1).alias("step_no"), F.lit(name).alias("step"), F.col("users")
        )
        for i, (name, c) in enumerate(zip(steps, counts))
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@query(
    "cohort_retention",
    section="2.N-behavior",
    doc="Weekly cohort retention: cohort = week of a user's first event; "
    "active_users = distinct users from that cohort with any event N weeks "
    "later. Calendar-bounded output; two user_id-keyed aggs.",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cw
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT e.user_id, f.cw,
                   datediff('day', f.cw, date_trunc('week', e.ts)) // 7 AS wk
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        )
        SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
               CAST(wk AS BIGINT) AS week_offset,
               COUNT(*) AS active_users
        FROM act GROUP BY cw, wk
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort(load(spark, sf_dir, "events"))


def cohort(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention core over an (user_id, ts) event frame."""
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            "cw",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cw")) / 7
            ).cast("long").alias("wk"),
        )
        .distinct()
    )
    return act.groupBy("cw", "wk").agg(F.count(F.lit(1)).alias("active_users")).select(
        F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
        F.col("wk").alias("week_offset"),
        "active_users",
    )


@query(
    "event_bigram_counts",
    section="2.N-behavior",
    doc="Per-user event-sequence mining: count (event_type -> next event_type) "
    "transitions over each user's timeline (ordered by ts, event_id tiebreak). "
    "One user_id window shuffle + one small hash-agg over type pairs.",
    oracle="""
        WITH seq AS (
            SELECT event_type AS prev_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        )
        SELECT prev_type, next_type, COUNT(*) AS cnt
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
)
def event_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


NTILE_BUCKETS = 32  # range buckets backing each distributed NTILE rank


@query(
    "rfm_scores",
    section="2.N-behavior",
    doc="RFM segmentation over purchase events: per user, recency (days since "
    "last purchase, vs the corpus max timestamp), frequency (purchase count), "
    "monetary (summed value); each dimension scored into NTILE(5) quintiles "
    "with a user_id tiebreak for determinism. One user_id hash-agg, then each "
    "quintile rank runs as a DISTRIBUTED rank (range-bucket + prefix-count "
    "carry-ins, operators/prefixops.py) + NTILE's closed form over (rank, N) "
    "— no single-partition window over the user table ever forms, so the "
    "plan holds at any user count.",
    oracle="""
        WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
        per AS (
            SELECT user_id,
                   datediff('day', MAX(ts), (SELECT max_ts FROM mx)) AS r_days,
                   COUNT(*) AS f,
                   ROUND(SUM(value), 4) AS m
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT user_id, CAST(r_days AS BIGINT) AS r_days, f, m,
               NTILE(5) OVER (ORDER BY r_days, user_id)      AS r_score,
               NTILE(5) OVER (ORDER BY f DESC, user_id)      AS f_score,
               NTILE(5) OVER (ORDER BY m DESC, user_id)      AS m_score
        FROM per
    """,
)
def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("max_ts"))
    per = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("f"),
            F.round(F.sum("value"), 4).alias("m"),
        )
        .join(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("max_ts", "last_ts").cast("long").alias("r_days"),
            "f",
            "m",
        )
    )
    # truncate lineage first (the dedup_clusters localCheckpoint pattern) so
    # the three rank pipelines below all read the flat materialized frame
    # instead of nesting each other's aggregates (~4^depth plan growth)
    per = ckpt_unless_plan_only(per, cut_plan_only=True)
    # r16 restructure (OPTIMIZATION_r16.md, in-rep faster 3 of 4 reps, e.g.
    # 1.45 s vs 2.74 s at sf0.1; shuffle Exchanges 24 -> 16 under the
    # PLANS.md counting convention): the three NTILE
    # dimensions share ONE bounds+count aggregate (each range_bucket's
    # min/max and the row count N collapse into a single broadcast row), and
    # the three distributed ranks CHAIN on the same frame — per-dim bucket
    # counts -> triangular exclusive-prefix carries (prefixops) -> broadcast
    # back -> per-bucket row_number windows — so the three (user_id, score)
    # join-backs (which planned as SortMergeJoins over the stats-free
    # checkpoint) disappear. Rank arithmetic, tie behavior (user_id ASC
    # tiebreak; DESC dims rank by the negated value) and NTILE's closed form
    # are unchanged — bit-identical scores, no unpartitioned window.
    from pulsar_3_2_codedump_spark.operators.prefixops import exclusive_prefix

    keys = {"r": F.col("r_days"), "f": (-F.col("f")).cast("long"), "m": -F.col("m")}
    bounds = per.agg(
        F.count(F.lit(1)).alias("__N"),
        *[
            x
            for d, k in keys.items()
            for x in (F.min(k).alias(f"__lo_{d}"), F.max(k).alias(f"__hi_{d}"))
        ],
    )
    t = per.crossJoin(F.broadcast(bounds))
    for d, k in keys.items():
        # range_bucket's formula inline, per dimension off the shared bounds
        t = t.withColumn(
            f"__b_{d}",
            F.least(
                F.floor(
                    (k - F.col(f"__lo_{d}"))
                    * NTILE_BUCKETS
                    / (F.col(f"__hi_{d}") - F.col(f"__lo_{d}") + 1)
                ),
                F.lit(NTILE_BUCKETS - 1),
            ),
        )
    # Three per-dim bucket-count aggregates KEPT deliberately (r17, VERDICT
    # r16 item 7 follow-through): a fused single-pass form — explode
    # (dim, bucket) pairs, one groupBy — was built, proven bit-identical
    # (OPTIMIZATION_r17.md, 0 differing rows), and A/B-REJECTED in the
    # bench-faithful construction+collect timing: with the fused counts
    # localCheckpointed, minima 2.669 s vs 2.476 s (2-2 in-rep split, the
    # extra eager job's barrier eats the fused pass's savings); left lazy,
    # 2.086 s vs 1.853 s (old faster 3 of 4 in-rep). The three aggregates
    # each read the already-checkpointed flat frame, so at this node count
    # the fan-out costs less than an added barrier or an exploded 3x row
    # stream; the driver's r16 secondary gap (2.14 s vs the builder's
    # 1.54 s) is host shading, not plan structure.
    out = t
    for d, k in keys.items():
        counts = t.groupBy(f"__b_{d}").agg(F.count(F.lit(1)).alias("__n"))
        carry = exclusive_prefix(counts, f"__b_{d}", "__n", "sum", f"__carry_{d}")
        win = Window.partitionBy(f"__b_{d}").orderBy(k, F.col("user_id"))
        out = out.join(F.broadcast(carry), f"__b_{d}").withColumn(
            f"__rn_{d}",
            (
                F.coalesce(F.col(f"__carry_{d}"), F.lit(0)) + F.row_number().over(win)
            ).cast("long"),
        )

    def tile(d: str):
        # NTILE(5)'s closed form from (global rank, N): the first N%5 tiles
        # carry floor(N/5)+1 rows
        r0 = F.col(f"__rn_{d}") - 1
        base = F.floor(F.col("__N") / 5)
        rem = F.col("__N") % 5
        big = rem * (base + 1)
        return (
            F.when(r0 < big, F.floor(r0 / (base + 1)) + 1)
            .otherwise(rem + F.floor((r0 - big) / F.greatest(base, F.lit(1))) + 1)
            .cast("int")
        )

    return out.select(
        "user_id", "r_days", "f", "m",
        tile("r").alias("r_score"), tile("f").alias("f_score"), tile("m").alias("m_score"),
    )


@query(
    "anomaly_zscore",
    section="2.N-behavior",
    doc="Daily-volume anomaly scoring: per (event_type, day) counts, z-scored "
    "against that type's daily mean/stddev — the monitoring query every "
    "event pipeline runs. Two hash-aggs (daily counts, per-type moments) + "
    "a broadcast join of the tiny per-type stats row.",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS cnt
            FROM events GROUP BY event_type, day
        ),
        st AS (
            SELECT event_type, AVG(cnt) AS mu, STDDEV_SAMP(cnt) AS sigma
            FROM daily GROUP BY event_type
        )
        SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cnt,
               ROUND((d.cnt - st.mu) / st.sigma, 4) AS z
        FROM daily d JOIN st ON d.event_type = st.event_type
        WHERE st.sigma > 0
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    st = daily.groupBy("event_type").agg(
        F.avg("cnt").alias("mu"), F.stddev_samp("cnt").alias("sigma")
    )
    return (
        daily.join(F.broadcast(st), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cnt",
            F.round((F.col("cnt") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        )
    )


SCD2_USERS = 40  # bound the emitted history slice


@query(
    "scd2_intervals",
    section="2.N-behavior",
    doc="SCD2 (slowly-changing-dimension type 2) history build from an event "
    "log: each user's event stream becomes contiguous validity intervals "
    "[valid_from, valid_to) via lead() over (ts, event_id); the current row "
    "has valid_to NULL. The batch analogue of the reference's compacted-"
    "topic-with-history read (a TableView keeps only the latest; SCD2 keeps "
    "every version with its validity window). One shuffle on user_id for "
    "the window sort; at 100 TB partition the output table by "
    "is_current/date so point-in-time (AS OF) lookups prune to one "
    "partition.",
    oracle=f"""
        SELECT user_id, event_id,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               STRFTIME(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
               event_type AS state,
               CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        FROM events
        WHERE user_id < {SCD2_USERS}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").filter(F.col("user_id") < SCD2_USERS)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        F.col("event_type").alias("state"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@query(
    "event_trigram_paths",
    section="2.N-behavior",
    doc="Top event-type paths of length 3 (sequence mining one step past "
    "bigrams — the 'what do users actually do' query): per-user consecutive "
    "(prev, cur, next) transitions via two lead() calls over one window "
    "spec (one user_id shuffle total), counted and ranked with a "
    "deterministic tiebreak. Output bounded by |event types|³.",
    oracle="""
        WITH seq AS (
            SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1, e2, e3, COUNT(*) AS n
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1, 2, 3
    """,
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )


PR_SCALE = 1_000_000_000_000  # fixed-point PageRank scale (exact integer math)
PR_ITERS = 2


@query(
    "event_graph_pagerank",
    section="2.N-behavior",
    doc="PageRank power iteration over the event-type transition graph "
    f"(Brin & Page; d=0.85, {PR_ITERS} unrolled iterations): nodes = event "
    "types, edge weights = per-user consecutive transitions (the "
    "event_bigram edge build — ONE user_id window over the corpus), then "
    "every iteration is a join-aggregate over the |types|² edge table — "
    "metadata-scale, broadcast-everything; the corpus is touched exactly "
    "once no matter how many iterations. All arithmetic is FIXED-POINT "
    "BIGINT (pr scaled by 1e12, DIV for every division), so both engines "
    "produce bit-identical ranks — a full hash oracle for a float-free "
    "power iteration. Dangling-mass redistribution is omitted (every "
    "fixture node has out-edges; documented deviation).",
    oracle=f"""
        WITH seq AS (
            SELECT event_type AS src,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events),
        edges AS (SELECT src, dst, COUNT(*) AS w FROM seq
                  WHERE dst IS NOT NULL GROUP BY src, dst),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        outd AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
        n AS (SELECT COUNT(*) AS n FROM nodes),
        pr0 AS (SELECT node, {PR_SCALE} // n.n AS pr FROM nodes, n),
        c1 AS (SELECT e.dst AS node, SUM((p.pr * e.w) // o.outw) AS contrib
               FROM edges e JOIN pr0 p ON p.node = e.src
               JOIN outd o ON o.src = e.src GROUP BY e.dst),
        pr1 AS (SELECT nd.node,
                       (15 * {PR_SCALE}) // (100 * n.n)
                       + (85 * COALESCE(c1.contrib, 0)) // 100 AS pr
                FROM nodes nd LEFT JOIN c1 ON c1.node = nd.node, n),
        c2 AS (SELECT e.dst AS node, SUM((p.pr * e.w) // o.outw) AS contrib
               FROM edges e JOIN pr1 p ON p.node = e.src
               JOIN outd o ON o.src = e.src GROUP BY e.dst),
        pr2 AS (SELECT nd.node,
                       (15 * {PR_SCALE}) // (100 * n.n)
                       + (85 * COALESCE(c2.contrib, 0)) // 100 AS pr
                FROM nodes nd LEFT JOIN c2 ON c2.node = nd.node, n)
        SELECT pr2.node AS event_type,
               CAST(pr2.pr AS BIGINT) AS pr_scaled,
               CAST(COALESCE(outd.outw, 0) AS BIGINT) AS out_weight
        FROM pr2 LEFT JOIN outd ON outd.src = pr2.node
    """,
)
def event_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    # localCheckpoint the |types|²-row edge table and the node list: the
    # unrolled iterations reference them repeatedly, and without the cut
    # every iteration's lineage re-scans the corpus (rfm_scores precedent —
    # flatten lineage once the frame is metadata-scale)
    edges = ckpt_unless_plan_only(
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w")),
        cut_plan_only=True,
    )
    nodes = ckpt_unless_plan_only(
        events.select(F.col("event_type").alias("node")).distinct(), cut_plan_only=True
    )
    outd = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    n = nodes.agg(F.count(F.lit(1)).alias("n"))

    def base_pr():
        return F.expr(f"(15 * {PR_SCALE}) DIV (100 * n)")

    pr = nodes.crossJoin(F.broadcast(n)).select(
        "node", F.expr(f"{PR_SCALE} DIV n").alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(F.broadcast(pr.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(outd), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(pr * w) DIV outw")).alias("contrib"))
        )
        pr = (
            nodes.join(F.broadcast(contrib), "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    base_pr()
                    + F.expr("(85 * COALESCE(contrib, 0)) DIV 100")
                ).alias("pr"),
            )
        )
    return (
        pr.join(F.broadcast(outd.withColumnRenamed("src", "node")), "node", "left")
        .select(
            F.col("node").alias("event_type"),
            F.col("pr").cast("long").alias("pr_scaled"),
            F.coalesce(F.col("outw"), F.lit(0)).cast("long").alias("out_weight"),
        )
    )


@query(
    "attribution_last_touch",
    section="2.N-behavior",
    doc="Last-touch marketing attribution: every purchase event is credited "
    "to the user's most recent preceding non-purchase event type ('direct' "
    "when the purchase is the user's first touch), then conversions and "
    "revenue aggregate per channel. One user_id-partitioned window (the "
    "same shuffle key every behavioral query here reuses) + one bounded "
    "hash-agg — linear at any log size. Revenue sums are rounded 2dp, two "
    "orders above double reassociation noise at this magnitude.",
    oracle="""
        WITH touched AS (
            SELECT event_type, value,
                   LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS chan
            FROM events
        )
        SELECT COALESCE(chan, 'direct') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               ROUND(SUM(value), 2) AS revenue
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = events.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("chan"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("chan", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


AR_MIN_SUP_PCT = 2  # rule support threshold: >= 2% of baskets


@query(
    "association_rules",
    section="2.N-behavior",
    doc="Market-basket association rules (Agrawal & Srikant, Apriori): "
    "baskets are orders, items are part brands. The plan is the Apriori "
    "prune done Spark-style: item supports in one hash-agg, frequent "
    "items broadcast back to prune baskets BEFORE pair generation (the "
    "candidate-generation step that makes the quadratic self-join "
    "tractable at 100 TB), then the pair self-join shuffles once on the "
    "basket key where per-basket pair counts are bounded by basket size. "
    f"Rules with support >= {AR_MIN_SUP_PCT}% of baskets are emitted in "
    "both directions with exact-integer support and 6dp "
    "confidence/lift (ratios of exact counts — order-insensitive).",
    oracle=f"""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS item
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        n AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM baskets),
        ic AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
        freq AS (SELECT ic.item, ic.cnt FROM ic, n
                 WHERE ic.cnt * 100 >= {AR_MIN_SUP_PCT} * n.n_baskets),
        fb AS (SELECT b.o, b.item FROM baskets b
               JOIN freq ON freq.item = b.item),
        pairs AS (
            SELECT a.item AS ia, c.item AS ib, COUNT(*) AS pair_cnt
            FROM fb a JOIN fb c ON a.o = c.o AND a.item < c.item
            GROUP BY 1, 2
        ),
        sp AS (SELECT ia, ib, pair_cnt FROM pairs, n
               WHERE pair_cnt * 100 >= {AR_MIN_SUP_PCT} * n.n_baskets),
        rules AS (
            SELECT ia AS antecedent, ib AS consequent, pair_cnt FROM sp
            UNION ALL
            SELECT ib, ia, pair_cnt FROM sp
        )
        SELECT r.antecedent, r.consequent,
               CAST(r.pair_cnt AS BIGINT) AS support_cnt,
               ROUND(CAST(r.pair_cnt AS DOUBLE) / ca.cnt, 6) AS confidence,
               ROUND(CAST(r.pair_cnt AS DOUBLE) * n.n_baskets
                     / (ca.cnt * cb.cnt), 6) AS lift
        FROM rules r
        JOIN ic ca ON ca.item = r.antecedent
        JOIN ic cb ON cb.item = r.consequent, n
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # materialize the basket table once: four consumers (totals, item
    # supports, the pruned copy, both pair sides) would otherwise each
    # re-derive the join+distinct build lineage. The basket table is
    # CORPUS-sized (distinct order x brand), so it takes the lazy
    # DISK_ONLY-persist form of the discipline — lineage kept, partitions
    # recomputable on executor loss, nothing pinned in executor memory
    # (ADVICE r12). At 100 TB this is the "persist the projection first"
    # step.
    baskets = persist_shared_corpus_frame(
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = baskets.agg(F.countDistinct("o").alias("n_baskets"))
    ic = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    freq = (
        ic.crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * 100 >= AR_MIN_SUP_PCT * F.col("n_baskets"))
        .select("item")
    )
    fb = baskets.join(F.broadcast(freq), "item").select("o", "item")
    a = fb.select("o", F.col("item").alias("ia"))
    c = fb.select("o", F.col("item").alias("ib"))
    pairs = (
        a.join(c, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("pair_cnt") * 100 >= AR_MIN_SUP_PCT * F.col("n_baskets"))
        .select("ia", "ib", "pair_cnt")
    )
    rules = pairs.select(
        F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"), "pair_cnt"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("antecedent"), F.col("ia").alias("consequent"), "pair_cnt"
        )
    )
    ca = ic.select(F.col("item").alias("antecedent"), F.col("cnt").alias("ca"))
    cb = ic.select(F.col("item").alias("consequent"), F.col("cnt").alias("cb"))
    return (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("pair_cnt").cast("long").alias("support_cnt"),
            F.round(F.col("pair_cnt").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_cnt").cast("double") * F.col("n_baskets")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # conversion window per step: 24h


@query(
    "funnel_within_window",
    section="2.N-behavior",
    doc="Time-constrained ordered funnel (the Amplitude/GA form — each step "
    "must occur within 24h of the PREVIOUS step, not just after it): step "
    "N completes at the first event of its type inside (t_{N-1}, "
    "t_{N-1}+W]. Same co-partitioned user_id join chain as the "
    "unconstrained funnel (frames shrink monotonically, AQE demotes later "
    "joins to broadcast); the window predicate is exact integer "
    "microseconds on both engines. Output: users surviving each step, "
    "with the unconstrained count alongside to show the window's bite.",
    oracle=f"""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s1 ON s1.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t
              AND epoch_us(e.ts) <= epoch_us(s1.t) + {FUNNEL_WINDOW_US}
            GROUP BY 1
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s2 ON s2.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t
              AND epoch_us(e.ts) <= epoch_us(s2.t) + {FUNNEL_WINDOW_US}
            GROUP BY 1
        ),
        u2 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s1 ON s1.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
        ),
        u3 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN u2 ON u2.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY 1
        )
        SELECT 1 AS step_no, 'view' AS step,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS users_windowed,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS users_unbounded
        UNION ALL
        SELECT 2, 'click', (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM u2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM u3)
    """,
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import ckpt_unless_plan_only

    events = load(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]

    # Persist-before-reuse (r12): each per-user stage frame feeds BOTH its
    # own count and every later stage, and the step-1 frame is shared by
    # the windowed AND unbounded chains — left lazy, chained lineage
    # re-executed earlier stages per reference (12 events scans in the
    # emitted plan). Checkpointing each bounded per-user stage (<= #users
    # rows, the CC per-round discipline) makes it 1 events scan per
    # (step, chain) leg — 5 total, each with its event_type filter pushed.
    prev0 = ckpt_unless_plan_only(
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t")),
        cut_plan_only=True,
    )

    def chain(windowed: bool):
        prev = prev0
        counts = [prev.agg(F.count(F.lit(1)).alias("users"))]
        for step in steps[1:]:
            nxt = events.filter(F.col("event_type") == step).join(prev, "user_id")
            cond = F.col("ts") > F.col("t")
            if windowed:
                cond = cond & (
                    F.unix_micros(F.col("ts"))
                    <= F.unix_micros(F.col("t")) + FUNNEL_WINDOW_US
                )
            prev = ckpt_unless_plan_only(
                nxt.filter(cond).groupBy("user_id").agg(F.min("ts").alias("t")),
                cut_plan_only=True,
            )
            counts.append(prev.agg(F.count(F.lit(1)).alias("users")))
        return counts

    win, unb = chain(True), chain(False)
    out = None
    for i, step in enumerate(steps):
        row = (
            win[i]
            .withColumnRenamed("users", "users_windowed")
            .crossJoin(unb[i].withColumnRenamed("users", "users_unbounded"))
            .select(
                F.lit(i + 1).alias("step_no"),
                F.lit(step).alias("step"),
                F.col("users_windowed").cast("long").alias("users_windowed"),
                F.col("users_unbounded").cast("long").alias("users_unbounded"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


CUSUM_SCALE = 1000   # fixed-point scale for the allowance k
CUSUM_H_MULT = 2     # alarm threshold: h = H_MULT * k


@query(
    "cusum_changepoint",
    section="2.N-behavior",
    doc="CUSUM change-point detection (Page 1954) over per-type daily event "
    "volumes — the sequential recurrence s_d = max(0, s_{d-1} + x_d - k) "
    "computed via its PREFIX closed form s_d = P_d - min(P_0..P_d) "
    "(P = running sum of x - k), so one type-partitioned window replaces "
    "the sequential scan — the dispatch_rate_limit closed-form device "
    "applied to anomaly detection. Allowance k = per-type mean daily "
    f"volume (fixed-point x{CUSUM_SCALE} BIGINT — exact on both engines); "
    f"alarm when s > {CUSUM_H_MULT}k. Output: one row per (type, day) "
    "with the volume, the CUSUM statistic and the alarm flag.",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
            FROM events GROUP BY 1, 2
        ),
        k AS (
            SELECT event_type,
                   (SUM(x) * {CUSUM_SCALE}) // COUNT(*) AS k_scaled
            FROM daily GROUP BY 1
        ),
        p AS (
            SELECT d.event_type, d.day, d.x,
                   SUM(d.x * {CUSUM_SCALE} - k.k_scaled)
                       OVER (PARTITION BY d.event_type ORDER BY d.day) AS pd,
                   k.k_scaled
            FROM daily d JOIN k ON k.event_type = d.event_type
        ),
        s AS (
            SELECT event_type, day, x, k_scaled,
                   pd - LEAST(MIN(pd) OVER (PARTITION BY event_type
                                            ORDER BY day), 0) AS s_scaled
            FROM p
        )
        SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
               CAST(x AS BIGINT) AS x,
               CAST(s_scaled AS BIGINT) AS s_scaled,
               s_scaled > {CUSUM_H_MULT} * k_scaled AS alarm
        FROM s
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("x"))
    )
    k = daily.groupBy("event_type").agg(
        F.expr(f"(SUM(x) * {CUSUM_SCALE}) DIV COUNT(*)").alias("k_scaled")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = daily.join(F.broadcast(k), "event_type").withColumn(
        "pd", F.sum(F.col("x") * CUSUM_SCALE - F.col("k_scaled")).over(w)
    )
    s = p.withColumn(
        "s_scaled",
        F.col("pd") - F.least(F.min("pd").over(w), F.lit(0)),
    )
    return s.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("x"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        (F.col("s_scaled") > CUSUM_H_MULT * F.col("k_scaled")).alias("alarm"),
    )


PATH_LAST_K = 5   # pre-conversion events kept per user
PATH_TOP = 10     # paths reported


@query(
    "conversion_paths",
    section="2.N-behavior",
    doc="Path-to-conversion analysis: for each converting user, the last "
    f"{PATH_LAST_K} events before their FIRST purchase, joined into an "
    "ordered path string, aggregated to the top "
    f"{PATH_TOP} paths (count-then-path tiebreak). One user-partitioned "
    "recency window + one deterministic ordered fold per user "
    "(sort_array over (ts, event_id) structs — no nondeterministic "
    "collect order) + a bounded path hash-agg. The funnel's free-form "
    "complement: it finds the step sequences you did not think to "
    "declare.",
    oracle=f"""
        WITH fp AS (
            SELECT user_id, MIN(ts) AS pt FROM events
            WHERE event_type = 'purchase' GROUP BY 1
        ),
        pre AS (
            SELECT e.user_id, e.event_type, e.ts, e.event_id,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts DESC, e.event_id DESC) AS rn
            FROM events e JOIN fp ON fp.user_id = e.user_id
            WHERE e.ts < fp.pt
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM pre WHERE rn <= {PATH_LAST_K}
            GROUP BY 1
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM paths
        GROUP BY path
        ORDER BY n_users DESC, path ASC
        LIMIT {PATH_TOP}
    """,
)
def conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    pre = (
        events.join(fp, "user_id")
        .filter(F.col("ts") < F.col("pt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_LAST_K)
    )
    paths = (
        pre.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(PATH_TOP)
    )


SKEW_TARGET_PER_TASK = 4  # desired max key-count multiple of the mean


@query(
    "skew_diagnosis",
    section="2.N-behavior",
    doc="Join-skew diagnosis — the advisor beside salted_hot_key_agg's cure: "
    "per event type, the user-key count distribution (keys, max, exact "
    "x100 mean), the hottest key, the skew ratio (max/mean, x100 fixed-"
    "point DIV), and the recommended salt factor ceil(max / "
    f"({SKEW_TARGET_PER_TASK}x mean)) a planner would apply before the "
    "shuffle. One hash-agg on (type, key) + one metadata-scale rollup; "
    "all integer arithmetic.",
    oracle=f"""
        WITH kc AS (
            SELECT event_type, user_id, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        top AS (
            SELECT event_type, user_id AS hot_key, cnt,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY cnt DESC, user_id ASC) AS rn
            FROM kc
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST((SUM(cnt) * 100) // COUNT(*) AS BIGINT) AS mean_x100,
               CAST(MAX(CASE WHEN rn = 1 THEN hot_key END) AS BIGINT)
                   AS hot_key,
               CAST((MAX(cnt) * COUNT(*) * 100) // SUM(cnt) AS BIGINT)
                   AS skew_ratio_x100,
               CAST(GREATEST(1,
                    (MAX(cnt) * COUNT(*)
                     + {SKEW_TARGET_PER_TASK} * SUM(cnt) - 1)
                    // ({SKEW_TARGET_PER_TASK} * SUM(cnt))) AS BIGINT)
                   AS recommended_salt
        FROM top
        GROUP BY event_type
    """,
)
def skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    kc = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id").asc()
    )
    top = kc.withColumn("rn", F.row_number().over(w))
    return (
        top.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.expr("(SUM(cnt) * 100) DIV COUNT(*)").cast("long").alias("mean_x100"),
            F.max(F.when(F.col("rn") == 1, F.col("user_id")))
            .cast("long")
            .alias("hot_key"),
            F.expr("(MAX(cnt) * COUNT(*) * 100) DIV SUM(cnt)")
            .cast("long")
            .alias("skew_ratio_x100"),
            F.expr(
                f"GREATEST(1, (MAX(cnt) * COUNT(*) + {SKEW_TARGET_PER_TASK} * SUM(cnt) - 1)"
                f" DIV ({SKEW_TARGET_PER_TASK} * SUM(cnt)))"
            ).cast("long").alias("recommended_salt"),
        )
    )


TWAP_VSCALE = 10_000  # value quantization: 4dp fixed-point


@query(
    "time_weighted_avg",
    section="2.N-behavior",
    doc="Time-weighted average price/value (TWAP — the metric a naive AVG "
    "gets wrong whenever sampling is irregular: a value that persisted "
    "for an hour must weigh 3600x one that persisted a second): per "
    "event_type, each event's value is weighted by the milliseconds "
    "until the next event of that type (LEAD over a (ts, event_id)-"
    "tiebroken window — publish_time ties are real, see ADVICE r7), and "
    "the unweighted mean is emitted beside it to show the bias. "
    "Integer-exact: values quantized to 4dp BIGINTs, weights are BIGINT "
    "milliseconds, so SUM(vq*dt) <= max(vq) * total_span_ms ~ 1.3e16 — "
    "no double-summation order dependence; one double division at "
    "emission. One window + one hash-agg, both partitioned by "
    "event_type — scales by key, no global window.",
    oracle=f"""
        WITH t AS (
            SELECT event_type, epoch_us(ts) // 1000 AS tms, event_id,
                   CAST(round(value * {TWAP_VSCALE}) AS BIGINT) AS vq
            FROM events
        ),
        d AS (
            SELECT event_type, vq,
                   LEAD(tms) OVER (PARTITION BY event_type
                                   ORDER BY tms, event_id) - tms AS dt
            FROM t
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dt) AS BIGINT) AS span_ms,
               ROUND(SUM(vq * dt) / (SUM(dt) * {TWAP_VSCALE}.0), 6) AS twap,
               ROUND(SUM(vq) / (COUNT(*) * {TWAP_VSCALE}.0), 6) AS unweighted_avg
        FROM d
        WHERE dt IS NOT NULL
        GROUP BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    t = events.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000").alias("tms"),
        "event_id",
        F.round(F.col("value") * TWAP_VSCALE).cast("long").alias("vq"),
    )
    w = Window.partitionBy("event_type").orderBy("tms", "event_id")
    d = t.withColumn("dt", F.lead("tms").over(w) - F.col("tms")).filter(
        F.col("dt").isNotNull()
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("span_ms"),
        F.round(
            F.sum(F.col("vq") * F.col("dt"))
            / (F.sum("dt") * F.lit(float(TWAP_VSCALE))),
            6,
        ).alias("twap"),
        F.round(
            F.sum("vq") / (F.count(F.lit(1)) * F.lit(float(TWAP_VSCALE))), 6
        ).alias("unweighted_avg"),
    )


@query(
    "attribution_position_based",
    section="2.N-behavior",
    doc="POSITION-BASED (U-shaped) multi-touch attribution — the 40/20/40 "
    "split last-touch ignores: for every purchase, the user's full "
    "preceding touch journey is credited 40% to the first touch, 40% to "
    "the last, 20% spread over the middle (100% at one touch, 50/50 at "
    "two, 'direct' when the journey is empty). Credits are INTEGER BASIS "
    "POINTS: the middle share is 2000 DIV (n-2) with the remainder "
    "handed to the earliest middle touches — every conversion credits "
    "exactly 10000 bps on both engines, no float splits. Revenue is "
    "credited in cents x bps BIGINTs (one division at emission). The "
    "journey join and the position window are both keyed on user_id / "
    "conversion id — the standard behavioral shuffle key, journeys "
    "bounded per user, never a global window.",
    oracle="""
        WITH p AS (
            SELECT user_id, event_id AS conv_id, ts AS pts,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        t AS (
            SELECT user_id, event_id, ts, event_type
            FROM events WHERE event_type <> 'purchase'
        ),
        j AS (
            SELECT p.conv_id, p.cents, t.event_type,
                   ROW_NUMBER() OVER (PARTITION BY p.conv_id
                                      ORDER BY t.ts, t.event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY p.conv_id) AS n
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND (t.ts < p.pts OR (t.ts = p.pts AND t.event_id < p.conv_id))
        ),
        credited AS (
            SELECT conv_id, cents, event_type AS channel,
                   CASE WHEN n = 1 THEN 10000
                        WHEN n = 2 THEN 5000
                        WHEN rn = 1 OR rn = n THEN 4000
                        ELSE 2000 // (n - 2)
                             + CASE WHEN rn - 1 <= 2000 % (n - 2)
                                    THEN 1 ELSE 0 END
                   END AS bps
            FROM j
            UNION ALL
            SELECT p.conv_id, p.cents, 'direct' AS channel, 10000 AS bps
            FROM p
            WHERE NOT EXISTS (
                SELECT 1 FROM t
                WHERE t.user_id = p.user_id
                  AND (t.ts < p.pts OR (t.ts = p.pts AND t.event_id < p.conv_id))
            )
        )
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
               CAST(SUM(bps) AS BIGINT) AS bps_total,
               ROUND(SUM(cents * bps) / 1000000.0, 4) AS revenue_credited
        FROM credited
        GROUP BY channel
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    t = events.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_id", "ts", "event_type"
    )
    before = (F.col("ts") < F.col("pts")) | (
        (F.col("ts") == F.col("pts")) & (F.col("event_id") < F.col("conv_id"))
    )
    j = p.join(t, "user_id").filter(before)
    wp = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("conv_id")
    ranked = j.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    bps = F.expr(
        "CASE WHEN n = 1 THEN 10000 WHEN n = 2 THEN 5000 "
        "WHEN rn = 1 OR rn = n THEN 4000 "
        "ELSE 2000 DIV (n - 2) + CASE WHEN rn - 1 <= 2000 % (n - 2) "
        "THEN 1 ELSE 0 END END"
    )
    touched = ranked.select(
        "conv_id", "cents", F.col("event_type").alias("channel"), bps.alias("bps")
    )
    direct = (
        p.join(j.select("conv_id").distinct(), "conv_id", "left_anti")
        .select(
            "conv_id", "cents", F.lit("direct").alias("channel"),
            F.lit(10000).alias("bps"),
        )
    )
    return (
        touched.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("conv_id").cast("long").alias("n_conversions"),
            F.sum("bps").cast("long").alias("bps_total"),
            F.round(F.sum(F.col("cents") * F.col("bps")) / 1_000_000.0, 4).alias(
                "revenue_credited"
            ),
        )
    )


@query(
    "sequential_pattern_support",
    section="2.N-behavior",
    doc="Sequential-pattern support with GAPS (the subsequence semantics of "
    "GSP/PrefixSpan, which event_trigram_paths' contiguous transitions "
    "cannot express): for every ordered event-type pair (a, b), a user "
    "supports a=>b when SOME a-event happens strictly before SOME "
    "b-event, regardless of what happens in between — i.e. min_ts(a) < "
    "max_ts(b) per user, a pure per-user aggregate condition. Per-user "
    "type profiles are one hash-agg on (user, type); the pattern join "
    "is user-co-partitioned and bounded by |types|^2 rows per user; "
    "confidence = supporters / users-with-a, all exact integers.",
    oracle="""
        WITH prof AS (
            SELECT user_id, event_type, MIN(ts) AS min_ts, MAX(ts) AS max_ts
            FROM events GROUP BY user_id, event_type
        ),
        sup AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_support
            FROM prof a JOIN prof b
              ON b.user_id = a.user_id AND b.event_type <> a.event_type
             AND a.min_ts < b.max_ts
            GROUP BY 1, 2
        ),
        hasit AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM prof GROUP BY event_type
        )
        SELECT sup.type_a, sup.type_b, sup.n_support,
               ha.n_users AS n_users_a,
               ROUND(sup.n_support / CAST(ha.n_users AS DOUBLE), 6)
                   AS confidence
        FROM sup JOIN hasit ha ON ha.event_type = sup.type_a
    """,
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    prof = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )
    a = prof.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("min_ts").alias("a_min")
    )
    b = prof.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("max_ts").alias("b_max")
    )
    sup = (
        a.join(b, "user_id")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("a_min") < F.col("b_max"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_support"))
    )
    hasit = prof.groupBy(F.col("event_type").alias("type_a")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users_a")
    )
    return sup.join(F.broadcast(hasit), "type_a").select(
        "type_a", "type_b", "n_support", "n_users_a",
        F.round(F.col("n_support") / F.col("n_users_a").cast("double"), 6).alias(
            "confidence"
        ),
    )
