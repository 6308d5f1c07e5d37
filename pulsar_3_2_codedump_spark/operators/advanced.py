"""Advanced relational operators (SURVEY §2.M continued): statistical
aggregates, JSON scalar functions over message properties, as-of joins,
range joins, subqueries, time-bucketed rollups, ranking distributions.

The reference has none of these (no SQL layer in-repo); they are required by
the harness and are native Spark. The as-of join is the one genuinely novel
composition (Spark has no ASOF JOIN): expressed as last_value(... IGNORE
NULLS) over an event-time-ordered window — one shuffle on the key, no
range-explosion, which is the scalable form at 100 TB (the naive
inequality-join alternative is quadratic per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.queries import query, scratch_root
from pulsar_3_2_codedump_spark.topic import lookup_frame


@query(
    "stats_summary",
    section="2.M-agg",
    doc="Statistical aggregates: exact interpolated percentiles, median, stddev, "
    "correlation/covariance per return flag.",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_price,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
               ROUND(median(l_quantity), 4)                   AS med_qty,
               ROUND(stddev_samp(l_extendedprice), 4)         AS sd_price,
               ROUND(corr(l_quantity, l_extendedprice), 6) + 0 AS qty_price_corr,
               ROUND(covar_samp(l_discount, l_tax), 6) + 0     AS disc_tax_cov
        FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 split (OPTIMIZATION_r17.md; VERDICT r16 item 1): the exact
    # percentile/median aggregates build a value->count OpenHashMap of BOXED
    # doubles per group inside ObjectHashAggregate — the expensive per-row
    # term — and on a single-split scan that map-building is single-threaded.
    # The percentile branch now runs off a hash-repartitioned 3-column
    # projection (repartition(defaultParallelism, flag, price): keyed, so no
    # sort-before-repartition; co-locating equal prices makes the partial
    # price-percentile maps DISJOINT, so their final merge does the minimum
    # possible inserts — med_qty's l_quantity maps still overlap, which costs
    # merge inserts, not exactness), and the 3-row result broadcast-joins
    # back onto the moments aggregate.
    # Percentile/median are SELECTION aggregates whose merge is an exact
    # integer map-union — commutative and associative — so their result is
    # bit-identical under any partitioning (proven: byte-equal doubles at
    # sf0.01/sf0.1, OPTIMIZATION_r17.md); the moments aggregate keeps its exact r16
    # partial structure. Measured 1.102 s vs 1.641 s (per-variant minima,
    # in-rep faster 3 of 4 reps). A counts-based distributed selection
    # (groupBy(flag,value).count + cum-window + closed-form interpolation,
    # also proven bit-exact, OPTIMIZATION_r17.md) measured SLOWER here (1.97-2.63 s:
    # extra exchanges + 6-partition window dominate at this size) and is the
    # documented 100 TB swap if the value-map form ever becomes the
    # bottleneck at real scale.
    # corr/covar can round to IEEE -0.0 in one engine and +0.0 in the other;
    # "+ 0.0" (here and in the oracle) normalizes the sign of zero.
    li = load(spark, sf_dir, "lineitem")
    narrow = li.select("l_returnflag", "l_extendedprice", "l_quantity").repartition(
        spark.sparkContext.defaultParallelism, "l_returnflag", "l_extendedprice"
    )
    # one percentile buffer for both price quantiles (each percentile() agg
    # otherwise collects the full column per group independently)
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    p = narrow.groupBy("l_returnflag").agg(
        pcts.alias("__pcts"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + F.lit(0.0)).alias("qty_price_corr"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias("disc_tax_cov"),
    )
    return m.join(F.broadcast(p), "l_returnflag").select(
        "l_returnflag",
        F.round(F.col("__pcts")[0], 4).alias("p50_price"),
        F.round(F.col("__pcts")[1], 4).alias("p95_price"),
        "med_qty", "sd_price", "qty_price_corr", "disc_tax_cov",
    )


@query(
    "json_properties",
    section="2.M-scalar",
    doc="JSON scalar functions over the message properties payload (events.props "
    "is the properties-map analogue, §1.2): extract, cast, aggregate.",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1
    """,
)
def json_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(k.isNotNull())
        .groupBy((k % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "asof_join_prior_view",
    section="2.M-join",
    doc="AS-OF join (no Spark native): for each purchase, the user's most recent "
    "strictly-earlier view event — last_value IGNORE NULLS over an event-ordered "
    "window; one shuffle on user_id, no inequality-join blowup.",
    oracle="""
        SELECT user_id, event_id AS purchase_event, prior_view_event
        FROM (
            SELECT user_id, event_id, event_type,
                   last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prior_view_event
            FROM events
        ) WHERE event_type = 'purchase'
    """,
)
def asof_join_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "prior_view_event",
        F.last(F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True).over(w),
    )
    return marked.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event"), "prior_view_event"
    )


@query(
    "exists_in_subqueries",
    section="2.M-subquery",
    doc="EXISTS + IN subqueries: urgent orders that shipped a high-quantity line.",
    oracle="""
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'MACHINERY')
    """,
)
def exists_in_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "lineitem", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'MACHINERY')
        """
    )


@query(
    "range_join_price_bands",
    section="2.M-join",
    doc="Range (interval) join: parts bucketed into literal price bands via "
    "BETWEEN — broadcast of the tiny band table keeps it a single scan.",
    oracle="""
        WITH bands(band, lo, hi) AS (VALUES
            ('budget', 0.0, 500.0), ('mid', 500.0, 1200.0), ('premium', 1200.0, 100000.0))
        SELECT band, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    bands = lookup_frame(
        spark,
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 100000.0)],
        "band string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice"), 4).alias("avg_price"))
    )


@query(
    "monthly_rollup",
    section="2.M-agg",
    doc="Time-bucketed continuous-aggregate rollup (hypertable-style): monthly "
    "order volume + revenue — date_trunc hits parquet min/max pruning when "
    "filtered.",
    oracle="""
        SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    """,
)
def monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "rank_distributions",
    section="2.M-window",
    doc="Ranking distributions: ntile quartiles + percent_rank + cume_dist over "
    "supplier account balances (unique tiebreak).",
    oracle="""
        SELECT s_suppkey,
               ntile(4)       OVER (ORDER BY s_acctbal, s_suppkey) AS quartile,
               ROUND(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS pct_rank,
               ROUND(cume_dist()    OVER (ORDER BY s_acctbal, s_suppkey), 6) AS cdist
        FROM supplier
    """,
)
def rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load(spark, sf_dir, "supplier")
    w = W.orderBy("s_acctbal", "s_suppkey")
    return supp.select(
        "s_suppkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "first_last_window",
    section="2.M-window",
    doc="first_value/last_value with explicit frames: each order's first and last "
    "shipped line by date (unique tiebreak).",
    oracle="""
        SELECT DISTINCT l_orderkey,
               first_value(l_linenumber) OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_line,
               last_value(l_linenumber) OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_line
        FROM lineitem WHERE l_orderkey <= 1000
    """,
)
def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_shipdate", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        F.first("l_linenumber").over(w).alias("first_line"),
        F.last("l_linenumber").over(w).alias("last_line"),
    ).distinct()


@query(
    "schema_decode_value",
    section="1.3-schema",
    doc="Schema-on-read decode of the binary value payload (AUTO_CONSUME → typed "
    "struct, AutoConsumeSchema.java:123): from_json over the envelope value; "
    "aggregate on the decoded field.",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               COUNT(*) AS n
        FROM events
        GROUP BY 1 ORDER BY n DESC, k LIMIT 20
    """,
)
def schema_decode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from pulsar_3_2_codedump_spark.envelope import cached_envelope

    env = cached_envelope(spark, sf_dir)
    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    decoded = env.withColumn("data", F.from_json(F.col("value").cast("string"), schema))
    return (
        decoded.groupBy(F.col("data.k").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("k"))
        .limit(20)
    )


@query(
    "schema_evolution_decode",
    section="1.3-schema",
    doc="Multi-version AUTO_CONSUME decode (MessageMetadata.schema_version, "
    "AutoConsumeSchema.java): orders rows are written under schema v0 "
    "(2 fields, even orderkeys) or v1 (adds o_orderpriority, odd orderkeys); "
    "the consumer decodes each row with its writer schema and conforms to the "
    "latest reader view — v0 rows surface a NULL o_orderpriority. One "
    "filter-pushed decode branch per registered version, unioned.",
    oracle="""
        SELECT CAST(o_orderkey % 2 AS BIGINT) AS schema_version,
               COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               MAX(o_totalprice) AS max_price,
               MIN(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
                   AS min_priority
        FROM orders GROUP BY o_orderkey % 2
    """,
)
def schema_evolution_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from pulsar_3_2_codedump_spark.schema_registry import (
        decode_multi_version,
        register_schema,
    )

    with scratch_root(spark) as root:
        v0 = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType(), True),
                T.StructField("o_totalprice", T.DoubleType(), True),
            ]
        )
        v1 = T.StructType(
            v0.fields + [T.StructField("o_orderpriority", T.StringType(), True)]
        )
        register_schema(root, v0, schema_type="JSON")
        register_schema(root, v1, schema_type="JSON")  # BACKWARD: add nullable

        orders = load(spark, sf_dir, "orders")
        ver = (F.col("o_orderkey") % 2).cast("long")
        payload = F.when(
            ver == 0, F.to_json(F.struct("o_orderkey", "o_totalprice"))
        ).otherwise(
            F.to_json(F.struct("o_orderkey", "o_totalprice", "o_orderpriority"))
        )
        env = orders.select(
            F.to_binary(payload, F.lit("utf-8")).alias("value"),
            ver.alias("schema_version"),
        )
        dec = decode_multi_version(env, root)
        return dec.groupBy("schema_version").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("data.o_orderkey").alias("sum_key"),
            F.max("data.o_totalprice").alias("max_price"),
            F.min("data.o_orderpriority").alias("min_priority"),
        )


@query(
    "string_library",
    section="2.M-scalar",
    doc="String function library breadth: pad/translate/reverse/repeat/split_part/"
    "strpos/left/right over part names.",
    oracle="""
        SELECT p_partkey,
               lpad(p_brand, 12, '*')             AS brand_padded,
               translate(p_type, 'AEIOU', 'aeiou') AS type_lowered_vowels,
               reverse(p_brand)                   AS brand_rev,
               repeat(left(p_brand, 2), 2)        AS brand_echo,
               split_part(p_type, ' ', 1)         AS type_first_word,
               strpos(p_name, 'a')                AS first_a,
               right(p_name, 4)                   AS name_tail
        FROM part WHERE p_partkey <= 300
    """,
)
def string_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_lowered_vowels"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.substring("p_brand", 1, 2), 2).alias("brand_echo"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.substring("p_name", -4, 4).alias("name_tail"),
    )


@query(
    "date_extraction",
    section="2.M-scalar",
    doc="Date/time part extraction + arithmetic: year/quarter/month/week/doy/dow, "
    "last_day, date diff vs a fixed anchor.",
    oracle="""
        SELECT o_orderkey,
               EXTRACT(year FROM o_orderdate)            AS y,
               EXTRACT(quarter FROM o_orderdate)         AS q,
               EXTRACT(month FROM o_orderdate)           AS m,
               EXTRACT(week FROM o_orderdate)            AS iso_week,
               EXTRACT(doy FROM o_orderdate)             AS doy,
               EXTRACT(dow FROM o_orderdate) + 1         AS dow_sun1,
               STRFTIME(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
               datediff('day', TIMESTAMP '1995-01-01', o_orderdate)      AS days_since_epoch_start
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def date_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.dayofweek("o_orderdate").cast("long").alias("dow_sun1"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).cast("long").alias(
            "days_since_epoch_start"
        ),
    )


@query(
    "regexp_functions",
    section="2.M-scalar",
    doc="Regex library: extract/replace/match over document text.",
    oracle=r"""
        SELECT doc_id,
               regexp_extract(text, '([a-z]{5,})', 1)            AS first_long_word,
               LENGTH(regexp_replace(text, '[aeiou]', '', 'g'))  AS len_no_vowels,
               regexp_matches(text, 'spark')                     AS mentions_spark
        FROM documents WHERE doc_id < 200
    """,
)
def regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]{5,})", 1).alias("first_long_word"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast("long").alias("len_no_vowels"),
        F.col("text").rlike("spark").alias("mentions_spark"),
    )


@query(
    "array_functions",
    section="2.M-scalar",
    doc="Array/higher-order function library over embedding vectors: size, "
    "element access, slice, sort, min/max, positive-count via filter.",
    oracle="""
        SELECT vec_id,
               len(embedding)                                   AS dims,
               ROUND(CAST(embedding[1] AS DOUBLE), 6)           AS first_dim,
               ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS min_dim,
               ROUND(CAST(list_sort(embedding)[64] AS DOUBLE), 6) AS max_dim,
               len(list_filter(embedding, x -> x > 0))          AS n_positive,
               ROUND(CAST(list_aggregate(embedding[1:8], 'sum') AS DOUBLE), 6) AS head_sum
        FROM embeddings WHERE vec_id < 200
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dims"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_dim"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(
            F.aggregate(
                F.slice("embedding", 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("head_sum"),
    )


@query(
    "offset_pagination",
    section="2.M-sort",
    doc="LIMIT/OFFSET pagination: page 2 of orders by totalprice (deterministic "
    "tiebreak) — Spark DataFrame offset() + limit().",
    oracle="""
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 15 OFFSET 15
    """,
)
def offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(15)
        .limit(15)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@query(
    "approx_percentile_sketch",
    section="2.M-agg",
    doc="approx_percentile (mergeable sketch) — the 100 TB substitute for exact "
    "percentiles (partial+final agg instead of per-group value buffering). "
    "Estimates are engine-specific, so the hashable surface is a RANK-ERROR "
    "ENVELOPE: per group, booleans asserting the accuracy=10000 estimate "
    "(rank error 1e-4) lies between the EXACT quantiles at p∓0.01 — computed "
    "Spark-side from the same data; the oracle emits TRUE, so a drifting "
    "sketch hash-mismatches. Exact group count + min/max price anchor the "
    "hash to real values. Tighter envelopes in tests/test_sketches.py.",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(MIN(l_extendedprice), 2) AS min_price,
               ROUND(MAX(l_extendedprice), 2) AS max_price,
               TRUE AS p50_in_bound,
               TRUE AS p95_in_bound
        FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("a95"),
        F.expr(
            "percentile(l_extendedprice, array(0.49, 0.51, 0.94, 0.96))"
        ).alias("qb"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )
    return agg.select(
        "l_returnflag",
        "n",
        "min_price",
        "max_price",
        ((F.col("a50") >= F.col("qb")[0]) & (F.col("a50") <= F.col("qb")[1])).alias(
            "p50_in_bound"
        ),
        ((F.col("a95") >= F.col("qb")[2]) & (F.col("a95") <= F.col("qb")[3])).alias(
            "p95_in_bound"
        ),
    )


@query(
    "moving_range_frame_revenue",
    section="2.M-window",
    doc="RANGE-interval window frame: per-supplier 30-day trailing revenue "
    "over daily aggregates — RANGE BETWEEN 29 PRECEDING AND CURRENT ROW on "
    "an epoch-day ordering key (the range frame skips calendar gaps, unlike "
    "a ROWS frame). Daily pre-aggregation first, so the window runs over "
    "#days rows per supplier, not #lineitems.",
    oracle="""
        WITH daily AS (
            SELECT l_suppkey,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum,
                   SUM(l_extendedprice * (1 - l_discount)) AS rev
            FROM lineitem WHERE l_suppkey <= 50
            GROUP BY l_suppkey, dnum
        )
        SELECT l_suppkey, dnum,
               ROUND(rev, 4) AS day_rev,
               ROUND(SUM(rev) OVER (PARTITION BY l_suppkey ORDER BY dnum
                                    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW),
                     4) AS rev_30d
        FROM daily
    """,
)
def moving_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 50)
    daily = li.groupBy(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("dnum"),
    ).agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("dnum")
        .rangeBetween(-29, W.currentRow)
    )
    return daily.select(
        "l_suppkey",
        "dnum",
        F.round("rev", 4).alias("day_rev"),
        F.round(F.sum("rev").over(w), 4).alias("rev_30d"),
    )


@query(
    "unpivot_price_components",
    section="2.M-setop",
    doc="UNPIVOT (wide→long): melt each lineitem's price components "
    "(extended price, discount amount, tax amount) into rows and total per "
    "(returnflag, component) — DataFrame.unpivot / melt; the oracle is the "
    "equivalent UNION ALL stack. One scan + one small agg.",
    oracle="""
        SELECT l_returnflag, comp, ROUND(SUM(v), 4) AS total FROM (
            SELECT l_returnflag, 'extended_amt' AS comp, l_extendedprice AS v
            FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'discount_amt', l_extendedprice * l_discount
            FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'tax_amt', l_extendedprice * l_tax
            FROM lineitem
        ) GROUP BY l_returnflag, comp
    """,
)
def unpivot_price_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("extended_amt"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_amt"),
        (F.col("l_extendedprice") * F.col("l_tax")).alias("tax_amt"),
    )
    long = li.unpivot(
        ["l_returnflag"], ["extended_amt", "discount_amt", "tax_amt"], "comp", "v"
    )
    return long.groupBy("l_returnflag", "comp").agg(F.round(F.sum("v"), 4).alias("total"))


CMS_DEPTH, CMS_WIDTH = 3, 1024
CMS_PROBE_STRIDE = 20  # user_id % stride == 0 → the probe set


def _cms_bucket(item, row):
    """Row-``row`` CMS bucket: md5-based 32-bit hash (the engine-shared hash
    family used throughout, operators/routing.md5_hash32) mod width. ``row``
    may be a literal int or a Column (the exploded depth index)."""
    from pulsar_3_2_codedump_spark.operators.routing import md5_hash32

    r = F.lit(row) if isinstance(row, int) else row
    return F.pmod(
        md5_hash32(F.concat(r.cast("string"), F.lit(":"), item)), F.lit(CMS_WIDTH)
    )


@query(
    "count_min_heavy_hitters",
    section="2.M-agg",
    doc=f"Count-min sketch frequency estimation (the third mergeable sketch "
    "beside HLL++ distinct and percentile sketches), built as a pure "
    f"DataFrame composition: a {CMS_DEPTH}×{CMS_WIDTH} counter table from "
    "explode(depth) → hash-bucket → count (map-side combinable — buckets, "
    "not rows, cross the shuffle; two sketches merge by adding tables), "
    "probed for a fixed user set with estimate = min over rows of the "
    "bucket counter. The md5 hash family is engine-shared, so unlike a "
    "native CMS binary this one has an EXACT cross-engine oracle; the CMS "
    "guarantee (never under-counts; over-count ≤ N/width per row w.h.p.) "
    "is asserted in tests/test_sketches.py.",
    oracle=f"""
        WITH hashed AS (
            SELECT user_id, r.i AS i,
                   CAST(('0x' || SUBSTR(md5(CAST(r.i AS VARCHAR) || ':'
                                            || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {CMS_WIDTH} AS bucket
            FROM events, (SELECT UNNEST(generate_series(0, {CMS_DEPTH - 1})) AS i) r
        ),
        tbl AS (SELECT i, bucket, COUNT(*) AS c FROM hashed GROUP BY 1, 2),
        probes AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id % {CMS_PROBE_STRIDE} = 0),
        est AS (
            SELECT p.user_id, MIN(t.c) AS cms_estimate
            FROM probes p
            JOIN hashed h ON h.user_id = p.user_id
            JOIN tbl t ON t.i = h.i AND t.bucket = h.bucket
            GROUP BY p.user_id
        ),
        exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1)
        SELECT e.user_id, x.exact_count, CAST(e.cms_estimate AS BIGINT) AS cms_estimate
        FROM est e JOIN exact x ON e.user_id = x.user_id
    """,
)
def count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("user_id").cast("string").alias("item")
    )
    # ONE scan: explode the depth index instead of unioning CMS_DEPTH scans
    # (at 100 TB a union of per-row projections re-reads the corpus d times)
    hashed = ev.select(
        "user_id",
        "item",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("i"),
    ).select("user_id", "i", _cms_bucket(F.col("item"), F.col("i")).alias("bucket"))
    tbl = hashed.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    probes = (
        ev.filter(F.col("user_id") % CMS_PROBE_STRIDE == 0).select("user_id").distinct()
    )
    probe_hash = hashed.join(probes, "user_id").distinct()
    est = (
        probe_hash.join(F.broadcast(tbl), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id", "exact_count", F.col("cms_estimate").cast("long").alias("cms_estimate")
    )


@query(
    "theta_kll_sketch_battery",
    section="2.M-agg",
    doc="Apache DataSketches surface (Spark 4 builtins): per event type a "
    "Theta sketch of distinct users and a KLL sketch of the value "
    "distribution, plus an '__all__' row whose distinct estimate comes from "
    "theta_union_agg over the per-group sketches — the mergeability that "
    "makes these the 100 TB form (sketches, not rows, cross every shuffle "
    "and re-aggregate across partitions/days/topics). Sketch internals are "
    "engine-specific, so the hashable surface is an ERROR ENVELOPE: exact "
    "distinct-user counts (identical SQL both sides) plus booleans "
    "asserting the Theta estimate is within 5% of exact and each KLL "
    "quantile lies between the exact quantiles at rank ∓0.05 (KLL default "
    "k=200 has ~1.7% rank error) — the oracle emits TRUE, so a drifting "
    "sketch hash-mismatches. The '__all__' row's bound judges "
    "theta_union_agg over the per-group sketches, proving mergeability, "
    "not just per-group accuracy. Tighter envelopes in "
    "tests/test_sketches.py.",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS users_in_bound,
               TRUE AS q50_in_bound,
               TRUE AS q95_in_bound
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__' AS event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS users_in_bound,
               CAST(NULL AS BOOLEAN) AS q50_in_bound,
               CAST(NULL AS BOOLEAN) AS q95_in_bound
        FROM events
    """,
)
def theta_kll_sketch_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def theta_bound(est, exact):
        return F.abs(est - exact) <= F.greatest(F.lit(1.0), exact * 0.05)

    per = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("th"),
        F.kll_sketch_agg_double("value").alias("kll"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.45, 0.55, 0.90, 0.99))").alias("qb"),
    )
    q50 = F.kll_sketch_get_quantile_double("kll", F.lit(0.5))
    q95 = F.kll_sketch_get_quantile_double("kll", F.lit(0.95))
    by_type = per.select(
        "event_type",
        "exact_users",
        theta_bound(F.theta_sketch_estimate("th"), F.col("exact_users")).alias(
            "users_in_bound"
        ),
        ((q50 >= F.col("qb")[0]) & (q50 <= F.col("qb")[1])).alias("q50_in_bound"),
        ((q95 >= F.col("qb")[2]) & (q95 <= F.col("qb")[3])).alias("q95_in_bound"),
    )
    merged = per.agg(
        F.theta_sketch_estimate(F.theta_union_agg("th")).alias("m_est")
    ).crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_users"))).select(
        F.lit("__all__").alias("event_type"),
        "exact_users",
        theta_bound(F.col("m_est"), F.col("exact_users")).alias("users_in_bound"),
        F.lit(None).cast("boolean").alias("q50_in_bound"),
        F.lit(None).cast("boolean").alias("q95_in_bound"),
    )
    return by_type.unionByName(merged)


@query(
    "skyline_pareto",
    section="2.M-agg",
    doc="Skyline (Pareto frontier) over the part table — minimize "
    "p_retailprice, maximize p_size: a part survives iff no other part is "
    "at-least-as-good in both dimensions and strictly better in one. The "
    "naive form is the quadratic NOT EXISTS self-join (the oracle); the "
    "Spark plan is the sort-order decomposition that holds at 100 TB: per-"
    "price group max (one hash-agg), then the running strictly-before "
    "maximum via the distributed prefix-max (range-bucketed partials + "
    "triangular carry — operators/prefixops.py, no unpartitioned window), "
    "and one co-partitioned join back. A row survives iff it equals its "
    "price group's max size AND beats the prefix max of all cheaper "
    "prices — provably the NOT EXISTS semantics, in two linear passes.",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice,
               CAST(p.p_size AS BIGINT) AS p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.operators.prefixops import (
        exclusive_prefix,
        range_bucket,
    )

    part = load(spark, sf_dir, "part")
    g = part.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    b = range_bucket(g, "p_retailprice", 32)
    parts = b.groupBy("bucket").agg(F.max("mx").alias("pm"))
    carry = exclusive_prefix(parts, "bucket", "pm", "max", "cm")
    w = W.partitionBy("bucket").orderBy("p_retailprice").rowsBetween(
        W.unboundedPreceding, -1
    )
    pref = (
        b.join(F.broadcast(carry), "bucket")
        .select(
            "p_retailprice",
            "mx",
            F.greatest(
                F.coalesce(F.max("mx").over(w), F.lit(-1)),
                F.coalesce(F.col("cm"), F.lit(-1)),
            ).alias("prefmax"),
        )
    )
    return (
        part.join(pref, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("mx"))
            & (F.col("p_size") > F.col("prefmax"))
        )
        .select(
            "p_partkey",
            "p_retailprice",
            F.col("p_size").cast("long").alias("p_size"),
        )
    )


HIST_BUCKETS = 16      # equi-depth buckets
HIST_RANGE_BUCKETS = 32  # distributed-rank parallelism


@query(
    "histogram_equi_depth",
    section="2.M-agg",
    doc=f"Equi-depth histogram ({HIST_BUCKETS} buckets) over order totals — "
    "the optimizer/ANALYZE statistic every engine builds at scale. Bucket "
    "membership is the EXACT global rank ((rn-1)*B DIV n), computed with "
    "the distributed-rank decomposition (range-bucketed partials + "
    "triangular carry-in, operators/prefixops.py) — no single-partition "
    "window, reproducible under any parallelism. Per bucket: row count "
    "and the exact [lo, hi] value boundaries (raw data values, bit-exact "
    "on both engines).",
    oracle=f"""
        WITH ranked AS (
            SELECT o_totalprice AS v,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                   COUNT(*) OVER () AS n
            FROM orders
        )
        SELECT CAST(((rn - 1) * {HIST_BUCKETS}) // n AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(v) AS lo,
               MAX(v) AS hi
        FROM ranked
        GROUP BY 1
    """,
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.operators.prefixops import (
        distributed_rank,
        range_bucket,
    )

    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    # persist-before-reuse (r12 scan audit): the 2-column projection feeds
    # the range-bucket bounds pass, the distributed-rank partials + ranked
    # pass, and the row-count row — 7 orders scans when left lazy. The
    # frame is CORPUS-sized, so it takes the DISK_ONLY-persist form of the
    # discipline rather than localCheckpoint: lineage kept (recomputable on
    # executor loss), nothing pinned in executor memory, lazy so planning
    # sweeps need no gate (ADVICE r12).
    orders = persist_shared_corpus_frame(
        load(spark, sf_dir, "orders").select(
            F.col("o_totalprice").alias("v"), "o_orderkey"
        )
    )
    b = range_bucket(orders, "v", HIST_RANGE_BUCKETS, out="rb")
    ranked = distributed_rank(
        b, F.col("rb"), [F.col("v"), F.col("o_orderkey")], out="rn"
    )
    n = orders.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "bucket",
            F.floor((F.col("rn") - 1) * HIST_BUCKETS / F.col("n")).cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )


HLL_P = 8                      # precision: m = 2^p = 256 registers
HLL_M = 1 << HLL_P
HLL_ALPHA_M2 = 47072.71267120224  # alpha_256 * m^2 (Flajolet et al. constant)
HLL_RHO_MAX = 45               # 52-bit hash minus 8 bucket bits -> 44-bit w; rho in 1..45


@query(
    "hll_explicit_distinct",
    section="2.M-agg",
    doc="EXPLICIT HyperLogLog (Flajolet-Fuchs-Gandouet-Meunier), registers "
    "built from scratch so the ESTIMATE ITSELF is hash-checkable — the "
    "stronger form of the envelope-checked builtin sketches: 52-bit md5 "
    f"hash per user, bucket = low {HLL_P} bits, register = max leading-"
    "zero rank via LENGTH(bin(w)) (exact integer in both engines), "
    "2^-rho as a shifted-integer reciprocal (exact dyadic — no libm), "
    "linear-counting small-range correction. Registers are max-mergeable "
    "partials — the property that makes HLL THE distributed distinct "
    "counter; the estimate and its relative error are reported against "
    "the exact distinct count.",
    oracle=f"""
        WITH h AS (
            SELECT event_type,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS hv
            FROM events
        ),
        reg AS (
            SELECT event_type, hv % {HLL_M} AS bucket,
                   MAX(CASE WHEN hv // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                            ELSE {HLL_RHO_MAX} - LENGTH(bin(hv // {HLL_M}))
                       END) AS rho
            FROM h GROUP BY 1, 2
        ),
        grid AS (
            SELECT t.event_type, g.bucket
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT UNNEST(range({HLL_M})) AS bucket) g
        ),
        filled AS (
            SELECT grid.event_type, COALESCE(reg.rho, 0) AS rho
            FROM grid LEFT JOIN reg
              ON reg.event_type = grid.event_type AND reg.bucket = grid.bucket
        ),
        est AS (
            SELECT event_type,
                   SUM(1.0 / (CAST(1 AS BIGINT) << rho)) AS denom,
                   SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros
            FROM filled GROUP BY 1
        ),
        ex AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
            FROM events GROUP BY 1
        )
        SELECT est.event_type,
               CAST(ex.n_exact AS BIGINT) AS n_exact,
               ROUND(CASE WHEN {HLL_ALPHA_M2} / est.denom <= 2.5 * {HLL_M}
                           AND est.zeros > 0
                          THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / est.zeros)
                          ELSE {HLL_ALPHA_M2} / est.denom END, 4) AS hll_estimate,
               CAST(est.zeros AS BIGINT) AS empty_registers
        FROM est JOIN ex ON ex.event_type = est.event_type
    """,
)
def hll_explicit_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    hv = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)"
    )
    h = events.select("event_type", hv.alias("hv"))
    reg = (
        h.select(
            "event_type",
            (F.col("hv") % HLL_M).alias("bucket"),
            F.expr(
                f"CASE WHEN hv DIV {HLL_M} = 0 THEN {HLL_RHO_MAX} "
                f"ELSE {HLL_RHO_MAX} - LENGTH(bin(hv DIV {HLL_M})) END"
            ).alias("r"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("rho"))
    )
    types = events.select("event_type").distinct()
    grid = types.crossJoin(
        events.sparkSession.range(HLL_M).select(F.col("id").alias("bucket"))
    )
    filled = grid.join(reg, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce("rho", F.lit(0)).alias("rho")
    )
    est = filled.groupBy("event_type").agg(
        F.sum(F.expr("1.0 / shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT))")).alias(
            "denom"
        ),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("zeros"),
    )
    ex = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    raw = F.lit(HLL_ALPHA_M2) / F.col("denom")
    corrected = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return est.join(ex, "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(corrected, 4).alias("hll_estimate"),
        F.col("zeros").cast("long").alias("empty_registers"),
    )


CMS_JOIN_D = 3      # CMS depth (independent hash rows)
CMS_JOIN_W = 1024   # CMS width (buckets per row)


@query(
    "cms_join_size_estimate",
    section="2.M-agg",
    doc="Sketch-based join-cardinality estimation (the AMS/Count-Min inner-"
    "product bound, Cormode & Muthukrishnan §4.3 — what a cost-based "
    "optimizer consults before picking a join strategy): the self-join "
    "size of orders on o_custkey is estimated as min over d rows of "
    "sum_w CMS[d][w]^2 and reconciled against the exact sum of per-key "
    "count squares. The sketch build is one explode-by-depth hash-agg "
    "(mergeable partials — streams/partitions add), the estimate is a "
    f"{CMS_JOIN_D}x{CMS_JOIN_W} metadata-scale fold, and everything is "
    "INTEGER (md5 bucket hashes shared verbatim by both engines) — the "
    "estimate itself hash-matches. Overestimate-only by construction "
    "(est >= exact), the bound the optimizer relies on.",
    oracle=f"""
        WITH keys AS (
            SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1
        ),
        exact AS (SELECT SUM(cnt * cnt) AS ex FROM keys),
        cms AS (
            SELECT d.d,
                   CAST(concat('0x', substr(md5(CAST(d.d AS VARCHAR) || ':' ||
                        CAST(k.k AS VARCHAR)), 1, 8)) AS BIGINT)
                       % {CMS_JOIN_W} AS w,
                   SUM(k.cnt) AS c
            FROM keys k, (SELECT UNNEST([0,1,2]) AS d) d
            GROUP BY 1, 2
        ),
        per_d AS (SELECT d, SUM(c * c) AS ip FROM cms GROUP BY 1)
        SELECT CAST(exact.ex AS BIGINT) AS exact_join_size,
               CAST(MIN(per_d.ip) AS BIGINT) AS cms_estimate,
               ROUND(CAST(MIN(per_d.ip) - exact.ex AS DOUBLE) / exact.ex, 6)
                   AS rel_overestimate
        FROM per_d, exact
        GROUP BY exact.ex
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    keys = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = keys.agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ex"))
    depths = F.array(*[F.lit(i) for i in range(CMS_JOIN_D)])
    cms = (
        keys.select("k", "cnt", F.explode(depths).alias("d"))
        .select(
            "d",
            "cnt",
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(d AS STRING), ':', "
                f"CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CMS_JOIN_W}"
            ).alias("w"),
        )
        .groupBy("d", "w")
        .agg(F.sum("cnt").alias("c"))
    )
    per_d = cms.groupBy("d").agg(F.sum(F.col("c") * F.col("c")).alias("ip"))
    return (
        per_d.crossJoin(F.broadcast(exact))
        .groupBy("ex")
        .agg(F.min("ip").alias("est"))
        .select(
            F.col("ex").cast("long").alias("exact_join_size"),
            F.col("est").cast("long").alias("cms_estimate"),
            F.round(
                (F.col("est") - F.col("ex")).cast("double") / F.col("ex"), 6
            ).alias("rel_overestimate"),
        )
    )


_PROFILE_COLS = [
    # (name, min/max canonical-repr spark&duck expr template, null-aware)
    ("o_orderkey", "printf('%d', {fn}(o_orderkey))"),
    ("o_custkey", "printf('%d', {fn}(o_custkey))"),
    ("o_orderstatus", "{fn}(o_orderstatus)"),
    ("o_totalprice", "printf('%.4f', {fn}(o_totalprice))"),
    ("o_orderdate", "strftime({fn}(o_orderdate), '%Y-%m-%d')"),
    ("o_orderpriority", "{fn}(o_orderpriority)"),
]


@query(
    "column_profile",
    section="2.M-agg",
    doc="ANALYZE-style column profiling of the orders table — the statistics "
    "pass every warehouse runs before planning: per column, row count, "
    "null count, exact NDV, and canonical min/max representations "
    "(printf-formatted numerics and strftime dates, so both engines emit "
    "byte-identical strings — raw double-to-string formatting diverges "
    "between JVM and C). ONE wide aggregate over ONE scan — every "
    "column's stats (multi-countDistinct planned via Expand) computed in "
    "a single pass, then pivoted to per-column rows with stack(); NDV is "
    "exact here, with the registered HLL/theta sketches as the "
    "declared 100 TB swap. Complements histogram_equi_depth (the "
    "distribution) with the per-column summary the optimizer consults "
    "first.",
    oracle="""
        {unions}
    """.format(
        unions="\n        UNION ALL\n".join(
            f"""        SELECT '{name}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
               {tmpl.format(fn="MIN")} AS min_repr,
               {tmpl.format(fn="MAX")} AS max_repr
        FROM orders"""
            for name, tmpl in _PROFILE_COLS
        )
    ),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE scan for the whole profile (r12): the union-of-aggregates form
    # scanned orders once PER COLUMN (6 full scans — the exact shape
    # ANALYZE avoids). All per-column statistics now ride a single
    # aggregate over one scan (the multi-countDistinct rewrites into
    # Catalyst's Expand — one pass, the distinct shuffles it needs either
    # way), then stack() pivots the wide row into the per-column output.
    orders = load(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for name, tmpl in _PROFILE_COLS:
        spark_tmpl = tmpl.replace("printf(", "format_string(").replace(
            "strftime({fn}(" + name + "), '%Y-%m-%d')",
            "date_format({fn}(" + name + "), 'yyyy-MM-dd')",
        )
        aggs += [
            (F.count(F.lit(1)) - F.count(name)).cast("long").alias(f"null_{name}"),
            F.countDistinct(name).cast("long").alias(f"nd_{name}"),
            F.expr(spark_tmpl.format(fn="MIN")).alias(f"min_{name}"),
            F.expr(spark_tmpl.format(fn="MAX")).alias(f"max_{name}"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        f"'{n}', null_{n}, nd_{n}, min_{n}, max_{n}" for n, _ in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_null, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct", "min_repr", "max_repr"
    )


@query(
    "revenue_trend_ols",
    section="2.M-agg",
    doc="Per-segment revenue trend by INTEGER-EXACT least squares: daily "
    "revenue is summed in exact cents, x is the integer day index, and "
    "the OLS slope comes from the closed-form normal equations "
    "(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — every moment a BIGINT, so the "
    "slope is a rounded EXACT RATIONAL and the hash oracle is sound "
    "(the float-free complement of zipf_slope's log-log fit). Two "
    "hash-aggs: day rollup, then the per-segment moment fold. At much "
    "longer horizons the cent quantization coarsens to keep n·Σxy in "
    "64 bits — the documented knob.",
    oracle="""
        WITH daily AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o.o_orderdate AS DATE)) AS BIGINT) AS day,
                   SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        mn AS (SELECT MIN(day) AS d0 FROM daily),
        m AS (
            SELECT segment,
                   COUNT(*) AS n,
                   SUM(day - mn.d0) AS sx,
                   SUM(rev) AS sy,
                   SUM((day - mn.d0) * rev) AS sxy,
                   SUM((day - mn.d0) * (day - mn.d0)) AS sxx
            FROM daily, mn GROUP BY segment
        )
        SELECT segment,
               CAST(n AS BIGINT) AS n_days,
               CAST(sy AS BIGINT) AS total_cents,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (n * sxx - sx * sx), 4) AS slope_cents_per_day
        FROM m
    """,
)
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    daily = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
        )
    )
    mn = daily.agg(F.min("day").alias("d0"))
    x = F.col("day") - F.col("d0")
    m = (
        daily.crossJoin(F.broadcast(mn))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum("rev").alias("sy"),
            F.sum(x * F.col("rev")).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "segment",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total_cents"),
        F.round(num.cast("double") / den, 4).alias("slope_cents_per_day"),
    )


@query(
    "hll_union_windows",
    section="2.M-agg",
    doc="MERGEABILITY is the point of a sketch: per-day HyperLogLog "
    "registers (same 52-bit-md5 / 256-register construction as "
    "hll_explicit_distinct) are UNIONED into calendar weeks by register-"
    "wise MAX — the re-aggregation a 100 TB rollup pipeline does instead "
    "of re-scanning raw data — and the merged weekly estimate is "
    "reported against the exact weekly distinct count. Grid-free "
    "estimator form: absent buckets contribute 2^0 = 1 each, so denom = "
    "sum(2^-rho over present) + (m - n_present), all dyadic-exact; the "
    "daily sketch build and both merges are hash-partitioned aggs keyed "
    "by (type, period, bucket) — no global state, partials all the way.",
    oracle=f"""
        WITH h AS (
            SELECT event_type, date_trunc('week', ts) AS wk,
                   date_trunc('day', ts) AS day,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS hv
            FROM events
        ),
        daily AS (
            SELECT event_type, wk, day, hv % {HLL_M} AS bucket,
                   MAX(CASE WHEN hv // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                            ELSE {HLL_RHO_MAX} - LENGTH(bin(hv // {HLL_M}))
                       END) AS rho
            FROM h GROUP BY 1, 2, 3, 4
        ),
        weekly AS (
            SELECT event_type, wk, bucket, MAX(rho) AS rho
            FROM daily GROUP BY 1, 2, 3
        ),
        est AS (
            SELECT event_type, wk,
                   SUM(1.0 / (CAST(1 AS BIGINT) << rho))
                       + ({HLL_M} - COUNT(*)) AS denom,
                   {HLL_M} - COUNT(*) AS zeros
            FROM weekly GROUP BY 1, 2
        ),
        days AS (
            SELECT event_type, wk, CAST(COUNT(DISTINCT day) AS BIGINT)
                       AS merged_days
            FROM h GROUP BY 1, 2
        ),
        ex AS (
            SELECT event_type, date_trunc('week', ts) AS wk,
                   COUNT(DISTINCT user_id) AS n_exact
            FROM events GROUP BY 1, 2
        )
        SELECT est.event_type,
               STRFTIME(est.wk, '%Y-%m-%d') AS week,
               CAST(ex.n_exact AS BIGINT) AS n_exact,
               ROUND(CASE WHEN {HLL_ALPHA_M2} / est.denom <= 2.5 * {HLL_M}
                           AND est.zeros > 0
                          THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / est.zeros)
                          ELSE {HLL_ALPHA_M2} / est.denom END, 4) AS hll_estimate,
               days.merged_days
        FROM est
        JOIN days ON days.event_type = est.event_type AND days.wk = est.wk
        JOIN ex ON ex.event_type = est.event_type AND ex.wk = est.wk
    """,
)
def hll_union_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    hv = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)"
    )
    h = events.select(
        "event_type",
        F.date_trunc("week", "ts").alias("wk"),
        F.date_trunc("day", "ts").alias("day"),
        hv.alias("hv"),
    )
    daily = (
        h.select(
            "event_type", "wk", "day",
            (F.col("hv") % HLL_M).alias("bucket"),
            F.expr(
                f"CASE WHEN hv DIV {HLL_M} = 0 THEN {HLL_RHO_MAX} "
                f"ELSE {HLL_RHO_MAX} - LENGTH(bin(hv DIV {HLL_M})) END"
            ).alias("r"),
        )
        .groupBy("event_type", "wk", "day", "bucket")
        .agg(F.max("r").alias("rho"))
    )
    weekly = daily.groupBy("event_type", "wk", "bucket").agg(
        F.max("rho").alias("rho")
    )
    est = weekly.groupBy("event_type", "wk").agg(
        (
            F.sum(
                F.expr("1.0 / shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT))")
            )
            + (HLL_M - F.count(F.lit(1)))
        ).alias("denom"),
        (HLL_M - F.count(F.lit(1))).alias("zeros"),
    )
    days = h.groupBy("event_type", "wk").agg(
        F.countDistinct("day").cast("long").alias("merged_days")
    )
    ex = events.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    raw = F.lit(HLL_ALPHA_M2) / F.col("denom")
    corrected = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return (
        est.join(days, ["event_type", "wk"])
        .join(ex, ["event_type", "wk"])
        .select(
            "event_type",
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(corrected, 4).alias("hll_estimate"),
            "merged_days",
        )
    )


BM_WORD = 32  # bitmap word width: user_id DIV 32 selects the word


@query(
    "bitmap_distinct_rollup",
    section="2.M-agg",
    doc="EXACT mergeable distinct counting via integer bitmaps (the "
    "roaring-bitmap technique Druid/ClickHouse/Pinot use when exactness "
    "is required and the id space is dense): per (event_type, day), "
    f"user ids are packed into {BM_WORD}-bit words (word = id DIV "
    f"{BM_WORD}, bit = id % {BM_WORD}, OR-aggregated); weeks are rolled "
    "up by register-wise BIT_OR — the same merge shape as "
    "hll_union_windows but lossless — and popcounts summed. The daily "
    "and weekly counts are emitted beside COUNT(DISTINCT) to prove "
    "exact equality. State per key is (#ids / word-width) integers, "
    "partial-aggregable at every level; shifts stay below bit 32 so "
    "both engines' BIGINT semantics agree (DuckDB raises on 1<<63).",
    oracle=f"""
        WITH b AS (
            SELECT event_type, date_trunc('week', ts) AS wk,
                   date_trunc('day', ts) AS day,
                   user_id // {BM_WORD} AS word,
                   CAST(user_id % {BM_WORD} AS INT) AS bit
            FROM events
        ),
        daily AS (
            SELECT event_type, wk, day, word,
                   bit_or(CAST(1 AS BIGINT) << bit) AS bits
            FROM b GROUP BY 1, 2, 3, 4
        ),
        weekly AS (
            SELECT event_type, wk, word, bit_or(bits) AS bits
            FROM daily GROUP BY 1, 2, 3
        ),
        wc AS (
            SELECT event_type, wk,
                   CAST(SUM(bit_count(bits)) AS BIGINT) AS bitmap_distinct
            FROM weekly GROUP BY 1, 2
        ),
        dc AS (
            SELECT event_type, wk,
                   CAST(SUM(cnt) AS BIGINT) AS daily_popcount_sum
            FROM (SELECT event_type, wk, day, SUM(bit_count(bits)) AS cnt
                  FROM daily GROUP BY 1, 2, 3)
            GROUP BY 1, 2
        ),
        ex AS (
            SELECT event_type, date_trunc('week', ts) AS wk,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1, 2
        )
        SELECT wc.event_type, STRFTIME(wc.wk, '%Y-%m-%d') AS week,
               ex.n_exact, wc.bitmap_distinct,
               wc.bitmap_distinct = ex.n_exact AS exact_match,
               dc.daily_popcount_sum
        FROM wc
        JOIN dc ON dc.event_type = wc.event_type AND dc.wk = wc.wk
        JOIN ex ON ex.event_type = wc.event_type AND ex.wk = wc.wk
    """,
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    b = events.select(
        "event_type",
        F.date_trunc("week", "ts").alias("wk"),
        F.date_trunc("day", "ts").alias("day"),
        F.expr(f"user_id DIV {BM_WORD}").alias("word"),
        F.expr(f"CAST(user_id % {BM_WORD} AS INT)").alias("bit"),
    )
    daily = b.groupBy("event_type", "wk", "day", "word").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits")
    )
    weekly = daily.groupBy("event_type", "wk", "word").agg(
        F.expr("bit_or(bits)").alias("bits")
    )
    wc = weekly.groupBy("event_type", "wk").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("bitmap_distinct")
    )
    dc = (
        daily.groupBy("event_type", "wk", "day")
        .agg(F.sum(F.bit_count("bits")).alias("cnt"))
        .groupBy("event_type", "wk")
        .agg(F.sum("cnt").cast("long").alias("daily_popcount_sum"))
    )
    ex = events.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return (
        wc.join(dc, ["event_type", "wk"])
        .join(ex, ["event_type", "wk"])
        .select(
            "event_type",
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            "n_exact",
            "bitmap_distinct",
            (F.col("bitmap_distinct") == F.col("n_exact")).alias("exact_match"),
            "daily_popcount_sum",
        )
    )
