"""Scale smoke: run the per-key/windowing spine on a synthetic N-million-row
envelope (default 10M — ~100× the sf0.1 events fixture) to show the operator
plans hold up when the data is orders of magnitude past the fixtures.

Generates the envelope with spark.range (distributed, no driver data), runs:
  - TableView / compaction (latest per key, window on key)
  - producer dedup (hash agg on dedup identity)
  - tumbling window counts (partial+final agg)
  - Key_Shared assignment histogram
  - salted hot-key aggregation under a 90%-skewed key distribution

Usage: python tools/scale_smoke.py [n_millions]
Prints one JSON line with rows/sec per operator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark.operators.compaction import latest_per_key
from pulsar_3_2_codedump_spark.operators.dedup import dedup_highest_sequence
from pulsar_3_2_codedump_spark.operators.routing import key_shared_bucket
from pulsar_3_2_codedump_spark.operators.skew import salted_count_sum
from pulsar_3_2_codedump_spark.session import get_spark


def synthetic_envelope(spark, n_rows: int, skewed: bool = False):
    base = spark.range(0, n_rows, numPartitions=64)
    # 90% of traffic on key 0 when skewed; else ~100k uniform keys
    key = (
        F.when(F.pmod("id", 10) < 9, F.lit(0)).otherwise(F.pmod("id", 100_000))
        if skewed
        else F.pmod("id", 100_000)
    )
    return base.select(
        key.cast("string").alias("key"),
        F.col("id").alias("sequence_id"),
        F.concat(F.lit("producer-"), F.pmod("id", 64).cast("string")).alias("producer_name"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * 1000  # 1ms cadence from 2024-01-01
        ).alias("publish_time"),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.pmod(F.xxhash64("id"), F.lit(32)).cast("int").alias("partition"),
        F.col("id").alias("offset"),
    )


def main() -> None:
    # flags (e.g. --spine) are not the positional row count
    positional = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_m = float(positional[0]) if positional else 10.0
    n = int(n_m * 1_000_000)
    spark = get_spark("scale_smoke")
    env = synthetic_envelope(spark, n)
    results = {}

    # EXECUTION CONVENTION (fixed r10): time a `noop`-format write, which
    # executes the FULL plan without driver transfer. The previous count()
    # convention let Catalyst prune the aggregate expressions (count of a
    # groupBy needs only the keys; count of a global agg constant-folds to
    # 1), so entries whose output was an aggregate under-measured — up to
    # 10x on expression-heavy aggs. rows_out comes from a separate untimed
    # count pass.
    def execute_fully(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def run(name, df):
        dt = execute_fully(df)
        cnt = df.count()
        results[name] = {"sec": round(dt, 2), "rows_out": cnt, "mrows_per_sec": round(n / dt / 1e6, 1)}
        print(f"# {name}: {dt:.2f}s ({cnt} out, {n/dt/1e6:.1f}M rows/s)", file=sys.stderr)

    run("tableview_latest_per_key", latest_per_key(env))
    run("dedup_high_water_marks", dedup_highest_sequence(env))
    run(
        "tumbling_window_counts",
        env.groupBy(F.window("publish_time", "1 hour"), F.pmod(F.col("sequence_id"), 5)).count(),
    )
    run(
        "key_shared_histogram_oracle_md5",
        env.withColumn("c", key_shared_bucket(F.col("key"), 16)).groupBy("c").count(),
    )
    skewed = synthetic_envelope(spark, n, skewed=True)
    run("salted_hot_key_agg_90pct_skew", salted_count_sum(skewed, "key", "value", "sequence_id"))

    # --spine: stop after the envelope-spine entries (a cheap 10x-scale
    # probe: `scale_smoke.py 100 --spine` runs the per-key/window/skew
    # cores at 100M rows without the hour-long doc battery).
    if "--spine" in sys.argv:
        print(json.dumps({"metric": "scale_smoke_spine", "rows": n, "ops": results}))
        return

    # bulk ingest through the JVM path (topic.append: route → offset-assign →
    # parquet write → the manifest commit). topic.append is the one writer:
    # a stream writes through it from foreachBatch (see SCALE.md).
    import shutil
    import tempfile

    from pulsar_3_2_codedump_spark import topic as T

    root = tempfile.mkdtemp(prefix="scale_ingest_")
    try:
        tp = T.create_topic(root, "bulk", n_partitions=32)
        ingest = (
            env.drop("offset")
            .withColumn("event_time", F.col("publish_time"))
            # envelope value is BINARY; the double column drove the agg ops
            .withColumn("value", F.to_binary(F.col("sequence_id").cast("string"), F.lit("utf-8")))
        )
        t0 = time.time()
        T.append(spark, ingest, tp, dedup=False)
        dt = time.time() - t0
        results["bulk_ingest_append_jvm"] = {
            "sec": round(dt, 2),
            "rows_out": n,
            "mrows_per_sec": round(n / dt / 1e6, 1),
        }
        print(f"# bulk_ingest_append_jvm: {dt:.2f}s ({n/dt/1e6:.1f}M rows/s)", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # ---- LLM text-pipeline operators on synthetic documents ----------------
    # ~40-token docs from a 50-word vocabulary, generated distributed (no
    # driver data). Measures the quality/fingerprint battery's throughput at
    # millions of documents — the posture that matters for a 100 TB corpus.
    n_docs = max(1_000_000, n // 10)
    vocab = [f"w{i}" for i in range(47)] + ["the", "and", "of"]
    varr = F.array(*[F.lit(w) for w in vocab])
    docs = spark.range(0, n_docs, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(25) + F.pmod("id", 30).cast("int")),
                lambda i: F.element_at(varr, (F.pmod(F.col("id") * i + i * i, 50) + 1).cast("int")),
            ),
        ).alias("text"),
        F.concat(F.lit("src"), F.pmod("id", 20).cast("string")).alias("source"),
    )

    def run_docs(name, df):
        dt = execute_fully(df)  # noop write — see the r10 convention above
        cnt = df.count()
        results[name] = {
            "sec": round(dt, 2),
            "rows_out": cnt,
            "mdocs_per_sec": round(n_docs / dt / 1e6, 2),
        }
        print(f"# {name}: {dt:.2f}s ({cnt} out, {n_docs/dt/1e6:.2f}M docs/s)", file=sys.stderr)

    from pulsar_3_2_codedump_spark.functions.dedup_ml import _md5int
    from pulsar_3_2_codedump_spark.functions.text import STOPWORDS, marker_hits

    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tok = F.size(ws)
    gopher = docs.select(
        "source",
        F.when(n_tok.between(30, 80), 1).otherwise(0).alias("p_wc"),
        F.when(
            (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tok).between(3, 10), 1
        ).otherwise(0).alias("p_mwl"),
        F.when(marker_hits(F.col("text"), STOPWORDS) >= 2, 1).otherwise(0).alias("p_stop"),
    ).groupBy("source").agg(F.sum("p_wc").alias("wc"), F.sum("p_mwl").alias("mwl"), F.sum("p_stop").alias("st"))
    run_docs("gopher_rules_battery", gopher)

    cs = F.split(F.lower(F.col("text")), "")
    nc = F.size(cs)
    dc = F.array_distinct(cs)
    cnts = F.transform(dc, lambda ch: F.size(F.filter(cs, lambda x: x == ch)))
    ent = -F.aggregate(cnts, F.lit(0.0), lambda acc, c: acc + (c / nc) * F.log2(c / nc))
    run_docs(
        "char_entropy",
        docs.select(F.round(F.avg(ent), 4).alias("mean_entropy")),
    )

    k, w = 3, 4
    idx = F.sequence(F.lit(1), F.greatest(n_tok - (k - 1), F.lit(1)))
    h = F.transform(idx, lambda i: _md5int(F.concat_ws(" ", F.slice(ws, i, k))))
    hcol = F.col("h")
    nw = F.greatest(F.size(hcol) - (w - 1), F.lit(1))
    mins = F.transform(F.sequence(F.lit(1), nw), lambda i: F.array_min(F.slice(hcol, i, w)))
    run_docs(
        "winnowing_fingerprints",
        docs.select("doc_id", h.alias("h"))
        .select(F.sum(F.size(F.array_distinct(mins))).alias("total_fps")),
    )

    pairs = F.zip_with(
        F.slice(ws, 1, n_tok - 1),
        F.slice(ws, 2, n_tok - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = docs.select("doc_id", F.explode(pairs).alias("bgm"))
    cnt2 = bg.groupBy("bgm").agg(F.count(F.lit(1)).alias("c2"))
    prev = F.substring_index(F.col("bgm"), " ", 1)
    cnt1 = cnt2.groupBy(prev.alias("prev")).agg(F.sum("c2").alias("c1"))
    model = (
        cnt2.withColumn("prev", prev)
        .join(cnt1, ["prev"])
        .select("bgm", (-F.log2(F.col("c2") / F.col("c1"))).alias("neg_log2p"))
    )
    mrow = model.agg(
        F.map_from_entries(F.collect_list(F.struct("bgm", "neg_log2p"))).alias("lm")
    )
    fold = F.aggregate(
        F.transform(pairs, lambda b: F.element_at(F.col("lm"), b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    ppl = (
        docs.crossJoin(F.broadcast(mrow))
        .select("doc_id", (fold / F.size(pairs)).alias("s"))
    )
    run_docs("perplexity_proxy_bigram_lm", ppl)

    run_docs(
        "bpe_merge_pair_counts",
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20),
    )

    # ---- CDC rolling-hash chunking (Arrow kernel) at corpus scale ----------
    from pulsar_3_2_codedump_spark.functions.dedup_ml import cdc_chunks

    run_docs(
        "cdc_chunk_rolling_kernel",
        cdc_chunks(
            docs.select("doc_id", "source", F.lower(F.trim(F.col("text"))).alias("tx"))
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("total_chunks"), F.countDistinct("chunk").alias("dc")),
    )

    # ---- behavioral analytics on a synthetic N-row event log ---------------
    from pyspark.sql import Window as W

    from pulsar_3_2_codedump_spark.operators.behavior import funnel

    types = F.array(*[F.lit(t) for t in ["view", "click", "purchase", "signup", "error"]])
    events = spark.range(0, n, numPartitions=64).select(
        F.pmod("id", 1_000_000).alias("user_id"),
        F.timestamp_micros(F.lit(1704067200000000) + F.col("id") * 1000).alias("ts"),
        F.element_at(types, (F.pmod(F.xxhash64("id"), 5) + 1).cast("int")).alias("event_type"),
        F.col("id").alias("event_id"),
    )
    run("funnel_3step", funnel(events, ["view", "click", "purchase"]))

    # watermark running-max via distributed prefix-max — the repaired
    # watermark_late_data plan shape at N-million rows (no global window)
    from pulsar_3_2_codedump_spark.operators.windows import watermark_tracked

    run(
        "watermark_prefix_max",
        watermark_tracked(events).groupBy("event_type").agg(
            F.count(F.when(F.col("ts") < F.col("wm"), 1)).alias("n_late")
        ),
    )

    # distributed NTILE (the repaired rfm_scores rank path) over 1M users
    from pulsar_3_2_codedump_spark.operators.behavior import _distributed_ntile

    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).cast("double").alias("f"))
    t0 = time.time()
    cnt = (
        _distributed_ntile(per_user, -F.col("f"), "user_id", 5, "f_score")
        .groupBy("f_score")
        .count()
        .count()
    )
    dt = time.time() - t0
    results["rfm_distributed_ntile_1m_users"] = {"sec": round(dt, 2), "rows_out": cnt}
    print(f"# rfm_distributed_ntile_1m_users: {dt:.2f}s", file=sys.stderr)
    wnd = W.partitionBy("user_id").orderBy("ts", "event_id")
    run(
        "event_bigram_counts",
        events.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(wnd).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt")),
    )

    # ---- TF-IDF keyword extraction at corpus scale -------------------------
    from pulsar_3_2_codedump_spark.functions.retrieval import tfidf_keywords

    run_docs("tfidf_top_terms", tfidf_keywords(docs, 3).groupBy("rank").count())

    # ---- exact kNN probe over synthetic embeddings -------------------------
    # |queries| stays tiny (broadcast) while the corpus scans once — the
    # shape that holds at any corpus size.
    from pulsar_3_2_codedump_spark.functions.similarity import TOP_K, cosine

    n_vec = max(1_000_000, n // 10)
    dims = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: F.sin((F.col("id") + 1) * i + i).cast("double"),  # never all-zero
    )
    emb = spark.range(0, n_vec, numPartitions=64).select(
        F.col("id").alias("vec_id"), dims.alias("embedding"),
        F.pmod("id", 10).cast("int").alias("label"),
    )
    q = emb.filter(F.col("vec_id") % (n_vec // 20) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("c_emb")))
    )
    kw = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    t0 = time.time()
    cnt = scored.withColumn("r", F.row_number().over(kw)).filter(F.col("r") <= TOP_K).count()
    dt = time.time() - t0
    results["knn_exact_topk"] = {
        "sec": round(dt, 2), "rows_out": cnt,
        "mvecs_per_sec": round(n_vec / dt / 1e6, 2),
    }
    print(f"# knn_exact_topk: {dt:.2f}s ({cnt} out, {n_vec/dt/1e6:.2f}M vecs/s)", file=sys.stderr)

    # ---- PQ-ADC over synthetic 64-dim embeddings ---------------------------
    # train codebook + encode the full corpus into its 8-byte code layout +
    # ADC-search 20 queries via per-candidate LUT folds (no join fan-out).
    from pulsar_3_2_codedump_spark.functions.similarity import (
        PQ_TOP_K,
        pq_adc_search_arrow,
        pq_codebook,
        pq_encode,
    )

    dims64 = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.sin((F.col("id") + 1) * i + i).cast("float"),
    )
    emb64 = spark.range(0, n_vec, numPartitions=64).select(
        F.col("id").alias("vec_id"), dims64.alias("embedding")
    )
    t0 = time.time()
    cb = pq_codebook(emb64)
    codes = pq_encode(emb64, cb, kernel="arrow")
    codes.write.mode("overwrite").parquet("/tmp/pq_codes_smoke")
    dt = time.time() - t0
    results["pq_train_encode"] = {
        "sec": round(dt, 2), "rows_out": n_vec,
        "mvecs_per_sec": round(n_vec / dt / 1e6, 2),
    }
    print(f"# pq_train_encode: {dt:.2f}s ({n_vec/dt/1e6:.2f}M vecs/s)", file=sys.stderr)

    codes_at_rest = spark.read.parquet("/tmp/pq_codes_smoke")
    adc = pq_adc_search_arrow(
        codes_at_rest, cb, emb64.filter(F.col("vec_id") % (n_vec // 20) == 0)
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    aw = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    t0 = time.time()
    cnt = adc.withColumn("r", F.row_number().over(aw)).filter(F.col("r") <= PQ_TOP_K).count()
    dt = time.time() - t0
    results["pq_adc_search"] = {
        "sec": round(dt, 2), "rows_out": cnt,
        "mvecs_per_sec": round(n_vec / dt / 1e6, 2),
    }
    print(f"# pq_adc_search: {dt:.2f}s ({n_vec/dt/1e6:.2f}M vecs/s)", file=sys.stderr)

    # ---- classifier gate + span-duplication coverage on synthetic docs -----
    from pulsar_3_2_codedump_spark.functions.dedup_ml import ngram_coverage
    from pulsar_3_2_codedump_spark.functions.tokenize_ml import classifier_margin

    run_docs(
        "quality_classifier_margin",
        docs.select(
            (classifier_margin(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) >= 0)
            .alias("keep")
        ).groupBy("keep").count(),
    )
    # count() of the per-doc output forces the df-agg + join pipeline (a
    # global avg would let Catalyst shortcut to a known 1-row count)
    run_docs("duplicated_ngram_coverage", ngram_coverage(docs))

    # ---- token-budget greedy selection (r8): distributed prefix sum over
    # the global quality order at millions of docs — same decomposition as
    # functions/sampling.token_budget_selection, synthetic corpus
    from pulsar_3_2_codedump_spark.operators.prefixops import exclusive_prefix

    NB = 64
    d2 = docs.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        n_tok.cast("long").alias("tok"),
    )
    stats = d2.agg(
        F.min("n_chars").alias("__lo"),
        F.max("n_chars").alias("__hi"),
        (F.lit(0.25) * F.sum("tok")).alias("budget"),
    )
    asc_b = F.least(
        F.floor((F.col("n_chars") - F.col("__lo")) * NB / (F.col("__hi") - F.col("__lo") + 1)),
        F.lit(NB - 1),
    )
    bkt = d2.crossJoin(F.broadcast(stats)).withColumn("__db", F.lit(NB - 1) - asc_b)
    partials = bkt.groupBy("__db").agg(F.sum("tok").alias("__t"))
    carry = exclusive_prefix(partials, "__db", "__t", "sum", "__carry")
    tbw = (
        W.partitionBy("__db")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sel = (
        bkt.join(F.broadcast(carry), "__db")
        .withColumn(
            "prior",
            F.coalesce(F.col("__carry"), F.lit(0)) + F.sum("tok").over(tbw) - F.col("tok"),
        )
        .groupBy("source")
        .agg(F.sum((F.col("prior") < F.col("budget")).cast("int")).alias("n_kept"))
    )
    run_docs("token_budget_selection", sel)

    # ---- late-r8 operators at scale -----------------------------------------
    # Connected components on a CHAIN-heavy synthetic graph — the adversarial
    # shape for plain min-propagation (needs diameter rounds): 100k chains of
    # 50 nodes each. The alternation (neighbor-min + pointer jump) with R=6
    # covers distance 2^6 > 49; plain propagation would need 49 join rounds.
    n_cc = min(5_000_000, n)
    cnodes = spark.range(0, n_cc, numPartitions=64).select(F.col("id").alias("node"))
    cedges = (
        spark.range(0, n_cc, numPartitions=64)
        .filter(F.pmod("id", 50) < 49)
        .select(F.col("id").alias("va"), (F.col("id") + 1).alias("vb"))
    )
    cadj = (
        cedges.select(F.col("va").alias("v"), F.col("vb").alias("u"))
        .unionAll(cedges.select(F.col("vb").alias("v"), F.col("va").alias("u")))
        .unionAll(cnodes.select(F.col("node").alias("v"), F.col("node").alias("u")))
    )
    lbl = cnodes.select("node", F.col("node").alias("lbl"))
    t0 = time.time()
    for _ in range(6):
        nm = (
            cadj.join(lbl.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        lbl = nm.join(
            nm.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")), "lbl"
        ).select("node", F.col("lbl2").alias("lbl"))
    cnt = lbl.select("lbl").distinct().count()
    dt = time.time() - t0
    results["cc_star_chain_graph_6_rounds"] = {
        "sec": round(dt, 2), "rows_out": cnt,
        "mnodes_per_sec": round(n_cc / dt / 1e6, 2),
    }
    print(
        f"# cc_star_chain_graph_6_rounds: {dt:.2f}s ({cnt} components of "
        f"{n_cc//50} expected, {n_cc/dt/1e6:.2f}M nodes/s)", file=sys.stderr,
    )

    # Bloom runtime-filter probe: 1M-key build into m=2^24 bits, probe the
    # full N-row side scan-locally against the broadcast word map.
    M2 = 1 << 24

    def pos_expr(col: str, i: int) -> str:
        return (
            f"(CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            f" + {i} * (CAST(conv(substr(md5(CAST({col} AS STRING)), 9, 8), 16, 10)"
            f" AS BIGINT) * 2 + 1)) % {M2}"
        )

    bkeys = spark.range(0, 1_000_000, numPartitions=64).select(
        (F.col("id") * 7).alias("k")
    )
    words_sc = None
    for i in range(4):
        p = bkeys.select(F.expr(pos_expr("k", i)).alias("p"))
        words_sc = p if words_sc is None else words_sc.unionAll(p)
    words_sc = (
        words_sc.select(F.expr("p DIV 32").alias("word"), F.expr("CAST(p % 32 AS INT)").alias("bit"))
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wbits"))
    )
    words_sc = words_sc.localCheckpoint()
    # one BroadcastHashJoin per probe position — O(1) hash lookups (a
    # single map-column literal degrades to a LINEAR MapData scan at this m)
    probe_sc = spark.range(0, n, numPartitions=64).select(F.col("id").alias("k"))
    hit = None
    for i in range(4):
        probe_sc = probe_sc.withColumn(
            f"w{i}", F.expr(f"(({pos_expr('k', i)}) DIV 32)")
        ).join(
            F.broadcast(
                words_sc.select(F.col("word").alias(f"w{i}"), F.col("wbits").alias(f"wb{i}"))
            ),
            f"w{i}",
            "left",
        )
        h = (
            F.coalesce(F.col(f"wb{i}"), F.lit(0))
            .bitwiseAND(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(({pos_expr('k', i)}) % 32 AS INT))"))
            != 0
        )
        hit = h if hit is None else (hit & h)
    run("bloom_probe_16m_bits", probe_sc.filter(hit).select(F.lit(1)))

    # Equi-depth histogram boundaries via the exact distributed rank at N rows
    from pulsar_3_2_codedump_spark.operators.prefixops import distributed_rank, range_bucket

    vals = spark.range(0, n, numPartitions=64).select(
        F.pmod(F.xxhash64("id"), 1_000_000).alias("v"), F.col("id").alias("key")
    )
    rb = range_bucket(vals, "v", 64, out="rb")
    ranked = distributed_rank(rb, F.col("rb"), [F.col("v"), F.col("key")], out="rn")
    nrow = vals.agg(F.count(F.lit(1)).alias("cnt"))
    run(
        "equi_depth_histogram_rank",
        ranked.crossJoin(F.broadcast(nrow))
        .withColumn("bucket", F.floor((F.col("rn") - 1) * 16 / F.col("cnt")))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min("v").alias("lo"), F.max("v").alias("hi")),
    )

    # Apriori pair generation: N basket lines -> 1M baskets x 25 brands,
    # frequent-item pruned self-join on the basket key
    blines = spark.range(0, n, numPartitions=64).select(
        F.expr("id DIV 10").alias("o"),
        F.concat(F.lit("Brand#"), F.pmod(F.xxhash64("id"), 25).cast("string")).alias("item"),
    ).distinct()
    aa = blines.select("o", F.col("item").alias("ia"))
    cc2 = blines.select("o", F.col("item").alias("ib"))
    run(
        "apriori_pair_support",
        aa.join(cc2, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("pair_cnt")),
    )

    # ---- very-late r8 operators at scale ------------------------------------
    # PassJoin signature build + equi-join at 2M distinct strings: every
    # string emits 2 probe + 6 indexed segment keys; candidate space is the
    # hash join on (segment#, length, text) — throughput of the sound
    # edit-distance join's dominant stage.
    n_pj = min(2_000_000, n)
    pj = spark.range(0, n_pj, numPartitions=64).select(
        F.concat(
            F.substring(F.md5(F.col("id").cast("string")), 1, 6),
            F.lit(" "),
            F.substring(F.md5(F.col("id").cast("string")), 7, 6),
        ).alias("name")
    ).withColumn("ln", F.length("name"))
    probes = pj.select(
        "name", F.col("ln").alias("ls"),
        F.explode(F.expr(
            "array(struct(1 AS pt, substring(name, 1, ln div 2) AS seg),"
            " struct(2 AS pt, substring(name, ln div 2 + 1, ln - ln div 2) AS seg))"
        )).alias("k"),
    ).select("name", "ls", "k.pt", "k.seg")
    idx = (
        pj.select(F.col("name").alias("name_i"), "ln",
                  F.explode(F.expr("array(ln - 1, ln, ln + 1)")).alias("ls"))
        .filter(F.col("ls") >= 2)
        .select("name_i", "ls", F.explode(F.expr(
            "array(struct(1 AS pt, substring(name_i, 1, ls div 2) AS seg),"
            " struct(2 AS pt, substring(name_i, length(name_i) - (ls - ls div 2) + 1,"
            " ls - ls div 2) AS seg))"
        )).alias("k"))
        .select("name_i", "ls", "k.pt", "k.seg")
    )
    run(
        "passjoin_2m_strings",
        probes.join(idx, ["pt", "ls", "seg"])
        .filter(F.col("name") < F.col("name_i"))
        .select("name", "name_i").distinct()
        .withColumn("d", F.levenshtein("name", "name_i"))
        .filter(F.col("d") <= 1),
    )

    # TWAP: per-key lead window + quantized-integer agg over the N-row log
    from pyspark.sql import Window

    wtw = Window.partitionBy("key").orderBy("tms", "offset")
    twap_in = env.select(
        "key", "offset",
        F.expr("unix_micros(publish_time) div 1000").alias("tms"),
        F.round(F.col("value") * 10000).cast("long").alias("vq"),
    )
    run(
        "twap_per_key_window",
        twap_in.withColumn("dt", F.lead("tms").over(wtw) - F.col("tms"))
        .filter(F.col("dt").isNotNull())
        .groupBy("key")
        .agg(F.round(F.sum(F.col("vq") * F.col("dt"))
                     / (F.sum("dt") * 10000.0), 6).alias("twap")),
    )

    # Exact bitmap distinct rollup: day registers OR-merged into weeks over a
    # 1M-user id space (31k words per (type, period) worst case)
    bm = env.select(
        F.pmod("sequence_id", 16).alias("t"),
        F.expr("sequence_id DIV 86400000").alias("day"),
        F.expr("(CAST(conv(substr(md5(CAST(key AS STRING)), 1, 13), 16, 10)"
               " AS BIGINT) % 1000000)").alias("uid"),
    )
    bm_daily = bm.select(
        "t", "day", F.expr("uid DIV 32").alias("word"),
        F.expr("CAST(uid % 32 AS INT)").alias("bit"),
    ).groupBy("t", "day", "word").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits")
    )
    run(
        "bitmap_rollup_1m_idspace",
        bm_daily.groupBy("t", F.expr("day DIV 7").alias("wk"), "word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("t", "wk")
        .agg(F.sum(F.bit_count("bits")).alias("nd")),
    )

    # Sweep-line peak concurrency: 2N boundary points through a per-type
    # running-sum window
    iv = env.select(
        F.pmod("sequence_id", 16).alias("t"), "offset",
        F.unix_micros("publish_time").alias("s_us"),
        (F.unix_micros("publish_time")
         + F.floor("value").cast("long") * 1_000_000).alias("e_us"),
    )
    pts2 = iv.select("t", "offset", F.col("s_us").alias("tt"), F.lit(1).alias("d")) \
        .unionByName(iv.select("t", "offset", F.col("e_us").alias("tt"),
                               F.lit(-1).alias("d")))
    wsw = Window.partitionBy("t").orderBy("tt", "d", "offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run(
        "sweepline_peak_concurrency",
        pts2.select("t", F.sum("d").over(wsw).alias("running"))
        .groupBy("t").agg(F.max("running").alias("peak")),
    )

    # Streaming CUSUM monitor fold: the fact-scale stage is ONE partial+final
    # count shuffle down to (type × bucket) rows; the carry-fold then windows
    # over that metadata-scale frame (64 types × 1000 buckets here). This is
    # the shape that keeps the monitor's state bounded at 100 TB.
    from pulsar_3_2_codedump_spark.streaming.queries_streaming import _cusum_fold

    cb = env.groupBy(
        F.col("producer_name").alias("event_type"),
        F.expr(f"sequence_id DIV {max(n // 1000, 1)}").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    ck = cb.groupBy("event_type").agg(
        F.expr("(SUM(x) * 1000) DIV COUNT(*)").alias("k_scaled")
    )
    c_empty = spark.createDataFrame(
        [], "event_type string, p long, m long, peak long, n long, "
            "last_x long, last_bucket long"
    )
    run("streaming_cusum_bucket_fold", _cusum_fold(cb, c_empty, ck))

    # REAL image decode path: encode → parse → pixel stats over genuine
    # binary PPM files, Arrow-batched end to end. Per-image work is
    # irreducible in any decoder; what must scale is the batching, and the
    # blob never leaves the executor.
    from pulsar_3_2_codedump_spark.functions.multimodal import (
        decode_ppm_stats,
        encode_ppm,
    )

    n_img = max(n // 50, 1)
    ids = spark.range(0, n_img, numPartitions=64).select(
        F.col("id").alias("media_id")
    )
    t0 = time.time()
    cnt = decode_ppm_stats(encode_ppm(ids)).count()
    dt = time.time() - t0
    results["ppm_encode_decode_stats"] = {
        "sec": round(dt, 2),
        "rows_out": cnt,
        "kimg_per_sec": round(n_img / dt / 1e3, 1),
    }
    print(
        f"# ppm_encode_decode_stats: {dt:.2f}s ({cnt} images, "
        f"{n_img/dt/1e3:.1f}k img/s)",
        file=sys.stderr,
    )

    # Exact-substring dedup (suffix ordering): the suffix table is
    # corpus_tokens rows × ≤50 chars shuffled ONCE on the 20-char-prefix
    # bucket key; LCP work is a bounded 50-step fold per row. The 50-word
    # synthetic vocabulary makes buckets pathologically hot (every suffix
    # collides) — a deliberate stress of the bucket-partitioned windows.
    from pulsar_3_2_codedump_spark.functions.dedup_ml import (
        exact_substring_stats,
    )

    # filter (not limit — limit would single-partition the scan) and an
    # aggregate over the COMPUTED columns (a bare count would let Catalyst
    # eliminate the distinct-key left join and skip the window work).
    # Two corpora: the 50-word-vocab docs are a deliberate WORST CASE
    # (~87% of suffixes duplicated -> a few huge buckets), while the
    # 10k-vocab corpus has the singleton-bucket profile of real text,
    # where the same plan runs at scan speed. Since r11 the hot profile
    # exercises the ESD_BUCKET_CAP saturated path: over-cap buckets skip
    # the sorted-neighbor window (dup_start stays exact, dup_len
    # saturates to length(s)) — measured 19.6x faster than the uncapped
    # sort on an all-identical-boilerplate corpus at equal scale
    # (SCALE.md r11).
    def esd_run(name, frame, nd):
        # time a COLLECT of the 1-row aggregate: count() of a global agg is
        # constant-folded by Catalyst (it never runs the suffix plan).
        # Construction sits INSIDE the timed region (r12): the mega-bucket
        # census probe runs at construction time and is real work — timing
        # only the collect would hide it (the scale_smoke honest-measurement
        # convention).
        t0 = time.time()
        agg = exact_substring_stats(frame).agg(
            F.sum("n_starts").alias("starts"),
            F.sum("dup_starts").alias("dups"),
            F.max("max_dup_len").alias("max_len"),
        )
        r = agg.collect()[0]
        dt = time.time() - t0
        results[name] = {
            "sec": round(dt, 2),
            "n_docs": nd,
            "starts": r["starts"],
            "dups": r["dups"],
            "kdocs_per_sec": round(nd / dt / 1e3, 1),
        }
        print(
            f"# {name}: {dt:.2f}s ({nd} docs, {nd/dt/1e3:.1f}k docs/s, "
            f"dup frac {r['dups']/r['starts']:.2f})",
            file=sys.stderr,
        )

    n_esd = max(n_docs // 10, 100_000)
    esd_run(
        "exact_substring_suffix_dedup_hotbucket_stress",
        docs.filter(F.col("doc_id") < n_esd),
        n_esd,
    )

    # tokens via xxhash64(id, i): a polynomial-mod formula is PERIODIC in
    # id (period = vocab modulus), which silently makes the corpus ~100
    # copies of each distinct doc — the hash mix gives genuinely unique
    # docs and the near-singleton bucket profile of real text
    realdocs = spark.range(0, n_docs, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(25) + F.pmod("id", 30).cast("int")),
                lambda i: F.concat(
                    F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(9973))
                ),
            ),
        ).alias("text"),
    )
    esd_run("exact_substring_suffix_dedup_10k_vocab", realdocs, n_docs)

    # OPQ permutation: the only new fact-scale work vs the smoked PQ
    # harness is ONE posexplode+agg corpus pass for the per-dimension
    # variance proxies (64-row control-plane result) and a pure projection.
    from pulsar_3_2_codedump_spark.functions.similarity import opq_rotate

    n_vec = max(n // 10, 1_000_000)
    vecs = spark.range(0, n_vec, numPartitions=64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.col("id") * i + i * i * F.lit(7), 1000) / 1000.0 - 0.5
            ).cast("float"),
        ).alias("embedding"),
    )
    t0 = time.time()
    # aggregate over a rotated element so the projection itself executes
    # (count alone would be pruned to a scan of the id range)
    cnt = opq_rotate(vecs).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.element_at("embedding", 1)).alias("chk"),
    ).collect()[0]["n"]
    dt = time.time() - t0
    results["opq_variance_permutation_rotate"] = {
        "sec": round(dt, 2),
        "rows_out": cnt,
        "mvecs_per_sec": round(n_vec / dt / 1e6, 2),
    }
    print(
        f"# opq_variance_permutation_rotate: {dt:.2f}s ({cnt} vectors, "
        f"{n_vec/dt/1e6:.2f}M vecs/s)",
        file=sys.stderr,
    )

    # Streaming token-drift monitor's fact-scale stage: one partial+final
    # agg from the corpus down to #sources × 7 integers — the bounded
    # state the incremental monitor carries.
    ws_tdm = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    is_ref = F.col("doc_id") % 4 == 0
    tdm = docs.groupBy("source").agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(is_ref, F.size(ws_tdm)).otherwise(0)).alias("tok_ref"),
        F.sum(F.when(~is_ref, 1).otherwise(0)).alias("n_cur"),
        F.sum(F.when(~is_ref, F.size(ws_tdm)).otherwise(0)).alias("tok_cur"),
    )
    t0 = time.time()
    tdm_rows = tdm.collect()  # collect VALUES — a bare count would let the
    dt = time.time() - t0     # agg expressions (the tokenization) be pruned
    results["token_drift_monitor_agg"] = {
        "sec": round(dt, 2),
        "rows_out": len(tdm_rows),
        "mdocs_per_sec": round(n_docs / dt / 1e6, 2),
    }
    print(
        f"# token_drift_monitor_agg: {dt:.2f}s ({len(tdm_rows)} out, "
        f"{n_docs/dt/1e6:.2f}M docs/s)",
        file=sys.stderr,
    )

    print(json.dumps({"metric": "scale_smoke", "rows": n, "n_docs": n_docs, "ops": results}))


if __name__ == "__main__":
    main()
