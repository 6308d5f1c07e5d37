"""Deduplication operators for training-data pipelines (SURVEY §2.N).

Exact (content-hash groupBy), MinHash+LSH (shingle → minhash signature → band
→ bucket self-join → exact-Jaccard verify), SimHash, n-gram Jaccard.

Scale posture (100 TB):
  - exact dedup: one hash-agg shuffle on a 128-bit fingerprint — linear.
  - MinHash-LSH: the whole point vs naive O(n²) — candidates come from a
    self-join on (band, band-hash) buckets, so the join key is the bucket,
    AQE handles hot buckets, and the quadratic blowup is confined to rows
    sharing a bucket. The exact-Jaccard verify runs only on candidates.
  - everything is built-in higher-order array functions (transform/aggregate/
    array_intersect) — JVM codegen, no Python UDFs.

All hashes derive from md5 hex (shared with the DuckDB oracle — see
operators/routing.md5_hash32 note on the murmur3 substitution).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import fanout, load, persist_shared_corpus_frame
from pulsar_3_2_codedump_spark.queries import query

N_HASHES = 8  # minhash signature length
BAND_SIZE = 2  # rows per LSH band  → 4 bands
SHINGLE_K = 3  # word-shingle width


def _md5int(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles of lowercased text (built-in array ops only).

    Documents shorter than k words fall back to one whole-document shingle
    (Spark's sequence(1, 0) would DESCEND and emit index 0 — a real bug
    hypothesis found on no-whitespace inputs)."""
    ws = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k))))


MINHASH_P = (1 << 31) - 1  # Mersenne prime modulus
MINHASH_A = [1299721, 2750161, 4256233, 5800079, 7368787, 8960453, 10570841, 15485863]
MINHASH_B = [15487469, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939]


def minhash_signature(sh: Column, n_hashes: int = N_HASHES) -> list[Column]:
    """n independent min-hashes via ONE md5 per shingle + affine rehash:
    h_j = min over shingles of (a_j * md5int(s) + b_j) mod p.

    The classic universal-hash family — 8× fewer md5 evaluations than
    hashing per (j, shingle), which dominates cost at scale. Pass ``sh``
    as a pre-materialized base-hash array column (see base_hashes) so the
    md5 pass runs once, not once per signature row.
    """
    return [
        F.array_min(
            F.transform(sh, lambda h: (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P)
        ).alias(f"h{j}")
        for j in range(n_hashes)
    ]


def base_hashes(sh: Column) -> Column:
    """One md5int per shingle — the only expensive hash pass."""
    return F.transform(sh, lambda s: _md5int(s))


# DuckDB fragments mirroring the Spark expressions above
_D_WORDS = r"string_split_regex(lower(trim(text)), '\s+')"
_D_SHINGLES = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_D_WORDS}) - 2, 1)),"
    f" i -> array_to_string({_D_WORDS}[i:i+2], ' ')))"
)


def _d_md5int(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


@query(
    "exact_dedup",
    section="2.N-dedup",
    doc="Exact dedup: group by md5 fingerprint, keep the lowest doc_id as canonical; "
    "reports survivors and duplicate multiplicity (hash-agg, one shuffle).",
    oracle="""
        SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(trim(text)))
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp")).agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).drop("fp")


@query(
    "ngram_jaccard_pairs",
    section="2.N-dedup",
    doc="n-gram Jaccard near-dup: candidate pairs sharing ≥1 shingle (inverted-index "
    "join on shingle, the scalable form), exact Jaccard ≥ 0.2; deterministic pair "
    "order doc_a < doc_b.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents WHERE doc_id < 300),
        inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 /
                     len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
        FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
        WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
              len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    # the shingled frame feeds the inverted index AND both verify sides —
    # persist once (corpus-sized -> DISK_ONLY; r13 scan audit: 4 -> 1)
    sh = persist_shared_corpus_frame(
        docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    )
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_sig_sql() -> str:
    cols = []
    for j in range(N_HASHES):
        cols.append(
            f"list_aggregate(list_transform(hs, h -> ({MINHASH_A[j]} * h + {MINHASH_B[j]})"
            f" % {MINHASH_P}), 'min') AS h{j}"
        )
    return ", ".join(cols)


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The MinHash-LSH candidate pipeline: the persisted signature
    ``doc_id, sh, h0..h7`` and the distinct band-equal pairs
    ``doc_a < doc_b``. Callers verify the candidates against ``sig``."""
    docs = fanout(load(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    # materialize (shingles, base hashes, signature) ONCE — four plan branches
    # (bands a/b, verify x/y) would otherwise re-run the md5 pass each.
    # LAZY persist (r16): the eager count() paid a full extra
    # shingle+md5 pass as its own job just to pre-fill the cache; under
    # the single main action the four sig consumers populate and share
    # the cache anyway (a racing partition recompute is cheaper than the
    # guaranteed extra pass — measured 1.89 s lazy vs 2.36 s eager at
    # sf0.1, OPTIMIZATION_r16.md).
    sig = persist_shared_corpus_frame(
        sh.withColumn("hs", base_hashes(F.col("sh"))).select(
            "doc_id", "sh", *minhash_signature(F.col("hs"))
        )
    )
    # bands via ONE explode pass over the cached signature (a 4-way union
    # would scan it 4×; at scale the band table is 4n tiny rows either way)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"h{b * BAND_SIZE}").alias("b1"),
                        F.col(f"h{b * BAND_SIZE + 1}").alias("b2"),
                    )
                    for b in range(N_HASHES // BAND_SIZE)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "bd.band", "bd.b1", "bd.b2")
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.b1") == F.col("b.b1"))
            & (F.col("a.b2") == F.col("b.b2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return sig, cand


@query(
    "minhash_lsh_dedup",
    section="2.N-dedup",
    doc=f"MinHash+LSH near-dup: {N_HASHES}-hash signature, {N_HASHES // BAND_SIZE} bands of "
    f"{BAND_SIZE} — candidates share a full band bucket; verified with exact Jaccard. "
    "The LSH band join is the 100 TB path: no all-pairs compare ever materializes.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        hs AS (SELECT doc_id, sh,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh),
        sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hs),
        bands AS (
            SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM sig
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 /
                     len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
        FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    """,
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig, cand = _lsh_candidates(spark, sf_dir)
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(x, "doc_a").join(y, "doc_b").select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "simhash_fingerprint",
    section="2.N-dedup",
    doc="16-bit SimHash over word tokens: per bit, majority vote of token-hash bits; "
    "distribution of fingerprints (near-dups share low hamming distance).",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_D_WORDS}) AS w FROM documents WHERE doc_id < 300
        ),
        hashed AS (SELECT doc_id, {_d_md5int("w")} AS h FROM tok),
        bits AS (
            SELECT doc_id,
                   {", ".join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(16))}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id,
               {" + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))}
                   AS simhash
        FROM bits
    """,
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    tok = docs.select("doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"))
    hashed = tok.select("doc_id", _md5int(F.col("w")).alias("h"))
    bits = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    simhash = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.cast("long").alias("simhash"))


@query(
    "dedup_clusters",
    section="2.N-dedup",
    doc="Near-dup CLUSTERING: connected components over the MinHash-LSH "
    "candidate graph (edges = band-bucket candidates verified exact Jaccard "
    ">= 0.5), labels = min doc_id reachable — the canonical-document-selection "
    "step a corpus dedup actually ships (keep one doc per component, not one "
    "per pair). Spark side is iterative hash-to-min label propagation "
    "(join + min-agg per round, converges in O(diameter) rounds; the "
    "large-star/small-star variant drops that to O(log n) at 100 TB — see "
    "SCALE.md); oracle is a DuckDB recursive-CTE transitive closure.",
    oracle=f"""
        WITH RECURSIVE
        sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        hs AS (SELECT doc_id, sh,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh),
        sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hs),
        bands AS (
            SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM sig
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
        ),
        edge0 AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
            WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                  len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM edge0
            UNION ALL SELECT doc_b, doc_a FROM edge0
        ),
        verts AS (SELECT DISTINCT src AS v FROM edges),
        reach AS (
            SELECT v, v AS l FROM verts
            UNION
            SELECT e.src AS v, r.l FROM reach r JOIN edges e ON e.dst = r.v
        ),
        labeled AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v)
        SELECT cluster_id, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS member_sum,
               MAX(doc_id) AS max_doc_id
        FROM labeled GROUP BY cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference analogue: none (Pulsar has no corpus ops) — this is the
    §2.N training-pipeline extension. Candidate generation reuses the
    minhash_lsh_dedup pipeline (band equi-join, never all-pairs)."""
    pairs = minhash_lsh_dedup(spark, sf_dir).filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b"
    )
    lab = connected_components(pairs)
    return lab.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("member_sum"),
        F.max("doc_id").alias("max_doc_id"),
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Hash-to-min label propagation over an undirected (doc_a, doc_b) edge
    list → (doc_id, label) with label = min reachable doc_id. Each round is
    ONE shuffle join + ONE min-agg; localCheckpoint cuts lineage (see
    SCALE.md for the O(log n) large-star/small-star swap at 100 TB)."""
    sym = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    sym = sym.persist()
    lab = (
        sym.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    # hash-to-min propagation: label(v) <- min(label(v), min over neighbors).
    # Driver-side loop with a per-round convergence scalar — the canonical
    # Spark shape for iterative graph algorithms (each round is ONE shuffle
    # join + ONE min-agg; localCheckpoint cuts the growing lineage).
    for _ in range(32):
        nbr = (
            sym.join(lab.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new_lab = (
            lab.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_lab.alias("n")
            .join(lab.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        lab.unpersist()
        lab = new_lab
        if changed == 0:
            break
    sym.unpersist()
    return lab


@query(
    "contamination_overlap",
    section="2.N-text",
    doc="Benchmark-contamination detection: fraction of a candidate document's "
    "shingles that appear in any single eval-set document (src0 = the held-out "
    "benchmark), max over eval docs with deterministic doc-id tiebreak; flag "
    "overlap >= 0.3. The industry-standard n-gram decontamination pass — "
    "inverted-index equi-join on shingle, never candidate x eval cross "
    "product.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, source, {_D_SHINGLES} AS sh FROM documents),
        cand AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh WHERE source <> 'src0'),
        eval AS (SELECT doc_id AS eval_doc, unnest(sh) AS shingle FROM sh
                 WHERE source = 'src0'),
        cinv AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM cand),
        hits AS (
            SELECT c.doc_id, e.eval_doc, COUNT(*) AS n_common, MIN(c.n_sh) AS n_sh
            FROM cinv c JOIN eval e USING (shingle)
            GROUP BY c.doc_id, e.eval_doc
        ),
        ranked AS (
            SELECT doc_id, eval_doc, n_common * 1.0 / n_sh AS ov,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY n_common * 1.0 / n_sh DESC, eval_doc) AS rk
            FROM hits
        )
        SELECT doc_id, eval_doc AS matched_eval_doc, ROUND(ov, 4) AS overlap
        FROM ranked WHERE rk = 1 AND ov >= 0.3
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", "source", shingles(F.col("text")).alias("sh"))
    cand = sh.filter(F.col("source") != "src0").select(
        "doc_id", "sh", F.size("sh").alias("n_sh")
    )
    ev = (
        sh.filter(F.col("source") == "src0")
        .select(F.col("doc_id").alias("eval_doc"), F.explode("sh").alias("shingle"))
    )
    cinv = cand.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    hits = cinv.join(ev, "shingle").groupBy("doc_id", "eval_doc").agg(
        F.count(F.lit(1)).alias("n_common"), F.min("n_sh").alias("n_sh")
    )
    from pyspark.sql.window import Window as W

    ov = F.col("n_common") / F.col("n_sh")
    w = W.partitionBy("doc_id").orderBy(ov.desc(), F.col("eval_doc"))
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (ov >= 0.3))
        .select(
            "doc_id",
            F.col("eval_doc").alias("matched_eval_doc"),
            F.round(ov, 4).alias("overlap"),
        )
    )


@query(
    "winnowing_fingerprints",
    section="2.N-dedup",
    doc="Winnowing document fingerprints (Schleimer et al. 2003, the "
    "rolling-hash local fingerprinting behind MOSS-style overlap/plagiarism "
    "detection): hash the ORDERED word 3-shingles, slide a window of 4 "
    "hashes, keep each window's minimum, report the distinct fingerprint "
    "set per document (count + checksum + density). Guarantees any shared "
    "run of >= w+k-1 words between two documents shares a fingerprint. "
    "Scan-local higher-order array ops — one md5 pass per shingle, no "
    "explode shuffle, codegen end to end; at 100 TB the fingerprint set "
    "(~1/w of shingles) is what gets inverted-indexed for overlap joins.",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id, {_D_WORDS} AS ws FROM documents WHERE doc_id < 200
        ),
        o AS (
            SELECT doc_id,
                   list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                       i -> {_d_md5int("array_to_string(ws[i:i+2], ' ')")}) AS h
            FROM t
        ),
        m AS (
            SELECT doc_id, len(h) AS n_shingles,
                   greatest(len(h) - 3, 1) AS n_windows,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(h) - 3, 1)),
                       i -> list_min(h[i:i+3]))) AS fps
            FROM o
        )
        SELECT doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               CAST(list_aggregate(fps, 'sum') AS BIGINT) AS fp_checksum,
               ROUND(len(fps) * 1.0 / n_windows, 4) AS density
        FROM m
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = SHINGLE_K, 4
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    ordered_hashes = F.transform(idx, lambda i: _md5int(F.concat_ws(" ", F.slice(ws, i, k))))
    hashed = docs.select("doc_id", ordered_hashes.alias("h"))
    nh = F.size(F.col("h"))
    nw = F.greatest(nh - (w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), nw), lambda i: F.array_min(F.slice(F.col("h"), i, w))
    )
    return hashed.select(
        "doc_id",
        nh.cast("long").alias("n_shingles"),
        nw.cast("long").alias("n_windows"),
        F.size(F.array_distinct(mins)).cast("long").alias("n_fingerprints"),
        F.aggregate(
            F.array_distinct(mins), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("fp_checksum"),
        F.round(F.size(F.array_distinct(mins)) / nw, 4).alias("density"),
    )


@query(
    "cross_corpus_dedup",
    section="2.N-dedup",
    doc="Cross-corpus exact dedup (dedupe a NEW crawl against the corpus you "
    "already trained on): reference corpus = doc_id < 250, candidate corpus "
    "= doc_id >= 250 with a deterministic injected overlap (every 4th "
    "candidate is a verbatim copy of reference doc_id - 250 — the fixture "
    "has no natural cross-corpus dups, so the anti-join path is exercised "
    "non-vacuously). Reports per-source candidate counts, dropped (seen in "
    "reference), and retained. One fingerprint hash-agg + one anti-join on "
    "the fingerprint — at 100 TB the reference fingerprint set ships as a "
    "bloom/broadcast filter before the shuffle anti-join.",
    oracle="""
        WITH ref AS (
            SELECT md5(lower(trim(text))) AS fp FROM documents WHERE doc_id < 250
        ),
        cand AS (
            SELECT c.source,
                   md5(lower(trim(CASE WHEN c.doc_id % 4 = 0 AND r.text IS NOT NULL
                                       THEN r.text ELSE c.text END))) AS fp
            FROM documents c
            LEFT JOIN documents r ON r.doc_id = c.doc_id - 250
            WHERE c.doc_id >= 250
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN fp IN (SELECT fp FROM ref) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN fp IN (SELECT fp FROM ref) THEN 0 ELSE 1 END) AS BIGINT) AS n_retained
        FROM cand GROUP BY source
    """,
)
def cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = lambda c: F.md5(F.lower(F.trim(c)))  # noqa: E731
    ref = docs.filter(F.col("doc_id") < 250)
    copies = ref.select((F.col("doc_id") + 250).alias("doc_id"), F.col("text").alias("ref_text"))
    cand = (
        docs.filter(F.col("doc_id") >= 250)
        .join(copies, "doc_id", "left")
        .select(
            "source",
            fp(
                F.when(
                    (F.col("doc_id") % 4 == 0) & F.col("ref_text").isNotNull(),
                    F.col("ref_text"),
                ).otherwise(F.col("text"))
            ).alias("fp"),
        )
    )
    ref_fps = ref.select(fp(F.col("text")).alias("fp")).distinct()
    seen = F.when(F.col("rfp").isNotNull(), 1).otherwise(0)
    return (
        cand.join(
            F.broadcast(ref_fps.select(F.col("fp").alias("rfp"))),
            F.col("fp") == F.col("rfp"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(seen).alias("n_dropped"),
            F.sum(1 - seen).alias("n_retained"),
        )
    )


CONTAIN_T = 0.6  # containment threshold: share of A's shingles present in B


@query(
    "shingle_containment_pairs",
    section="2.N-dedup",
    doc="Directed containment near-dup (quote/boilerplate detection — the "
    "asymmetric metric Jaccard misses: a short doc fully quoted inside a "
    "long one scores low Jaccard but containment 1.0): candidate pairs from "
    "the same inverted-index shingle join as ngram_jaccard_pairs, then "
    f"C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ {CONTAIN_T} in BOTH directions "
    "as separate directed rows. Scale: the candidate join is on shingle "
    "(never all-pairs); at 100 TB cap the inverted index to rare shingles "
    "(df ≤ d) — a contained doc shares ALL its shingles, so any of its "
    "rare ones still surfaces the pair.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents WHERE doc_id < 300),
        inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 / len(x.sh), 4)
                   AS containment
        FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
        WHERE len(list_intersect(x.sh, y.sh)) * 1.0 / len(x.sh) >= {CONTAIN_T}
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    # the shingled frame feeds the inverted index AND both verify sides —
    # persist once (corpus-sized -> DISK_ONLY; r13 scan audit: 4 -> 1)
    sh = persist_shared_corpus_frame(
        docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    )
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    c = F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("containment", F.round(c, 4))
        .filter(c >= CONTAIN_T)
        .select("doc_a", "doc_b", "containment")
    )


RECALL_T = 0.5  # Jaccard threshold defining the true-duplicate ground truth


@query(
    "lsh_dedup_recall",
    section="2.N-dedup",
    doc=f"MinHash-LSH dedup recall measurement (the measure-don't-guess loop "
    "for the dedup path, mirroring ann_recall_at_k for ANN): ground truth = "
    f"all pairs with exact Jaccard ≥ {RECALL_T} via the lossless "
    "inverted-index join (doc_id < 300 probe set); found = the LSH band "
    "candidates that verify at the same threshold; output one row of "
    "(n_truth, n_found, recall). Engine-side joins of the two pair sets — "
    "no driver-side comparison.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        hs AS (SELECT doc_id, sh,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh),
        sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hs),
        bands AS (
            SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM sig
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sig
        ),
        lsh_cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
            WHERE a.doc_id < 300 AND b.doc_id < 300
        ),
        found AS (
            SELECT doc_a, doc_b FROM lsh_cand
            JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
            WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                  len(list_distinct(list_concat(x.sh, y.sh))) >= {RECALL_T}
        ),
        inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id < 300),
        truth_cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        truth AS (
            SELECT doc_a, doc_b FROM truth_cand
            JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
            WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                  len(list_distinct(list_concat(x.sh, y.sh))) >= {RECALL_T}
        )
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM found) AS n_found,
               ROUND((SELECT COUNT(*) FROM found f JOIN truth t
                      ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b) * 1.0
                     / GREATEST((SELECT COUNT(*) FROM truth), 1), 4) AS recall
    """,
)
def lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = (
        minhash_lsh_dedup(spark, sf_dir)
        .filter(
            (F.col("doc_a") < 300) & (F.col("doc_b") < 300)
            & (F.col("jaccard") >= RECALL_T)
        )
        .select("doc_a", "doc_b")
    )
    truth = (
        ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= RECALL_T)
        .select("doc_a", "doc_b")
    )
    hit = lsh.join(truth, ["doc_a", "doc_b"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_truth",
            "n_found",
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 4
            ).alias("recall"),
        )
    )


@query(
    "dedup_keep_best",
    section="2.N-dedup",
    doc="Canonical-document selection by QUALITY (the policy real corpus "
    "dedups ship: keep the best-scoring member of each near-dup cluster, "
    "not the lowest id): connected components over the LSH-verified edge "
    "graph, then per-cluster argmax of n_chars (longer = keep) with doc_id "
    "as the deterministic tiebreak. One window rank over the labeled "
    "members; singleton docs (no near-dup) pass through untouched and never "
    "enter the component step.",
    oracle=f"""
        WITH RECURSIVE
        sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        hs AS (SELECT doc_id, sh,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh),
        sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hs),
        bands AS (
            SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM sig
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
        ),
        edge0 AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
            WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                  len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM edge0
            UNION ALL SELECT doc_b, doc_a FROM edge0
        ),
        verts AS (SELECT DISTINCT src AS v FROM edges),
        reach AS (
            SELECT v, v AS l FROM verts
            UNION
            SELECT e.src AS v, r.l FROM reach r JOIN edges e ON e.dst = r.v
        ),
        labeled AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v)
        SELECT cluster_id, doc_id AS kept_doc,
               CAST(n_chars AS BIGINT) AS kept_chars,
               CAST(n_members - 1 AS BIGINT) AS n_dropped
        FROM (
            SELECT lb.cluster_id, lb.doc_id, d.n_chars,
                   COUNT(*) OVER (PARTITION BY lb.cluster_id) AS n_members,
                   ROW_NUMBER() OVER (PARTITION BY lb.cluster_id
                                      ORDER BY d.n_chars DESC, lb.doc_id) AS rn
            FROM labeled lb JOIN documents d ON d.doc_id = lb.doc_id
        ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    pairs = minhash_lsh_dedup(spark, sf_dir).filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b"
    )
    lab = connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = lab.withColumnRenamed("label", "cluster_id").join(docs, "doc_id")
    w = W.partitionBy("cluster_id")
    ranked = members.withColumn(
        "n_members", F.count(F.lit(1)).over(w)
    ).withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.desc("n_chars"), F.asc("doc_id"))),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc"),
        F.col("n_chars").cast("long").alias("kept_chars"),
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


DUPSPAN_N = 4  # n-gram width of the span-duplication signal


@query(
    "duplicated_ngram_coverage",
    section="2.N-dedup",
    doc=f"Span-level duplication coverage (the substring-dedup signal of Lee "
    "et al., 'Deduplicating Training Data Makes Language Models Better'): "
    f"fraction of each document's TOKEN POSITIONS covered by a {DUPSPAN_N}-gram "
    "that also occurs in another document. Positional — unlike the "
    "distinct-shingle df signals (ngram_novelty / repeated_passages), this "
    "measures how much of the document's actual text is duplicated, the "
    "statistic span-removal dedup acts on. Plan: posexploded n-grams → one "
    "hash-agg for the cross-doc df → equi-join back → interval-union via "
    "covered-position explode + distinct. Every step is an equi-shuffle on "
    "ngram/doc_id (never all-pairs); explode fan-out is ~n_tokens × "
    f"{DUPSPAN_N + 1} rows — linear in corpus size.",
    oracle=rf"""
        WITH t AS (SELECT doc_id, {_D_WORDS} AS ws FROM documents),
        inv AS (
            SELECT doc_id, len(ws) AS n,
                   unnest(list_transform(
                       generate_series(1, greatest(len(ws) - {DUPSPAN_N - 1}, 1)),
                       i -> {{'pos': i,
                             'ng': array_to_string(ws[i:i+{DUPSPAN_N - 1}], ' ')}})) AS u
            FROM t),
        flat AS (SELECT doc_id, n, u.pos AS pos, u.ng AS ng FROM inv),
        dup AS (SELECT ng FROM flat GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2),
        covpos AS (
            SELECT doc_id, unnest(generate_series(pos, least(pos + {DUPSPAN_N - 1}, n))) AS cpos
            FROM flat JOIN dup USING (ng)),
        cov AS (SELECT doc_id, COUNT(DISTINCT cpos) AS dup_tokens
                FROM covpos GROUP BY doc_id)
        SELECT d.doc_id,
               len({_D_WORDS}) AS n_tokens,
               COALESCE(c.dup_tokens, 0) AS dup_tokens,
               ROUND(COALESCE(c.dup_tokens, 0) * 1.0 / len({_D_WORDS}), 4)
                   AS dup_fraction
        FROM documents d LEFT JOIN cov c USING (doc_id)
    """,
)
def duplicated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_coverage(fanout(load(spark, sf_dir, "documents")))


def _dup_covered_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, cpos) DISTINCT: every token position covered by a DUPSPAN_N-gram
    that occurs in >= 2 documents. Shared core of the coverage statistic and
    the span-removal transform."""
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (DUPSPAN_N - 1), F.lit(1))),
        lambda i: F.struct(
            i.alias("pos"), F.concat_ws(" ", F.slice(ws, i, DUPSPAN_N)).alias("ng")
        ),
    )
    flat = docs.select(
        "doc_id", n.alias("n"), F.explode(grams).alias("u")
    ).select("doc_id", "n", F.col("u.pos").alias("pos"), F.col("u.ng").alias("ng"))
    dup = (
        flat.groupBy("ng")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("ng")
    )
    # The duplicated-ngram set is DATA-PROPORTIONAL (grows with corpus
    # size), but Catalyst's post-aggregate size estimate can look small
    # enough to broadcast — at 5M docs the materialized broadcast is
    # ~3 GB and kills the driver (maxResultSize), and at 100 TB it is
    # unthinkable. Force the shuffle join; AQE skew-join handles hot
    # ngrams.
    return (
        flat.join(dup.hint("MERGE"), "ng")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.least(F.col("pos") + (DUPSPAN_N - 1), F.col("n")))
            ).alias("cpos"),
        )
        .distinct()
    )


def ngram_coverage(docs: DataFrame) -> DataFrame:
    """Positional duplicated-ngram coverage core over a (doc_id, text) frame."""
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    covered = (
        _dup_covered_positions(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    base = docs.select("doc_id", F.size(ws).cast("long").alias("n_tokens"))
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    # covered is one row per (duplicated) doc — also data-proportional.
    return base.join(covered.hint("MERGE"), "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        F.round(dup_tokens * F.lit(1.0) / F.col("n_tokens"), 4).alias("dup_fraction"),
    )


@query(
    "dedup_span_removal",
    section="2.N-dedup",
    doc="Span-level dedup TRANSFORM (the action on duplicated_ngram_coverage's "
    "signal — Lee et al.'s substring dedup applied document-side): rebuild "
    "each document keeping only token positions NOT covered by a cross-"
    "document duplicated n-gram. Covered positions per doc collect into one "
    "array (collect_set after an equi-join — never all-pairs), and the "
    "rebuild is a pure per-row array filter + join — scan-speed at 100 TB.",
    oracle=rf"""
        WITH t AS (SELECT doc_id, {_D_WORDS} AS ws FROM documents),
        inv AS (
            SELECT doc_id, len(ws) AS n,
                   unnest(list_transform(
                       generate_series(1, greatest(len(ws) - {DUPSPAN_N - 1}, 1)),
                       i -> {{'pos': i,
                             'ng': array_to_string(ws[i:i+{DUPSPAN_N - 1}], ' ')}})) AS u
            FROM t),
        flat AS (SELECT doc_id, n, u.pos AS pos, u.ng AS ng FROM inv),
        dup AS (SELECT ng FROM flat GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2),
        covpos AS (
            SELECT DISTINCT doc_id,
                   unnest(generate_series(pos, least(pos + {DUPSPAN_N - 1}, n))) AS cpos
            FROM flat JOIN dup USING (ng)),
        cov AS (SELECT doc_id, array_agg(cpos) AS cps FROM covpos GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(len(t.ws) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(c.cps), 0) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(
                   list_transform(
                       list_filter(generate_series(1, len(t.ws)),
                                   i -> NOT list_contains(COALESCE(c.cps, []), i)),
                       i -> t.ws[i]), ' '), '') AS cleaned_text
        FROM t LEFT JOIN cov c USING (doc_id)
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    cov = (
        _dup_covered_positions(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("cpos").alias("cps"))
    )
    cps = F.coalesce(F.col("cps"), F.array().cast("array<int>"))
    kept = F.filter(
        F.sequence(F.lit(1), F.size(ws)),
        lambda i: ~F.array_contains(cps, i.cast("int")),
    )
    # cov is one row per duplicated doc — data-proportional; see
    # _dup_covered_positions on why it must not broadcast.
    return docs.join(cov.hint("MERGE"), "doc_id", "left").select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(cps).cast("long").alias("n_removed"),
        F.concat_ws(
            " ", F.transform(kept, lambda i: F.element_at(ws, i))
        ).alias("cleaned_text"),
    )


@query(
    "minhash_estimate_error",
    section="2.N-dedup",
    doc=f"MinHash accuracy measurement (the measure-don't-guess companion to "
    "lsh_dedup_recall): for every LSH candidate pair, the signature "
    f"Jaccard estimate (fraction of the {N_HASHES} min-hashes that agree — "
    "the unbiased estimator the sketch trades exactness for) next to the "
    "EXACT shingle Jaccard and the signed error. This is how an operator "
    f"decides whether {N_HASHES} hashes suffice before scaling the pipeline "
    "to the full corpus. Same band-bucket equi-join as the dedup path — "
    "never all-pairs.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        hs AS (SELECT doc_id, sh,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh),
        sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hs),
        bands AS (
            SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM sig
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(({" + ".join(f"CASE WHEN x.h{j} = y.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES))})
                     / {float(N_HASHES)}, 4) AS est_jaccard,
               ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 /
                     len(list_distinct(list_concat(x.sh, y.sh))), 4) AS exact_jaccard,
               ROUND(({" + ".join(f"CASE WHEN x.h{j} = y.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES))})
                     / {float(N_HASHES)}
                     - len(list_intersect(x.sh, y.sh)) * 1.0 /
                       len(list_distinct(list_concat(x.sh, y.sh))), 4) AS err
        FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig, cand = _lsh_candidates(spark, sf_dir)
    xcols = ["sh"] + [f"h{j}" for j in range(N_HASHES)]
    x = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"x_{c}") for c in xcols])
    y = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"y_{c}") for c in xcols])
    agree = None
    for j in range(N_HASHES):
        t = F.when(F.col(f"x_h{j}") == F.col(f"y_h{j}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    est = agree / float(N_HASHES)
    exact = F.size(F.array_intersect("x_sh", "y_sh")) / F.size(
        F.array_union("x_sh", "y_sh")
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
            F.round(est - exact, 4).alias("err"),
        )
    )


CDC_W = 8            # rolling window width (chars)
CDC_B = 257          # polynomial hash base (odd -> invertible mod 2^32)
CDC_MOD = 1 << 32    # hash modulus (uint32 wraparound in the kernel)
CDC_THRESH = 1 << 28 # boundary iff H < 2^28: P = 1/16 -> ~16-char chunks
_CDC_BINV = pow(CDC_B, -1, CDC_MOD)
# B^(W-1-j) mod 2^32 for j = 0..W-1 — the direct windowed-hash weights the
# DuckDB oracle uses; the kernel's rolling form is algebraically identical
_CDC_POWS = [pow(CDC_B, CDC_W - 1 - j, CDC_MOD) for j in range(CDC_W)]


def _cdc_boundaries_ref(tx: str) -> list[int]:
    """Reference per-window form (one fresh polynomial hash per position):
    the bit-identity pin for the rolling kernel, and the literal transcription
    of the oracle SQL. Test-only — O(W) per char in interpreted Python."""
    out = []
    for i in range(CDC_W, len(tx) + 1):
        h = sum(
            ord(tx[i - CDC_W + j]) * _CDC_POWS[j] for j in range(CDC_W)
        ) % CDC_MOD
        if h < CDC_THRESH:
            out.append(i)
    return out


def _cdc_boundaries_np(tx: str, np) -> "list[int]":
    """TRUE rolling Rabin-style boundary scan, vectorized: maintain the
    prefix series S(i) = sum_{k<=i} cp_k * B^-k (mod 2^32; B odd so B^-1
    exists), then every window hash is H(i) = B^i * (S(i) - S(i-W)) — the
    O(1)-per-char incremental update of the classic rolling hash, computed
    for all positions at once with three uint32-wraparound array ops
    (multiply, cumsum, subtract). No per-window rehash ever happens; work is
    ~4 numpy ops per character regardless of W."""
    cp = np.frombuffer(tx.encode("utf-32-le"), dtype=np.uint32)
    n = cp.size
    if n < CDC_W:
        return []
    bpow, binvpow = _cdc_pow_tables(n, np)
    terms = cp * binvpow[1 : n + 1]                      # cp_k * B^-k (wrap)
    s = np.zeros(n + 1, dtype=np.uint32)
    np.cumsum(terms, dtype=np.uint32, out=s[1:])         # S(i), wraparound
    diff = s[CDC_W:] - s[: n - CDC_W + 1]                # S(i) - S(i-W)
    h = bpow[CDC_W : n + 1] * diff                       # B^i * diff (wrap)
    return (np.nonzero(h < np.uint32(CDC_THRESH))[0] + CDC_W).tolist()


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, source, tx) → one row per content-defined chunk, via the
    rolling-hash Arrow kernel (_cdc_boundaries_np). Scan-local — chunking
    never shuffles; callers aggregate the chunk rows."""

    def chunk_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, srcs, chunks = [], [], []
            for doc_id, source, tx in zip(pdf["doc_id"], pdf["source"], pdf["tx"]):
                bpos = _cdc_boundaries_np(tx, np)
                starts = [0] + bpos
                ends = bpos + [len(tx)]
                for s, e in zip(starts, ends):
                    ids.append(doc_id)
                    srcs.append(source)
                    chunks.append(tx[s:e])
            yield pd.DataFrame({"doc_id": ids, "source": srcs, "chunk": chunks})

    return docs.mapInPandas(chunk_kernel, "doc_id long, source string, chunk string")


_CDC_POW_CACHE = {}


def _cdc_pow_tables(n: int, np):
    """(B^i mod 2^32, B^-i mod 2^32) for i = 0..n, grown geometrically and
    cached per process (executor-side)."""
    cached = _CDC_POW_CACHE.get("t")
    if cached is None or cached[0].size <= n:
        size = max(n + 1, 4096)
        if cached is not None:
            size = max(size, cached[0].size * 2)
        bpow = np.empty(size, dtype=np.uint32)
        binv = np.empty(size, dtype=np.uint32)
        bpow[0] = binv[0] = 1
        np.cumprod(np.full(size - 1, CDC_B, dtype=np.uint32),
                   dtype=np.uint32, out=bpow[1:])
        np.cumprod(np.full(size - 1, _CDC_BINV, dtype=np.uint32),
                   dtype=np.uint32, out=binv[1:])
        cached = (bpow, binv)
        _CDC_POW_CACHE["t"] = cached
    return cached


@query(
    "cdc_chunk_dedup",
    section="2.N-dedup",
    doc=f"Content-defined chunking dedup (the Rabin-fingerprint boundary "
    "scheme of LBFS/restic/borg storage dedup, applied to corpus text): a "
    f"chunk boundary falls wherever the rolling polynomial hash of the "
    f"trailing {CDC_W}-char window lands below 2^28 (P = 1/16 -> ~16-char "
    "expected chunks), so boundaries are CONTENT-anchored — insert a byte "
    "and only the neighboring chunks change, unlike fixed-size blocks where "
    "everything downstream shifts. Per-source chunk counts + distinct-chunk "
    "(storage dedup) ratio. The boundary scan is an Arrow mapInPandas "
    "kernel running the TRUE rolling form (prefix series + modular-inverse "
    "powers, O(1) incremental per char, numpy-vectorized), pinned "
    "bit-identical to the per-window reference form in "
    "tests/test_functions_ml.py; one explode-equivalent + hash-agg — "
    "linear, and ~2 orders of magnitude faster than the per-char Catalyst "
    "lambda it replaces (measured in tools/scale_smoke.py).",
    oracle=rf"""
        WITH t AS (SELECT doc_id, source, lower(trim(text)) AS tx FROM documents),
        b AS (
            SELECT doc_id, source, tx,
                   list_filter(generate_series({CDC_W}, length(tx)),
                       i -> (list_sum(list_transform(generate_series(0, {CDC_W - 1}),
                                j -> CAST(unicode(substr(tx, i - {CDC_W - 1} + j, 1)) AS BIGINT) *
                                     ([{", ".join(str(p) for p in _CDC_POWS)}])[j + 1]))
                             % {CDC_MOD}) < {CDC_THRESH}) AS bpos
            FROM t),
        se AS (
            SELECT doc_id, source, tx,
                   list_concat([1], list_transform(bpos, x -> x + 1)) AS starts,
                   list_concat(bpos, [length(tx)]) AS ends
            FROM b),
        chunks AS (
            SELECT doc_id, source,
                   unnest(list_transform(generate_series(1, len(starts)),
                          j -> substr(tx, starts[j], ends[j] - starts[j] + 1))) AS chunk
            FROM se)
        SELECT source,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS total_chunks,
               COUNT(DISTINCT chunk) AS distinct_chunks,
               ROUND(COUNT(DISTINCT chunk) * 1.0 / COUNT(*), 4) AS unique_ratio,
               ROUND(AVG(LENGTH(chunk)), 2) AS avg_chunk_len
        FROM chunks GROUP BY source
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("tx")
    )
    # Kept as the one-shot multi-countDistinct agg DELIBERATELY (r17): the
    # §2.4 pre-agg-by-(source, chunk) restructure (plus n_docs off the
    # documents frame) was built, proven bit-identical, and A/B-rejected —
    # OPTIMIZATION_r17.md records minima 1.539 s vs 1.353 s for this form
    # (the restructure lost 3 of 4 in-rep comparisons): the Arrow chunk
    # kernel, not the Expand, dominates, and the old plan's Expand rows
    # collapse in the map-side partial agg while the restructure pays two
    # serial aggregation layers plus a second documents branch.
    return cdc_chunks(docs).groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_chunks"),
        F.countDistinct("chunk").alias("distinct_chunks"),
        F.round(F.countDistinct("chunk") / F.count(F.lit(1)), 4).alias("unique_ratio"),
        F.round(F.avg(F.length("chunk")), 2).alias("avg_chunk_len"),
    )


@query(
    "source_overlap_matrix",
    section="2.N-dedup",
    doc="Corpus-similarity matrix: exact pairwise Jaccard of the WORD "
    "VOCABULARIES of every source pair (the corpus-analytics complement "
    "of per-document near-dup — tells a data-mixing pipeline which "
    "sources are redundant before any per-doc work). Tokens are "
    "deduplicated to distinct (source, word) first, so the word-keyed "
    "self-join emits at most #sources^2 rows per word REGARDLESS of "
    "corpus size — the pair space is bounded by the source count, never "
    "the document count; vocabulary sizes broadcast back. Zero-overlap "
    "pairs are absent on both sides (inner-join semantics). Integer "
    "counts, one double division.",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT source, word FROM (
                SELECT source,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS word
                FROM documents)
        ),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
               FROM tok GROUP BY source),
        ix AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(*) AS BIGINT) AS inter
            FROM tok a JOIN tok b
              ON a.word = b.word AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               sa.n AS vocab_a, sb.n AS vocab_b, inter,
               ROUND(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        FROM ix
        JOIN sz sa ON sa.source = ix.source_a
        JOIN sz sb ON sb.source = ix.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    # the per-source vocabulary feeds the size agg AND both join sides —
    # deliberately NOT persisted (r16, same trade hybrid_rrf_fusion
    # measured in r13): the distinct is Exchange-rooted, so ReuseExchange
    # serves all three consumers from ONE shuffle at runtime, and the
    # DISK_ONLY persist replaced that free reuse with a serialize-to-disk
    # round trip — measured 1.58 s un-persisted vs 2.92 s persisted at
    # sf0.1 (OPTIMIZATION_r16.md)
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).distinct()
    sz = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("source").alias("source_a"), "word")
    b = tok.select(F.col("source").alias("source_b"), "word")
    ix = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("vocab_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("vocab_b"))
    return (
        ix.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("vocab_a").cast("long").alias("vocab_a"),
            F.col("vocab_b").cast("long").alias("vocab_b"),
            F.col("inter").cast("long").alias("inter"),
            F.round(
                F.col("inter")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("inter")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
    )


@query(
    "passjoin_edit_pairs",
    section="2.N-dedup",
    doc="SOUND edit-distance similarity self-join via segment filtering "
    "(Pass-Join, Li et al. VLDB 2011) — unlike fuzzy_blocking_pairs' "
    "heuristic blocking this LOSES NO PAIRS: for threshold 1, any two "
    "strings within one edit must either share their length-floor(L/2) "
    "PREFIX segment exactly or their remaining SUFFIX segment exactly "
    "(the single edit lies in one half; the other half stays aligned to "
    "its end of the string). Each distinct part name emits 2 probe keys "
    "and 6 indexed keys (3 candidate source lengths x 2 segments) — the "
    "candidate space is a hash equi-join on (segment#, source-length, "
    "segment text), never a length-band nested loop — then candidates "
    "are levenshtein-verified. Names are deduplicated to the vocabulary "
    "first with part multiplicities carried, so the join cost is bounded "
    "by vocabulary size, not table size. The oracle is the independent "
    "brute-force length-banded verify — equality IS the soundness-and-"
    "completeness proof.",
    oracle="""
        WITH d AS (
            SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part GROUP BY 1
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        FROM d a JOIN d b
          ON a.name < b.name
         AND abs(length(a.name) - length(b.name)) <= 1
         AND levenshtein(a.name, b.name) <= 1
    """,
)
def passjoin_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("ln", F.length("name"))
    )
    # probe side: each name contributes its own 2 segments, keyed by its length
    probes = names.select(
        "name",
        "n_parts",
        F.col("ln").alias("ls"),
        F.explode(
            F.expr(
                "array(struct(1 AS pt, substring(name, 1, ln div 2) AS seg),"
                " struct(2 AS pt, substring(name, ln div 2 + 1,"
                "                           ln - ln div 2) AS seg))"
            )
        ).alias("k"),
    ).select("name", "n_parts", "ls", "k.pt", "k.seg")
    # indexed side: for every candidate partner length ls in {ln-1, ln, ln+1},
    # the prefix of length ls div 2 and the suffix of length ls - ls div 2
    indexed = (
        names.select(
            F.col("name").alias("name_i"),
            F.col("n_parts").alias("n_parts_i"),
            "ln",
            F.explode(F.expr("array(ln - 1, ln, ln + 1)")).alias("ls"),
        )
        .filter(F.col("ls") >= 2)
        .select(
            "name_i",
            "n_parts_i",
            "ls",
            F.explode(
                F.expr(
                    "array(struct(1 AS pt, substring(name_i, 1, ls div 2) AS seg),"
                    " struct(2 AS pt, substring(name_i,"
                    "   length(name_i) - (ls - ls div 2) + 1,"
                    "   ls - ls div 2) AS seg))"
                )
            ).alias("k"),
        )
        .select("name_i", "n_parts_i", "ls", "k.pt", "k.seg")
    )
    cand = (
        probes.join(indexed, ["pt", "ls", "seg"])
        .filter(F.col("name") < F.col("name_i"))
        .select(
            F.col("name").alias("name_a"),
            F.col("name_i").alias("name_b"),
            F.col("n_parts").alias("n_parts_a"),
            F.col("n_parts_i").alias("n_parts_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("long")
    ).filter(F.col("dist") <= 1).select(
        "name_a", "name_b", "dist",
        F.col("n_parts_a").cast("long").alias("n_parts_a"),
        F.col("n_parts_b").cast("long").alias("n_parts_b"),
    )


# --- exact-substring dedup via distributed suffix ordering -----------------

ESD_MIN = 20    # duplicated-substring threshold, in normalized characters
ESD_CAP = 50    # suffix truncation cap (max measurable duplicate length)
ESD_WORDS = 26  # word window per suffix: 26 single-space-joined words are
#                 >= 51 chars even for 1-char tokens, so the window always
#                 covers ESD_CAP chars (25 could saturate at 49 — ADVICE r10)
ESD_BUCKET_CAP = 2048  # hot-bucket skew cap, see exact_substring_stats
ESD_ESCALATE = 5_000_000  # colliding suffixes in ONE bucket before the
#                 mega-bucket escalation re-routes it around the window
#                 sort (r12; measured crossover SCALE.md r11: 8M sorts in
#                 the 12 s total, 40M spills 542 s on one task)
ESD_PROBE_FRAC = 0.02  # POSITION-sample fraction for the escalation probe
#                 (r13: suffix starts hash-sampled inside each doc's
#                 position array — closes the r12 giant-doc evasion): a
#                 threshold-sized bucket samples ~ESD_ESCALATE*frac = 100k
#                 suffixes (binomial CV ~0.3% — detection is not the
#                 constraint); r13 A/B at 300k docs: 1.4-1.6 s vs the old
#                 doc-sample's 1.7-1.9 s (~6% of the 24 s full census),
#                 and the one-giant-doc pathology is detected
#                 deterministically where the doc sample missed 50/50
#                 seeds (SCALE.md r13)
ESD_MAX_HOT = 1024  # bound on escalated buckets per run (driver literals)


def _lcp_of_tails(ta: Column, tb: Column) -> Column:
    """Longest-common-prefix length of two SAME-BUCKET suffixes given only
    their TAILS beyond the ESD_MIN chars the bucket already proved equal:
    total = ESD_MIN + tail LCP. NULL neighbor (bucket edge) -> 0.

    Kernel (r16): char-at-a-time cumulative-AND — the fold carries
    (still_equal, count) and each step compares ONE character, so a
    30-step fold does 30 char compares instead of the r11 form's
    sum-of-prefix-equality-indicators (which re-compared the whole
    prefix at every step, O(tail^2/2) ≈ 450 char compares per pair).
    Same integer by monotonicity of prefix equality — proven equal on
    the full sf0.1 frame (OPTIMIZATION_r16.md: 0 differing rows) and
    pinned against the independent Python suffix scan in
    tests/test_functions_ml.py. The quadratic fold, not the sort, was
    the measured hot-bucket pathology (907 s for one 8M-suffix bucket,
    r11) — this kernel cuts exactly that term; measured 2.28 s vs
    2.59 s at the common sf0.1 profile. r17: takes the pre-split tails
    directly (the window now shuffles (bucket, tail), not the full s —
    guide §2.1 shrink-before-shuffle), so the per-step substr runs on
    the 30-char tail column with no per-row re-slicing."""

    def ch_eq(i: Column) -> Column:
        return (
            (i <= F.length(ta))
            & (i <= F.length(tb))
            & (ta.substr(i, F.lit(1)) == tb.substr(i, F.lit(1)))
        )

    tail = F.aggregate(
        F.sequence(F.lit(1), F.lit(ESD_CAP - ESD_MIN)),
        F.struct(F.lit(True).alias("eq"), F.lit(0).alias("n")),
        lambda acc, i: F.struct(
            (acc["eq"] & ch_eq(i)).alias("eq"),
            (acc["n"] + F.when(acc["eq"] & ch_eq(i), 1).otherwise(0)).alias("n"),
        ),
        lambda acc: acc["n"],
    )
    return F.when(tb.isNull(), 0).otherwise(F.lit(ESD_MIN) + tail)


def _esd_positions(t: DataFrame) -> DataFrame:
    """(doc_id, pos, ws): every word-start position of a (doc_id, ws)
    tokenized frame — integers only, no string building, so a census
    probe can hash-sample POSITIONS before paying for the suffix
    strings (the expensive part of the expansion)."""
    return t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("pos"),
        "ws",
    )


def _esd_strings(pos_frame: DataFrame) -> DataFrame:
    """(doc_id, pos, bucket, tail): build the truncated suffix string for
    a positions frame and split it into its ESD_MIN-char bucket key and
    the remaining tail. The full suffix s == bucket || tail is never
    carried as a column (r17, guide §2.1): the bucket-partitioned window
    downstream would otherwise shuffle both the 50-char s AND its own
    20-char prefix again (~40% more shuffle bytes), and every derived
    quantity needs only the split halves — ordering by tail within a
    bucket IS ordering by s (equal fixed-length prefix), and
    length(s) == ESD_MIN + length(tail)."""
    sfx = pos_frame.select(
        "doc_id",
        "pos",
        F.substring(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("pos"), ESD_WORDS)),
            1,
            ESD_CAP,
        ).alias("s"),
    )
    return sfx.filter(F.length("s") >= ESD_MIN).select(
        "doc_id",
        "pos",
        F.substring("s", 1, ESD_MIN).alias("bucket"),
        F.substring("s", ESD_MIN + 1, ESD_CAP - ESD_MIN).alias("tail"),
    )


def _esd_eligible(t: DataFrame) -> DataFrame:
    """(doc_id, pos, s, bucket) word-start suffix frame over a
    (doc_id, ws) tokenized frame — the shared input of the census probe
    and both scoring branches of exact_substring_stats."""
    return _esd_strings(_esd_positions(t))


def _esd_mega_buckets(
    t: DataFrame,
    bucket_cap: int,
    escalate_threshold: int,
    probe_fraction: float,
    max_hot: int,
) -> list[str]:
    """Mega-bucket gate for exact_substring_stats (r12, VERDICT r11 #2):
    find buckets large enough that sorting them on one window task is the
    bottleneck, so the caller can route them around the sort entirely.

    PHYSICAL-ONLY decision: every bucket with true size > bucket_cap
    saturates to dup_len = length(s) under the capped semantics (the
    oracle's own COUNT(*) OVER CASE), so whether such a bucket flows
    through the window or the direct branch cannot change a single output
    bit — the gate picks a plan, never an answer.

    Two stages keep the common profile at ~probe_fraction overhead and
    make mis-routing impossible:
      1. sampled census: expand only a position-sample (hash-filtered
         inside each doc's position array), count per bucket (skew-free —
         map-side partial aggregation collapses a colliding bucket to one
         row per task), keep candidates whose scaled estimate reaches
         escalate_threshold, bounded by max_hot (control-plane collect of
         <= max_hot 20-char strings);
      2. exact census of the candidates only (one full corpus pass, paid
         only when stage 1 fired — i.e. on pathological corpora): a
         candidate is escalated iff its TRUE size exceeds bucket_cap, the
         exact condition under which saturation is already the semantics.
    r13 (VERDICT r12 item 6): stage 1 samples POSITIONS, not docs — the
    positions frame is exploded as integers (cheap) and hash-filtered
    BEFORE the suffix strings are built (the expensive part of the
    expansion), so the probe still costs ~probe_fraction of one
    expansion pass while closing the documented giant-doc evasion: a
    single doc holding a mega-bucket's worth of colliding suffixes now
    contributes ~probe_fraction of its positions to the census instead
    of being in-or-out with probability probe_fraction (A/B in SCALE.md
    r13: equal common-profile cost, deterministic detection of the
    one-giant-doc pathology the doc sample missed ~98% of the time).
    xxhash64(doc_id, pos) sampling is deterministic — no RNG, identical
    across retries."""
    if probe_fraction < 1.0:
        mod = 1_000_000
        keep = max(1, int(mod * probe_fraction))
        # sample INSIDE the per-doc position array (scan-local lambda) so
        # only surviving positions ever explode — the exploded rows carry
        # the ws array, so sampling after a full explode would pay the
        # whole O(doc_len) row fan-out it exists to avoid
        sampled_pos = F.filter(
            F.sequence(F.lit(1), F.size("ws")),
            lambda p: F.pmod(F.xxhash64(F.col("doc_id"), p, F.lit(42)), F.lit(mod))
            < F.lit(keep),
        )
        probe_frame = _esd_strings(
            t.select("doc_id", F.explode(sampled_pos).alias("pos"), "ws")
        )
    else:
        probe_frame = _esd_eligible(t)
    cand = (
        probe_frame
        .groupBy("bucket")
        .count()
        .filter(F.col("count") >= max(1, int(escalate_threshold * probe_fraction)))
        .orderBy(F.desc("count"), "bucket")
        .limit(max_hot)
        .collect()  # control-plane: <= max_hot rows by the Limit
    )
    cand_set = [r["bucket"] for r in cand]
    if not cand_set:
        return []
    exact = (
        _esd_eligible(t)
        .filter(F.col("bucket").isin(cand_set))
        .groupBy("bucket")
        .count()
        .filter(F.col("count") > bucket_cap)
        .collect()  # control-plane: <= len(cand_set) rows
    )
    return sorted(r["bucket"] for r in exact)


_D_ESD_LCP = (
    "CASE WHEN {b} IS NULL THEN 0 ELSE {min} + "
    "list_aggregate(list_transform(generate_series(1, {tail}),"
    " i -> CASE WHEN i <= length(substr({a}, {min} + 1, {tail}))"
    " AND i <= length(substr({b}, {min} + 1, {tail}))"
    " AND substr(substr({a}, {min} + 1, {tail}), 1, i)"
    "   = substr(substr({b}, {min} + 1, {tail}), 1, i)"
    " THEN 1 ELSE 0 END), 'sum') END"
)


@query(
    "exact_substring_dedup",
    section="2.N-dedup",
    doc="EXACT-substring duplication via distributed suffix ordering — the "
    "suffix-array half of Lee et al., 'Deduplicating Training Data Makes "
    "Language Models Better' (their ExactSubstr dedup), complementing the "
    f"n-gram span dedup: every word-start suffix (truncated to {ESD_CAP} "
    "normalized chars) is bucketed by its first "
    f"{ESD_MIN} chars; a position starts a duplicated substring of >= "
    f"{ESD_MIN} chars iff its bucket holds another suffix, and its MAXIMUM "
    "duplicate length is the larger LCP against its sorted-order neighbors "
    "WITHIN the bucket (the suffix-array property: the max-LCP partner of "
    "any suffix is adjacent in sorted order; cross-bucket pairs share < "
    f"{ESD_MIN} chars by construction, so the global sort a single-machine "
    "suffix array needs collapses to bucket-partitioned windows — no "
    "global window, no all-pairs). Per-document output: word-start count, "
    "duplicated-start count, max duplicate length (capped at "
    f"{ESD_CAP}). 100 TB: the suffix table is corpus_tokens rows x "
    f"{ESD_CAP} chars shuffled once on the bucket key; LCP folds only the "
    f"tail beyond the {ESD_MIN} chars the bucket already proved equal. "
    "Skew ceiling — CAPPED (r11): rows in buckets larger than "
    f"{ESD_BUCKET_CAP} suffixes never evaluate the LCP folds — "
    "membership in a >=2 bucket already DECIDES dup_start exactly (any "
    f"two same-bucket suffixes share >= {ESD_MIN} chars), and the hot "
    "path saturates each member's dup_len to length(s) (a deterministic "
    "over-approximation of max duplicate length, applied identically in "
    "the DuckDB oracle). The bucket size rides in the SAME WindowExec "
    "as lag/lead (count over an unbounded-rows frame, same partition + "
    "order spec), so the cap adds ZERO scans/joins/shuffles to the r10 "
    "topology; measured: an 8M-suffix all-boilerplate corpus runs 12 s "
    "capped vs 907 s uncapped (the folds, not the sort, were the "
    "pathology), while the near-singleton real-text profile is "
    "unchanged. Mega-bucket escalation (r12): buckets past "
    f"{ESD_ESCALATE // 1_000_000}M suffixes (detected by a doc-sampled "
    "census probe + exact candidate census) bypass the window SORT "
    "entirely via a direct saturation branch — a plan choice, not a "
    "semantics choice, since any bucket over the cap saturates either "
    "way; bounds the last skew residual (one 40M-suffix bucket sorted "
    "541.7 s on a single task in the r11 form). The saturated column "
    "marks docs whose max_dup_len is the over-cap upper bound rather "
    "than an exact LCP (ADVICE r11). Pinned against an independent "
    "Python suffix scan, a cap-boundary corpus, and an "
    "escalation-boundary bit-identity sweep in tests/test_functions_ml.py.",
    oracle=rf"""
        WITH t AS (SELECT doc_id, {_D_WORDS} AS ws FROM documents),
        starts AS (
            SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws))) AS pos
            FROM t),
        sfx AS (
            SELECT doc_id, pos,
                   substr(array_to_string(ws[pos:pos+{ESD_WORDS - 1}], ' '),
                          1, {ESD_CAP}) AS s
            FROM starts),
        eligible AS (
            SELECT doc_id, pos, s, substr(s, 1, {ESD_MIN}) AS bucket
            FROM sfx WHERE length(s) >= {ESD_MIN}),
        sized AS (
            SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bsz
            FROM eligible),
        nbr AS (
            SELECT doc_id, pos, s, bsz,
                   lag(s)  OVER w AS p,
                   lead(s) OVER w AS nx
            FROM sized
            WINDOW w AS (PARTITION BY bucket ORDER BY s, doc_id, pos)),
        scored AS (
            SELECT doc_id,
                   CASE WHEN bsz > {ESD_BUCKET_CAP} THEN length(s)
                   ELSE
                   GREATEST({_D_ESD_LCP.format(a="s", b="p", min=ESD_MIN, tail=ESD_CAP - ESD_MIN)},
                            {_D_ESD_LCP.format(a="s", b="nx", min=ESD_MIN, tail=ESD_CAP - ESD_MIN)})
                   END AS dup_len,
                   bsz > {ESD_BUCKET_CAP} AS sat
            FROM nbr),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN dup_len >= {ESD_MIN} THEN 1 ELSE 0 END)
                        AS BIGINT) AS dup_starts,
                   CAST(MAX(dup_len) AS BIGINT) AS max_dup_len,
                   CAST(MAX(CASE WHEN sat THEN 1 ELSE 0 END) AS BOOLEAN)
                       AS saturated
            FROM scored GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(len(t.ws) AS BIGINT) AS n_starts,
               COALESCE(a.dup_starts, 0) AS dup_starts,
               COALESCE(a.max_dup_len, 0) AS max_dup_len,
               COALESCE(a.saturated, FALSE) AS saturated
        FROM t LEFT JOIN agg a USING (doc_id)
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substring_stats(fanout(load(spark, sf_dir, "documents")))


def exact_substring_stats(
    docs: DataFrame,
    bucket_cap: int = ESD_BUCKET_CAP,
    escalate_threshold: int | None = ESD_ESCALATE,
    probe_fraction: float = ESD_PROBE_FRAC,
    max_hot: int = ESD_MAX_HOT,
) -> DataFrame:
    """Suffix-ordering exact-substring duplication core over a
    (doc_id, text) frame — see the exact_substring_dedup query doc.

    Hot-bucket cap (r11, final shape after A/B-ing two census-join
    designs that cost 2.5-4x on the COMMON near-singleton profile): the
    bucket size rides in the SAME WindowExec as lag/lead — count(*)
    over the bucket partition with an unbounded-rows frame shares the
    (partition, order) spec, so Spark evaluates all three in one pass
    over one exchange and one sort, the EXACT r10 topology with zero
    extra scans, joins, or shuffles; it also mirrors the DuckDB
    oracle's COUNT(*) OVER (PARTITION BY bucket) CASE character for
    character. Rows in over-cap buckets take length(s) from the CASE
    and never evaluate the 30-step LCP folds — which, not the sort,
    are what made a boilerplate bucket pathological (measured: 906 s
    uncapped vs fold-free seconds for 8M colliding suffixes; the
    remaining single-task cost is one near-linear sort of the hot
    bucket's mostly-identical keys).

    Mega-bucket escalation (r12, VERDICT r11 #2 — bounds the last
    residual, the single-task SORT of a 10M+-suffix bucket, measured
    541.7 s at 40M colliding suffixes): the _esd_mega_buckets gate
    (sampled census -> exact candidate census, see its doc) names the
    buckets past escalate_threshold; their rows take a DIRECT branch —
    dup_len = length(s), saturated = true, no window, no sort, no
    shuffle beyond the final per-doc aggregation — which is bit-identical
    to flowing them through the capped window (any true-size > bucket_cap
    bucket saturates there too; the oracle's CASE is on bucket size, not
    on the route). Cold buckets keep this exact zero-overhead plan, and
    when the gate finds nothing (every real-text profile) the plan IS the
    r11 plan; the only common-profile cost is the doc-sampled probe
    (~probe_fraction of one expansion pass). escalate_threshold=None
    disables the gate entirely.

    The saturated column (ADVICE r11): max_dup_len is EXACT for
    saturated=false docs and an upper bound (length of the longest
    over-cap suffix) when saturated=true — downstream consumers can now
    tell the two apart instead of misreading saturated lengths as
    exact."""
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = docs.select("doc_id", ws.alias("ws"))
    eligible = _esd_eligible(t)
    hot = (
        _esd_mega_buckets(
            t, bucket_cap, escalate_threshold, probe_fraction, max_hot
        )
        if escalate_threshold is not None
        else []
    )
    from pyspark.sql import Window

    # The window shuffles (bucket, tail) — never the full 50-char s
    # (r17, guide §2.1 shrink-before-shuffle): within a bucket partition
    # ORDER BY tail == ORDER BY s (the ESD_MIN-char prefix is equal and
    # fixed-length), the LCP kernel needs only the tails (the bucket
    # already proved the first ESD_MIN chars), and length(s) is
    # ESD_MIN + length(tail) exactly.
    w = Window.partitionBy("bucket").orderBy("tail", "doc_id", "pos")
    wcnt = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cold_src = (
        eligible.filter(~F.col("bucket").isin(hot)) if hot else eligible
    )
    # lag/lead are projected ONCE before the LCP folds (r17): referencing
    # .over(w) inside the fold expression made Catalyst emit five copies of
    # each neighbor string in the WindowExec output schema (plan dump:
    # _we1.._we10); binding them to columns first keeps the window output
    # at 3 extra columns and evaluates the folds in the projection above it
    # — same window spec, same pass, same integers.
    scored = cold_src.select(
        "doc_id",
        "tail",
        F.count(F.lit(1)).over(wcnt).alias("__bsz"),
        F.lag("tail").over(w).alias("__prev"),
        F.lead("tail").over(w).alias("__nxt"),
    ).select(
        "doc_id",
        F.when(
            F.col("__bsz") > bucket_cap,
            F.lit(ESD_MIN) + F.length("tail"),
        )
        .otherwise(
            F.greatest(
                _lcp_of_tails(F.col("tail"), F.col("__prev")),
                _lcp_of_tails(F.col("tail"), F.col("__nxt")),
            )
        )
        .alias("dup_len"),
        (F.col("__bsz") > bucket_cap).alias("sat"),
    )
    if hot:
        scored = scored.unionByName(
            eligible.filter(F.col("bucket").isin(hot)).select(
                "doc_id",
                (F.lit(ESD_MIN) + F.length("tail")).alias("dup_len"),
                F.lit(True).alias("sat"),
            )
        )
    agg = scored.groupBy("doc_id").agg(
        F.sum(F.when(F.col("dup_len") >= ESD_MIN, 1).otherwise(0))
        .cast("long")
        .alias("dup_starts"),
        F.max("dup_len").cast("long").alias("max_dup_len"),
        F.max("sat").alias("saturated"),
    )
    base = t.select("doc_id", F.size("ws").cast("long").alias("n_starts"))
    # agg is one row per doc — data-proportional; a static broadcast
    # decision on an estimate-unreliable intermediate (range/in-memory
    # backed input) materializes the whole per-doc frame on the driver.
    # Force the doc_id-keyed shuffle join (see _dup_covered_positions).
    return base.join(agg.hint("MERGE"), "doc_id", "left").select(
        "doc_id",
        "n_starts",
        F.coalesce(F.col("dup_starts"), F.lit(0)).cast("long").alias("dup_starts"),
        F.coalesce(F.col("max_dup_len"), F.lit(0)).cast("long").alias("max_dup_len"),
        F.coalesce(F.col("saturated"), F.lit(False)).alias("saturated"),
    )
