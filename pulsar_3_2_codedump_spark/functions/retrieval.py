"""Text retrieval + corpus-passage operators for training-data pipelines.

Beyond-reference §2.N extensions over the ``documents`` fixture:

  - **BM25 top-k retrieval** (Robertson/Sparck-Jones, the public BM25
    formula with k1=1.2, b=0.75): per-doc term frequencies computed as pure
    column expressions over the token array (no explode for a fixed query
    term set), corpus statistics (N, avgdl, per-term df) as ONE tiny
    aggregate broadcast back — the scoring pass runs at scan speed and the
    top-k is a TakeOrdered, never a full sort.
  - **Prefix-filtered set-similarity self-join** (PPJoin-style, Chaudhuri
    et al. "A Primitive Operator for Similarity Joins"): the 100 TB-safe
    form of the Jaccard near-dup join. Tokens are globally ordered by
    ascending corpus frequency; each set keeps only a prefix of length
    ``|s| - ceil(t*|s|) + 1``; any pair with Jaccard >= t provably shares a
    prefix token, so the candidate join explodes prefixes (rarest tokens)
    instead of whole sets — orders of magnitude fewer candidates than the
    share-any-shingle join at the same exact-verify guarantee.
  - **Repeated cross-document passages**: k-word shingles appearing in >= K
    distinct documents — the standard boilerplate/contamination signal.
    One explode + one hash-agg shuffle; linear.

All pure `pyspark.sql.functions` (JVM codegen); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import (
    fanout,
    load,
    persist_shared_corpus_frame,
)
from pulsar_3_2_codedump_spark.functions.dedup_ml import _D_WORDS, shingles
from pulsar_3_2_codedump_spark.queries import query

BM25_TERMS = ["spark", "window", "join", "stream"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"ln(1 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * ({BM25_K1} + 1)"
        f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
        WITH w AS (SELECT doc_id, {_D_WORDS} AS ws FROM documents),
        per AS (SELECT doc_id, len(ws) AS dl, {tf_cols} FROM w),
        st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl, {df_cols} FROM per)
        SELECT doc_id, ROUND({score}, 4) AS score
        FROM per, st
        ORDER BY ROUND({score}, 6) DESC, doc_id
        LIMIT {BM25_TOPK}
    """


@query(
    "bm25_topk",
    section="2.N-retrieval",
    doc=f"BM25 top-{BM25_TOPK} retrieval for a fixed query term set "
    f"{BM25_TERMS}: per-doc tf as column expressions (no explode), corpus "
    "stats as one broadcast scalar row, TakeOrdered top-k.",
    oracle=_bm25_oracle(),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25(load(spark, sf_dir, "documents"), BM25_TERMS, BM25_TOPK)


def bm25(
    docs: DataFrame,
    terms: list[str],
    topk: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 core over a (doc_id, text) frame — corpus stats via one broadcast
    scalar row; scoring is a pure column expression at scan speed."""
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    def _tf(term):
        # NB: the lambda must be single-argument — F.filter passes the element
        # index as a second positional arg if the callable accepts one.
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    per = docs.select(
        "doc_id",
        F.size(ws).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5))
        )
        tf = F.col(f"tf_{i}")
        term = (
            idf
            * tf
            * F.lit(k1 + 1)
            / (tf + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
        )
        score = term if score is None else score + term
    return (
        per.join(F.broadcast(stats))
        .withColumn("score6", F.round(score, 6))
        .orderBy(F.desc("score6"), F.asc("doc_id"))
        .limit(topk)
        .select("doc_id", F.round(score, 4).alias("score"))
    )


SETSIM_T = 0.2  # Jaccard threshold
_D_SHINGLES3 = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_D_WORDS}) - 2, 1)),"
    f" i -> array_to_string({_D_WORDS}[i:i+2], ' ')))"
)


@query(
    "setsim_prefix_join",
    section="2.N-dedup",
    doc=f"Prefix-filtered (PPJoin-style) Jaccard >= {SETSIM_T} self-join on 3-word "
    "shingles: global ascending-frequency token order, per-set prefix of "
    "length |s|-ceil(t*|s|)+1, candidates join only on prefix tokens, exact "
    "Jaccard verify. Provably lossless — the oracle is the brute-force "
    "all-pairs join, and the outputs must be identical.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES3} AS sh FROM documents
                    WHERE doc_id < 300)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                     len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))) >= {SETSIM_T}
    """,
)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    return prefix_jaccard_join(sh, SETSIM_T)


def prefix_jaccard_join(sh: DataFrame, t: float) -> DataFrame:
    """PPJoin-style lossless Jaccard >= t self-join over a (doc_id, sh) frame
    of distinct token arrays. Candidates come only from shared PREFIX tokens
    under the global ascending-frequency order; exact Jaccard verifies.

    The shingled frame feeds the inverted index AND both verify sides —
    persist it once (corpus-sized → DISK_ONLY, lineage kept; r13 scan
    audit: 6 documents scans -> 1)."""
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    sh = persist_shared_corpus_frame(sh)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("cnt"))
    # global order: ascending corpus frequency, shingle text as tiebreak
    ranked = (
        inv.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("cnt", "shingle"))).alias("os"))
        .select("doc_id", F.transform("os", lambda s: s["shingle"]).alias("toks"))
    )
    plen = F.size("toks") - F.ceil(F.lit(t) * F.size("toks")).cast("int") + F.lit(1)
    pref = ranked.select("doc_id", F.explode(F.slice("toks", 1, plen)).alias("shingle"))
    a, b = pref.alias("a"), pref.alias("b")
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
        .filter(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


PASSAGE_K = 5  # words per passage shingle
PASSAGE_MIN_DOCS = 3
_D_SHINGLES5 = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_D_WORDS}) - {PASSAGE_K - 1}, 1)),"
    f" i -> array_to_string({_D_WORDS}[i:i+{PASSAGE_K - 1}], ' ')))"
)


@query(
    "repeated_passages",
    section="2.N-text",
    doc=f"Cross-document repeated passages: {PASSAGE_K}-word shingles appearing in "
    f">= {PASSAGE_MIN_DOCS} distinct documents (boilerplate / contamination "
    "signal). Explode + one hash-agg shuffle; linear in corpus size.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES5} AS sh FROM documents),
        inv AS (SELECT doc_id, unnest(sh) AS passage FROM sh)
        SELECT passage,
               COUNT(DISTINCT doc_id) AS n_docs,
               MIN(doc_id)            AS first_doc
        FROM inv GROUP BY passage
        HAVING COUNT(DISTINCT doc_id) >= {PASSAGE_MIN_DOCS}
    """,
)
def repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passages(fanout(load(spark, sf_dir, "documents")), PASSAGE_K, PASSAGE_MIN_DOCS)


def passages(docs: DataFrame, k: int, min_docs: int) -> DataFrame:
    """Cross-document repeated-passage core over a (doc_id, text) frame."""
    sh = docs.select("doc_id", shingles(F.col("text"), k).alias("sh"))
    inv = sh.select("doc_id", F.explode("sh").alias("passage"))
    return (
        inv.groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


@query(
    "ngram_novelty",
    section="2.N-text",
    doc="Per-document novelty: fraction of a doc's distinct 3-word shingles "
    "that appear in NO other document (df=1 under the corpus inverted "
    "index) — the inverse of the boilerplate signal; high-novelty docs are "
    "the long-tail content worth keeping. Two hash-agg shuffles (df count, "
    "per-doc rollup) — linear.",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_D_SHINGLES3} AS sh FROM documents),
        inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        dfc AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM inv GROUP BY shingle)
        SELECT i.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
                   AS novel_frac
        FROM inv i JOIN dfc ON i.shingle = dfc.shingle
        GROUP BY i.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    dfc = inv.groupBy("shingle").agg(F.countDistinct("doc_id").alias("df"))
    novel = (F.col("df") == 1).cast("long")
    return (
        inv.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 4).alias("novel_frac"),
        )
    )


SNM_WINDOW = 4  # sorted-neighborhood comparison window
SNM_T = 0.2


@query(
    "sorted_neighborhood_pairs",
    section="2.N-dedup",
    doc=f"Sorted-neighborhood dedup (Hernandez/Stolfo merge-purge): sort the "
    "corpus by normalized text (near-dups sharing a prefix become adjacent), "
    f"compare each doc only to the next {SNM_WINDOW - 1} in sort order, keep "
    f"exact Jaccard >= {SNM_T} pairs. Deliberately lossy blocking — the "
    "classic ER baseline next to the lossless LSH/prefix methods; the rank "
    f"join is {SNM_WINDOW - 1} equi-joins on rn+d (never an inequality "
    "BNLJ). The sort rank itself is DISTRIBUTED (prefixops.distributed_rank: "
    "bucket by the 2-char sort-key prefix — monotone in the full ordering — "
    "prefix-count carry-ins over the metadata-scale bucket frame), so no "
    "single-partition window forms and the full corpus runs uncapped.",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, {_D_SHINGLES3} AS sh,
                   ROW_NUMBER() OVER (ORDER BY lower(trim(text)), doc_id) AS rn
            FROM documents
        )
        SELECT LEAST(a.doc_id, b.doc_id)    AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b,
               ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                     len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW - 1}
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))) >= {SNM_T}
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.operators.prefixops import distributed_rank

    docs = fanout(load(spark, sf_dir, "documents"))
    k = F.lower(F.trim(F.col("text")))
    # bucket = 2-char prefix of the sort key: lexicographically monotone, so
    # the bucketed rank equals the global rank; natural-language prefixes are
    # Zipf-ish but bounded, and the within-bucket sort is partition-local
    ranked = distributed_rank(
        docs.withColumn("__k", k), F.substring(F.col("__k"), 1, 2),
        [F.col("__k"), F.col("doc_id")], "rn"
    )
    # the ranked+shingled frame is referenced 4x (self + 3 rank shifts) —
    # persist so the rank machinery and shingle build run once, not 4x;
    # CORPUS-sized (one shingle array per doc) → lazy DISK_ONLY persist
    # (lineage kept, recomputable on executor loss — ADVICE r12)
    r = persist_shared_corpus_frame(
        ranked.select("doc_id", shingles(F.col("text")).alias("sh"), "rn")
    )
    a = r.select(
        F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("rn").alias("a_rn")
    )
    parts = []
    for d in range(1, SNM_WINDOW):
        b = r.select(
            F.col("doc_id").alias("b_id"),
            F.col("sh").alias("sh_b"),
            (F.col("rn") - d).alias("a_rn"),
        )
        parts.append(a.join(b, "a_rn"))
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.filter(jac >= SNM_T)
        .select(
            F.least("a_id", "b_id").alias("doc_a"),
            F.greatest("a_id", "b_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


TFIDF_TOPK = 3  # keyword-extraction terms kept per document


@query(
    "tfidf_top_terms",
    section="2.N-retrieval",
    doc=f"Per-document TF-IDF keyword extraction: top-{TFIDF_TOPK} terms of "
    "every document under smooth idf = ln((N+1)/(df+1)) + 1. The plan is the "
    "canonical two-agg shape — explode → per-(doc, term) tf hash-agg → "
    "per-term df hash-agg (vocab-bounded, broadcast back) — then one window "
    "rank per doc. At 100 TB the df table is vocab-sized (broadcastable "
    "after a BPE cap) and both aggs are map-side combinable; nothing is "
    "ever all-pairs.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST({_D_WORDS}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS score
            FROM tf JOIN df USING (term), n
        )
        SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
               ROUND(score, 4) AS score
        FROM (
            SELECT doc_id, term, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY ROUND(score, 6) DESC, term) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOPK} AND doc_id < 200
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_keywords(load(spark, sf_dir, "documents"), TFIDF_TOPK).filter(
        F.col("doc_id") < 200
    )


def tfidf_keywords(docs: DataFrame, topk: int) -> DataFrame:
    """TF-IDF keyword core over a (doc_id, text) frame. df/N are computed on
    the FULL corpus (so any output filter downstream doesn't bias idf)."""
    from pyspark.sql import Window as W

    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok = docs.select("doc_id", F.explode(ws).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = F.col("tf") * (
        F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc(F.round(score, 6)), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("doc_id", "term", F.col("rank").cast("long").alias("rank"),
                F.round(score, 4).alias("score"))
    )


FUZZY_PROBE_LEN = 60   # chars of normalized text compared per pair
FUZZY_MAX_DIST = 20    # edit-distance match threshold


@query(
    "fuzzy_blocking_pairs",
    section="2.N-dedup",
    doc="Blocked FUZZY record linkage (the Fellegi-Sunter blocking+compare "
    "shape; complements sorted-neighborhood's Jaccard with EDIT DISTANCE "
    "verification): candidate pairs share a blocking key (lang + first "
    f"two normalized words), then the first {FUZZY_PROBE_LEN} chars are "
    f"compared with levenshtein and pairs at distance <= {FUZZY_MAX_DIST} "
    "are linked. Blocking is the scale story: the equi-join on the "
    "blocking key prunes the quadratic comparison space to within-block "
    "pairs — never an all-pairs product; levenshtein runs JVM-side in "
    "whole-stage codegen.",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, lang,
                   substr(lower(trim(text)), 1, {FUZZY_PROBE_LEN}) AS probe,
                   array_to_string(
                       string_split_regex(lower(trim(text)), '\\s+')[1:2],
                       ' ') AS blk
            FROM documents
        )
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.lang,
               CAST(levenshtein(a.probe, c.probe) AS BIGINT) AS edit_dist
        FROM b a JOIN b c
          ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
        WHERE levenshtein(a.probe, c.probe) <= {FUZZY_MAX_DIST}
    """,
)
def fuzzy_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.col("text")))
    ws = F.split(norm, r"\s+")
    b = docs.select(
        "doc_id",
        "lang",
        F.substring(norm, 1, FUZZY_PROBE_LEN).alias("probe"),
        F.concat_ws(" ", F.slice(ws, 1, 2)).alias("blk"),
    )
    a = b.select(
        F.col("doc_id").alias("doc_a"), "lang", "blk",
        F.col("probe").alias("probe_a"),
    )
    c = b.select(
        F.col("doc_id").alias("doc_b"), "lang", "blk",
        F.col("probe").alias("probe_b"),
    )
    return (
        a.join(c, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_dist", F.levenshtein("probe_a", "probe_b").cast("long"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("doc_a", "doc_b", "lang", "edit_dist")
    )


@query(
    "phrase_search_postings",
    section="2.N-retrieval",
    doc="Positional-index phrase search (the inverted-index operator BM25's "
    "bag-of-words scoring cannot express): tokens explode WITH POSITIONS, "
    "adjacent-position self-joins materialize every trigram instance, the "
    "corpus-wide top trigram (deterministic count-then-phrase tiebreak) is "
    "selected as the probe phrase, and its postings list — per-document "
    "occurrence count and first position — is emitted. The instance build "
    "is one explode + two co-partitioned (doc_id, pos) joins; the argmax "
    "is a TakeOrdered over the trigram counts; the postings pass is a "
    "broadcast semi-join. The standard positional-postings topology at "
    "any corpus size.",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w,
                   UNNEST(range(1, len(string_split_regex(lower(trim(text)), '\\s+')) + 1)) AS p
            FROM documents
        ),
        inst AS (
            SELECT a.doc_id, a.p AS pos,
                   a.w || ' ' || b.w || ' ' || c.w AS phrase
            FROM toks a
            JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
            JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
        ),
        top1 AS (
            SELECT phrase FROM inst
            GROUP BY phrase
            ORDER BY COUNT(*) DESC, phrase ASC
            LIMIT 1
        )
        SELECT i.doc_id, i.phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MIN(i.pos) AS BIGINT) AS first_pos
        FROM inst i JOIN top1 ON top1.phrase = i.phrase
        GROUP BY i.doc_id, i.phrase
    """,
)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "p0", "w"
        ),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    a = toks.select("doc_id", F.col("p").alias("pos"), F.col("w").alias("w1"))
    b = toks.select("doc_id", (F.col("p") - 1).alias("pos"), F.col("w").alias("w2"))
    c = toks.select("doc_id", (F.col("p") - 2).alias("pos"), F.col("w").alias("w3"))
    # instance frame feeds both the argmax and the postings; corpus-sized
    # (one row per trigram position) → lazy DISK_ONLY persist
    inst = persist_shared_corpus_frame(
        a.join(b, ["doc_id", "pos"]).join(c, ["doc_id", "pos"])
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", "w1", "w2", "w3").alias("phrase"),
        )
    )
    top1 = (
        inst.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("phrase"))
        .limit(1)
        .select("phrase")
    )
    return (
        inst.join(F.broadcast(top1), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .select("doc_id", "phrase", "n_occurrences", "first_pos")
    )


RRF_C = 60        # the canonical reciprocal-rank-fusion constant (Cormack 2009)
RRF_POOL = 20     # per-ranker candidate pool depth
RRF_EMIT = 5      # fused results emitted per query
RRF_STRIDE = 50   # doc_id % RRF_STRIDE = 0 -> query set (matches similarity.py)


@query(
    "hybrid_rrf_fusion",
    section="2.N-retrieval",
    doc="HYBRID retrieval by reciprocal-rank fusion (Cormack et al. 2009 — "
    "the default fusion in every lexical+dense search stack): a LEXICAL "
    "ranking (word-set Jaccard between the query document and candidates) "
    f"and a DENSE ranking (embedding cosine, doc_id = vec_id) each keep "
    f"their top {RRF_POOL}; the pools are full-outer merged and scored "
    f"rrf = sum 1/({RRF_C}+rank), top {RRF_EMIT} per query emitted with "
    "both source ranks (0 = absent from that pool). Both rankers are "
    "bounded per-query top-k plans over one corpus scan each (token "
    "equi-join / broadcast-query cosine); the fusion joins two "
    "(queries x pool)-sized frames — trivially broadcastable at any "
    "corpus size. rrf is a sum of two exact reciprocals — no float "
    "accumulation beyond one rounded add.",
    oracle=f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, word FROM (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS word
                FROM documents)
        ),
        sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM tok GROUP BY doc_id),
        qt AS (SELECT doc_id AS query_id, word FROM tok
               WHERE doc_id % {RRF_STRIDE} = 0),
        ix AS (
            SELECT qt.query_id, tok.doc_id AS item_id,
                   CAST(COUNT(*) AS BIGINT) AS inter
            FROM qt JOIN tok ON tok.word = qt.word
                            AND tok.doc_id <> qt.query_id
            GROUP BY 1, 2
        ),
        lex AS (
            SELECT query_id, item_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY inter / CAST(sq.n + sc.n - inter AS DOUBLE)
                                    DESC, item_id) AS rank_lex
            FROM ix
            JOIN sz sq ON sq.doc_id = ix.query_id
            JOIN sz sc ON sc.doc_id = ix.item_id
        ),
        qv AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id % {RRF_STRIDE} = 0),
        dense_scored AS (
            SELECT q.query_id, c.vec_id AS item_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(q.embedding)),
                       i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(c.embedding[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(q.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(c.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
                       AS cos
            FROM qv q JOIN embeddings c ON c.vec_id <> q.query_id
        ),
        dense AS (
            SELECT query_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, item_id) AS rank_dense
            FROM dense_scored
        ),
        fused AS (
            SELECT COALESCE(l.query_id, d.query_id) AS query_id,
                   COALESCE(l.item_id, d.item_id) AS item_id,
                   COALESCE(l.rank_lex, 0) AS rank_lex,
                   COALESCE(d.rank_dense, 0) AS rank_dense,
                   COALESCE(CAST(1 AS DOUBLE) / ({RRF_C} + l.rank_lex), 0)
                       + COALESCE(CAST(1 AS DOUBLE) / ({RRF_C} + d.rank_dense), 0)
                       AS rrf
            FROM (SELECT * FROM lex WHERE rank_lex <= {RRF_POOL}) l
            FULL OUTER JOIN (SELECT * FROM dense
                             WHERE rank_dense <= {RRF_POOL}) d
              ON d.query_id = l.query_id AND d.item_id = l.item_id
        )
        SELECT query_id, item_id,
               CAST(rank_lex AS BIGINT) AS rank_lex,
               CAST(rank_dense AS BIGINT) AS rank_dense,
               ROUND(rrf, 6) AS rrf
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rrf DESC, item_id) AS fr
              FROM fused)
        WHERE fr <= {RRF_EMIT}
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from pulsar_3_2_codedump_spark.functions.similarity import dot, l2_norm

    docs = fanout(load(spark, sf_dir, "documents"))
    # r16 restructure (OPTIMIZATION_r16.md: 3.30 s vs 7.46 s at sf0.1): the
    # word-SET of a document is a per-document property, so compute it
    # per row with array_distinct instead of a global (doc_id, word)
    # DISTINCT — the distinct Exchange disappears outright, and the
    # vocabulary size becomes a per-row size() instead of a groupBy
    # (two fewer shuffles; identical sets, identical Jaccard). The
    # fanout exchange still feeds every consumer via ReuseExchange.
    wsets = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")).alias("wset"),
    )
    tok = wsets.select("doc_id", F.explode("wset").alias("word"))
    qt = wsets.filter(F.col("doc_id") % RRF_STRIDE == 0).select(
        F.col("doc_id").alias("query_id"), F.explode("wset").alias("qword")
    )
    ix = (
        F.broadcast(qt)
        .join(
            tok,
            (F.col("qword") == F.col("word"))
            & (F.col("doc_id") != F.col("query_id")),
        )
        .groupBy("query_id", F.col("doc_id").alias("item_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sq = wsets.filter(F.col("doc_id") % RRF_STRIDE == 0).select(
        F.col("doc_id").alias("query_id"), F.size("wset").alias("nq")
    )
    sc = wsets.select(F.col("doc_id").alias("item_id"), F.size("wset").alias("nc"))
    jacc = F.col("inter") / (F.col("nq") + F.col("nc") - F.col("inter")).cast(
        "double"
    )
    wl = W.partitionBy("query_id").orderBy(jacc.desc(), F.asc("item_id"))
    lex = (
        ix.join(F.broadcast(sq), "query_id")
        .join(F.broadcast(sc), "item_id")
        .withColumn("rank_lex", F.row_number().over(wl))
        .filter(F.col("rank_lex") <= RRF_POOL)
        .select("query_id", "item_id", "rank_lex")
    )
    emb = load(spark, sf_dir, "embeddings")
    # norms precomputed per side (r16, same IEEE expression — see
    # similarity.cosine_topk): one fold per pair instead of three
    qv = emb.filter(F.col("vec_id") % RRF_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    cv = fanout(emb).select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    wd = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("item_id"))
    dense = (
        F.broadcast(qv)
        .join(cv, F.col("item_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("rank_dense", F.row_number().over(wd))
        .filter(F.col("rank_dense") <= RRF_POOL)
        .select("query_id", "item_id", "rank_dense")
    )
    fused = (
        lex.withColumnsRenamed({"query_id": "lq", "item_id": "li"})
        .join(
            dense,
            (F.col("lq") == F.col("query_id")) & (F.col("li") == F.col("item_id")),
            "full_outer",
        )
        .select(
            F.coalesce("lq", "query_id").alias("query_id"),
            F.coalesce("li", "item_id").alias("item_id"),
            F.coalesce("rank_lex", F.lit(0)).alias("rank_lex"),
            F.coalesce("rank_dense", F.lit(0)).alias("rank_dense"),
            (
                F.coalesce(1.0 / (RRF_C + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_C + F.col("rank_dense")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("item_id"))
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .filter(F.col("fr") <= RRF_EMIT)
        .select(
            "query_id", "item_id",
            F.col("rank_lex").cast("long").alias("rank_lex"),
            F.col("rank_dense").cast("long").alias("rank_dense"),
            F.round("rrf", 6).alias("rrf"),
        )
    )


# --------------------------------------------------------------------------
# MMR re-rank over the cosine top-k harness
# --------------------------------------------------------------------------
MMR_POOL = 15     # candidate pool depth re-ranked per query
MMR_K = 4         # results emitted per query (greedy steps)
MMR_LAM = 0.7     # relevance weight; (1 - MMR_LAM) weighs redundancy


def _d_cos(a: str, b: str) -> str:
    """DuckDB cosine between two list columns, mirroring similarity.cosine's
    fold order exactly (left-fold sum, then divide by the norm product)."""
    dot = (
        f"list_aggregate(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )
    norm = lambda x: (  # noqa: E731
        f"sqrt(list_aggregate(list_transform({x},"
        f" v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))"
    )
    return f"{dot} / ({norm(a)} * {norm(b)})"


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as DuckDB CTEs (same pattern as the
    greedy_coverage_selection oracle: one CTE pair per greedy step)."""
    om = repr(1 - MMR_LAM)  # bit-identical to Spark's F.lit(1 - MMR_LAM)
    score = f"({MMR_LAM} * r.rel - {om} * p.pen)"
    parts = [
        f"""
        WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   WHERE vec_id % 50 = 0),
        rels AS (
            SELECT q.query_id, c.vec_id AS cand_id, c.embedding,
                   {_d_cos('q.embedding', 'c.embedding')} AS rel
            FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
        pool AS (SELECT query_id, cand_id, embedding, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, cand_id) AS rn
            FROM rels) WHERE rn <= {MMR_POOL}),
        sims AS (
            SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
                   {_d_cos('a.embedding', 'b.embedding')} AS sim
            FROM pool a JOIN pool b
              ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
        s1 AS (SELECT query_id, cand_id, rel AS score FROM (
            SELECT query_id, cand_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, cand_id) AS rn
            FROM pool) WHERE rn = 1),
        sel1 AS (SELECT query_id, cand_id FROM s1)"""
    ]
    for t in range(2, MMR_K + 1):
        parts.append(f""",
        p{t} AS (
            SELECT s.query_id, s.ca AS cand_id, MAX(s.sim) AS pen
            FROM sims s JOIN sel{t-1} x
              ON x.query_id = s.query_id AND x.cand_id = s.cb
            WHERE NOT EXISTS (SELECT 1 FROM sel{t-1} y
                              WHERE y.query_id = s.query_id
                                AND y.cand_id = s.ca)
            GROUP BY s.query_id, s.ca),
        s{t} AS (SELECT query_id, cand_id, score FROM (
            SELECT p.query_id, p.cand_id, {score} AS score,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY {score} DESC, p.cand_id) AS rn
            FROM p{t} p JOIN pool r
              ON r.query_id = p.query_id AND r.cand_id = p.cand_id)
            WHERE rn = 1),
        sel{t} AS (SELECT query_id, cand_id FROM sel{t-1}
                   UNION ALL SELECT query_id, cand_id FROM s{t})""")
    emits = "\n        UNION ALL ".join(
        f"SELECT query_id, CAST({t} AS BIGINT) AS step, cand_id AS neighbor_id,"
        f" ROUND(score, 4) AS mmr_score FROM s{t}"
        for t in range(1, MMR_K + 1)
    )
    parts.append(f"\n        {emits}")
    return "".join(parts)


@query(
    "mmr_rerank",
    section="2.N-sim",
    doc="Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein '98, the "
    f"standard diversity re-ranker in retrieval pipelines): the top-"
    f"{MMR_POOL} cosine pool per query is greedily re-ranked {MMR_K} steps, "
    f"each picking argmax {MMR_LAM}*rel(d) - {1 - MMR_LAM:.1f}*max_sim(d, "
    "selected) with cand_id-asc tiebreak. All arithmetic is IEEE-identical "
    "across engines (same fold order for dot/norm, same literal parse, "
    "same op order for the score), so even this iterative optimizer has a "
    "full hash oracle — the greedy_coverage_selection discipline applied "
    "to vectors. Scale shape: the pool is a BOUNDED top-k from the "
    "existing ANN harness (broadcast-queries measurement form; LSH/IVF/PQ "
    f"bucketed variants are the serving path), so MMR adds O(pool² x K) "
    "per query regardless of corpus size; each step is one anti-join + "
    "one bounded max-agg + one per-query argmax window, lineage cut per "
    "step.",
    oracle=_mmr_oracle(),
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from pulsar_3_2_codedump_spark.functions.similarity import dot, l2_norm

    emb = load(spark, sf_dir, "embeddings")
    # per-side L2 norms once per row (r17): the pool scoring paid 3 array
    # folds per (query, cand) pair and the pool self-join 3 per candidate
    # pair; each candidate's norm is folded once here and RIDES THROUGH the
    # pool checkpoint into the pairwise pass — identical IEEE expression
    # dot/(norm_a*norm_b), same hash
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = fanout(emb).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    wp = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    pool = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("query_id"))
        .withColumn("rel", dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= MMR_POOL)
        .select("query_id", "cand_id", "rel", "c_emb", "c_norm")
        .localCheckpoint()  # |queries| x MMR_POOL bounded
    )
    a = pool.select(
        "query_id", F.col("cand_id").alias("ca"), F.col("c_emb").alias("ea"),
        F.col("c_norm").alias("na"),
    )
    b = pool.select(
        "query_id", F.col("cand_id").alias("cb"), F.col("c_emb").alias("eb"),
        F.col("c_norm").alias("nb"),
    )
    sims = (
        a.join(b, ["query_id"])
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "query_id", "ca", "cb",
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    sims = sims.localCheckpoint()
    cand = pool.select("query_id", "cand_id", "rel")
    best = (
        cand.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("query_id", "cand_id", F.col("rel").alias("score"))
        .localCheckpoint()
    )
    outs = [best.select("query_id", F.lit(1).alias("step"), "cand_id", "score")]
    selected = best.select("query_id", "cand_id")
    ws = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    for step in range(2, MMR_K + 1):
        remaining = cand.join(selected, ["query_id", "cand_id"], "left_anti")
        pen = (
            sims.join(
                selected.select("query_id", F.col("cand_id").alias("cb")),
                ["query_id", "cb"],
            )
            .groupBy("query_id", F.col("ca").alias("cand_id"))
            .agg(F.max("sim").alias("pen"))
        )
        pick = (
            remaining.join(pen, ["query_id", "cand_id"])
            .withColumn(
                "score",
                F.lit(MMR_LAM) * F.col("rel") - F.lit(1 - MMR_LAM) * F.col("pen"),
            )
            .withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("query_id", "cand_id", "score")
        )
        pick = pick.localCheckpoint()  # loop-carried
        outs.append(
            pick.select("query_id", F.lit(step).alias("step"), "cand_id", "score")
        )
        selected = selected.unionByName(pick.select("query_id", "cand_id"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "query_id",
        F.col("step").cast("long").alias("step"),
        F.col("cand_id").alias("neighbor_id"),
        F.round("score", 4).alias("mmr_score"),
    )
