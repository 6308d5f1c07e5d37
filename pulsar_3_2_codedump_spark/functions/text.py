"""Text analysis operators for training-data pipelines (SURVEY §2.N).

Beyond-reference, mandated by BASELINE.json's north star: language-ID
(stopword-marker heuristic), quality scoring (length/punctuation/stopword
ratios), token counting (whitespace regex), document fingerprinting (md5).

Scale posture: all pure `pyspark.sql.functions` column expressions — JVM-side,
whole-stage-codegen, no Python in the hot path; at 100 TB these run at scan
speed with column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.queries import query

# language marker stopwords (tiny deterministic n-gram heuristic)
MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "les", "et", "des", "une"],
    "de": ["der", "die", "und", "das", "ist"],
}
STOPWORDS = sorted({w for ws in MARKERS.values() for w in ws})


def words(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace tokenizer count (the BPE-ish regex variant is in tests)."""
    return F.size(words(text)).cast("long")


def marker_hits(text: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words(text), lambda w: F.array_contains(arr, w))).cast("long")


def doc_fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of lowercased trimmed text."""
    return F.md5(F.lower(F.trim(text)))


@query(
    "text_token_stats",
    section="2.N-text",
    doc="Token counting + length stats per source (whitespace tokenizer, pure codegen).",
    oracle=r"""
        SELECT source,
               COUNT(*)                                            AS n_docs,
               CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS total_tokens,
               ROUND(AVG(len(string_split_regex(lower(trim(text)), '\s+'))), 4) AS avg_tokens,
               MAX(n_chars)                                        AS max_chars
        FROM documents GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        F.round(F.avg(tc), 4).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_quality_score",
    section="2.N-text",
    doc="Quality scoring: char length, token count, stopword ratio, mean word length "
    "— the standard cheap pre-filters of an LLM data pipeline.",
    oracle=rf"""
        SELECT doc_id,
               LENGTH(text) AS n_chars_measured,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
               ROUND(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         w -> list_contains({STOPWORDS!r}, w)))
                     * 1.0 / len(string_split_regex(lower(trim(text)), '\s+')), 4)
                   AS stopword_ratio,
               ROUND(LENGTH(REPLACE(text, ' ', ''))
                     * 1.0 / len(string_split_regex(lower(trim(text)), '\s+')), 4)
                   AS mean_word_len
        FROM documents WHERE doc_id < 200
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tc = token_count(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        tc.alias("n_tokens"),
        F.round(marker_hits(F.col("text"), STOPWORDS) / tc, 4).alias("stopword_ratio"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / tc, 4).alias(
            "mean_word_len"
        ),
    )


@query(
    "language_id",
    section="2.N-text",
    doc="Language-ID heuristic: count marker-stopword hits per language, argmax with "
    "deterministic precedence en>es>fr>de, 'und' (undetermined) when all zero; "
    "agreement matrix vs the labeled lang column.",
    oracle=rf"""
        WITH scored AS (
            SELECT doc_id, lang,
              len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                  w -> list_contains({MARKERS["en"]!r}, w))) AS s_en,
              len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                  w -> list_contains({MARKERS["es"]!r}, w))) AS s_es,
              len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                  w -> list_contains({MARKERS["fr"]!r}, w))) AS s_fr,
              len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                  w -> list_contains({MARKERS["de"]!r}, w))) AS s_de
            FROM documents
        )
        SELECT lang,
               CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                    WHEN s_fr >= s_de THEN 'fr'
                    ELSE 'de' END AS predicted,
               COUNT(*) AS n
        FROM scored GROUP BY 1, 2
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    s = {k: marker_hits(F.col("text"), v) for k, v in MARKERS.items()}
    scored = docs.select(
        "lang", s["en"].alias("s_en"), s["es"].alias("s_es"), s["fr"].alias("s_fr"), s["de"].alias("s_de")
    )
    predicted = (
        F.when(F.greatest("s_en", "s_es", "s_fr", "s_de") == 0, "und")
        .when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_fr")) & (F.col("s_en") >= F.col("s_de")), "en")
        .when((F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") >= F.col("s_de")), "es")
        .when(F.col("s_fr") >= F.col("s_de"), "fr")
        .otherwise("de")
    )
    return (
        scored.withColumn("predicted", predicted)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "doc_fingerprints",
    section="2.N-text",
    doc="Document fingerprinting: md5 content hash + 32-bit short hash; per-source "
    "distinct-fingerprint counts prove collision-free hashing on the fixture.",
    oracle="""
        SELECT source,
               COUNT(DISTINCT md5(lower(trim(text))))  AS n_fingerprints,
               COUNT(*)                                AS n_docs
        FROM documents GROUP BY source
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct(doc_fingerprint(F.col("text"))).alias("n_fingerprints"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "bpe_regex_tokens",
    section="2.N-text",
    doc="BPE-ish regex tokenizer (GPT-2-style word/number/punct split) vs plain "
    "whitespace: per-source token counts under both tokenizers.",
    oracle=r"""
        SELECT source,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
               CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)                AS ws_tokens
        FROM documents GROUP BY source
    """,
)
def bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)).cast("long")
    return docs.groupBy("source").agg(
        F.sum(bpe).alias("bpe_tokens"),
        F.sum(token_count(F.col("text"))).alias("ws_tokens"),
    )


@query(
    "top_terms",
    section="2.N-text",
    doc="Corpus term frequency: top-20 tokens by document frequency (explode → "
    "two-level agg; at scale this is the classic map-side-combinable word count).",
    oracle=r"""
        SELECT term, n_docs, total_occurrences FROM (
            SELECT w AS term, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_occurrences
            FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                  FROM documents)
            GROUP BY w
        ) ORDER BY n_docs DESC, total_occurrences DESC, term LIMIT 20
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    return (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("n_docs"), F.count(F.lit(1)).alias("total_occurrences"))
        .orderBy(F.desc("n_docs"), F.desc("total_occurrences"), F.asc("term"))
        .limit(20)
    )


@query(
    "document_chunking",
    section="2.N-text",
    doc="Training-data chunking: split each document into fixed-size token "
    "windows (size 8, stride 6 → 2-token overlap), keeping the tail chunk. "
    "Pure array ops (sequence + slice), no Python.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents WHERE doc_id < 200
        )
        SELECT doc_id, CAST(s AS BIGINT) AS chunk_id,
               array_to_string(ws[(s * 6 + 1):(s * 6 + 8)], ' ') AS chunk,
               least(len(ws) - s * 6, 8) AS n_tokens
        FROM tok, UNNEST(generate_series(0, CAST(ceil(greatest(len(ws) - 8, 0) / 6.0) AS BIGINT))) AS t(s)
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 8, 6
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ws = words(F.col("text"))
    n_chunks_minus1 = F.ceil(F.greatest(F.size(ws) - size, F.lit(0)) / stride)
    chunk_ids = F.sequence(F.lit(0), n_chunks_minus1)
    tok = docs.select("doc_id", ws.alias("ws"), F.explode(chunk_ids).alias("chunk_id"))
    return tok.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice("ws", F.col("chunk_id") * stride + 1, size)).alias("chunk"),
        F.least(F.size("ws") - F.col("chunk_id") * stride, F.lit(size)).cast("long").alias(
            "n_tokens"
        ),
    )


@query(
    "sequence_packing",
    section="2.N-text",
    doc="Context-window packing: assign documents (in doc_id order per source) "
    "to training sequences of capacity 64 tokens — bin boundary whenever the "
    "running token total crosses a multiple of capacity (contiguous greedy "
    "packing, the standard streaming-friendly packer).",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, source,
                   len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
            FROM documents
        ),
        runs AS (
            SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum
            FROM tok
        )
        SELECT source, CAST((cum - n_tokens) // 64 AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM runs GROUP BY 1, 2
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    cap = 64
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    runs = tok.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        runs.withColumn("pack_id", F.floor((F.col("cum") - F.col("n_tokens")) / cap))
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "repetition_ratio",
    section="2.N-text",
    doc="Repetition-based quality signal (the standard degenerate-text filter "
    "in LLM data pipelines): per document, the duplicate-token ratio "
    "(1 - distinct/total) and the top-token frequency share. Pure JVM array "
    "ops — one scan, no explode shuffle for the distinct ratio; the top-token "
    "share uses aggregate() over the token array, still scan-local.",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
            FROM documents
        ),
        freq AS (
            SELECT doc_id, len(t) AS n_tokens,
                   len(list_distinct(t)) AS n_distinct,
                   (SELECT MAX(c) FROM (
                        SELECT COUNT(*) AS c FROM unnest(t) AS u(tok) GROUP BY tok
                    )) AS top_cnt
            FROM toks
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(1.0 - n_distinct * 1.0 / n_tokens, 4) AS rep_ratio,
               ROUND(top_cnt * 1.0 / n_tokens, 4) AS top_token_share
        FROM freq WHERE doc_id < 200
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = words(F.col("text"))
    # top-token count without a shuffle: max over (count of w in t) for the
    # DISTINCT tokens — aggregate(transform(...)) stays inside codegen
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda w: F.size(F.filter(t, lambda x: x == w)),
        )
    )
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct(t)) / F.size(t), 4).alias("rep_ratio"),
        F.round(top_cnt / F.size(t), 4).alias("top_token_share"),
    )


@query(
    "pii_scrub_stats",
    section="2.N-text",
    doc="PII scrubbing (standard LLM-corpus hygiene pass): detect email-like "
    "and URL-like spans with the same regexes in both engines, replace with "
    "sentinel tokens, report per-source hit counts and the scrubbed length "
    "delta. The corpus fixture is PII-free, so deterministic spans are "
    "injected (every 3rd doc gains an email, every 5th a URL) before the "
    "scrub — the regex+replace path is genuinely exercised. Pure JVM regexp "
    "codegen — scan-speed at 100 TB; the scrub is a projection, so it "
    "composes with any downstream dedup/quality op.",
    oracle=r"""
        WITH corpus AS (
            SELECT source,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact u' || doc_id || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' see https://ex.org/d/' || doc_id ELSE '' END AS text
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
               CAST(SUM(len(regexp_extract_all(text, 'https?://[^ ]+'))) AS BIGINT) AS n_urls,
               CAST(SUM(LENGTH(text) - LENGTH(
                   regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^ ]+', '<URL>', 'g')
               )) AS BIGINT) AS chars_removed
        FROM corpus GROUP BY source
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^ ]+"
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" see https://ex.org/d/"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), url, "<URL>"
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(email), F.lit(0)))).alias("n_emails"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(url), F.lit(0)))).alias("n_urls"),
        F.sum(F.length("text") - F.length(scrubbed)).alias("chars_removed"),
    )


@query(
    "gopher_quality_rules",
    section="2.N-text",
    doc="Gopher-style rule filters (Rae et al. 2021, the public quality-rule "
    "battery every LLM corpus pass runs): per source, how many documents pass "
    "each rule — word count in [30,80], mean word length in [3,10], >=80% of "
    "words contain an alphabetic char, >=2 stopword hits — and how many pass "
    "ALL of them. Pure column predicates: at 100 TB this is a single scan "
    "with map-side partial aggregation, zero extra shuffles beyond the "
    "#sources-sized final agg.",
    oracle=rf"""
        WITH scored AS (
            SELECT source,
                   len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
                   LENGTH(REPLACE(text, ' ', ''))
                       * 1.0 / len(string_split_regex(lower(trim(text)), '\s+')) AS mwl,
                   len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> regexp_matches(w, '[A-Za-z]')))
                       * 1.0 / len(string_split_regex(lower(trim(text)), '\s+')) AS alpha_frac,
                   len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> list_contains({STOPWORDS!r}, w))) AS stop_hits
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_tok BETWEEN 30 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordcount,
               CAST(SUM(CASE WHEN mwl BETWEEN 3 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanlen,
               CAST(SUM(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
               CAST(SUM(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
               CAST(SUM(CASE WHEN n_tok BETWEEN 30 AND 80 AND mwl BETWEEN 3 AND 10
                              AND alpha_frac >= 0.8 AND stop_hits >= 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        FROM scored GROUP BY source
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    n_tok = F.size(ws)
    mwl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tok
    alpha_frac = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / n_tok
    stop_hits = marker_hits(F.col("text"), STOPWORDS)
    r_wc = n_tok.between(30, 80)
    r_mwl = mwl.between(3, 10)
    r_alpha = alpha_frac >= 0.8
    r_stop = stop_hits >= 2
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    scored = docs.select(
        "source",
        as_int(r_wc).alias("p_wc"),
        as_int(r_mwl).alias("p_mwl"),
        as_int(r_alpha).alias("p_alpha"),
        as_int(r_stop).alias("p_stop"),
        as_int(r_wc & r_mwl & r_alpha & r_stop).alias("p_all"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p_wc").alias("pass_wordcount"),
        F.sum("p_mwl").alias("pass_meanlen"),
        F.sum("p_alpha").alias("pass_alpha"),
        F.sum("p_stop").alias("pass_stopword"),
        F.sum("p_all").alias("pass_all"),
    )


@query(
    "char_entropy",
    section="2.N-text",
    doc="Character-entropy quality signal (the cheap perplexity stand-in for "
    "degenerate/boilerplate text): per document, Shannon entropy of the "
    "character unigram distribution. Computed scan-local with higher-order "
    "array functions (distinct chars x count-in-array) — no explode shuffle, "
    "no Python; at 100 TB this runs at scan speed inside codegen.",
    oracle="""
        WITH cs AS (
            SELECT doc_id, string_split(lower(text), '') AS cs
            FROM documents WHERE doc_id < 200
        )
        SELECT doc_id,
               CAST(len(cs) AS BIGINT) AS n_chars_tok,
               CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct_chars,
               ROUND(-list_aggregate(list_transform(list_distinct(cs),
                    c -> (len(list_filter(cs, x -> x = c)) * 1.0 / len(cs))
                         * log2(len(list_filter(cs, x -> x = c)) * 1.0 / len(cs))),
                    'sum'), 4) AS char_entropy
        FROM cs
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    cs = F.split(F.lower(F.col("text")), "")
    n = F.size(cs)
    dc = F.array_distinct(cs)
    cnts = F.transform(dc, lambda ch: F.size(F.filter(cs, lambda x: x == ch)))
    ent = -F.aggregate(
        cnts, F.lit(0.0), lambda acc, c: acc + (c / n) * F.log2(c / n)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars_tok"),
        F.size(dc).cast("long").alias("n_distinct_chars"),
        F.round(ent, 4).alias("char_entropy"),
    )


@query(
    "perplexity_proxy",
    section="2.N-text",
    doc="Bigram-LM perplexity proxy (the KenLM-style quality score of public "
    "LLM pipelines, e.g. CCNet): train a bigram model on the WHOLE corpus "
    "(two map-side-combinable count aggs), then score each document by its "
    "mean negative log2 conditional probability. Spark-first shape: bigrams "
    "come from zip_with over the token array (no posexplode+window); the "
    "context totals derive from the already-aggregated bigram table "
    "(vocab²-bounded), so the corpus is scanned twice total — once to "
    "count, once to score — and the score join is a single broadcast of "
    "the model. With an unbounded vocab (no BPE cap) drop the explicit "
    "broadcast and let AQE choose the join side.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
        ),
        bg AS (
            SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
            FROM tok, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        ),
        cnt2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        cnt1 AS (SELECT prev, COUNT(*) AS c1 FROM bg GROUP BY 1)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(-log2(c2 * 1.0 / c1)), 4) AS avg_neg_log2p
        FROM bg JOIN cnt2 USING (prev, cur) JOIN cnt1 USING (prev)
        WHERE doc_id < 200
        GROUP BY doc_id
    """,
)
def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    # bigram identity as ONE space-joined string: tokens are whitespace-split
    # so the mapping is injective, and a string-valued explode runs ~4x
    # faster than a struct-valued one (measured 1M docs: 2.8s vs 11s)
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = docs.select("doc_id", F.explode(pairs).alias("bgm"))
    # model = one map-side-combinable count agg over the corpus; the context
    # totals c1 derive from the ALREADY-AGGREGATED bigram table (vocab²-
    # bounded), not from a second full pass over the corpus
    cnt2 = bg.groupBy("bgm").agg(F.count(F.lit(1)).alias("c2"))
    prev = F.substring_index(F.col("bgm"), " ", 1)
    cnt1 = cnt2.groupBy(prev.alias("prev")).agg(F.sum("c2").alias("c1"))
    model = (
        cnt2.withColumn("prev", prev)
        .join(cnt1, ["prev"])
        .select("bgm", (-F.log2(F.col("c2") / F.col("c1"))).alias("neg_log2p"))
    )
    # scoring: the LM ships to every task as ONE broadcast map row (the
    # CCNet posture — a pruned LM rides along with the scan) and each doc is
    # scored scan-locally with a fold over its own bigram array. No
    # corpus-sized join, no per-doc shuffle at all: measured 0.5s per 1M
    # docs vs 21s for the 38M-row join form (tools/scale_smoke.py).
    mrow = model.agg(
        F.map_from_entries(F.collect_list(F.struct("bgm", "neg_log2p"))).alias("lm")
    )
    n_bg = F.size(pairs)
    fold = F.aggregate(
        F.transform(pairs, lambda b: F.element_at(F.col("lm"), b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        docs.filter((F.col("doc_id") < 200) & (n_bg > 0))
        .crossJoin(F.broadcast(mrow))
        .select(
            "doc_id",
            n_bg.cast("long").alias("n_bigrams"),
            F.round(fold / n_bg, 4).alias("avg_neg_log2p"),
        )
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "winsorized_stats",
    section="2.N-text",
    doc="Per-language winsorized length statistics (outlier-robust corpus "
    f"profiling): exact interpolated p{int(WINSOR_LO*100):02d}/p{int(WINSOR_HI*100)} "
    "bounds of n_chars per language, clamp every document's length into "
    "[lo, hi], report raw vs winsorized means. The bounds frame is #langs "
    "rows — a broadcast dim — so the plan is two scans + one tiny broadcast "
    "join; at 100 TB swap the exact percentile for approx_percentile (a "
    "mergeable KLL-style sketch) with the identical clamp/agg downstream.",
    oracle=f"""
        WITH b AS (
            SELECT lang,
                   quantile_cont(n_chars, {WINSOR_LO}) AS lo,
                   quantile_cont(n_chars, {WINSOR_HI}) AS hi
            FROM documents GROUP BY lang
        )
        SELECT d.lang,
               COUNT(*) AS n_docs,
               ROUND(b.lo, 4) AS p05_chars,
               ROUND(b.hi, 4) AS p95_chars,
               ROUND(AVG(d.n_chars), 4) AS mean_chars,
               ROUND(AVG(least(greatest(d.n_chars, b.lo), b.hi)), 4)
                   AS winsorized_mean_chars,
               CAST(SUM(CASE WHEN d.n_chars < b.lo OR d.n_chars > b.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        FROM documents d JOIN b ON d.lang = b.lang
        GROUP BY d.lang, b.lo, b.hi
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("n_chars", F.lit(WINSOR_HI)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi"))
    return (
        docs.join(F.broadcast(bounds), "lang")
        .groupBy("lang", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("mean_chars"),
            F.round(F.avg(clamped), 4).alias("winsorized_mean_chars"),
            F.sum(
                ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi"))).cast("long")
            ).alias("n_clamped"),
        )
        .select(
            "lang",
            "n_docs",
            F.round("lo", 4).alias("p05_chars"),
            F.round("hi", 4).alias("p95_chars"),
            "mean_chars",
            "winsorized_mean_chars",
            "n_clamped",
        )
    )


@query(
    "zipf_slope",
    section="2.N-text",
    doc="Zipf's-law fit per language (corpus-health diagnostic: natural text "
    "has log-log term-frequency slope near -1; generated/boilerplate corpora "
    "drift): least-squares slope of ln(freq) vs ln(rank) over the term "
    "frequency table. The term table is one explode + hash-agg (vocab-"
    "bounded), the rank a per-language window, the fit four map-side-"
    "combinable sums — written out explicitly (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) "
    "so both engines run the identical formula rather than their own "
    "regr_slope kernels.",
    oracle=r"""
        WITH tok AS (
            SELECT lang, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (SELECT lang, term, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
        ranked AS (
            SELECT lang, ln(ROW_NUMBER() OVER (PARTITION BY lang
                                               ORDER BY freq DESC, term)) AS x,
                   ln(freq) AS y
            FROM tf
        ),
        s AS (
            SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM ranked GROUP BY lang
        )
        SELECT lang, CAST(n AS BIGINT) AS n_terms,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
        FROM s
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(words(F.col("text"))).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("freq"))
    w = W.partitionBy("lang").orderBy(F.desc("freq"), F.asc("term"))
    ranked = tf.select(
        "lang",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
    )


CHI2_MIN_TF = 20  # ignore terms rarer than this corpus-wide
CHI2_TOPK = 3


@query(
    "chi2_terms",
    section="2.N-text",
    doc=f"Per-language distinctive vocabulary: top-{CHI2_TOPK} terms by "
    "chi-square association between term occurrences and language over the "
    "token 2×2 contingency (a = term-in-lang, row/col margins from two "
    "map-side-combinable aggs). The feature-selection primitive behind "
    "classifier-based corpus filters. Counts stay integers through the "
    "numerator; the denominator multiplies its four factors as DOUBLEs in "
    "the same order on both engines (the exact product overflows int64 at "
    f"corpus scale). Terms with corpus tf < {CHI2_MIN_TF} are dropped.",
    oracle=rf"""
        WITH tok AS (
            SELECT lang, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents
        ),
        a AS (SELECT lang, term, COUNT(*) AS a FROM tok GROUP BY 1, 2),
        lt AS (SELECT lang, COUNT(*) AS l FROM tok GROUP BY 1),
        tt AS (SELECT term, COUNT(*) AS t FROM tok GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM tok),
        x AS (
            -- denominator factors multiplied as DOUBLEs in a fixed order on
            -- BOTH engines: the exact integer product overflows int64 at
            -- corpus scale (and DuckDB's hugeint would round differently)
            SELECT a.lang, a.term,
                   n.n * POWER(a.a * (n.n - tt.t - lt.l + a.a)
                               - (tt.t - a.a) * (lt.l - a.a), 2) * 1.0
                   / (CAST(tt.t AS DOUBLE) * CAST(n.n - tt.t AS DOUBLE)
                      * CAST(lt.l AS DOUBLE) * CAST(n.n - lt.l AS DOUBLE)) AS chi2
            FROM a JOIN lt USING (lang) JOIN tt USING (term), n
            WHERE tt.t >= {CHI2_MIN_TF}
        )
        SELECT lang, term, CAST(rank AS BIGINT) AS rank, ROUND(chi2, 4) AS chi2
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY ROUND(chi2, 6) DESC, term) AS rank
              FROM x)
        WHERE rank <= {CHI2_TOPK}
    """,
)
def chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    docs = load(spark, sf_dir, "documents")
    # the token stream feeds FOUR aggregates (cell, both margins, total) —
    # persist once (corpus-sized → DISK_ONLY; r13 scan audit: 4 -> 1)
    tok = persist_shared_corpus_frame(
        docs.select("lang", F.explode(words(F.col("text"))).alias("term"))
    )
    a = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("a"))
    lt = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("l"))
    tt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("t"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    j = (
        a.join(F.broadcast(lt), "lang")
        .join(tt, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("t") >= CHI2_MIN_TF)
    )
    num = F.col("n") * F.pow(
        F.col("a") * (F.col("n") - F.col("t") - F.col("l") + F.col("a"))
        - (F.col("t") - F.col("a")) * (F.col("l") - F.col("a")),
        F.lit(2),
    )
    # cast factors BEFORE multiplying: the integer product overflows int64 at
    # corpus scale; same left-to-right double multiply as the oracle
    den = (
        F.col("t").cast("double")
        * (F.col("n") - F.col("t")).cast("double")
        * F.col("l").cast("double")
        * (F.col("n") - F.col("l")).cast("double")
    )
    chi2 = num / den
    w = W.partitionBy("lang").orderBy(F.desc(F.round(chi2, 6)), F.asc("term"))
    return (
        j.withColumn("chi2r", chi2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CHI2_TOPK)
        .select("lang", "term", F.col("rank").cast("long").alias("rank"),
                F.round("chi2r", 4).alias("chi2"))
    )


VOCAB_SIZE = 500


@query(
    "vocab_oov_rate",
    section="2.N-text",
    doc=f"Tokenizer vocabulary coverage: build the top-{VOCAB_SIZE} term "
    "vocabulary by corpus frequency (deterministic freq-desc/term-asc "
    "order), then measure per-language out-of-vocabulary token rate — the "
    "go/no-go health metric before committing a tokenizer to a corpus. "
    "Plan: one explode + two hash-aggs for the vocab (vocab-bounded "
    "broadcast), then a broadcast left-anti-style flag join on the token "
    "stream — no shuffle of the corpus itself beyond the tf agg.",
    oracle=rf"""
        WITH tok AS (
            SELECT lang, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY 1),
        vocab AS (
            SELECT term FROM (
                SELECT term, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS r
                FROM tf) WHERE r <= {VOCAB_SIZE}
        )
        SELECT lang,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 4) AS oov_rate
        FROM tok LEFT JOIN vocab v USING (term)
        GROUP BY lang
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(words(F.col("text"))).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    # TakeOrdered (distributed top-V), not a global row_number window — a
    # single-partition sort of the tf table would bottleneck at real vocab
    vocab = (
        tf.orderBy(F.desc("freq"), F.asc("term"))
        .limit(VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.cast("long").alias("n_oov"),
            F.round(oov / F.count(F.lit(1)), 4).alias("oov_rate"),
        )
    )


PMI_MIN_COUNT = 5   # bigram support floor (rare pairs have unstable lift)
PMI_TOPK = 25       # collocations emitted


@query(
    "pmi_collocations",
    section="2.N-text",
    doc="Collocation mining by pointwise-mutual-information LIFT (Church & "
    "Hanks association ratio, the log dropped so the statistic stays an "
    "exact single-division rational): lift(w1,w2) = c(w1,w2) * N / "
    "(c(w1,.) * c(.,w2)) over adjacent-word bigrams, support floor "
    f"{PMI_MIN_COUNT}, top {PMI_TOPK} by lift. One explode + one "
    "(w1,w2) hash-agg shuffle; both positional marginals are vocabulary-"
    "sized frames broadcast back onto the bigram counts; the top-k is a "
    "TakeOrdered, never a global window. All counts BIGINT, one double "
    "division at emission — no float accumulation.",
    oracle=f"""
        WITH t AS (
            SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents
        ),
        big AS (
            SELECT w[i] AS w1, w[i + 1] AS w2
            FROM t, UNNEST(range(1, len(w))) AS r(i)
        ),
        xy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt_xy
               FROM big GROUP BY 1, 2),
        m1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
        m2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM big)
        SELECT w1, w2, cnt_xy, c1, c2,
               ROUND((cnt_xy * nb) / CAST(c1 * c2 AS DOUBLE), 6) AS lift
        FROM xy JOIN m1 USING (w1) JOIN m2 USING (w2), n
        WHERE cnt_xy >= {PMI_MIN_COUNT}
        ORDER BY (cnt_xy * nb) / CAST(c1 * c2 AS DOUBLE) DESC, w1, w2
        LIMIT {PMI_TOPK}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("w")).filter(
        F.size("w") >= 2  # sequence(1, 0) would DESCEND in Spark; DuckDB's
    )  # range(1, 1) is empty — make both sides skip one-word docs explicitly
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    # the bigram stream feeds FOUR aggregates (pair counts, both margins,
    # the total) — persist once (corpus-sized → DISK_ONLY, lineage kept;
    # r13 scan audit: 4 documents scans -> 1)
    big = persist_shared_corpus_frame(
        w.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS w1,"
                    "             element_at(w, i + 1) AS w2))"
                )
            ).alias("b")
        ).select("b.w1", "b.w2")
    )
    xy = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt_xy"))
    m1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    m2 = big.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n = big.agg(F.count(F.lit(1)).alias("nb"))
    lift = (F.col("cnt_xy") * F.col("nb")) / (F.col("c1") * F.col("c2")).cast(
        "double"
    )
    return (
        xy.filter(F.col("cnt_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(n))
        .orderBy(lift.desc(), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOPK)
        .select(
            "w1", "w2",
            F.col("cnt_xy").cast("long").alias("cnt_xy"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.round(lift, 6).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Trigram stupid-backoff perplexity (held-out scoring)
# --------------------------------------------------------------------------
SB_ALPHA = 0.4        # the stupid-backoff discount (Brants et al. 2007)
SB_SCORE_DOCS = 400   # held-out docs reported (doc_id bound, output size)


@query(
    "trigram_backoff_perplexity",
    section="2.N-text",
    doc="Trigram stupid-backoff LM scoring (Brants et al., 'Large Language "
    "Models in Machine Translation' — the web-scale backoff that skips "
    "normalization): the model trains on the EVEN doc_ids and scores the "
    "HELD-OUT odd doc_ids, so unseen trigrams actually exercise the "
    f"backoff chain: S(w3|w1w2) = c3/ctx2, else {SB_ALPHA}*c2(w2w3)/"
    f"ctx1(w2), else {SB_ALPHA}^2*c1(w3)/N, else {SB_ALPHA}^2/N (OOV "
    "floor). Upgrade of perplexity_proxy's bigram form (VERDICT r10 item "
    "5b); per-tier hit counts are exact integers so the backoff routing "
    "itself is hash-audited, not just the final score. Scale shape: all "
    "three count models are map-side-combinable aggs; context totals "
    "derive from the already-aggregated n-gram tables (vocab-bounded), "
    "never a second corpus pass; scoring is three shuffle joins on n-gram "
    "string keys — estimate-driven strategies, no explicit broadcasts of "
    "the vocab-scale models (flip-audit clean by construction); N ships "
    "as a one-row scalar broadcast.",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
        ),
        tg AS (
            SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS tgm
            FROM tok, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        ),
        bg AS (
            SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bgm
            FROM tok, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        ),
        ug AS (
            SELECT doc_id, ws[i] AS w
            FROM tok, UNNEST(generate_series(1, len(ws))) AS t(i)
        ),
        cnt3 AS (SELECT tgm, COUNT(*) AS c3 FROM tg WHERE doc_id % 2 = 0 GROUP BY tgm),
        ctx2 AS (SELECT array_to_string(string_split(tgm, ' ')[1:2], ' ') AS ctx,
                        SUM(c3) AS cctx2
                 FROM cnt3 GROUP BY 1),
        tri AS (SELECT tgm, c3, cctx2 FROM cnt3
                JOIN ctx2 ON array_to_string(string_split(tgm, ' ')[1:2], ' ') = ctx),
        cnt2 AS (SELECT bgm, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY bgm),
        ctx1 AS (SELECT string_split(bgm, ' ')[1] AS ctx, SUM(c2) AS cctx1
                 FROM cnt2 GROUP BY 1),
        bi AS (SELECT bgm, c2, cctx1 FROM cnt2
               JOIN ctx1 ON string_split(bgm, ' ')[1] = ctx),
        uni AS (SELECT w, COUNT(*) AS c1 FROM ug WHERE doc_id % 2 = 0 GROUP BY w),
        tot AS (SELECT SUM(c1) AS n FROM uni),
        held AS (
            SELECT doc_id, tgm,
                   array_to_string(string_split(tgm, ' ')[2:3], ' ') AS bg23,
                   string_split(tgm, ' ')[3] AS w3
            FROM tg WHERE doc_id % 2 = 1 AND doc_id < {SB_SCORE_DOCS}
        ),
        scored AS (
            SELECT h.doc_id,
                   CASE WHEN t.c3 IS NOT NULL THEN 1 ELSE 0 END AS tri_hit,
                   CASE WHEN t.c3 IS NULL AND b.c2 IS NOT NULL THEN 1 ELSE 0 END AS bi_hit,
                   CASE WHEN t.c3 IS NULL AND b.c2 IS NULL AND u.c1 IS NOT NULL THEN 1 ELSE 0 END AS uni_hit,
                   CASE WHEN t.c3 IS NOT NULL THEN t.c3 / t.cctx2
                        WHEN b.c2 IS NOT NULL THEN {SB_ALPHA} * (b.c2 / b.cctx1)
                        WHEN u.c1 IS NOT NULL THEN {SB_ALPHA * SB_ALPHA!r} * (u.c1 / tot.n)
                        ELSE {SB_ALPHA * SB_ALPHA!r} * (1.0 / tot.n) END AS s
            FROM held h
            LEFT JOIN tri t ON h.tgm = t.tgm
            LEFT JOIN bi b ON h.bg23 = b.bgm
            LEFT JOIN uni u ON h.w3 = u.w
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tri,
               CAST(SUM(tri_hit) AS BIGINT) AS n_tri_hit,
               CAST(SUM(bi_hit) AS BIGINT) AS n_bi_hit,
               CAST(SUM(uni_hit) AS BIGINT) AS n_uni_hit,
               ROUND(AVG(-log2(s)), 4) AS avg_neg_log2s
        FROM scored GROUP BY doc_id
    """,
)
def trigram_backoff_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import fanout

    docs = fanout(load(spark, sf_dir, "documents"))
    ws = words(F.col("text"))
    n2 = F.greatest(F.size(ws) - 1, F.lit(0))
    n3 = F.greatest(F.size(ws) - 2, F.lit(0))
    join2 = lambda x, y: F.concat(x, F.lit(" "), y)  # noqa: E731
    tgms = F.zip_with(
        F.zip_with(F.slice(ws, 1, n3), F.slice(ws, 2, n3), join2),
        F.slice(ws, 3, n3),
        join2,
    )
    bgms = F.zip_with(F.slice(ws, 1, n2), F.slice(ws, 2, n2), join2)
    # Persist-before-reuse (r12): the tokenized TRAIN projection feeds all
    # three n-gram extractions (tri/bi/uni), and the uni table is consumed
    # twice (vocab join + the corpus-total row) — left lazy, each branch
    # re-scanned and re-tokenized the even-doc corpus (7 documents scans
    # in the emitted plan). Persist the token arrays once: the whole
    # model now trains off ONE train scan (+ one held-out scan to score).
    # The tokenized train corpus is CORPUS-sized → lazy DISK_ONLY persist
    # (lineage kept, recomputable on executor loss — ADVICE r12).
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    wc = F.col("ws")
    n2w = F.greatest(F.size(wc) - 1, F.lit(0))
    n3w = F.greatest(F.size(wc) - 2, F.lit(0))
    tgms_w = F.zip_with(
        F.zip_with(F.slice(wc, 1, n3w), F.slice(wc, 2, n3w), join2),
        F.slice(wc, 3, n3w),
        join2,
    )
    bgms_w = F.zip_with(F.slice(wc, 1, n2w), F.slice(wc, 2, n2w), join2)
    train_t = persist_shared_corpus_frame(
        docs.filter(F.col("doc_id") % 2 == 0).select(ws.alias("ws"))
    )
    tg_t = train_t.select(F.explode(tgms_w).alias("tgm"))
    bg_t = train_t.select(F.explode(bgms_w).alias("bgm"))
    ug_t = train_t.select(F.explode(wc).alias("w"))
    cnt3 = tg_t.groupBy("tgm").agg(F.count(F.lit(1)).alias("c3"))
    ctx2 = cnt3.groupBy(
        F.substring_index("tgm", " ", 2).alias("ctx")
    ).agg(F.sum("c3").alias("cctx2"))
    tri = cnt3.join(ctx2, F.substring_index(cnt3.tgm, " ", 2) == ctx2.ctx).select(
        "tgm", "c3", "cctx2"
    )
    cnt2 = bg_t.groupBy("bgm").agg(F.count(F.lit(1)).alias("c2"))
    ctx1 = cnt2.groupBy(
        F.substring_index("bgm", " ", 1).alias("ctx")
    ).agg(F.sum("c2").alias("cctx1"))
    bi = cnt2.join(ctx1, F.substring_index(cnt2.bgm, " ", 1) == ctx1.ctx).select(
        "bgm", "c2", "cctx1"
    )
    uni = ug_t.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    tot = uni.agg(F.sum("c1").alias("n"))
    held = (
        docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < SB_SCORE_DOCS))
        .select("doc_id", F.explode(tgms).alias("tgm"))
        .withColumn("bg23", F.substring_index("tgm", " ", -2))
        .withColumn("w3", F.substring_index("tgm", " ", -1))
    )
    a2 = SB_ALPHA * SB_ALPHA
    scored = (
        held.join(tri, "tgm", "left")
        .join(bi, held.bg23 == bi.bgm, "left")
        .join(uni, held.w3 == uni.w, "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("c3").isNotNull(), 1).otherwise(0).alias("tri_hit"),
            F.when(F.col("c3").isNull() & F.col("c2").isNotNull(), 1)
            .otherwise(0)
            .alias("bi_hit"),
            F.when(
                F.col("c3").isNull()
                & F.col("c2").isNull()
                & F.col("c1").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("uni_hit"),
            F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("cctx2"))
            .when(
                F.col("c2").isNotNull(),
                F.lit(SB_ALPHA) * (F.col("c2") / F.col("cctx1")),
            )
            .when(
                F.col("c1").isNotNull(),
                F.lit(a2) * (F.col("c1") / F.col("n")),
            )
            .otherwise(F.lit(a2) * (F.lit(1.0) / F.col("n")))
            .alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.sum("tri_hit").cast("long").alias("n_tri_hit"),
        F.sum("bi_hit").cast("long").alias("n_bi_hit"),
        F.sum("uni_hit").cast("long").alias("n_uni_hit"),
        F.round(F.avg(-F.log2("s")), 4).alias("avg_neg_log2s"),
    )


def doc_trigrams(text: Column) -> Column:
    """Whitespace-token trigram strings of a document, in position order."""
    ws = words(text)
    n3 = F.greatest(F.size(ws) - 2, F.lit(0))
    join2 = lambda x, y: F.concat(x, F.lit(" "), y)  # noqa: E731
    return F.zip_with(
        F.zip_with(F.slice(ws, 1, n3), F.slice(ws, 2, n3), join2),
        F.slice(ws, 3, n3),
        join2,
    )


def overlap_span_stats(held: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-doc contamination statistic over (doc_id, pos, tgm) held-out
    positions vs a (tgm, is_hit=True) reference set: hit counts plus the
    longest consecutive explained run via the gaps-and-islands
    decomposition. Factored so the streaming monitor scores each arriving
    micro-batch with EXACTLY the batch query's plan (r14)."""
    from pyspark.sql.window import Window as W

    # the hit frame feeds the runs decomposition AND the per-doc counts —
    # left lazy both re-ran the trigram join (4 documents scans, and the
    # doc-parity filters are arithmetic so they cannot push into the
    # parquet scan). Bounded: <= SB_SCORE_DOCS held docs x positions.
    hit = (
        held.join(ref, "tgm", "left").select(
            "doc_id", "pos", F.coalesce("is_hit", F.lit(False)).alias("is_hit")
        )
        .localCheckpoint()
    )
    runs = hit.filter("is_hit").select(
        "doc_id",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    rl = runs.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run"))
    mx = rl.groupBy("doc_id").agg(F.max("run").alias("max_run"))
    agg = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.sum(F.col("is_hit").cast("int")).cast("long").alias("n_hit"),
    )
    return agg.join(mx, "doc_id", "left").select(
        "doc_id",
        "n_tri",
        "n_hit",
        F.coalesce(F.col("max_run"), F.lit(0)).cast("long").alias("max_run"),
        F.when(F.col("max_run").isNotNull(), F.col("max_run") + 2)
        .otherwise(0)
        .cast("long")
        .alias("matched_span_tokens"),
        F.round(F.col("n_hit") / F.col("n_tri"), 4).alias("overlap_ratio"),
    )



@query(
    "cross_corpus_overlap_spans",
    section="2.N-text",
    doc="Cross-corpus n-gram overlap scoring with LONGEST-MATCHED-SPAN "
    "(the contamination statistic of GPT-3's 13-gram filtering / PaLM's "
    "eval-overlap analysis, and the distributable form of what a suffix "
    "automaton of the reference corpus computes): the reference is the "
    "EVEN doc_ids' distinct trigram set; each held-out odd doc reports "
    "how many of its trigram positions the reference explains (n_hit), "
    "and the LONGEST CONSECUTIVE RUN of explained positions — a run of R "
    "consecutive trigram hits means an R+2-token contiguous span whose "
    "every trigram occurs in the reference, the per-doc upper bound the "
    "automaton's longest-match walk reports. Run lengths come from the "
    "classic gaps-and-islands decomposition (pos - row_number over the "
    "per-doc hit sequence is constant within a run), so the sequential "
    "automaton walk collapses to doc_id-partitioned windows — no global "
    "window, no driver-side iteration. Scale shape: the reference set is "
    "a distinct-agg (map-side combinable); scoring is ONE shuffle join "
    "on the trigram string key (estimate-driven — at 100 TB both sides "
    "shuffle-partition on the trigram); output bounded by the "
    f"{SB_SCORE_DOCS}-doc held-out set.",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
        ),
        tg AS (
            SELECT doc_id, i AS pos, array_to_string(ws[i:i+2], ' ') AS tgm
            FROM tok, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        ),
        ref AS (SELECT DISTINCT tgm FROM tg WHERE doc_id % 2 = 0),
        held AS (
            SELECT doc_id, pos, tgm FROM tg
            WHERE doc_id % 2 = 1 AND doc_id < {SB_SCORE_DOCS}
        ),
        hit AS (
            SELECT h.doc_id, h.pos, r.tgm IS NOT NULL AS is_hit
            FROM held h LEFT JOIN ref r USING (tgm)
        ),
        runs AS (
            SELECT doc_id,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
            FROM hit WHERE is_hit
        ),
        rl AS (SELECT doc_id, COUNT(*) AS run FROM runs GROUP BY doc_id, grp),
        mx AS (SELECT doc_id, MAX(run) AS max_run FROM rl GROUP BY doc_id),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_tri,
                   SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS n_hit
            FROM hit GROUP BY doc_id
        )
        SELECT a.doc_id,
               CAST(a.n_tri AS BIGINT) AS n_tri,
               CAST(a.n_hit AS BIGINT) AS n_hit,
               CAST(COALESCE(m.max_run, 0) AS BIGINT) AS max_run,
               CAST(CASE WHEN m.max_run IS NOT NULL THEN m.max_run + 2
                    ELSE 0 END AS BIGINT) AS matched_span_tokens,
               ROUND(a.n_hit * 1.0 / a.n_tri, 4) AS overlap_ratio
        FROM agg a LEFT JOIN mx m USING (doc_id)
    """,
)
def cross_corpus_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import fanout

    docs = fanout(load(spark, sf_dir, "documents"))
    tgms = doc_trigrams(F.col("text"))
    ref = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(tgms).alias("tgm"))
        .distinct()
        .withColumn("is_hit", F.lit(True))
    )
    held = (
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < SB_SCORE_DOCS)
        )
        .select("doc_id", F.posexplode(tgms).alias("pos", "tgm"))
        .withColumn("pos", F.col("pos") + 1)  # oracle's 1-based positions
    )
    return overlap_span_stats(held, ref)


# --------------------------------------------------------------------------
# Suffix-automaton longest-match via binary lifting (VERDICT r12 item 4b —
# generalizes cross_corpus_overlap_spans beyond fixed trigrams)
# --------------------------------------------------------------------------
SLM_POWERS = [1, 2, 4, 8, 16, 32]  # sparse-table levels (window lengths)


def _slm_oracle() -> str:
    """DuckDB mirror of the doubling construction: per level, window-hash
    CTEs built by the SAME md5(h_left || '|' || h_right) combine (the
    sparse-table recurrence), reference sets from even docs, hits per
    level for held-out odd docs. Generated per power so the unrolled SQL
    is mechanical and bit-identical to the Spark fold."""
    lv = [
        r"""
        lv1 AS (
            SELECT doc_id, i AS pos, ws[i] AS h
            FROM tok, UNNEST(generate_series(1, len(ws))) AS t(i)
        )"""
    ]
    for m in SLM_POWERS[1:]:
        half = m // 2
        lv.append(f"""
        lv{m} AS (
            SELECT a.doc_id, a.pos, md5(a.h || '|' || b.h) AS h
            FROM lv{half} a JOIN lv{half} b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + {half}
        )""")
    hits = []
    for m in SLM_POWERS:
        hits.append(f"""
        ref{m} AS (SELECT DISTINCT h FROM lv{m} WHERE doc_id % 2 = 0),
        hit{m} AS (
            SELECT l.doc_id, COUNT(*) AS n
            FROM lv{m} l JOIN ref{m} USING (h)
            WHERE l.doc_id % 2 = 1 AND l.doc_id < {SB_SCORE_DOCS}
            GROUP BY 1
        )""")
    union = "\n            UNION ALL ".join(
        f"SELECT doc_id, {m} AS m, n FROM hit{m}" for m in SLM_POWERS
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
            FROM documents
        ),{",".join(lv)},{",".join(hits)},
        held AS (
            SELECT doc_id, len(ws) AS n_tok FROM tok
            WHERE doc_id % 2 = 1 AND doc_id < {SB_SCORE_DOCS}
        ),
        lvl AS ({union}),
        best AS (
            SELECT doc_id, MAX(m) AS max_pow FROM lvl GROUP BY doc_id
        )
        SELECT h.doc_id,
               CAST(h.n_tok AS BIGINT) AS n_tok,
               CAST(COALESCE((SELECT n FROM lvl WHERE lvl.doc_id = h.doc_id
                              AND m = 1), 0) AS BIGINT) AS n_hit1,
               CAST(COALESCE(b.max_pow, 0) AS BIGINT) AS max_pow,
               CAST(COALESCE((SELECT n FROM lvl WHERE lvl.doc_id = h.doc_id
                              AND m = b.max_pow), 0) AS BIGINT) AS n_at_max,
               CAST(COALESCE(b.max_pow, 0) AS BIGINT) AS match_lo,
               CAST(CASE WHEN b.max_pow IS NULL THEN 0
                         WHEN b.max_pow = {SLM_POWERS[-1]} THEN h.n_tok
                         ELSE LEAST(2 * b.max_pow - 1, h.n_tok)
                    END AS BIGINT) AS match_hi
        FROM held h LEFT JOIN best b USING (doc_id)
    """


@query(
    "suffix_longest_match_doubling",
    section="2.N-text",
    doc="LONGEST EXACT cross-corpus match via BINARY LIFTING — the "
    "suffix-automaton longest-match statistic computed distributably "
    "(what walking a suffix automaton of the reference corpus reports, "
    "cf. the exact-substring machinery of exact_substring_dedup; "
    "generalizes cross_corpus_overlap_spans, whose trigram-cover span "
    "only upper-bounds the true longest VERBATIM match): a sparse table "
    "of window hashes is built per document with the doubling "
    "recurrence H_2m(p) = md5(H_m(p) || '|' || H_m(p+m)) — pure "
    "scan-local array ops on the reference side (zip_with over shifted "
    "slices, zero shuffles to build all six levels), and geometric "
    "CANDIDATE PRUNING on the held-out side: a 2m-window can only match "
    "where BOTH m-halves matched, so each level's join input is the "
    "(doc_id, pos+m) self-join of the previous level's hit set — hit "
    "sets shrink geometrically, the binary-lifting argument. If the "
    "largest matched power is m*, the true longest match L is EXACTLY "
    "bracketed in [m*, 2m*-1] (any substring of a match also matches, "
    "so no 2m-window match implies L < 2m). Levels " + str(SLM_POWERS) +
    "; reference = even doc_ids, held-out = odd doc_ids < "
    f"{SB_SCORE_DOCS}. Scale: level sets are distinct-aggs keyed on the "
    "hash (map-side combinable), every join is an equi-join on "
    "(doc_id, pos) or the hash — no windows, no driver iteration.",
    oracle=_slm_oracle(),
)
def suffix_longest_match_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import fanout

    docs = fanout(load(spark, sf_dir, "documents")).select(
        "doc_id", words(F.col("text")).alias("ws")
    )
    combine = lambda a, b: F.md5(F.concat(a, F.lit("|"), b))  # noqa: E731

    def levels(ws):
        """Sparse-table arrays: out[m] = array of H_m(p), 1-based p."""
        n = F.size(ws)
        out = {1: ws}
        for m in SLM_POWERS[1:]:
            half = m // 2
            prev = out[half]
            # valid starts for length m: p in 1 .. n-m+1  (prev has
            # n - half + 1 entries; pair prev[p] with prev[p+half])
            cnt = F.greatest(n - m + 1, F.lit(0))
            out[m] = F.zip_with(
                F.slice(prev, 1, cnt), F.slice(prev, 1 + half, cnt), combine
            )
        return out

    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    lv = levels(F.col("ws"))
    ref_docs = docs.filter(F.col("doc_id") % 2 == 0)
    # ONE reference scan for all six level sets: tag every level's window
    # hashes in a single array projection, explode once, distinct on
    # (m, h). The set is referenced by every level's join → DISK_ONLY
    # persist (corpus-proportional shared frame, lineage kept).
    def _tag(m):
        # one-arg lambda: a two-arg transform lambda would be dispatched
        # as (element, index) and the index would shadow the level tag
        return F.transform(
            lv[m], lambda h: F.struct(F.lit(m).alias("m"), h.alias("h"))
        )

    tagged = F.flatten(F.array(*[_tag(m) for m in SLM_POWERS]))
    ref_all = persist_shared_corpus_frame(
        ref_docs.select(F.explode(tagged).alias("s"))
        .select(F.col("s.m").alias("m"), F.col("s.h").alias("h"))
        .distinct()
    )
    refs = {m: ref_all.filter(F.col("m") == m).select("h") for m in SLM_POWERS}
    held_base = docs.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < SB_SCORE_DOCS)
    )
    # level 1: explode held tokens once; higher levels NEVER re-read text —
    # candidates come from the previous hit set's self-join (the prune).
    # Each level's hit set is checkpointed: it is referenced THREE times
    # (both self-join sides + its count), and the loop-carried lineage
    # would otherwise double per level (2^levels plan copies — the CC
    # per-round discipline). Hit sets shrink geometrically, so the
    # materialized frames are the small end of the pipeline.
    hit = (
        held_base.select("doc_id", F.posexplode("ws").alias("pos", "h"))
        .withColumn("pos", F.col("pos") + 1)
        .join(refs[1], "h")
        .select("doc_id", "pos", "h")
        .localCheckpoint()
    )
    counts = [
        hit.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("m", F.lit(1))
    ]
    for m in SLM_POWERS[1:]:
        half = m // 2
        a = hit.select("doc_id", "pos", F.col("h").alias("ha"))
        b = hit.select(
            "doc_id", (F.col("pos") - half).alias("pos"), F.col("h").alias("hb")
        )
        cand = a.join(b, ["doc_id", "pos"]).select(
            "doc_id", "pos", combine(F.col("ha"), F.col("hb")).alias("h")
        )
        hit = cand.join(refs[m], "h").select("doc_id", "pos", "h").localCheckpoint()
        counts.append(
            hit.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("m", F.lit(m))
        )
    lvl = counts[0]
    for c in counts[1:]:
        lvl = lvl.unionByName(c)
    best = lvl.groupBy("doc_id").agg(F.max("m").alias("max_pow"))
    held = held_base.select("doc_id", F.size("ws").cast("long").alias("n_tok"))
    n1 = lvl.filter(F.col("m") == 1).select("doc_id", F.col("n").alias("n_hit1"))
    at_max = (
        lvl.alias("l")
        .join(
            best.alias("bst"),
            (F.col("l.doc_id") == F.col("bst.doc_id"))
            & (F.col("l.m") == F.col("bst.max_pow")),
        )
        .select(F.col("l.doc_id").alias("doc_id"), F.col("l.n").alias("n_at_max"))
    )
    cap = SLM_POWERS[-1]
    return (
        held.join(n1, "doc_id", "left")
        .join(best.select("doc_id", "max_pow"), "doc_id", "left")
        .join(at_max, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("n_hit1", F.lit(0)).cast("long").alias("n_hit1"),
            F.coalesce("max_pow", F.lit(0)).cast("long").alias("max_pow"),
            F.coalesce("n_at_max", F.lit(0)).cast("long").alias("n_at_max"),
            F.coalesce("max_pow", F.lit(0)).cast("long").alias("match_lo"),
            F.when(F.col("max_pow").isNull(), F.lit(0))
            .when(F.col("max_pow") == cap, F.col("n_tok"))
            .otherwise(F.least(2 * F.col("max_pow") - 1, F.col("n_tok")))
            .cast("long")
            .alias("match_hi"),
        )
    )
