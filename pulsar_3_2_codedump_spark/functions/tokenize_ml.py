"""Tokenizer-training and feature-extraction operators (§2.N extensions).

  - **BPE merge step**: the core primitive of byte-pair-encoding tokenizer
    training — count every ADJACENT token pair across the corpus (with
    multiplicity, unlike the distinct shingles used for dedup) and rank the
    top merge candidates. One explode + one hash-agg with map-side partial
    aggregation; top-k is a TakeOrdered. Iterating this operator (merge,
    re-tokenize, repeat) is exactly public BPE training (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units").
  - **Hashing-trick features** (Weinberger et al., "Feature Hashing for
    Large Scale Multitask Learning"): fixed-width sparse count vectors via
    ``hash(token) mod D`` — no vocabulary table, no global state, so the
    transform is embarrassingly parallel at any corpus size. Emitted in
    sparse (doc_id, dim, cnt) form.

All pure `pyspark.sql.functions` column expressions — JVM codegen, no
Python in the hot path. md5-derived hashes keep bit-parity with the DuckDB
oracle (xxhash64 is the production substitution — see operators/routing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import fanout, load
from pulsar_3_2_codedump_spark.functions.dedup_ml import _D_WORDS
from pulsar_3_2_codedump_spark.queries import query

BPE_TOPK = 20
HASH_DIMS = 16


@query(
    "bpe_merge_step",
    section="2.N-text",
    doc=f"One BPE training step: top-{BPE_TOPK} most frequent ADJACENT token "
    "pairs across the corpus (occurrence counts, not distinct). "
    "Explode + partial-agg shuffle + TakeOrdered.",
    oracle=f"""
        WITH w AS (SELECT doc_id, {_D_WORDS} AS ws FROM documents),
        pairs AS (
            SELECT unnest(CASE WHEN len(ws) >= 2 THEN
                       list_transform(generate_series(1, len(ws) - 1),
                                      i -> ws[i] || ' ' || ws[i + 1])
                   ELSE [] END) AS pair
            FROM w
        )
        SELECT pair, COUNT(*) AS cnt
        FROM pairs GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT {BPE_TOPK}
    """,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pairs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


@query(
    "hashing_trick_features",
    section="2.N-features",
    doc=f"Hashing-trick sparse features: dim = md5(token) mod {HASH_DIMS}, "
    "count per (doc, dim). No vocabulary state — linear, one shuffle.",
    oracle=f"""
        WITH w AS (SELECT doc_id, unnest({_D_WORDS}) AS tok
                   FROM documents WHERE doc_id < 300)
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % {HASH_DIMS} AS dim,
               COUNT(*) AS cnt
        FROM w GROUP BY doc_id, dim
    """,
)
def hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok = docs.select("doc_id", F.explode(ws).alias("tok"))
    dim = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % HASH_DIMS
    return (
        tok.select("doc_id", dim.alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


CLF_DIMS = 256  # weight-vector width of the hashed linear classifier
CLF_BIAS = 0.05

# hash-derived weight in [-1, 1] for bucket d: (md5int('qw:<d>') % 2001 - 1000)/1000
_D_CLF_W = (
    "(CAST(concat('0x', substr(md5(concat('qw:', CAST("
    f"CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {CLF_DIMS}"
    " AS VARCHAR))), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0"
)


def classifier_margin(ws) -> "F.Column":
    """Hashed-linear-classifier margin over a token-array column: a
    sequential left-fold — deterministic summation order matching the
    oracle's list_aggregate; no explode, no shuffle."""

    def w_of(tok):
        dim = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % CLF_DIMS
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("qw:"), dim.cast("string"))), 1, 8), 16, 10
        ).cast("long")
        return (h % 2001 - 1000) / F.lit(1000.0)

    return (
        F.lit(CLF_BIAS)
        + F.aggregate(ws, F.lit(0.0), lambda acc, t: acc + w_of(t)) / F.size(ws)
    )


@query(
    "quality_classifier_score",
    section="2.N-text",
    doc="Model-based quality filtering (the fastText/DCLM-style classifier "
    "gate, complementing the heuristic Gopher rules): a linear classifier "
    f"over hashing-trick features — margin = bias + mean over tokens of "
    f"w[md5(token) mod {CLF_DIMS}], keep iff sigmoid(margin) >= 0.5. The "
    "weight vector here is hash-derived (deterministic, cross-engine "
    "reproducible, which gives the exact oracle); in production the trained "
    "weights are a broadcast map lookup with the identical plan shape. The "
    "whole score is a per-row fold over the token array — zero shuffle, "
    "runs at scan speed, and the keep-predicate pushes into the scan stage "
    "so filtered-out docs never leave it.",
    oracle=f"""
        WITH w AS (SELECT doc_id, lang, {_D_WORDS} AS ws FROM documents),
        scored AS (
            SELECT doc_id, lang, len(ws) AS n_tokens,
                   {CLF_BIAS} + list_aggregate(
                       list_transform(ws, t -> {_D_CLF_W}), 'sum') / len(ws)
                       AS margin
            FROM w)
        SELECT doc_id, lang, n_tokens,
               ROUND(margin, 6) AS margin,
               ROUND(1.0 / (1.0 + exp(-margin)), 6) AS prob,
               margin >= 0.0 AS keep
        FROM scored
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    margin = classifier_margin(ws)
    return docs.select(
        "doc_id",
        "lang",
        F.size(ws).cast("long").alias("n_tokens"),
        F.round(margin, 6).alias("margin"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("prob"),
        (margin >= 0.0).alias("keep"),
    )


BPE_TRAIN_MERGES = 3  # unrolled training iterations (merge table depth)
_SEP = "·"       # symbol-boundary sentinel (chr(183); never in [a-z]+ words)


def _bpe_iteration(repr_df: DataFrame):
    """One BPE training iteration over the symbolized vocabulary: count
    every adjacent symbol pair (weighted by word frequency), pick the top
    merge (deterministic tiebreak), and apply it leftmost-first
    non-overlapping to every word. The word representation is a
    sentinel-delimited string (``·a··b··c·``) so the merge application is
    ONE string REPLACE — both engines' REPLACE scans leftmost
    non-overlapping, which is exactly BPE's merge order. Returns
    (best 1-row DataFrame, merged repr DataFrame). Columns other than
    ``r``/``c`` (e.g. the word key for the encode path) pass through the
    merge untouched."""
    s = F.split(F.expr(f"trim(BOTH '{_SEP}' FROM r)"), _SEP + _SEP)
    pr = F.when(
        F.size(s) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.element_at(s, i).alias("a"), F.element_at(s, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = (
        repr_df.select(F.explode(pr).alias("p"), "c")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("c").cast("long").alias("cnt"))
    )
    best = pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
    merged = (
        repr_df.crossJoin(
            F.broadcast(
                best.select(F.col("a").alias("__a"), F.col("b").alias("__b"))
            )
        )
        .withColumn(
            "r",
            F.replace(
                F.col("r"),
                F.concat(
                    F.lit(_SEP), F.col("__a"), F.lit(_SEP + _SEP), F.col("__b"), F.lit(_SEP)
                ),
                F.concat(F.lit(_SEP), F.col("__a"), F.col("__b"), F.lit(_SEP)),
            ),
        )
        .select(*repr_df.columns)
    )
    return best, merged


@query(
    "bpe_train_merges",
    section="2.N-features",
    doc="ITERATIVE BPE tokenizer training, fully declarative (Sennrich et "
    "al., 'Neural Machine Translation of Rare Words with Subword Units' — "
    f"the merge-count-merge loop, {BPE_TRAIN_MERGES} unrolled iterations): "
    "the en vocabulary symbolizes to sentinel-delimited char strings, then "
    "each iteration counts adjacent symbol pairs (weighted by word "
    "frequency), takes the argmax merge, and applies it to every word as "
    "ONE leftmost-non-overlapping string REPLACE — BPE's exact merge "
    "order, identical in both engines, so even this iterative algorithm "
    "carries a full hash oracle (unrolled CTE chain). Scale shape: the "
    "whole loop runs on the VOCABULARY table (bounded, never the corpus "
    "after the first agg); each iteration is one pair-count shuffle over "
    "it plus a 1-row broadcast argmax — the standard Spark BPE-trainer "
    "topology at any corpus size. Output: the learned merge table.",
    oracle=r"""
        WITH words AS (
            SELECT tok AS word, COUNT(*) AS c
            FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents WHERE lang = 'en')
            WHERE regexp_full_match(tok, '[a-z]+')
            GROUP BY tok
        ),
        r0 AS (
            SELECT chr(183) || array_to_string(string_split(word, ''),
                                               chr(183)||chr(183)) || chr(183) AS r, c
            FROM words
        ),
        p1 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r0),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        r1 AS (
            SELECT REPLACE(r, chr(183)||best1.a||chr(183)||chr(183)||best1.b||chr(183),
                              chr(183)||best1.a||best1.b||chr(183)) AS r, c
            FROM r0, best1
        ),
        p2 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r1),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        r2 AS (
            SELECT REPLACE(r, chr(183)||best2.a||chr(183)||chr(183)||best2.b||chr(183),
                              chr(183)||best2.a||best2.b||chr(183)) AS r, c
            FROM r1, best2
        ),
        p3 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r2),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
        SELECT 1 AS merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_count FROM best1
        UNION ALL SELECT 2, a, b, cnt FROM best2
        UNION ALL SELECT 3, a, b, cnt FROM best3
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("lang") == "en"))
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word").rlike("^[a-z]+$"))
    # vocabulary-bounded after the agg; localCheckpoint cuts the lineage so
    # the three unrolled iterations never re-scan the corpus
    words = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    repr_df = words.select(
        F.concat(
            F.lit(_SEP), F.array_join(F.split("word", ""), _SEP + _SEP), F.lit(_SEP)
        ).alias("r"),
        "c",
    )
    bests = []
    for k in range(1, BPE_TRAIN_MERGES + 1):
        best, repr_df = _bpe_iteration(repr_df)
        bests.append(
            best.select(
                F.lit(k).alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


@query(
    "bpe_apply_encode",
    section="2.N-features",
    doc="BPE ENCODING — applying the trained merge table back to the "
    f"corpus (closes the train→apply tokenizer loop): re-runs the "
    f"{BPE_TRAIN_MERGES}-merge training chain carrying the word key "
    "through every REPLACE, so the final sentinel representation IS each "
    "word's subword segmentation under the learned merges (exact BPE "
    "apply order — merges replay in training order, leftmost "
    "non-overlapping, identical in both engines). Per-document output: "
    "word count, subword count, and fertility (subwords per word) — the "
    "statistic tokenizer evaluations report. Scale shape: training runs "
    "on the bounded vocabulary table; encoding is a BROADCAST join of "
    "that vocabulary against the corpus words (no corpus shuffle) + one "
    "per-doc agg. Reference analogue: none (Pulsar has no corpus ops) — "
    "§2.N training-pipeline extension.",
    oracle=r"""
        WITH words AS (
            SELECT tok AS word, COUNT(*) AS c
            FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents WHERE lang = 'en')
            WHERE regexp_full_match(tok, '[a-z]+')
            GROUP BY tok
        ),
        r0 AS (
            SELECT word, chr(183) || array_to_string(string_split(word, ''),
                                               chr(183)||chr(183)) || chr(183) AS r, c
            FROM words
        ),
        p1 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r0),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        r1 AS (
            SELECT word, REPLACE(r, chr(183)||best1.a||chr(183)||chr(183)||best1.b||chr(183),
                              chr(183)||best1.a||best1.b||chr(183)) AS r, c
            FROM r0, best1
        ),
        p2 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r1),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        r2 AS (
            SELECT word, REPLACE(r, chr(183)||best2.a||chr(183)||chr(183)||best2.b||chr(183),
                              chr(183)||best2.a||best2.b||chr(183)) AS r, c
            FROM r1, best2
        ),
        p3 AS (
            SELECT s[i] AS a, s[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(r, chr(183)), chr(183)||chr(183)) AS s, c FROM r2),
                 (SELECT unnest(range(1, 200)) AS i)
            WHERE i < len(s) GROUP BY a, b
        ),
        best3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
        r3 AS (
            SELECT word, REPLACE(r, chr(183)||best3.a||chr(183)||chr(183)||best3.b||chr(183),
                              chr(183)||best3.a||best3.b||chr(183)) AS r
            FROM r2, best3
        ),
        enc AS (
            SELECT word,
                   CAST(len(string_split(trim(r, chr(183)), chr(183)||chr(183))) AS BIGINT)
                       AS n_sub
            FROM r3
        ),
        docw AS (
            SELECT doc_id, tok AS word
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents WHERE lang = 'en')
            WHERE regexp_full_match(tok, '[a-z]+')
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
               ROUND(CAST(SUM(n_sub) AS BIGINT) * 1.0 / COUNT(*), 4) AS fertility
        FROM docw JOIN enc USING (word)
        GROUP BY doc_id
    """,
)
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load(spark, sf_dir, "documents").filter(F.col("lang") == "en"))
    docw = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.col("word").rlike("^[a-z]+$"))
    # train exactly as bpe_train_merges, but carry the word key through the
    # merge chain; vocabulary-bounded after the agg, lineage cut once
    words = docw.groupBy("word").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    repr_df = words.select(
        "word",
        F.concat(
            F.lit(_SEP), F.array_join(F.split("word", ""), _SEP + _SEP), F.lit(_SEP)
        ).alias("r"),
        "c",
    )
    for _ in range(BPE_TRAIN_MERGES):
        _, repr_df = _bpe_iteration(repr_df)
    enc = repr_df.select(
        "word",
        F.size(
            F.split(F.expr(f"trim(BOTH '{_SEP}' FROM r)"), _SEP + _SEP)
        ).cast("long").alias("n_sub"),
    )
    return (
        docw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.round(F.sum("n_sub") / F.count(F.lit(1)), 4).alias("fertility"),
        )
    )
