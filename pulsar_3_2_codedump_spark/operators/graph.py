"""Distributed graph operators — connected components and triangles.

Beyond-reference §2.N extensions (the reference broker has no graph
surface; these are the standard public distributed formulations):

  - **Connected components** over the record-linkage graph (the natural
    downstream of `fuzzy_blocking_pairs`: blocking -> edit-distance pairs ->
    entity groups). The implementation is the log-round ALTERNATION of
    neighbor-min propagation and pointer jumping — the two primitives the
    large-star/small-star family (Kiveris et al., "Connected Components in
    MapReduce and Beyond") is built from: plain propagation contracts one
    hop per round (diameter rounds — a scale-killer on chain-shaped
    components), while the pointer-jump round squares the contraction, so
    O(log d) rounds suffice at any size. Rounds are UNROLLED a fixed
    ROUNDS times on both engines (identical algorithm, identical round
    count -> identical labels, a sound hash oracle even mid-convergence)
    and a `converged` column — TRUE iff one more neighbor-min round changes
    nothing — asserts the fixed point was actually reached on the fixture.
    Every round is a join + min-aggregate on the EDGE-partitioned frame; no
    driver loop, no collect, no unpartitioned window.
  - **Triangle counting** on the event-type co-transition graph: the
    ordered node-iterator form (a<b<c three-way self-join) that counts each
    triangle exactly once; per-node participation comes from exploding the
    three corners. At 100 TB the standard refinement is degree-ordering the
    join (process low-degree corners first) — the enumeration shape is
    unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark.catalog import fanout, load
from pulsar_3_2_codedump_spark.queries import query

CC_PROBE_LEN = 60   # chars compared per candidate pair (fuzzy_blocking_pairs)
CC_MAX_DIST = 40    # looser than fuzzy_blocking_pairs: denser linkage graph
CC_ROUNDS = 3       # neighbor-min + pointer-jump alternations (covers d ~ 2^3)


def _linkage_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage edges: same blocking key, probe edit distance <= CC_MAX_DIST."""
    docs = fanout(load(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.col("text")))
    ws = F.split(norm, r"\s+")
    b = docs.select(
        "doc_id",
        "lang",
        F.substring(norm, 1, CC_PROBE_LEN).alias("probe"),
        F.concat_ws(" ", F.slice(ws, 1, 2)).alias("blk"),
    )
    a = b.select(
        F.col("doc_id").alias("va"), "lang", "blk", F.col("probe").alias("pa")
    )
    c = b.select(
        F.col("doc_id").alias("vb"), "lang", "blk", F.col("probe").alias("pb")
    )
    return (
        a.join(c, ["lang", "blk"])
        .filter(F.col("va") < F.col("vb"))
        .filter(F.levenshtein("pa", "pb") <= CC_MAX_DIST)
        .select("va", "vb")
    )


_CC_EDGE_SQL = f"""
            SELECT a.doc_id AS va, c.doc_id AS vb
            FROM (SELECT doc_id,
                         substr(lower(trim(text)), 1, {CC_PROBE_LEN}) AS probe,
                         lang,
                         array_to_string(
                             string_split_regex(lower(trim(text)), '\\s+')[1:2],
                             ' ') AS blk
                  FROM documents) a
            JOIN (SELECT doc_id,
                         substr(lower(trim(text)), 1, {CC_PROBE_LEN}) AS probe,
                         lang,
                         array_to_string(
                             string_split_regex(lower(trim(text)), '\\s+')[1:2],
                             ' ') AS blk
                  FROM documents) c
              ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
            WHERE levenshtein(a.probe, c.probe) <= {CC_MAX_DIST}
"""


def _cc_oracle() -> str:
    """Unrolled alternating neighbor-min + pointer-jump rounds in plain SQL."""
    rounds = []
    prev = "l0"
    for k in range(1, CC_ROUNDS + 1):
        rounds.append(f"""
        nm{k} AS (
            SELECT adj.v AS node, MIN(l.lbl) AS lbl
            FROM adj JOIN {prev} l ON l.node = adj.u
            GROUP BY adj.v
        ),
        l{k} AS (
            SELECT a.node, b.lbl
            FROM nm{k} a JOIN nm{k} b ON b.node = a.lbl
        )""")
        prev = f"l{k}"
    return f"""
        WITH e AS ({_CC_EDGE_SQL}),
        nodes AS (SELECT va AS node FROM e UNION SELECT vb FROM e),
        adj AS (
            SELECT va AS v, vb AS u FROM e
            UNION ALL SELECT vb, va FROM e
            UNION ALL SELECT node, node FROM nodes
        ),
        l0 AS (SELECT node, node AS lbl FROM nodes),
        {",".join(rounds)},
        nmchk AS (
            SELECT adj.v AS node, MIN(l.lbl) AS lbl
            FROM adj JOIN {prev} l ON l.node = adj.u
            GROUP BY adj.v
        ),
        conv AS (
            SELECT COUNT(*) FILTER (WHERE a.lbl <> b.lbl) = 0 AS converged
            FROM {prev} a JOIN nmchk b ON b.node = a.node
        )
        SELECT CAST(l.lbl AS BIGINT) AS component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(l.node) AS BIGINT) AS member_checksum,
               conv.converged AS converged
        FROM {prev} l, conv
        GROUP BY l.lbl, conv.converged
    """


@query(
    "connected_components_star",
    section="2.N-dedup",
    doc="Entity resolution: connected components over the blocked fuzzy-"
    "linkage graph (blocking key + levenshtein <= "
    f"{CC_MAX_DIST} on {CC_PROBE_LEN}-char probes), computed with "
    f"{CC_ROUNDS} unrolled alternations of neighbor-min propagation and "
    "pointer jumping — the log-round primitives of large-star/small-star "
    "(Kiveris et al.), so chain-shaped components converge in O(log d) "
    "rounds instead of d. Identical fixed unroll on both engines makes "
    "the hash oracle sound; the `converged` column (one extra neighbor-"
    "min round changes nothing) asserts the fixed point was reached. "
    "Each round is an edge-partitioned join + min-agg — no driver loop, "
    "holds at any graph size. Output: one row per entity group with size "
    "and member-id checksum.",
    oracle=_cc_oracle(),
)
def connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _linkage_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        e.select(F.col("va").alias("node"))
        .union(e.select("vb"))
        .distinct()
    )
    adj = (
        e.select(F.col("va").alias("v"), F.col("vb").alias("u"))
        .unionAll(e.select(F.col("vb").alias("v"), F.col("va").alias("u")))
        .unionAll(nodes.select(F.col("node").alias("v"), F.col("node").alias("u")))
        .localCheckpoint()
    )
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(CC_ROUNDS):
        # cut lineage per round: the pointer-jump self-join references nm
        # twice, so without the cut the plan doubles every round (4^R
        # exchanges — the rfm_scores precedent); the label frame is one row
        # per linkage-graph node, the standard iterative-algorithm
        # materialization point
        nm = (
            adj.join(lbl.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        # pointer jump: lbl <- lbl(lbl)
        lbl = (
            nm.join(
                nm.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")),
                "lbl",
            )
            .select("node", F.col("lbl2").alias("lbl"))
        )
    chk = (
        adj.join(lbl.withColumnRenamed("node", "u"), "u")
        .groupBy(F.col("v").alias("node"))
        .agg(F.min("lbl").alias("nlbl"))
    )
    conv = (
        lbl.join(chk, "node")
        .agg((F.count(F.when(F.col("lbl") != F.col("nlbl"), 1)) == 0).alias("converged"))
    )
    return (
        lbl.crossJoin(F.broadcast(conv))
        .groupBy(F.col("lbl").alias("component"), "converged")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("node").cast("long").alias("member_checksum"),
        )
        .select(
            F.col("component").cast("long").alias("component"),
            "n_members",
            "member_checksum",
            "converged",
        )
    )


@query(
    "triangle_count",
    section="2.N-behavior",
    doc="Triangle counting on the undirected event-type co-transition "
    "graph: edges are distinct consecutive-event pairs per user (both "
    "directions collapsed to a<b), triangles enumerate once via the "
    "ordered three-way self-join (a<b<c), and per-node participation "
    "explodes the three corners. The shape is the standard node-iterator; "
    "at scale the refinement is degree-ordering the corners — the join "
    "structure is unchanged. Output: per event type, degree and the "
    "number of triangles it participates in.",
    oracle="""
        WITH seq AS (
            SELECT event_type AS s,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t
            FROM events
        ),
        und AS (
            SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
            FROM seq WHERE t IS NOT NULL AND s <> t
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ),
        deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT a AS node FROM und UNION ALL SELECT b FROM und
            ) GROUP BY node
        )
        SELECT deg.node AS event_type,
               CAST(deg.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.n, 0) AS BIGINT) AS n_triangles
        FROM deg LEFT JOIN (
            SELECT node, COUNT(*) AS n FROM corners GROUP BY node
        ) t ON t.node = deg.node
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("s"), F.lead("event_type").over(w).alias("t")
    )
    und = (
        seq.filter(F.col("t").isNotNull() & (F.col("s") != F.col("t")))
        .select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        )
        .distinct()
    )
    und = und.localCheckpoint()  # |types|²-bounded; cut lineage off the corpus
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select("y"))
        .unionAll(tri.select("z"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(corners, "node", "left").select(
        F.col("node").alias("event_type"),
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_triangles"),
    )
