"""Duplicate-cluster resolution: pairs -> connected components ->
keep-one-per-cluster. The iterative Spark side (min-label propagation,
operators/graph.py) is oracle-checked against DuckDB's recursive-CTE
transitive closure — an exact cross-engine check of a genuinely
iterative distributed algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import query
# the normalizer must stay bit-identical across every Spark/oracle
# pair — single definition in queries/text.py
from .text import _NORM_SQL, _norm_text


# Shared oracle CTEs: duplicate-pair graph (exact md5 groups + Jaccard
# >= 4/5 with same-source/length blocking) -> transitive closure ->
# per-document cluster assignment. Callers append their own final CTEs
# + SELECT.
_CLUSTER_CTES = f"""
    fp AS (
      SELECT doc_id, md5({_NORM_SQL}) AS h FROM documents
    ),
    exact_pairs AS (
      SELECT g.keeper AS a, f.doc_id AS b
      FROM fp f JOIN (SELECT h, MIN(doc_id) AS keeper FROM fp GROUP BY h) g
        ON f.h = g.h AND f.doc_id <> g.keeper
    ),
    tok AS (
      SELECT doc_id, source, n_chars,
             unnest(list_distinct(string_split({_NORM_SQL}, ' '))) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS nc
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
       AND abs(a.n_chars - b.n_chars) <= 30
      GROUP BY a.doc_id, b.doc_id
    ),
    near_pairs AS (
      SELECT i.a, i.b FROM inter i
      JOIN sizes sa ON i.a = sa.doc_id
      JOIN sizes sb ON i.b = sb.doc_id
      WHERE 5 * i.nc >= 4 * (sa.sz + sb.sz - i.nc)
    ),
    edges0 AS (SELECT a, b FROM exact_pairs UNION SELECT a, b FROM near_pairs),
    edges AS (SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0),
    reach(src, dst) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    assigned AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.src
    )"""


def _cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, cluster_id) for every document — the Spark twin
    of the oracle's ``assigned`` CTE. Pair generation runs the PPJoin
    prefix-filtered join at t=4/5 (bit-identical to the oracle's naive
    join; prefixes at 0.8 index only ~20% of each doc's tokens), then
    iterative min-label propagation resolves components."""
    from ..operators.graph import connected_components
    from .text import ppjoin_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    norm = _norm_text()

    # unhex: the fingerprint is an internal group/join key (never in
    # the output) — 16-byte binary halves the shuffled key bytes with
    # bit-identical grouping
    fp = d.select("doc_id", F.unhex(F.md5(norm)).alias("h"))
    grp = fp.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    exact_pairs = (fp.join(grp, "h")
                   .where(F.col("doc_id") != F.col("keeper"))
                   .select(F.col("keeper").alias("id_a"),
                           F.col("doc_id").alias("id_b")))
    near_pairs = ppjoin_jaccard_pairs(d, 4, 5, materialize="checkpoint") \
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    # no .distinct() here: connected_components symmetrizes and
    # distincts its edge input itself, so pre-deduping the pair union
    # was a second full shuffle of the pair set for nothing
    pairs = exact_pairs.unionByName(near_pairs)

    comp = connected_components(pairs, "id_a", "id_b")
    return (d.select("doc_id", "n_chars")
            .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select("doc_id", "n_chars",
                    F.coalesce("component", F.col("doc_id"))
                    .alias("cluster_id")))


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    csize AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM assigned GROUP BY cluster_id
    )
    SELECT a.doc_id, a.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN a.doc_id = a.cluster_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_keeper
    FROM assigned a JOIN csize s ON a.cluster_id = s.cluster_id
    """,
    "dedup", "corpus", "scale",
    doc="Duplicate-cluster resolution: exact-dup pairs (md5 fingerprint) "
        "plus high-confidence near-dup pairs (token-set Jaccard >= 0.8, "
        "same-source + length blocking) resolved into connected "
        "components; every document gets a canonical cluster_id (min id "
        "in its component), the cluster size, and the keep-one-per-"
        "cluster flag. Spark runs iterative min-label propagation "
        "(rounds = component diameter — tiny for dup clusters, which are "
        "near-cliques); the oracle replays it as a recursive-CTE "
        "transitive closure, so the iterative engine is exact-checked, "
        "not just smoke-tested. At 100 TB the pair-generation stage is "
        "the MinHash-LSH path and label propagation checkpoints to the "
        "lake between rounds.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _cluster_assignment(spark, sf_dir)
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (assigned.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id",
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    F.when(F.col("doc_id") == F.col("cluster_id"), 1)
                    .otherwise(0).cast("long").alias("is_keeper")))


@query(
    "cluster_keeper_quality",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM assigned
    )
    SELECT cluster_id, doc_id AS keeper_doc_id,
           CAST(n_chars AS BIGINT) AS keeper_n_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE r = 1
    """,
    "dedup", "corpus",
    doc="Quality-aware keeper selection: within each duplicate cluster "
        "keep the highest-quality document (longest, doc_id tie-break) "
        "instead of the arbitrary min-id — the policy real corpus dedup "
        "applies (retain the best copy, drop the rest). One max_by "
        "aggregate over the cluster assignment; composes the clustering "
        "with the quality signal.",
)
def cluster_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _cluster_assignment(spark, sf_dir)
    # argmax by (n_chars desc, doc_id asc) == max_by with an order tuple
    # that inverts doc_id; deterministic because doc_id is unique
    best = assigned.groupBy("cluster_id").agg(
        F.max_by(
            F.struct("doc_id", "n_chars"),
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")),
        ).alias("_best"),
        F.count(F.lit(1)).alias("cluster_size"))
    return best.select(
        "cluster_id",
        F.col("_best.doc_id").alias("keeper_doc_id"),
        F.col("_best.n_chars").cast("long").alias("keeper_n_chars"),
        F.col("cluster_size").cast("long").alias("cluster_size"))


def _check_iters(iters: int) -> None:
    # iteration 1 is unrolled and always runs, so iters=0 cannot mean
    # "the constant initial ranks"; refuse it instead of running one
    if iters < 1:
        raise ValueError(f"pagerank needs iters >= 1, got {iters}")


def _pagerank_sql(iters: int = 3) -> str:
    """Unrolled integer-exact PageRank oracle. Integer division is
    spelled (a - a % b) / b in BOTH engines: the quotient is then an
    exact integer well under 2^53, so the double division is lossless
    — a bare FLOOR(a/b) is NOT (at rank magnitudes the correctly-
    rounded double quotient can land above the true integer)."""
    _check_iters(iters)
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f"""
    r{k} AS MATERIALIZED (
      SELECT n.node,
             CAST(150000 + (85 * s.s - (85 * s.s) % 100) / 100
                  AS BIGINT) AS rank_e6
      FROM nodes n JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank_e6 - r.rank_e6 % d.deg) / d.deg)
                    AS BIGINT) AS s
        FROM edges e
        JOIN r{k - 1} r ON r.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )""")
    return f"""
    WITH raw AS (
      -- integer node ids: suppliers even (2k), customers odd (2k+1) —
      -- long join keys through 3 iterations, formatted only at output
      SELECT DISTINCT CAST(l.l_suppkey * 2 AS BIGINT) AS a,
             CAST(o.o_custkey * 2 + 1 AS BIGINT) AS b
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM raw
      UNION ALL
      SELECT b AS src, a AS dst FROM raw
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    deg AS MATERIALIZED (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
    ),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes),
    {','.join(rounds)}
    SELECT CASE WHEN r.node % 2 = 0
                THEN 's' || CAST(CAST(r.node / 2 AS BIGINT) AS VARCHAR)
                ELSE 'c' || CAST(CAST((r.node - 1) / 2 AS BIGINT)
                                 AS VARCHAR) END AS node,
           d.deg, r.rank_e6
    FROM r{iters} r JOIN deg d ON d.node = r.node
    """


@query(
    "pagerank_supplier_customer",
    _pagerank_sql(3),
    "graph", "scale",
    doc="Bounded-iteration PageRank (Page et al. 1999; damping 0.85, 3 "
        "iterations) over the undirected supplier-customer trade graph "
        "(distinct lineitem-orders pairs, both directions, so every "
        "node has degree >= 1 and no dangling mass). Cross-engine "
        "determinism scheme as dsir/bigram_lm: ranks live in INTEGER "
        "e6 units, per-edge contributions use exact integer division "
        "((r - r % deg) / deg), and the damped update is integer too — "
        "no float summation order anywhere, so three engines' sums "
        "can't drift. Scale shape: each iteration is one join of the "
        "rank table to the edge list + a map-side-combinable SUM by "
        "dst — the textbook iterative-dataflow pattern (Pregel's "
        "message sum) in DataFrame form; the degree table joins by "
        "key; 3 lazily-chained iterations keep the plan linear, and a "
        "production run would localCheckpoint per round exactly like "
        "operators/graph.connected_components. Oracle: the identical "
        "integer algorithm unrolled as materialized CTE rounds.",
)
def pagerank_supplier_customer(spark: SparkSession, sf_dir: str,
                               iters: int = 3) -> DataFrame:
    _check_iters(iters)
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                     "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    # no .distinct() on the pair stream: the adjacency groupBy below
    # dedups with collect_set, whose partial aggregation drops
    # duplicates map-side — the explicit distinct was a second full
    # shuffle of the edge list for nothing (adjacency verified
    # row-identical; contributions are integer sums, so neighbor
    # multiplicity/order cannot change any rank)
    raw = (l.join(o, l["l_orderkey"] == o["o_orderkey"])
           .select((F.col("l_suppkey") * 2).cast("long").alias("a"),
                   (F.col("o_custkey") * 2 + 1).cast("long").alias("b")))
    # Pregel/GraphX adjacency form: group the edge list ONCE into one
    # row per node (out-neighbor array + degree) and checkpoint THAT —
    # node-count rows instead of edge-count rows pinned, and each
    # iteration's join is node-table x rank-table on the same key (a
    # co-partitioned, AQE-broadcastable join) with the edge fan-out
    # happening transiently inside the explode. Without the checkpoint
    # the lineage re-runs the lineitem-orders join + distinct per
    # reference (measured 4.3 s -> 1.6 s at sf0.1); at cluster scale
    # this is the lake-table materialization of the adjacency table.
    # Power-law caveat: a hub node's whole neighbor array rides one
    # row; for web-graph degree distributions, segment hub adjacency
    # into bounded-length chunk rows (same plan — deg stays the TRUE
    # degree, contributions are unchanged).
    edges = (raw.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionAll(raw.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst"))))
    adj = (edges.groupBy(F.col("src").alias("node"))
           .agg(F.array_sort(F.collect_set("dst")).alias("dsts"))
           .select("node", "dsts",
                   F.size("dsts").cast("long").alias("deg"))
           ).localCheckpoint()
    # undirected doubling => every node has >= 1 in-edge, so the
    # per-round contribution sum already covers ALL nodes and no
    # nodes re-join is needed (the oracle's nodes JOIN is an identity)

    def idiv(a, b):
        return ((a - a % b) / b).cast("long")

    def step(contrib):
        return (contrib.groupBy(F.col("dst").alias("node"))
                .agg(F.sum("c").cast("long").alias("s"))
                .select("node",
                        (F.lit(150000)
                         + idiv(85 * F.col("s"), F.lit(100)))
                        .cast("long").alias("rank_e6")))

    # iteration 1 unrolled: the initial rank is the CONSTANT 1e6 for
    # every node, so round 1's adj-x-ranks join is an identity join of
    # the checkpointed adjacency with itself — compute the first
    # contribution straight from adj and skip that join outright
    # (A/B at sf0.1: 1.51 s -> 1.37 s best-of-3, rows equal)
    ranks = step(adj.select(
        F.explode("dsts").alias("dst"),
        idiv(F.lit(1000000).cast("long"), F.col("deg")).alias("c")))
    for _ in range(iters - 1):
        ranks = step(adj.join(ranks, "node")
                     .select(F.explode("dsts").alias("dst"),
                             idiv(F.col("rank_e6"), F.col("deg"))
                             .alias("c")))
    label = (F.when(F.col("node") % 2 == 0,
                    F.concat(F.lit("s"), (F.col("node") / 2).cast("long")))
             .otherwise(F.concat(F.lit("c"),
                                 ((F.col("node") - 1) / 2).cast("long"))))
    return ranks.join(adj.select("node", "deg"), "node").select(
        label.alias("node"), "deg", "rank_e6")


@query(
    "triangle_copurchase",
    """
    WITH pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT a, b FROM pairs WHERE w >= 2),
    tris AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    members AS (
      SELECT a AS part FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    )
    SELECT CAST(part AS BIGINT) AS part_key,
           CAST(COUNT(*) AS BIGINT) AS tri_count
    FROM members GROUP BY part
    """,
    "graph", "scale",
    doc="Triangle counting (market-basket 'frequently bought together' "
        "cliques): parts co-purchased in the same order at least twice "
        "form an edge; triangles are closed wedges, counted per node. "
        "The classic two-join dataflow form (Suri & Vassilvitskii's "
        "MR-triangle shape): edges ordered a<b by construction, wedge "
        "build = one self-join on the middle node, closure = one join "
        "back to the edge list, then an explode+count. Scale shape: "
        "pair generation groups each order's basket into a sorted "
        "array (ONE shuffle on l_orderkey) and expands i<j pairs "
        "inside a higher-order transform — per-order fan-out bounded "
        "by basket size, <= C(7,2) in TPC-H-like data, no self-join; "
        "the support-2 threshold prunes the edge list BEFORE the "
        "quadratic wedge step — the same support-pruning a production "
        "co-occurrence miner applies; a web-scale run would order "
        "endpoints by degree instead of id (same plan, provably "
        "O(m^1.5) wedges). All equi-joins, no cartesian (plan-"
        "asserted); AQE broadcasts the pruned edge list when small.",
)
def triangle_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_partkey")
    # pair generation WITHOUT a self-join: one shuffle groups each
    # order's basket into a sorted array, and the i<j pairs expand
    # inside a higher-order transform (whole-stage codegen, fan-out
    # bounded by basket size). The value filter ea<eb drops same-part
    # duplicate rows exactly like the oracle's a.l_partkey<b.l_partkey
    # row predicate; equal parts in one basket contribute C(k,2)
    # (ea,eb) instances on both sides. Measured 20% faster than the
    # orderkey self-join at sf0.1 and half the shuffle volume.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("ps"))
    prs = baskets.select(F.explode(F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i+2, size(ps)), "
        "y -> struct(x AS ea, y AS eb))))")).alias("p")) \
        .where(F.col("p.ea") < F.col("p.eb"))
    # pin the PRUNED edge list: all three join branches reference it,
    # and AQE's exchange reuse only dedups the exchange — the
    # post-shuffle aggregation of the pair stream still ran once per
    # branch (3x at sf0.1; measured 2.18 -> 1.74 s). The checkpoint
    # point is the natural one: support-2 pruning has already shrunk
    # the edge list far below the pair stream, and a production run
    # would lake-materialize exactly this table before the quadratic
    # wedge step (same pattern as the pagerank adjacency pin).
    # NOTE: localCheckpoint is EAGER by default — building this plan
    # runs a Spark job, and executor-local blocks are not
    # fault-tolerant; on a multi-node cluster use reliable
    # checkpointing or the lake materialization above (ADVICE r11).
    edges = (prs.groupBy(F.col("p.ea").alias("ea"),
                         F.col("p.eb").alias("eb"))
             .agg(F.count(F.lit(1)).alias("w"))
             .where(F.col("w") >= 2)
             .select("ea", "eb")).localCheckpoint()
    e1 = edges.select(F.col("ea").alias("a"), F.col("eb").alias("b"))
    e2 = edges.select(F.col("ea").alias("b"), F.col("eb").alias("c"))
    e3 = edges.select(F.col("ea").alias("a"), F.col("eb").alias("c"))
    tris = (e1.join(e2, "b")
            .join(e3, ["a", "c"])
            .select("a", "b", "c"))
    members = (tris.select(F.col("a").alias("part"))
               .unionAll(tris.select(F.col("b").alias("part")))
               .unionAll(tris.select(F.col("c").alias("part"))))
    return members.groupBy(F.col("part").cast("long").alias("part_key")) \
        .agg(F.count(F.lit(1)).cast("long").alias("tri_count"))
