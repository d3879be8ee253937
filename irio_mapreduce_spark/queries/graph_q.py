"""Graph-analytics catalog queries: fixed-iteration PageRank over the
customer–supplier purchase graph (who-buys-from-whom), mirrored so every
node has out-edges. Complements the two connectivity entries
(`dedup_cluster_components` driver-loop, `recursive_cte_hierarchy`
in-engine recursion) with the third iterative-algorithm shape: a fixed
unrolled iteration whose fixed-point integer arithmetic is cross-engine
exact, so the DuckDB oracle replays the identical three rounds as chained
CTEs. (A float formulation was tried first and diverged in the last ulp on
5/1600 nodes — see ``operators.graph.pagerank``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.operators.graph import (
    PAGERANK_SCALE,
    bfs_hops,
    connected_components,
    kcore_peel,
    label_propagation,
    multi_source_bfs,
    pagerank,
    triangle_count,
    truss_peel_rounds,
)
from irio_mapreduce_spark.queries.catalog import register

# One PageRank round in DuckDB, matching operators.graph.pagerank exactly:
# contribution = ri // outdeg (BIGINT floor division), exact BIGINT sum,
# update = (15*SCALE) // (100*N) + (85*sum) // 100 — all integer ops.
# Like the operator, ranks are rebuilt over the FULL node universe (deg)
# with a LEFT JOIN onto the contribution sums, so a zero-in-degree node
# keeps its teleport share — a GROUP BY e.dst alone would drop it (on the
# mirrored purchase graph both forms agree; the left join keeps the
# fragment faithful for any no-dangling-node graph).
_PR_ROUND = f"""
    {{out}} AS (
      SELECT d0.src AS node,
             ({15 * PAGERANK_SCALE} // (100 * n.n))
               + ((85 * COALESCE(c.s, CAST(0 AS BIGINT))) // 100) AS ri
      FROM deg d0
        CROSS JOIN n
        LEFT JOIN (
          SELECT e.dst, CAST(sum(r.ri // d.outdeg) AS BIGINT) AS s
          FROM edges e
            JOIN {{prev}} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
          GROUP BY e.dst) c ON c.dst = d0.src)
"""


@register(
    "graph_pagerank_purchases",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
                      concat('S', CAST(l_suppkey AS VARCHAR)) AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL
              SELECT s, c FROM pairs),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS node, {PAGERANK_SCALE} // n.n AS ri FROM deg, n),
    {_PR_ROUND.format(out="r1", prev="r0")},
    {_PR_ROUND.format(out="r2", prev="r1")},
    {_PR_ROUND.format(out="r3", prev="r2")}
    SELECT node,
           CAST(ri AS BIGINT) AS pr_fp,
           ri / {PAGERANK_SCALE} AS pr
    FROM r3
    """,
)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three PageRank iterations over the mirrored customer–supplier
    purchase graph (distinct (custkey, suppkey) pairs from orders ⋈
    lineitem; mirroring removes dangling mass). High-rank suppliers are
    hubs serving many well-connected customers — the graph-centrality
    quality signal of a curation pipeline (e.g. host-level link authority
    at web scale). Exactness (fixed-point BIGINT micro-ranks) and the
    per-round shuffle budget are documented in
    ``operators.graph.pagerank``; the oracle unrolls the identical three
    rounds as chained CTEs."""
    edges = _purchase_edges(spark, sf_dir)
    return pagerank(edges, "src", "dst", iterations=3)


@register(
    "graph_triangle_cosupply",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        JOIN orders o ON o.o_orderkey = a.l_orderkey
      WHERE o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31')
    SELECT CAST((SELECT count(DISTINCT n) FROM (
             SELECT s1 AS n FROM e UNION ALL SELECT s2 FROM e)) AS BIGINT)
             AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*)
                 FROM e e1
                   JOIN e e2 ON e2.s1 = e1.s2
                   JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)
                AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the supplier CO-SUPPLY graph (suppliers
    joined when they ship lines of the same order) over one quarter of
    orders — the clustering-structure signal of graph curation (dense
    triangles = tightly coupled supplier cliques). The quarter filter is a
    pushed-down predicate on ``orders`` (partition-prunable at scale); the
    operator is the degree-orientation algorithm whose O(E^{3/2}) bound
    and shuffle budget are documented in
    ``operators.graph.triangle_count``. The oracle counts the same
    triangles via the naive ordered-triple join (a < b < c), which must
    agree exactly with the oriented enumeration."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-03-31")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .join(
            orders.select("o_orderkey"),
            F.col("a.l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
    )
    return triangle_count(pairs, "s1", "s2")


@register(
    "graph_bfs_purchases",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
                      concat('S', CAST(l_suppkey AS VARCHAR)) AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    h0 AS (
      SELECT DISTINCT concat('C', CAST(c_custkey AS VARCHAR)) AS node
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'),
    h1 AS (SELECT DISTINCT e.dst AS node FROM h0 JOIN edges e ON e.src = h0.node
           WHERE e.dst NOT IN (SELECT node FROM h0)),
    h2 AS (SELECT DISTINCT e.dst AS node FROM h1 JOIN edges e ON e.src = h1.node
           WHERE e.dst NOT IN (SELECT node FROM h0)
             AND e.dst NOT IN (SELECT node FROM h1)),
    h3 AS (SELECT DISTINCT e.dst AS node FROM h2 JOIN edges e ON e.src = h2.node
           WHERE e.dst NOT IN (SELECT node FROM h0)
             AND e.dst NOT IN (SELECT node FROM h1)
             AND e.dst NOT IN (SELECT node FROM h2))
    SELECT hops, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM (SELECT node, 0 AS hops FROM h0
          UNION ALL SELECT node, 1 FROM h1
          UNION ALL SELECT node, 2 FROM h2
          UNION ALL SELECT node, 3 FROM h3)
    GROUP BY hops
    """,
)
def graph_bfs_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-hop BFS over the mirrored customer–supplier purchase
    graph from one nation's customers (supply-chain blast radius: which
    suppliers/customers are within 3 purchase hops of one nation's customer
    base). Per-hop roll-up (count + min/max node) keeps the output
    driver-comparable at any scale; ``operators.graph.bfs_hops`` runs the
    frontier-relaxation kernel ``operators.graph._frontier_relax`` with
    unit weights, whose round structure, shuffle budget and barrier
    policy are documented there. The oracle unrolls the same three
    frontier expansions as chained CTEs — hop distances are integers, so
    the match is exact by construction."""
    edges = _purchase_edges(spark, sf_dir)
    sources = _nation_customers(spark, sf_dir, "NATION_7")
    dist = bfs_hops(edges, sources, "src", "dst", "node", max_hops=3)
    return dist.groupBy("hops").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# One PERSONALIZED PageRank round in DuckDB: identical integer arithmetic
# to _PR_ROUND, but the (1-d) teleport term is paid only to members of the
# source set (in_s flag on the node universe) — matching
# operators.graph.pagerank(..., sources=...) exactly.
_PPR_ROUND = f"""
    {{out}} AS (
      SELECT f.node,
             (CASE WHEN f.in_s = 1
                   THEN {15 * PAGERANK_SCALE} // (100 * ns.n) ELSE 0 END)
               + ((85 * COALESCE(c.s, CAST(0 AS BIGINT))) // 100) AS ri
      FROM flagged f
        CROSS JOIN ns
        LEFT JOIN (
          SELECT e.dst, CAST(sum(r.ri // d.outdeg) AS BIGINT) AS s
          FROM edges e
            JOIN {{prev}} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
          GROUP BY e.dst) c ON c.dst = f.node)
"""


@register(
    "graph_pagerank_personalized",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
                      concat('S', CAST(l_suppkey AS VARCHAR)) AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    s0 AS (
      SELECT DISTINCT concat('C', CAST(c_custkey AS VARCHAR)) AS node
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'),
    flagged AS (
      SELECT d.src AS node,
             CASE WHEN s0.node IS NOT NULL THEN 1 ELSE 0 END AS in_s
      FROM deg d LEFT JOIN s0 ON s0.node = d.src),
    ns AS (SELECT CAST(sum(in_s) AS BIGINT) AS n FROM flagged),
    r0 AS (SELECT node,
                  CASE WHEN in_s = 1 THEN {PAGERANK_SCALE} // ns.n
                       ELSE 0 END AS ri
           FROM flagged, ns),
    {_PPR_ROUND.format(out="r1", prev="r0")},
    {_PPR_ROUND.format(out="r2", prev="r1")},
    {_PPR_ROUND.format(out="r3", prev="r2")}
    SELECT node,
           CAST(ri AS BIGINT) AS pr_fp,
           ri / {PAGERANK_SCALE} AS pr
    FROM r3 WHERE ri > 0
    """,
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) over the mirrored
    purchase graph, teleporting only onto NATION_7's customers — "which
    customers and suppliers are structurally closest to this nation's
    customer base", the recommendation/trust-rank primitive that global
    PageRank (`graph_pagerank_purchases`) cannot express: rank here is
    proximity to the source set, so after 3 rounds only nodes within 3
    hops carry mass (the ``ri > 0`` filter makes that support explicit
    on both sides). Same fixed-point BIGINT arithmetic and per-round
    Pregel shuffle pair as the global entry — the S-membership flag
    rides the node table, so personalization adds one init-time
    semi-join and zero per-round cost
    (``operators.graph.pagerank`` with ``sources=``). The oracle unrolls the
    identical three personalized rounds as chained CTEs."""
    edges = _purchase_edges(spark, sf_dir)
    sources = _nation_customers(spark, sf_dir, "NATION_7")
    return pagerank(
        edges, "src", "dst", iterations=3, sources=sources, source_col="node"
    ).filter(F.col("pr_fp") > 0)


@register(
    "graph_pagerank_components",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 2 * o_custkey AS u, 2 * l_suppkey + 1 AS v
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        AND o_custkey % 5 = 0),
    bsym AS (SELECT u, v FROM base UNION SELECT v, u FROM base),
    bnodes AS (SELECT DISTINCT u AS n FROM bsym),
    reach(id, r) AS (
      SELECT n, n FROM bnodes
      UNION
      SELECT e.v, reach.r FROM reach JOIN bsym e ON e.u = reach.id),
    comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
    yr AS (
      SELECT DISTINCT 2 * o_custkey AS u, 2 * l_suppkey + 1 AS v
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        AND o_custkey % 5 = 0),
    ce AS (
      SELECT DISTINCT least(coalesce(cu.c, y.u), coalesce(cv.c, y.v)) AS a,
                      greatest(coalesce(cu.c, y.u), coalesce(cv.c, y.v)) AS b
      FROM yr y
        LEFT JOIN comp cu ON cu.id = y.u
        LEFT JOIN comp cv ON cv.id = y.v
      WHERE coalesce(cu.c, y.u) <> coalesce(cv.c, y.v)),
    edges AS (SELECT a AS src, b AS dst FROM ce
              UNION ALL SELECT b, a FROM ce),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS node, {PAGERANK_SCALE} // n.n AS ri FROM deg, n),
    {_PR_ROUND.format(out="r1", prev="r0")},
    {_PR_ROUND.format(out="r2", prev="r1")},
    {_PR_ROUND.format(out="r3", prev="r2")}
    SELECT CAST(node AS BIGINT) AS node,
           CAST(ri AS BIGINT) AS pr_fp,
           ri / {PAGERANK_SCALE} AS pr
    FROM r3
    """,
)
def graph_pagerank_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC→RANK pipeline in ONE chained plan: connected components of
    the January-1995 purchase graph (``operators.graph.
    connected_components``, min-label propagation), then every node of
    the full-1995 purchase graph CONTRACTED to its January component
    (nodes outside January label themselves), and three fixed-point PageRank
    rounds over the contracted supergraph — "which January supplier
    communities stay central over the whole year". This is the standard
    coarsening move for trillion-edge graphs: contract locally-dense
    clusters first, rank the quotient graph, and the rank table shrinks
    from |nodes| to |components|.

    Exactness: node ids are disjoint integers (customer 2k, supplier
    2k+1, pure arithmetic both sides); component labels are min node ids
    (the connected-components contract, fixpoint-checked); contracted edges
    canonicalize as distinct (least, greatest) pairs before mirroring so
    neither engine double-counts a mixed-orientation pair; the rank
    arithmetic is the BIGINT fixed-point of ``operators.graph.pagerank``.
    The oracle recomputes the components with a RECURSIVE reachability
    CTE — the whole closure, not a frontier loop — so the hash match pins
    the component semantics, not the implementation."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).filter(F.col("o_custkey") % 5 == 0)
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")

    def pairs(date_lo: str, date_hi: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderdate").between(date_lo, date_hi))
            .join(li, orders["o_orderkey"] == li["l_orderkey"])
            .select(
                (F.col("o_custkey") * 2).alias("u"),
                (F.col("l_suppkey") * 2 + 1).alias("v"),
            )
            .distinct()
        )

    comp = connected_components(
        pairs("1995-01-01", "1995-01-31"), "u", "v", id_col="id"
    )
    yr = pairs("1995-01-01", "1995-12-31")
    cu = comp.select(F.col("id").alias("u"), F.col("component").alias("cu"))
    cv = comp.select(F.col("id").alias("v"), F.col("component").alias("cv"))
    # label-map joins are plain equi-joins: AQE broadcasts them here (the
    # contraction window is one month), and falls back to a shuffle join
    # when the component map outgrows the broadcast budget at full scale
    labeled = (
        yr.join(cu, "u", "left")
        .join(cv, "v", "left")
        .select(
            F.coalesce("cu", "u").alias("la"), F.coalesce("cv", "v").alias("lb")
        )
        .filter(F.col("la") != F.col("lb"))
        .select(F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b"))
        .distinct()
    )
    edges = labeled.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        labeled.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return pagerank(edges, "src", "dst", iterations=3).select(
        F.col("node").cast("long").alias("node"), "pr_fp", "pr"
    )


_LPA_ROUND = """
    v{r} AS (
      SELECT e.src AS vnode, r.lab AS vlab, count(*) AS c
      FROM edges e JOIN lp{p} r ON r.node = e.dst
      GROUP BY 1, 2),
    p{r} AS (
      SELECT vnode, vlab FROM (
        SELECT vnode, vlab,
               row_number() OVER (
                 PARTITION BY vnode ORDER BY c DESC, vlab) AS rn
        FROM v{r})
      WHERE rn = 1),
    lp{r} AS (
      SELECT l.node, coalesce(p.vlab, l.lab) AS lab
      FROM lp{p} l LEFT JOIN p{r} p ON p.vnode = l.node)
"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
                      concat('S', CAST(l_suppkey AS VARCHAR)) AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    lp0 AS (SELECT node, node AS lab FROM nodes),
    {_LPA_ROUND.format(r=1, p=0)},
    {_LPA_ROUND.format(r=2, p=1)}
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n,
           min(node) AS min_node, max(node) AS max_node
    FROM lp2 GROUP BY lab
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds over the mirrored
    purchase graph, rolled up per community — behavioral community
    discovery (customer/supplier cliques) as the fourth iterative-graph
    shape beside PageRank, connected components, and BFS. The
    deterministic (count DESC, label ASC) tie-break replaces textbook
    LPA's random tie coin — the property that makes a cross-engine
    oracle possible at all; shuffle budget and the per-round checkpoint
    discipline are documented in ``operators.graph.label_propagation``.
    The oracle replays both rounds as chained CTEs."""
    edges = _purchase_edges(spark, sf_dir)
    labels = label_propagation(edges, "src", "dst", iterations=2)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("n"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


_KCORE_ROUND = """
    deg{r} AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT s1 AS n FROM e{p} UNION ALL SELECT s2 FROM e{p})
      GROUP BY n),
    e{r} AS (
      SELECT s1, s2 FROM e{p}
      WHERE s1 IN (SELECT n FROM deg{r} WHERE d >= {k})
        AND s2 IN (SELECT n FROM deg{r} WHERE d >= {k}))
"""


@register(
    "graph_kcore_cosupply",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        JOIN orders o ON o.o_orderkey = a.l_orderkey
      WHERE o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
    {_KCORE_ROUND.format(r=1, p=0, k=8)},
    {_KCORE_ROUND.format(r=2, p=1, k=8)},
    {_KCORE_ROUND.format(r=3, p=2, k=8)}
    SELECT n AS node, d AS degree
    FROM (SELECT n, CAST(count(*) AS BIGINT) AS d
          FROM (SELECT s1 AS n FROM e3 UNION ALL SELECT s2 FROM e3)
          GROUP BY n)
    WHERE d >= 8
    """,
)
def graph_kcore_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three k-core peeling rounds (k=8) of the quarterly supplier
    co-supply graph — dense-core extraction for graph-quality curation
    (the fifth iterative-graph shape: PageRank, connected components,
    BFS, LPA, and now peeling). Round dataflow and the
    bounded-vs-converged contract are documented in
    ``operators.graph.kcore_peel``; the oracle replays the identical
    three rounds as chained CTEs (peeling is monotone, so integers
    match exactly round for round)."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-03-31")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .join(
            orders.select("o_orderkey"),
            F.col("a.l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
    )
    return kcore_peel(pairs, "s1", "s2", k=8, rounds=3)


@register(
    "graph_sssp_weighted",
    oracle="""
    WITH pairs AS (
      SELECT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
             concat('S', CAST(l_suppkey AS VARCHAR)) AS s,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_ord
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    edges AS (
      SELECT c AS src, s AS dst, CAST(1000000 // n_ord AS BIGINT) AS w
      FROM pairs
      UNION ALL
      SELECT s, c, CAST(1000000 // n_ord AS BIGINT) FROM pairs),
    d0 AS (
      SELECT DISTINCT concat('C', CAST(c_custkey AS VARCHAR)) AS node,
             CAST(0 AS BIGINT) AS dist
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'),
    d1 AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.dst, d0.dist + e.w FROM d0 JOIN edges e ON e.src = d0.node)
      GROUP BY node),
    d2 AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT e.dst, d1.dist + e.w FROM d1 JOIN edges e ON e.src = d1.node)
      GROUP BY node),
    d3 AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT e.dst, d2.dist + e.w FROM d2 JOIN edges e ON e.src = d2.node)
      GROUP BY node)
    SELECT node, dist FROM d3 WHERE dist > 0
    ORDER BY dist, node LIMIT 20
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (bounded Bellman-Ford, 3
    relaxation rounds) over the mirrored customer–supplier purchase graph:
    edge cost ``1000000 div n_orders`` makes strongly-connected pairs
    cheap to traverse, so the result ranks the 20 counterparties most
    tightly coupled to NATION_3's customer base through at most 3
    purchase hops — the weighted twin of ``graph_bfs_purchases``.
    All-integer costs (floor division both engines truncate identically
    on positives), so the oracle's 3 unrolled full-relaxation CTE rounds
    match the frontier-based Spark rounds exactly (a node that did not
    improve has already propagated its distance). Round structure, barrier
    policy and scale notes in ``operators.graph._frontier_relax``, the
    kernel under ``sssp_rounds``."""
    from irio_mapreduce_spark.operators.graph import sssp_rounds

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .agg(F.countDistinct("o_orderkey").alias("n_ord"))
        .select(
            "c", "s", F.expr("CAST(1000000 div n_ord AS BIGINT)").alias("w")
        )
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )
    sources = _nation_customers(spark, sf_dir, "NATION_3")
    dist = sssp_rounds(edges, sources, "src", "dst", "w", "node", rounds=3)
    return (
        dist.where(F.col("dist") > 0)
        .orderBy(F.col("dist").asc(), F.col("node").asc())
        .limit(20)
    )


@register(
    "graph_hits_hubs_authorities",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS c,
                      concat('S', CAST(l_suppkey AS VARCHAR)) AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    a1 AS (SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS a
           FROM edges GROUP BY s),
    h1 AS (SELECT c, CAST(sum(a1.a) AS BIGINT) AS h
           FROM edges JOIN a1 USING (s) GROUP BY c),
    a2 AS (SELECT s, CAST(sum(h1.h) AS BIGINT) AS a
           FROM edges JOIN h1 USING (c) GROUP BY s),
    h2 AS (SELECT c, CAST(sum(a2.a) AS BIGINT) AS h
           FROM edges JOIN a2 USING (s) GROUP BY c),
    top_a AS (SELECT 'authority' AS role, s AS node, a AS score
              FROM a2 ORDER BY a DESC, s LIMIT 10),
    top_h AS (SELECT 'hub' AS role, c AS node, h AS score
              FROM h2 ORDER BY h DESC, c LIMIT 10)
    SELECT role, node, score FROM top_a
    UNION ALL SELECT role, node, score FROM top_h
    """,
)
def graph_hits_hubs_authorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities, 2 unnormalized rounds) on the
    directed customer→supplier purchase graph: authorities are the
    suppliers the best-connected customers concentrate on, hubs the
    customers whose purchases span the strongest suppliers — the
    mutual-reinforcement ranking PageRank's single score cannot express
    (a node can be a great hub and a poor authority). Each half-round is
    one sparse mat-vec as a join+groupBy, the same shape as
    ``operators.graph.pagerank`` rounds. Kept EXACT by running the
    classic power iteration UNNORMALIZED for a fixed 2 rounds — scores
    stay pure BIGINT sums (magnitude ≤ deg³·SCALE, far inside BIGINT at
    any tested SF), so no division, no float, no per-round norm
    broadcast; rankings are normalization-invariant. Top-10 per role
    with (score DESC, node) ties — deterministic."""
    edges = barrier(_purchase_pairs(spark, sf_dir))
    a1 = edges.groupBy("s").agg(
        (F.count("*").cast("long") * F.lit(1000000)).alias("a")
    )
    h1 = (
        edges.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        edges.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    h2 = (
        edges.join(a2, "s")
        .groupBy("c")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    top_a = (
        a2.orderBy(F.col("a").desc(), F.col("s").asc())
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("s").alias("node"),
            F.col("a").alias("score"),
        )
    )
    top_h = (
        h2.orderBy(F.col("h").desc(), F.col("c").asc())
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node"),
            F.col("h").alias("score"),
        )
    )
    return top_a.unionByName(top_h)


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) purchase pairs from orders ⋈
    lineitem, as string node ids ``c`` = 'C<custkey>', ``s`` =
    'S<suppkey>' — the bipartite graph of the PageRank, BFS, label
    propagation and HITS entries."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase pairs mirrored into a directed ``(src, dst)`` edge
    list, so every node has out-edges (no dangling mass)."""
    pairs = _purchase_pairs(spark, sf_dir)
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _nation_customers(spark: SparkSession, sf_dir: str, n_name: str) -> DataFrame:
    """One nation's customers as purchase-graph node ids (``node`` =
    'C<custkey>'): the source set of the BFS, personalized PageRank and
    SSSP entries."""
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == n_name)
    return (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("node")
        )
    )


_COSUPPLY_EDGES_SQL = """
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
      JOIN orders ON a.l_orderkey = o_orderkey
      WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-03-31'
"""


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct quarterly co-supply edges (s1 < s2) — the shared graph of
    the triangle/k-core entries (graph_triangle_cosupply docstring has
    the shuffle budget).

    r12 (guide §3.2/§3.3, §2.4): two structural fixes, results identical.
    (a) The selective quarter filter now reduces lineitem with a semi-join
    BEFORE the self-join — the old plan self-joined the FULL lineitem and
    only then dropped ~96% of the product against the filtered orders;
    inner⋈ on the unique o_orderkey commutes with the self-join, and the
    semi-join form cannot duplicate rows regardless of key multiplicity.
    (b) The distinct edge list goes behind an eager barrier: every caller
    references it several times in one plan (adjacency mirror + degree +
    wedge sides + anti-join), and without the barrier Catalyst replays
    the join-distinct subtree per reference (5x in the link-prediction
    entry). The edge list is orders-of-magnitude smaller than lineitem —
    materializing it once is the guide's truncate-the-plan move."""
    oq = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-03-31"))
        .select("o_orderkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(oq, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    a = li.alias("a")
    b = li.alias("b")
    return barrier(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"),
            F.col("b.l_suppkey").alias("s2"),
        )
        .distinct()
    )


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH edges AS ({_COSUPPLY_EDGES_SQL}),
    adj AS (
      SELECT s1 AS u, s2 AS v FROM edges
      UNION ALL SELECT s2, s1 FROM edges),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    cand AS (
      SELECT a.u AS u, b.u AS v, CAST(count(*) AS BIGINT) AS common
      FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
      GROUP BY 1, 2),
    nonadj AS (
      SELECT c.* FROM cand c
      LEFT JOIN edges e ON c.u = e.s1 AND c.v = e.s2
      WHERE e.s1 IS NULL),
    scored AS (
      SELECT n.u, n.v, n.common,
             CAST(du.d + dv.d - n.common AS BIGINT) AS un,
             CAST(n.common * 1000000 // (du.d + dv.d - n.common)
                  AS BIGINT) AS jaccard_ppm
      FROM nonadj n
      JOIN deg du ON n.u = du.u JOIN deg dv ON n.v = dv.u)
    SELECT u, v, common, un, jaccard_ppm
    FROM scored
    ORDER BY jaccard_ppm DESC, u, v LIMIT 20
    """,
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JACCARD LINK PREDICTION — score NON-adjacent supplier pairs by
    neighborhood overlap |N(u)∩N(v)| / |N(u)∪N(v)|: the classic
    "who should be connected next" primitive (also the graph-side twin
    of the MinHash document Jaccard in llm/dedup.py). Candidate pairs
    come from ONE equi-join of the adjacency list with itself on the
    common neighbor — cost Σ_w deg(w)², the standard wedge budget shared
    with triangle counting, never an all-pairs product — followed by an
    anti-join against the edge set (predict only MISSING links) and a
    broadcast-able degree join. Scores are exact ppm integers
    (common·10⁶ div union — both engines floor positive operands), so
    the top-20 cut is deterministic with the (u, v) tie-break. At
    100 TB: hub-capping the adjacency list bounds the wedge fan-out; the
    score join stays co-partitioned on u."""
    edges = _cosupply_edges(spark, sf_dir)
    adj = edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("v")
    ).unionAll(edges.select(F.col("s2").alias("u"), F.col("s1").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    a = adj.alias("a")
    b = adj.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    nonadj = cand.join(
        edges,
        (cand["u"] == edges["s1"]) & (cand["v"] == edges["s2"]),
        "left_anti",
    )
    du = deg.alias("du")
    dv = deg.alias("dv")
    scored = (
        nonadj.join(du, nonadj["u"] == F.col("du.u"))
        .join(dv, nonadj["v"] == F.col("dv.u"))
        .select(
            nonadj["u"],
            nonadj["v"],
            "common",
            (F.col("du.d") + F.col("dv.d") - F.col("common"))
            .cast("long")
            .alias("un"),
            F.expr("common * 1000000 div (du.d + dv.d - common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_ppm"), "u", "v"
    ).limit(20)


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH edges AS ({_COSUPPLY_EDGES_SQL}),
    adj AS (
      SELECT s1 AS u, s2 AS v FROM edges
      UNION ALL SELECT s2, s1 FROM edges),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON adj.u = du.u JOIN deg dv ON adj.v = dv.u),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ends)
    SELECT m,
           CAST(m * sxy - sx * sy AS BIGINT) AS num,
           CAST(m * sxx - sx * sx AS BIGINT) AS den_x,
           CAST(m * syy - sy * sy AS BIGINT) AS den_y,
           CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
                THEN NULL
                ELSE CAST(m * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
           END AS r
    FROM mom
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEGREE ASSORTATIVITY — do well-connected suppliers co-supply with
    other well-connected suppliers (r > 0) or with the periphery
    (r < 0)? Pearson correlation of endpoint degrees over the DIRECTED
    doubling of the edge set (each undirected edge contributes both
    orientations, the standard symmetrization that makes x/y moments
    equal in expectation). Dataflow: degree count (one groupBy), two
    broadcast-able degree joins onto the edge list, then exact BIGINT
    moments and the ``stats_spearman_rank`` finish — a fixed sequence of
    correctly-rounded IEEE ops, so the unrounded DOUBLE hash-matches.
    100 TB: degrees are a map-side-combinable count, the joins are
    co-partitioned on node id, and the moments are one partial-agg scan
    of the edge list."""
    edges = _cosupply_edges(spark, sf_dir)
    adj = edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("v")
    ).unionAll(edges.select(F.col("s2").alias("u"), F.col("s1").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    du = deg.alias("du")
    dv = deg.alias("dv")
    e = adj.alias("e")
    ends = (
        e.join(du, F.col("e.u") == F.col("du.u"))
        .join(dv, F.col("e.v") == F.col("dv.u"))
        .select(F.col("du.d").alias("x"), F.col("dv.d").alias("y"))
    )
    from irio_mapreduce_spark.operators.stats import pearson_exact

    # a degenerate graph (all degrees equal, e.g. the tiny-sf corpus
    # collapsing to isolated edges) has zero variance on both axes: the
    # helper yields NULL r, never an ANSI DIVIDE_BY_ZERO
    return pearson_exact(ends).select(
        F.col("n").alias("m"), "num", "den_x", "den_y", "r"
    )


@register(
    "graph_modularity_components",
    oracle=f"""
    WITH RECURSIVE edges AS ({_COSUPPLY_EDGES_SQL}),
    sym AS (SELECT s1 AS u, s2 AS v FROM edges
            UNION SELECT s2, s1 FROM edges),
    nodes AS (SELECT DISTINCT u AS n FROM sym),
    reach(id, r) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.v, reach.r FROM reach JOIN sym e ON e.u = reach.id),
    comp AS (SELECT id, CAST(min(r) AS BIGINT) AS c FROM reach GROUP BY id),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    ec AS (
      SELECT cu.c, CAST(count(*) AS BIGINT) AS e_c
      FROM edges JOIN comp cu ON edges.s1 = cu.id GROUP BY 1),
    dc AS (
      SELECT comp.c, CAST(count(*) AS BIGINT) AS d_c,
             CAST(count(DISTINCT sym.u) AS BIGINT) AS n_nodes
      FROM sym JOIN comp ON sym.u = comp.id GROUP BY 1)
    SELECT dc.c AS component, dc.n_nodes, ec.e_c, dc.d_c,
           CAST(4 * m.m * ec.e_c - dc.d_c * dc.d_c AS BIGINT) AS q_term
    FROM dc JOIN ec ON dc.c = ec.c CROSS JOIN m
    """,
)
def graph_modularity_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MODULARITY OF A PARTITION — the community-quality score every
    clustering pipeline reports: Q = Σ_c (e_c/m − (d_c/2m)²), here for
    the connected-component partition of the quarterly co-supply graph
    (an upper-bound partition: every edge is intra-community, so Q
    measures how far the degree distribution is from one giant hub).
    Scaling by 4m² clears every denominator — q_term = 4m·e_c − d_c² is
    an exact BIGINT per component and Q = Σ q_term / 4m² — so the score
    is integer-exact, the fixed-point discipline of the PageRank family.
    Components come from ``operators.graph.connected_components``
    (min-label propagation, a barrier per round); per-component edge and
    degree masses are two co-partitioned joins against the label table.
    The oracle recomputes components with a recursive-CTE reachability
    closure — a genuinely different algorithm, so the hash match pins
    the partition itself, not the implementation."""
    edges = _cosupply_edges(spark, sf_dir)
    cc = connected_components(edges, "s1", "s2")
    sym = edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("v")
    ).unionAll(edges.select(F.col("s2").alias("u"), F.col("s1").alias("v")))
    m = edges.agg(F.count("*").cast("long").alias("m"))
    ec = (
        edges.join(cc, edges["s1"] == cc["id"])
        .groupBy(F.col("component").alias("c"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    dc = (
        sym.join(cc, sym["u"] == cc["id"])
        .groupBy(F.col("component").alias("c"))
        .agg(
            F.count("*").cast("long").alias("d_c"),
            F.countDistinct("u").cast("long").alias("n_nodes"),
        )
    )
    return (
        dc.join(ec, "c")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("component"),
            "n_nodes",
            "e_c",
            "d_c",
            (4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c"))
            .cast("long")
            .alias("q_term"),
        )
    )


@register(
    "graph_closeness_centrality",
    oracle=f"""
    WITH RECURSIVE edges AS ({_COSUPPLY_EDGES_SQL}),
    sym AS (SELECT s1 AS src, s2 AS dst FROM edges
            UNION SELECT s2, s1 FROM edges),
    seeds AS (SELECT DISTINCT src AS seed FROM sym
              ORDER BY seed LIMIT 8),
    walk(seed, node, d) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT w.seed, s.dst, w.d + 1
      FROM walk w JOIN sym s ON w.node = s.src
      WHERE w.d < 4),
    best AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2)
    SELECT seed,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(sum(d) AS BIGINT) AS dist_sum,
           CAST(CASE WHEN sum(d) = 0 THEN NULL
                     ELSE ((count(*) - 1) * 1000000) // sum(d)
                END AS BIGINT) AS closeness_ppm
    FROM best GROUP BY seed
    """,
)
def graph_closeness_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLOSENESS CENTRALITY (4-hop-bounded) for the 8 lowest-id supplier
    nodes of the quarterly co-supply graph: C(s) = (reached−1)/Σd over
    the nodes within the hop bound — the "how central is this hub"
    score, here in exact parts-per-million fixed point (BIGINT div, the
    PageRank-family discipline; NULL for an isolated seed). Built on
    ``operators.graph.multi_source_bfs``: the seed label rides the
    frontier, so 8 seeds cost ONE traversal with 8-wide frontiers — at
    100 TB the per-round cost is the frontier⋈edges join on a
    pre-partitioned edge list, never k separate sweeps. The bounded-hop
    variant IS the production form (unbounded closeness on a
    small-world graph reads the whole component per seed); the bound is
    a semantic parameter, identical on both sides. Oracle: recursive-CTE
    walk with the same cap, min-distance per (seed, node)."""
    edges = _cosupply_edges(spark, sf_dir)
    sym = edges.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionByName(
        edges.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    seeds = (
        sym.select(F.col("src").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(8)
    )
    dist = multi_source_bfs(sym, seeds, "src", "dst", "seed", max_hops=4)
    return dist.groupBy("seed").agg(
        (F.count("*") - 1).cast("long").alias("n_reached"),
        F.sum("hops").cast("long").alias("dist_sum"),
        F.when(
            F.sum("hops") == 0, F.lit(None).cast("long")
        )
        .otherwise(
            F.expr("((count(*) - 1) * 1000000) div sum(hops)")
        )
        .alias("closeness_ppm"),
    )


def _matching_round_sql(e: str, m: str, e_next: str, rnd: int) -> str:
    """One unrolled local-max round for the oracle: edges whose weight-
    rank is 1 on BOTH endpoints match; survivors drop matched vertices."""
    return f"""
    {m} AS (
      SELECT p, s, w FROM (
        SELECT p, s, w,
               row_number() OVER (PARTITION BY p ORDER BY w DESC, s) AS rp,
               row_number() OVER (PARTITION BY s ORDER BY w DESC, p) AS rs
        FROM {e})
      WHERE rp = 1 AND rs = 1),
    {e_next} AS (
      SELECT e.p, e.s, e.w
      FROM {e} e
      LEFT JOIN {m} a ON e.p = a.p
      LEFT JOIN {m} b ON e.s = b.s
      WHERE a.p IS NULL AND b.s IS NULL)"""


_MATCHING_ORACLE = (
    """
    WITH e0 AS (
      SELECT l_partkey AS p, l_suppkey AS s,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),"""
    + ",".join(
        _matching_round_sql(f"e{r}", f"m{r + 1}", f"e{r + 1}", r + 1)
        for r in range(4)
    )
    + """
    SELECT p, s, w, rnd FROM (
      SELECT p, s, w, CAST(1 AS BIGINT) AS rnd FROM m1
      UNION ALL SELECT p, s, w, 2 FROM m2
      UNION ALL SELECT p, s, w, 3 FROM m3
      UNION ALL SELECT p, s, w, 4 FROM m4)
    """
)


@register("graph_local_max_matching", oracle=_MATCHING_ORACLE)
def graph_local_max_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED MAXIMAL MATCHING by LOCAL-MAX rounds (the
    Luby-style symmetry-broken matching — Israeli-Itai shape): on the
    part↔supplier co-purchase graph (edge weight = lineitem count), each
    round every vertex nominates its best incident edge under the TOTAL
    order (w DESC, partner key) and an edge joins the matching iff BOTH
    endpoints nominate it; matched vertices leave, survivors repeat.
    Four fixed rounds — fixed so both engines compute the identical
    prefix (a production run iterates until the edge set drains; each
    round removes a constant expected fraction, so rounds are
    O(log n) — each of the 4 rounds here is one windowed rank + one
    anti-join, frontier-only, with the shrinking edge frame
    behind a barrier per round exactly like the BFS/closeness loops).
    The matching property itself (no vertex twice) plus greedy local
    optimality are what matchings are FOR — dedup pairing, resource
    assignment, one-to-one entity linking at scale. Output: matched
    (part, supplier, weight, round) — the hash pins every round's
    frontier, not just the final cardinality."""
    edges = barrier(
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").cast("long").alias("w"))
    )
    matched_rounds = []
    e = edges
    for rnd in range(1, 5):
        wp = Window.partitionBy("p").orderBy(F.col("w").desc(), "s")
        ws = Window.partitionBy("s").orderBy(F.col("w").desc(), "p")
        m = barrier(
            e.withColumn("rp", F.row_number().over(wp))
            .withColumn("rs", F.row_number().over(ws))
            .filter((F.col("rp") == 1) & (F.col("rs") == 1))
            .select("p", "s", "w", F.lit(rnd).cast("long").alias("rnd"))
        )
        matched_rounds.append(m)
        mp = m.select("p").distinct()
        ms = m.select("s").distinct()
        e = barrier(e.join(mp, "p", "left_anti").join(ms, "s", "left_anti"))
    out = matched_rounds[0]
    for m in matched_rounds[1:]:
        out = out.unionAll(m)
    return out


@register(
    "graph_functional_scc",
    oracle="""
    WITH RECURSIVE uu AS (SELECT DISTINCT user_id FROM events),
    users AS (
      SELECT CAST(row_number() OVER (ORDER BY user_id) - 1 AS BIGINT) AS u
      FROM uu),
    params AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(2 * (count(*) // 3) + 1 AS BIGINT) AS a,
             CAST(17 % count(*) AS BIGINT) AS c
      FROM users),
    f AS (
      SELECT u, u AS cur, 0 AS step FROM users
      UNION ALL
      SELECT f.u, (p.a * f.cur + p.c) % p.n, f.step + 1
      FROM f, params p WHERE f.step < p.n),
    fin AS (
      SELECT f.u, f.cur AS fu
      FROM f, params p WHERE f.step = p.n),
    cyc AS (SELECT DISTINCT fu FROM fin),
    walk AS (
      SELECT fu, fu AS cur, fu AS mn, 0 AS step FROM cyc
      UNION ALL
      SELECT w.fu, (p.a * w.cur + p.c) % p.n,
             least(w.mn, (p.a * w.cur + p.c) % p.n), w.step + 1
      FROM walk w, params p WHERE w.step < p.n),
    cmin AS (
      SELECT w.fu, CAST(min(mn) AS BIGINT) AS cycle_id
      FROM walk w, params p WHERE w.step = p.n GROUP BY w.fu),
    lab AS (
      SELECT fin.u, cmin.cycle_id,
             CAST(CASE WHEN fin.u IN (SELECT fu FROM cyc)
                  THEN 1 ELSE 0 END AS BIGINT) AS on_cycle
      FROM fin JOIN cmin ON fin.fu = cmin.fu)
    SELECT cycle_id,
           CAST(sum(on_cycle) AS BIGINT) AS cycle_len,
           CAST(count(*) AS BIGINT) AS basin_size
    FROM lab GROUP BY cycle_id
    """,
)
def graph_functional_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRONGLY-CONNECTED COMPONENTS of a functional graph by POINTER
    DOUBLING — the log-rounds exponential-jumping technique (list
    ranking / Wyllie's algorithm family) that the frontier-based BFS/CC
    entries deliberately don't use, completing the parallel-graph
    toolkit. The graph: every distinct events user gets a dense index u
    and one out-edge u → (a·u + c) mod N (a, c derived from N, so the
    graph is data-sized); a functional graph's SCCs are exactly its
    CYCLES plus singleton tail nodes. The entry computes, in
    ⌈log₂N⌉ + 1 rounds of self-joins (each squaring the jump table and
    folding a path-MIN alongside: T_{k+1}(u) = T_k(T_k(u)),
    M_{k+1}(u) = min(M_k(u), M_k(T_k(u))) — the composability that makes
    doubling work), F(u) = f^(2^K)(u) with 2^K ≥ N — which always lands
    ON the cycle — and cycle_id(u) = M_K(F(u)), the min over ≥ one full
    lap. A node is ON its cycle iff it is in F's image (a 2^K-step walk
    ends on a cycle, and covers it). Output per SCC: (cycle_id,
    cycle_len, basin_size) — exact integers.

    Scale: N rows per table, K ≈ log₂N self-joins, each behind a barrier
    (the iterative-loop lineage discipline); the naive walk is O(N)
    ROUNDS — the oracle uses exactly that O(N²) recursive-CTE walk,
    feasible only because the oracle graph is bounded; at 10⁹ nodes only
    the doubling form survives. The one driver-side scalar is N itself
    (a bounded 1-value collect, the documented artifact pattern)."""
    users = barrier(
        read_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (
                F.row_number().over(Window.orderBy("user_id")) - 1
            )
            .cast("long")
            .alias("u")
        )
    )
    n = users.count()
    a, c = 2 * (n // 3) + 1, 17 % n
    # T_0 / M_0: one jump; min over the singleton path {u}
    t = barrier(
        users.select(
            "u",
            ((F.col("u") * a + c) % n).alias("t"),
            F.col("u").alias("m"),
        )
    )
    k = 0
    while (1 << k) < n:
        nxt = t.select(
            F.col("u").alias("u2"), F.col("t").alias("t2"), F.col("m").alias("m2")
        )
        t = barrier(
            t.join(nxt, t.t == nxt.u2).select(
                "u",
                F.col("t2").alias("t"),
                F.least("m", "m2").alias("m"),
            )
        )
        k += 1
    # F(u) = T_K(u); cycle_id(u) = M_K(F(u)) (min over >= one full lap)
    mk = t.select(F.col("u").alias("fu"), F.col("m").alias("mn"))
    fin = t.select("u", F.col("t").alias("fu"))
    lab = fin.join(mk, "fu").select(
        "u", "fu", F.col("mn").alias("cycle_id")
    )
    cyc = fin.select(F.col("fu").alias("u")).distinct().withColumn(
        "on_cycle", F.lit(1).cast("long")
    )
    return (
        lab.join(cyc, "u", "left")
        .na.fill({"on_cycle": 0})
        .groupBy("cycle_id")
        .agg(
            F.sum("on_cycle").cast("long").alias("cycle_len"),
            F.count("*").cast("long").alias("basin_size"),
        )
    )


@register(
    "graph_ktruss_peel_rounds",
    oracle="""
    -- r13: every CTE is MATERIALIZED — DuckDB inlines multi-referenced
    -- CTEs by default, re-expanding the whole peel chain per reference
    -- (3-4 refs/round x 3 rounds); measured 56.6 s -> 0.04 s at sf0.01
    -- with bitwise-identical output (optimizer hint, not semantics).
    WITH pres AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, c_nationkey AS nat,
             date_trunc('week', o_orderdate) AS g
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-04-01'),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.nat, a.c AS u, b.c AS v
      FROM pres a
        JOIN pres b ON a.nat = b.nat AND a.g = b.g AND a.c < b.c),
    s1 AS MATERIALIZED (SELECT nat, u AS src, v AS dst FROM e0
           UNION ALL SELECT nat, v, u FROM e0),
    p1 AS MATERIALIZED (SELECT e.nat, e.u, e.v, count(*) AS tri FROM e0 e
           JOIN s1 a ON a.nat = e.nat AND a.src = e.u
           JOIN s1 b ON b.nat = e.nat AND b.src = e.v AND b.dst = a.dst
           GROUP BY 1, 2, 3),
    e1 AS MATERIALIZED (SELECT e.nat, e.u, e.v FROM e0 e
           LEFT JOIN p1 s ON s.nat = e.nat AND s.u = e.u AND s.v = e.v
           WHERE coalesce(s.tri, 0) >= 2),
    s2 AS MATERIALIZED (SELECT nat, u AS src, v AS dst FROM e1
           UNION ALL SELECT nat, v, u FROM e1),
    p2 AS MATERIALIZED (SELECT e.nat, e.u, e.v, count(*) AS tri FROM e1 e
           JOIN s2 a ON a.nat = e.nat AND a.src = e.u
           JOIN s2 b ON b.nat = e.nat AND b.src = e.v AND b.dst = a.dst
           GROUP BY 1, 2, 3),
    e2 AS MATERIALIZED (SELECT e.nat, e.u, e.v FROM e1 e
           LEFT JOIN p2 s ON s.nat = e.nat AND s.u = e.u AND s.v = e.v
           WHERE coalesce(s.tri, 0) >= 2),
    s3 AS MATERIALIZED (SELECT nat, u AS src, v AS dst FROM e2
           UNION ALL SELECT nat, v, u FROM e2),
    p3 AS MATERIALIZED (SELECT e.nat, e.u, e.v, count(*) AS tri FROM e2 e
           JOIN s3 a ON a.nat = e.nat AND a.src = e.u
           JOIN s3 b ON b.nat = e.nat AND b.src = e.v AND b.dst = a.dst
           GROUP BY 1, 2, 3),
    e3 AS MATERIALIZED (SELECT e.nat, e.u, e.v FROM e2 e
           LEFT JOIN p3 s ON s.nat = e.nat AND s.u = e.u AND s.v = e.v
           WHERE coalesce(s.tri, 0) >= 2),
    trail AS MATERIALIZED (
      SELECT 0 AS round, nat, u, v FROM e0
      UNION ALL SELECT 1, nat, u, v FROM e1
      UNION ALL SELECT 2, nat, u, v FROM e2
      UNION ALL SELECT 3, nat, u, v FROM e3),
    counts AS (
      SELECT round, nat, CAST(count(*) AS BIGINT) AS n_edges
      FROM trail GROUP BY 1, 2),
    node_sets AS MATERIALIZED (
      SELECT DISTINCT round, nat, x FROM (
        SELECT round, nat, u AS x FROM trail
        UNION ALL SELECT round, nat, v FROM trail)),
    nodes AS (
      SELECT round, nat, CAST(count(*) AS BIGINT) AS n_nodes
      FROM node_sets GROUP BY 1, 2)
    SELECT n_name AS nation, CAST(c.round AS BIGINT) AS round,
           c.n_edges, n.n_nodes
    FROM counts c
      JOIN nodes n ON c.round = n.round AND c.nat = n.nat
      JOIN nation ON c.nat = n_nationkey
    """,
)
def graph_ktruss_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-TRUSS PEELING TRAJECTORY — the cohesive-subgraph refinement one
    rung above k-core (``graph_kcore_cosupply``): an edge survives only
    while it closes ≥ k−2 = 2 triangles, and support is RECOMPUTED each
    round as peeled edges withdraw their triangles. Graph = customers of
    the same nation ordering in the same ISO week of 1995Q1 (nation-
    disjoint by construction — the truss computation is embarrassingly
    parallel across nations, the partition-key design a 100 TB tenant
    graph wants); 3 synchronous peel rounds via
    ``operators.graph.truss_peel_rounds``, which puts a barrier after every
    round so the emitted TRAJECTORY (nation, round, n_edges, n_nodes
    for rounds 0..3) reads all four frames without lineage blow-up. The
    quarter filter is a pushed-down orders predicate; the fixed round
    count keeps the oracle replayable as chained CTEs (house bounded-
    iterator contract: an upper bound on the true truss, exact once a
    round removes nothing — the measured trajectories converge by round
    3 at sf0.01/sf0.1 and empty by round 1 at sf0.001, both legitimate
    fixpoints the trajectory makes visible). K4-keeps/pendant-drops
    behaviour pinned on a hand graph in tests/test_properties.py.

    Scale shape per round: triangle support is the wedge-closing
    equi-join of ``triangle_count`` (edge ⋈ sym ⋈ sym on endpoint+nation
    keys — never an all-pairs product), then an under-support anti-
    filter; per-round frames are O(E). The n_nodes recount per round is
    a distinct over edge endpoints — O(E) with map-side combine."""
    pres = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-04-01")
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("o_custkey").alias("c"),
            F.col("c_nationkey").alias("nat"),
            F.date_trunc("week", F.col("o_orderdate")).alias("g"),
        )
        .distinct()
    )
    a, b = pres.alias("a"), pres.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.nat") == F.col("b.nat"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .select(
            F.col("a.nat").alias("nat"),
            # encode nation into the node id so the nation-disjoint graph
            # peels as one edge list (nat recovered from either endpoint)
            (F.col("a.nat") * F.lit(10**10) + F.col("a.c")).alias("u"),
            (F.col("a.nat") * F.lit(10**10) + F.col("b.c")).alias("v"),
        )
        .distinct()
    )
    rounds = truss_peel_rounds(edges, "u", "v", k=4, rounds=3)
    per_round = []
    for r, er in enumerate(rounds):
        e_cnt = (
            er.select(
                F.expr("_a div 10000000000").cast("int").alias("nat")
            )
            .groupBy("nat")
            .agg(F.count("*").cast("long").alias("n_edges"))
        )
        n_cnt = (
            er.select(F.col("_a").alias("x"))
            .unionAll(er.select(F.col("_b").alias("x")))
            .distinct()
            .select(F.expr("x div 10000000000").cast("int").alias("nat"))
            .groupBy("nat")
            .agg(F.count("*").cast("long").alias("n_nodes"))
        )
        per_round.append(
            e_cnt.join(n_cnt, "nat").withColumn(
                "round", F.lit(r).cast("long")
            )
        )
    trail = per_round[0]
    for p in per_round[1:]:
        trail = trail.unionByName(p)
    return (
        trail.join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("nat") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "round",
            "n_edges",
            F.col("n_nodes"),
        )
    )
