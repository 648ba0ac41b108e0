"""Graph analytics over the star schema: PageRank on the
nation-to-nation trade network (connected components live in
dedup/cluster.py — this module adds the second iterative-graph
family member)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.queries.registry import query
from cdc_2025_spark.session import artifact

PR_ITERS = 10
PR_DAMPING = 0.85

# The trade-edge frame is a session artifact: NINE registered graph
# queries each start from the same lineitem ⋈ orders collapse onto a
# |nations|^2-row frame — in a served session the collapse runs ONCE
# and every query reads the checkpointed blocks (deployed-index
# steady state; the frame is ~600 rows, blocks release with the
# session).
_EDGE_TABLES = ("orders", "lineitem", "customer", "supplier", "nation")


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): customer-nation -> supplier-nation edges, one
    unit of weight per lineitem — the demand-flow graph. Dim chains
    (customer, supplier, nation) broadcast into the two fact scans;
    the only big shuffle is lineitem ⋈ orders on the order key.
    Built once per (session, corpus) behind a lazy localCheckpoint —
    the corpus collapse executes once per session, not once per
    graph query."""
    return artifact(
        spark,
        ("trade_edges", sf_dir, table_stamp(sf_dir, *_EDGE_TABLES)),
        lambda: _build_trade_edges(spark, sf_dir).localCheckpoint(
            eager=False
        ),
    )


def _build_trade_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    cust_nation = F.broadcast(
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        ).select(
            "c_custkey", F.col("n_name").alias("src")
        )
    )
    supp_nation = F.broadcast(
        supplier.join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        ).select("s_suppkey", F.col("n_name").alias("dst"))
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust_nation, orders.o_custkey == cust_nation.c_custkey)
        .join(supp_nation, lineitem.l_suppkey == supp_nation.s_suppkey)
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )


def _pagerank_oracle() -> str:
    """DuckDB SQL mirroring the FULL PageRank pipeline by UNROLLING
    the fixed PR_ITERS power iterations into chained CTEs (the
    graph_bfs_trade_hops recursive-CTE posture, but straight-line:
    the iteration count is a constant of the query, so no recursion
    is needed). Each iteration is the exact update rule the kernel
    applies — contrib[t] = sum(r[s] * w / out_w[s]), dangling mass
    spread uniformly, damping (1-d)/n + d * (...). Float summation
    order differs between engines (~1e-15 relative over 10
    iterations); the 4dp rounding absorbs it — the same posture as
    every float aggregate oracle in the registry."""
    it = f"""
edges AS MATERIALIZED (
  SELECT cn.src, sn.dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN (SELECT c_custkey, n_name AS src
        FROM customer JOIN nation ON c_nationkey = n_nationkey) cn
    ON o.o_custkey = cn.c_custkey
  JOIN (SELECT s_suppkey, n_name AS dst
        FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn
    ON l.l_suppkey = sn.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outw AS MATERIALIZED (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    for k in range(1, PR_ITERS + 1):
        it += f""",
r{k} AS MATERIALIZED (
  SELECT nd.node,
         (1.0 - {PR_DAMPING}) / (SELECT n FROM nn)
         + {PR_DAMPING} * (COALESCE(c.contrib, 0)
             + (SELECT COALESCE(SUM(p.r), 0) FROM r{k - 1} p
                ANTI JOIN outw o ON p.node = o.src)
               / (SELECT n FROM nn)) AS r
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(p.r * e.w / o.ow) AS contrib
    FROM edges e
    JOIN r{k - 1} p ON e.src = p.node
    JOIN outw o ON e.src = o.src
    GROUP BY e.dst) c ON nd.node = c.node
)"""
    return f"""
WITH {it}
SELECT node AS n_name, ROUND(r, 4) AS pagerank,
       CAST(ROW_NUMBER() OVER (
           ORDER BY ROUND(r, 4) DESC, node) AS BIGINT) AS rk
FROM r{PR_ITERS}
"""


@query("graph_pagerank_trade_network", oracle=_pagerank_oracle())
def graph_pagerank_trade_network(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank over the nation trade network — which nations sit at
    the center of demand flow (the classic graph-centrality rollup a
    supply-chain or link-graph pipeline runs; Brin & Page 1998,
    executed as the Pregel/GraphX power iteration).

    Oracle-backed since round 10 (was rows-only): the iteration
    count is a CONSTANT of the query, so the oracle unrolls the
    power iteration into PR_ITERS chained CTEs applying the exact
    update rule — no recursion, no approximation (_pagerank_oracle).
    Accuracy additionally pinned in tests/test_graph.py: exact 4dp
    equality against a pure-python power-iteration model (same
    damping, dangling correction, and iteration count), ranks sum
    to 1 every iteration, and uniform-rank fixpoint on a symmetric
    literal graph.

    Shape: edge construction is the star-schema join (dims
    broadcast, one fact-fact shuffle); the 25-node transition table
    is iteration-invariant (localCheckpoint'd once); each iteration
    is one broadcast join of the V-sized rank table + one
    destination-keyed aggregate + a scalar dangling-mass aggregate.
    At web scale the same plan swaps the broadcast for a
    key-shuffled join — semantics unchanged (noted in
    functions/graph.py)."""
    from cdc_2025_spark.functions.graph import pagerank

    pr = pagerank(
        trade_edges(spark, sf_dir), n_iter=PR_ITERS, damping=PR_DAMPING
    )
    return (
        pr.select(
            F.col("node").alias("n_name"),
            F.round("pagerank", 4).alias("pagerank"),
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.col("pagerank").desc(), "n_name"))
            .cast("long"),
        )
    )


def _triangle_oracle() -> str:
    from cdc_2025_spark.queries.dedup import JACCARD_K, JACCARD_THRESHOLD

    k = JACCARD_K
    return f"""
    WITH sets AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {k}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{k - 1}], ' ')
                     for i in range(1, len(ws) - {k} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {JACCARD_THRESHOLD}
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT u AS node FROM pairs
            UNION ALL SELECT v AS node FROM pairs)
      GROUP BY node
    ),
    tri AS (
      SELECT p1.u AS a, p1.v AS b, p2.v AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.v = p2.u
      JOIN pairs p3 ON p3.u = p1.u AND p3.v = p2.v
    ),
    tcnt AS (
      SELECT node, COUNT(*) AS n_triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b AS node FROM tri
            UNION ALL SELECT c AS node FROM tri)
      GROUP BY node
    )
    SELECT CAST(deg.node AS BIGINT) AS doc_id,
           CAST(degree AS BIGINT) AS degree,
           CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN degree > 1
                 THEN 2.0 * COALESCE(n_triangles, 0)
                      / (degree * (degree - 1.0))
                 ELSE 0.0 END, 4) AS clustering_coeff
    FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    """


@query("graph_triangle_stats", oracle=_triangle_oracle())
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts + local clustering coefficient
    over the exact-Jaccard near-dup graph — the transitivity audit a
    dedup pipeline runs before trusting transitive-closure clusters
    (high coefficient = clique-like cluster, safe to collapse to one
    survivor; low = chain-like, closure over-merges; Leskovec et al.
    WWW'08 community-structure diagnostics).

    Reuses the SESSION-SHARED exact pair set (_shared_jaccard_pairs —
    the same persisted index behind the pairs/clusters/containment
    family), so the shingling + inverted-index self-join is paid once
    per (session, corpus). Triangle enumeration is degree-oriented
    compact-forward (functions/graph.py:triangle_stats): each wedge
    materializes once at its lowest-(degree, id) apex, bounding
    per-node fan-out by out-degree ≤ O(√m) — the hub-safe shape at
    100 TB, where id-ordered enumeration would pile every wedge of a
    low-id hub onto one reducer. The oracle brute-forces the same
    triangle set with an id-ordered three-way self-join (orientation
    choice provably does not change the triangle set)."""
    from cdc_2025_spark.functions.graph import triangle_stats
    from cdc_2025_spark.queries.dedup import _shared_jaccard_pairs

    pairs = _shared_jaccard_pairs(spark, sf_dir)
    out = triangle_stats(pairs)
    return out.select(
        F.col("node").alias("doc_id"),
        "degree",
        "n_triangles",
        F.round("clustering_coeff", 4).alias("clustering_coeff"),
    )


BFS_SOURCE = "NATION_0"

# Hop bound for the ORACLE's recursive walk only: min-hop over a
# |V|-vertex graph is < |V| (25 nations), and without a bound a cycle
# would keep emitting (node, ever-larger-hop) rows forever under the
# recursive UNION's distinct-against-history termination rule. The
# Spark BFS needs no bound — its frontier anti-joins the settled set,
# so a cycle simply stops producing new nodes.
_BFS_ORACLE_MAX_HOP = 25


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS MATERIALIZED (
      SELECT DISTINCT cn.src, sn.dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN (SELECT c_custkey, n_name AS src
            FROM customer JOIN nation ON c_nationkey = n_nationkey) cn
        ON o.o_custkey = cn.c_custkey
      JOIN (SELECT s_suppkey, n_name AS dst
            FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn
        ON l.l_suppkey = sn.s_suppkey
    ),
    walk(node, hop) AS (
      SELECT '{BFS_SOURCE}', 0
      UNION
      SELECT e.dst, w.hop + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hop < {_BFS_ORACLE_MAX_HOP}
    )
    SELECT n.n_name,
           CAST(MIN(w.hop) AS INTEGER) AS hop
    FROM nation n LEFT JOIN walk w ON w.node = n.n_name
    GROUP BY n.n_name
    """


@query("graph_bfs_trade_hops", oracle=_bfs_oracle())
def graph_bfs_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum directed hop count from NATION_0 to every nation over
    the trade network — BFS reachability (Pregel frontier expansion /
    unit-weight Bellman-Ford), the fourth graph-family member beside
    centrality (PageRank), components (label propagation) and
    transitivity (triangles).

    Oracle: DuckDB recursive CTE — the walk emits (node, hop) pairs
    breadth-first with UNION-distinct termination and a |V| hop bound
    (cycles would otherwise emit unboundedly growing hops forever);
    MIN(hop) per node is exactly BFS's minimum hop count, and
    unreachable nations surface as NULL through the same nation
    left-join the Spark side uses. Model-level correctness is ALSO
    pinned in tests/test_graph.py: exact equality against a
    pure-python BFS on literal chain/diamond/cycle fixtures (incl. an
    unreachable node and a shorter-path-wins race).

    Shape (functions/graph.py:bfs_hops): each round joins ONLY the
    current frontier against the edge frame + one anti-join against
    the settled set; frontier/settled frames re-checkpoint per round
    so lineage stays flat. Nations left-join back so an unreachable
    nation would surface as a NULL hop instead of a missing row."""
    from cdc_2025_spark.functions.graph import bfs_hops

    edges = trade_edges(spark, sf_dir)
    hops = bfs_hops(edges, BFS_SOURCE, src="src", dst="dst")
    nation = read_table(spark, sf_dir, "nation")
    return (
        nation.select(F.col("n_name").alias("node"))
        .join(hops, "node", "left")
        .select(F.col("node").alias("n_name"), F.col("hop").cast("int"))
        .orderBy("n_name")
    )
