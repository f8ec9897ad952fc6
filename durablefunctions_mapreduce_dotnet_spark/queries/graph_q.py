"""Graph-analytics queries: PageRank over a derived bipartite graph.

The supplier→part edge list from ``lineitem`` (parts offset by 1e6 so
the two id spaces never collide) gives a deterministic multigraph where
every part node is dangling — exercising the dangling-mass
redistribution path every iteration.

Oracle parity: the power iteration is fully unrolled into CTEs (the
``kmeans_clusters`` pattern).  FP literals are CAST to DOUBLE in the
SQL — DuckDB parses ``0.85`` as DECIMAL(3,2) and decimal arithmetic
would compute an exact 0.15 where Python/Spark's IEEE ``1.0 - 0.85``
is 0.15000000000000002; casting first makes every scalar step the same
IEEE double op on both engines.  Contribution/dangling sums are
DECIMAL (order-free); ranks compare ROUNDed at 9 dp (ulp-level
double→decimal cast divergence sits at ~1e-17, invisible there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from ..sources.readers import read_table

_ITERS = 3
_DAMPING = 0.85


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    )
    # no lineage cut runs: at _ITERS = 3 no round reaches the
    # operator's every-6th-round cut, and each round's ranks is
    # persisted instead, so its three consumers share one computation
    return pagerank(edges, iters=_ITERS, damping=_DAMPING)


def _pagerank_oracle_sql(iters: int = _ITERS, damping: float = _DAMPING) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    tele = f"(CAST(1 AS DOUBLE) - {d}) / n"
    its = []
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        its.append(f"""
c{k} AS (
  SELECT e.d AS node,
         CAST(SUM(CAST(r.rank / deg.deg AS DECIMAL(38,18))) AS DOUBLE) AS csum
  FROM e JOIN {p} r ON r.node = e.s JOIN deg ON deg.s = e.s
  GROUP BY e.d
),
d{k} AS (
  SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(38,18))) AS DOUBLE),
                  CAST(0 AS DOUBLE)) AS dm
  FROM {p} r WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.s = r.node)
),
r{k} AS (
  SELECT nodes.node,
         {tele} + {d} * (COALESCE(c.csum, CAST(0 AS DOUBLE))
                         + dd.dm / CAST(n AS DOUBLE)) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{k} dd
  LEFT JOIN c{k} c ON c.node = nodes.node
)""")
    body = ",".join(its)
    return f"""
WITH e AS (
  SELECT CAST(l_suppkey AS BIGINT) AS s, l_partkey + 1000000 AS d FROM lineitem
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nn),{body}
SELECT node, ROUND(rank, 9) AS rank FROM r{iters} ORDER BY node
"""


def _affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-order affinity edges with support ≥ 2 CO-OCCURRENCE ROW
    PAIRS (shared by the triangle and label-propagation queries).  Note
    the support counts self-join row pairs, not distinct orders: a part
    pair appearing twice within ONE order clears the cut — the oracle
    mirrors the same computation."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("id_a"),
            F.col("b.l_partkey").alias("id_b"),
        )
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= 2)
        .drop("_c")
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part AFFINITY graph — part
    pairs with ≥2 co-occurrence row pairs (the market-basket support cut:
    single co-occurrences in a dense catalog are noise and would make
    the graph near-complete; support pruning is what keeps a
    co-purchase graph analyzable at any scale).  Degree-ordered wedge
    closing (operators.graph.triangle_counts).  Pure integer output, so
    the brute-force three-way-join oracle hash-matches exactly."""
    from ..operators.graph import triangle_counts

    return (
        triangle_counts(_affinity_pairs(spark, sf_dir))
        .select(F.col("n").alias("node"), "n_triangles")
        .orderBy("node")
    )


_TRIANGLES_SQL = """
WITH e0 AS (
  SELECT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE c >= 2
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.u = e1.v
  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node ORDER BY node
"""


_LPA_ITERS = 4


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 4 rounds of synchronous label propagation
    over the part affinity graph (operators.graph.label_propagation) —
    deterministic via the synchronous schedule + smallest-label
    tie-break, so the unrolled-CTE oracle hash-matches the integer
    (node, label) assignment exactly."""
    from ..operators.graph import label_propagation

    return label_propagation(
        _affinity_pairs(spark, sf_dir), iters=_LPA_ITERS
    ).orderBy("node")


def _lpa_oracle_sql(iters: int = _LPA_ITERS) -> str:
    its = []
    for i in range(1, iters + 1):
        its.append(f""",
c{i} AS (
  SELECT b.d AS node, l.label, COUNT(*) AS cnt
  FROM bi b JOIN l{i - 1} l ON l.node = b.s
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
    body = "".join(its)
    return f"""
WITH e0 AS (
  SELECT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE c >= 2
),
bi AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM bi){body}
SELECT node, label FROM l{iters} ORDER BY node
"""


def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most structurally similar part pairs by neighbor-set
    Jaccard over the affinity graph (operators.graph.
    common_neighbor_jaccard) — the link-prediction primitive: two parts
    co-ordered with the same third parts are substitutes even if never
    co-ordered together.  n_common ≥ 2 support cut; ranked at 9 dp with
    a (node_a, node_b) tie-break, emitted at 6 dp — the division is the
    identical single IEEE op in both engines."""
    from ..operators.graph import common_neighbor_jaccard

    sim = common_neighbor_jaccard(_affinity_pairs(spark, sf_dir), min_common=2)
    return (
        sim.select(
            "node_a",
            "node_b",
            "n_common",
            F.round(F.col("jaccard"), 9).alias("_j9"),
        )
        .orderBy(F.desc("_j9"), "node_a", "node_b")
        .limit(20)
        .select(
            "node_a", "node_b", "n_common", F.round("_j9", 6).alias("jaccard")
        )
    )


_COMMON_NEIGHBORS_SQL = """
WITH e0 AS (
  SELECT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE c >= 2
),
bi AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
deg AS (SELECT s, COUNT(*) AS deg FROM bi GROUP BY 1),
cn AS (
  SELECT a.d AS node_a, b.d AS node_b, COUNT(*) AS n_common
  FROM bi a JOIN bi b ON a.s = b.s AND a.d < b.d
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT node_a, node_b, n_common, ROUND(j9, 6) AS jaccard FROM (
  SELECT node_a, node_b, n_common,
         ROUND(CAST(n_common AS DOUBLE)
               / CAST(da.deg + db.deg - n_common AS DOUBLE), 9) AS j9
  FROM cn
  JOIN deg da ON da.s = node_a
  JOIN deg db ON db.s = node_b
)
ORDER BY j9 DESC, node_a, node_b LIMIT 20
"""


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part affinity graph (operators.graph.kcore): the
    maximal subgraph where every part keeps ≥3 affinity partners after
    iteratively peeling weaker nodes — the dense-region extractor.  The
    k-core is UNIQUE (peeling order irrelevant), so the Spark
    run-to-fixpoint loop and the fixed-unroll SQL mirror land on the
    same integer (node, degree) set, hash-exact."""
    from ..operators.graph import kcore

    return kcore(_affinity_pairs(spark, sf_dir), k=3).orderBy("node")


def _kcore_oracle_sql(k: int = 3, rounds: int = 8) -> str:
    """Unrolled peel: each round keeps edges whose BOTH endpoints still
    have degree >= k.  ``rounds`` must exceed the peel depth at the
    tested SF — extra rounds are no-ops once the fixpoint is reached
    (the k-core is unique), so over-unrolling is safe, under-unrolling
    fails parity loudly."""
    # MATERIALIZED is load-bearing: each round references the previous
    # one three times (the degree cut + both endpoint joins), so default
    # CTE inlining would expand 3^rounds copies of the base scan.
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
a{i} AS MATERIALIZED (SELECT s FROM r{i - 1} GROUP BY s HAVING COUNT(*) >= {k}),
r{i} AS MATERIALIZED (
  SELECT r.s, r.d FROM r{i - 1} r
  JOIN a{i} x ON r.s = x.s
  JOIN a{i} y ON r.d = y.s
)""")
    body = "".join(its)
    return f"""
WITH e0 AS (
  SELECT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) WHERE c >= 2
),
r0 AS MATERIALIZED (SELECT u AS s, v AS d FROM e0
                    UNION ALL SELECT v AS s, u AS d FROM e0){body}
SELECT s AS node, COUNT(*) AS degree FROM r{rounds} GROUP BY s ORDER BY node
"""


def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree DISTRIBUTION of the supplier→part bipartite graph — the
    first audit run on any derived graph (skew check: a power-law tail
    means the heavy nodes need salting before the per-node ops run):
    per side, how many nodes have each distinct-neighbor count.

    Two integer aggregations (node → degree over distinct edges, degree
    → node count); nothing after the first combiner is bigger than the
    node set.  Output: (side, degree, n_nodes)."""
    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    ).distinct()

    def hist(key: str, side: str) -> DataFrame:
        other = "dst" if key == "src" else "src"
        return (
            edges.groupBy(key)
            .agg(F.count(F.col(other)).alias("degree"))
            .groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.lit(side).alias("side"), "degree", "n_nodes")
        )

    return (
        hist("src", "supplier")
        .unionByName(hist("dst", "part"))
        .orderBy("side", "degree")
    )


_DEGREE_HISTOGRAM_SQL = """
WITH e AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
         l_partkey + 1000000 AS dst
  FROM lineitem
),
sup AS (
  SELECT COUNT(dst) AS degree FROM e GROUP BY src
),
prt AS (
  SELECT COUNT(src) AS degree FROM e GROUP BY dst
)
SELECT 'supplier' AS side, degree, COUNT(*) AS n_nodes FROM sup GROUP BY degree
UNION ALL
SELECT 'part' AS side, degree, COUNT(*) AS n_nodes FROM prt GROUP BY degree
ORDER BY side, degree
"""


def q_graph_bfs_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source landmark BFS (operators.graph.landmark_bfs): exact
    hop distances from 4 supplier landmarks over the undirected
    supplier-part graph, depth <= 4, reported as per-(landmark, depth)
    frontier sizes + node-id checksums (the full per-node table is the
    operator's output; the aggregate keeps the driver row scale-stable
    while still pinning every distance — a single node at the wrong
    depth moves both count and sum).  All landmarks ride ONE frontier
    loop as (node, lm) state: L landmarks cost one BFS, not L.  The
    oracle replays the closure with a recursive CTE + MIN(dist), which
    must equal first-visit depth — locking the level-order invariant
    the anti-join relies on."""
    from ..operators.graph import landmark_bfs

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    )
    lms = spark.createDataFrame([(1,), (2,), (3,), (4,)], "lm bigint")
    d = landmark_bfs(edges, lms, max_depth=4)
    return (
        d.groupBy("lm", "dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("sum_nodes"),
        )
        .orderBy("lm", "dist")
    )


_BFS_LANDMARKS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS u,
         l_partkey + 1000000 AS v
  FROM lineitem
), und AS (
  SELECT u, v FROM e UNION SELECT v, u FROM e
), walk AS (
  SELECT CAST(lm AS BIGINT) AS lm, CAST(lm AS BIGINT) AS node, 0 AS dist
  FROM (VALUES (1), (2), (3), (4)) AS t(lm)
  UNION
  SELECT w.lm, und.v, w.dist + 1
  FROM walk w JOIN und ON und.u = w.node
  WHERE w.dist < 4
), best AS (
  SELECT lm, node, MIN(dist) AS dist FROM walk GROUP BY lm, node
)
SELECT lm, dist,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_nodes
FROM best
GROUP BY lm, dist
ORDER BY lm, dist
"""


def q_graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted SSSP (operators.graph.sssp_bounded):
    4-round Bellman-Ford from supplier 1 over the undirected
    supplier-part graph with integer weights (l_quantity % 3 + 1,
    parallel edges collapsed to MIN) — the 50 cheapest (cost, node)
    reachable within 4 edges.  Integer costs end-to-end; the oracle's
    recursive CTE enumerates every <=4-hop path cost and takes the MIN,
    which must equal the relaxation fixpoint at round 4 — locking that
    a longer-hop-but-cheaper path is NOT missed (the property
    first-visit BFS pruning would break)."""
    from ..operators.graph import sssp_bounded

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
        ((F.col("l_quantity").cast("long") % 3) + 1).alias("w"),
    )
    d = sssp_bounded(edges, source=1, rounds=4)
    return d.orderBy("cost", "node").limit(50)


_SSSP_WEIGHTED_SQL = """
WITH RECURSIVE d AS (
  SELECT CAST(l_suppkey AS BIGINT) AS u,
         l_partkey + 1000000 AS v,
         (CAST(l_quantity AS BIGINT) % 3) + 1 AS w
  FROM lineitem
), e AS (
  SELECT u, v, MIN(w) AS w
  FROM (SELECT u, v, w FROM d UNION ALL SELECT v, u, w FROM d)
  GROUP BY u, v
), walk AS (
  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost, 0 AS hops
  UNION
  SELECT e.v, wk.cost + e.w, wk.hops + 1
  FROM walk wk JOIN e ON e.u = wk.node
  WHERE wk.hops < 4
), best AS (
  SELECT node, MIN(cost) AS cost FROM walk GROUP BY node
)
SELECT node, cost FROM best ORDER BY cost, node LIMIT 50
"""


QUERIES = {
    "graph_sssp_weighted": q_graph_sssp_weighted,
    "graph_bfs_landmarks": q_graph_bfs_landmarks,
    "graph_degree_histogram": q_graph_degree_histogram,
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_label_propagation": q_graph_label_propagation,
    "graph_common_neighbors": q_graph_common_neighbors,
    "graph_kcore": q_graph_kcore,
}
ORACLES = {
    "graph_sssp_weighted": _SSSP_WEIGHTED_SQL,
    "graph_bfs_landmarks": _BFS_LANDMARKS_SQL,
    "graph_degree_histogram": _DEGREE_HISTOGRAM_SQL,
    "graph_kcore": _kcore_oracle_sql(),
    "graph_pagerank": _pagerank_oracle_sql(),
    "graph_triangles": _TRIANGLES_SQL,
    "graph_label_propagation": _lpa_oracle_sql(),
    "graph_common_neighbors": _COMMON_NEIGHBORS_SQL,
}
