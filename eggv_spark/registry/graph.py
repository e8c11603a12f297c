"""Graph entries over the trade and co-purchase graphs."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.operators import dedupe as D
from eggv_spark.operators import graph as G
from eggv_spark.registry._shared import _copurchase_edges, register, _t


def _trade_edges(spark, sf_dir):
    """Nation→nation trade edges (customer nation buys from supplier
    nation), weighted by lineitem count — the graph queries' input."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count("*").alias("weight"))
    )


@register(
    "graph_pagerank",
    "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " GROUP BY src, dst),"
    " nodes AS (SELECT DISTINCT src AS node FROM e"
    "  UNION SELECT DISTINCT dst FROM e),"
    " nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),"
    " p AS (SELECT src, dst,"
    "  w * 1.0 / sum(w) OVER (PARTITION BY src) AS p FROM e),"
    " r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),"
    " m0 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r0"
    "  WHERE node NOT IN (SELECT src FROM e)),"
    " c0 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
    "  FROM p JOIN r0 r ON p.src = r.node GROUP BY p.dst),"
    " r1 AS (SELECT nd.node, 0.15 / nn.n"
    "   + 0.85 * (coalesce(c0.contrib, 0.0) + m0.m / nn.n) AS pr"
    "  FROM nodes nd CROSS JOIN nn CROSS JOIN m0"
    "  LEFT JOIN c0 ON nd.node = c0.node),"
    " m1 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r1"
    "  WHERE node NOT IN (SELECT src FROM e)),"
    " c1 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
    "  FROM p JOIN r1 r ON p.src = r.node GROUP BY p.dst),"
    " r2 AS (SELECT nd.node, 0.15 / nn.n"
    "   + 0.85 * (coalesce(c1.contrib, 0.0) + m1.m / nn.n) AS pr"
    "  FROM nodes nd CROSS JOIN nn CROSS JOIN m1"
    "  LEFT JOIN c1 ON nd.node = c1.node),"
    " m2 AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r2"
    "  WHERE node NOT IN (SELECT src FROM e)),"
    " c2 AS (SELECT p.dst AS node, sum(r.pr * p.p) AS contrib"
    "  FROM p JOIN r2 r ON p.src = r.node GROUP BY p.dst)"
    " SELECT nd.node, round(0.15 / nn.n"
    "   + 0.85 * (coalesce(c2.contrib, 0.0) + m2.m / nn.n), 6)"
    "  AS rank"
    " FROM nodes nd CROSS JOIN nn CROSS JOIN m2"
    " LEFT JOIN c2 ON nd.node = c2.node",
)
def _graph_pagerank(spark, sf_dir):
    """Weighted PageRank (3 fixed power iterations, d=0.85) on the
    nation trade graph — the iterative-join family: each round is one
    broadcast join + one map-side-combined aggregation (see
    eggv_spark/operators/graph.py for the 100 TB notes)."""
    ranks = G.pagerank(_trade_edges(spark, sf_dir), iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@register(
    "graph_degree_stats",
    "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " GROUP BY src, dst),"
    " o AS (SELECT src AS node, count(*) AS out_degree,"
    "  count(DISTINCT dst) AS out_distinct FROM e GROUP BY src),"
    " i AS (SELECT dst AS node, count(*) AS in_degree,"
    "  count(DISTINCT src) AS in_distinct FROM e GROUP BY dst)"
    " SELECT coalesce(o.node, i.node) AS node,"
    " coalesce(out_degree, 0) AS out_degree,"
    " coalesce(out_distinct, 0) AS out_distinct,"
    " coalesce(in_degree, 0) AS in_degree,"
    " coalesce(in_distinct, 0) AS in_distinct"
    " FROM o FULL OUTER JOIN i ON o.node = i.node",
)
def _graph_degree_stats(spark, sf_dir):
    """Per-node in/out degree + distinct-neighbor counts on the nation
    trade graph — one grouped pass per direction, full-outer merge."""
    return G.degree_stats(_trade_edges(spark, sf_dir))


@register(
    "graph_label_prop",
    "WITH e AS (SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS w"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " GROUP BY src, dst),"
    " sym AS (SELECT a, b, sum(w) AS w FROM ("
    "  SELECT src AS a, dst AS b, w FROM e"
    "  UNION ALL SELECT dst AS a, src AS b, w FROM e)"
    "  GROUP BY a, b),"
    " nodes AS (SELECT DISTINCT a AS node FROM sym),"
    " l0 AS (SELECT node, node AS label FROM nodes),"
    " n1 AS (SELECT s.a AS node, l.label, sum(s.w) AS lw"
    "  FROM sym s JOIN l0 l ON s.b = l.node GROUP BY s.a, l.label),"
    " b1 AS (SELECT node, label FROM (SELECT node, label,"
    "   row_number() OVER (PARTITION BY node"
    "    ORDER BY lw DESC, label ASC) AS rn FROM n1) WHERE rn = 1),"
    " l1 AS (SELECT n.node, coalesce(b1.label, n.node) AS label"
    "  FROM nodes n LEFT JOIN b1 ON b1.node = n.node),"
    " n2 AS (SELECT s.a AS node, l.label, sum(s.w) AS lw"
    "  FROM sym s JOIN l1 l ON s.b = l.node GROUP BY s.a, l.label),"
    " b2 AS (SELECT node, label FROM (SELECT node, label,"
    "   row_number() OVER (PARTITION BY node"
    "    ORDER BY lw DESC, label ASC) AS rn FROM n2) WHERE rn = 1)"
    " SELECT n.node, coalesce(b2.label, l1.label) AS label"
    " FROM nodes n JOIN l1 ON l1.node = n.node"
    " LEFT JOIN b2 ON b2.node = n.node",
)
def _graph_label_prop(spark, sf_dir):
    """Weighted label propagation (2 synchronous rounds, min-label
    ties) on the symmetrized nation trade graph — community detection
    as the second iterative-graph family member
    (graph.label_propagation)."""
    return G.label_propagation(_trade_edges(spark, sf_dir), iterations=2)


@register(
    "graph_triangles",
    "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey"
    "  FROM lineitem),"
    " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y"
    "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
    "  AND a.l_partkey < b.l_partkey"
    "  GROUP BY 1, 2 HAVING count(*) >= 2),"
    " deg AS (SELECT node, count(*) AS d FROM ("
    "  SELECT x AS node FROM e UNION ALL SELECT y FROM e)"
    "  GROUP BY node),"
    " wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT)"
    "  AS n_wedges FROM deg),"
    " tri AS (SELECT count(*) AS n_triangles FROM e e1"
    "  JOIN e e2 ON e1.y = e2.x"
    "  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),"
    " ne AS (SELECT count(*) AS n_edges FROM e)"
    " SELECT n_edges, n_wedges, n_triangles,"
    " round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff"
    " FROM ne, wed, tri",
)
def _graph_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient on the part
    co-purchase graph (parts co-ordered ≥2 times).  Wedge-join +
    closing-edge LEFT SEMI probe with a<b<c orientation — each
    triangle produced exactly once, never an all-pairs product
    (graph.triangle_count; degree-orientation is the 100 TB
    refinement, same plan)."""
    edges = _copurchase_edges(spark, sf_dir).select("x", "y")
    return G.triangle_count(edges, "x", "y")


@register(
    "graph_wcc",
    "WITH RECURSIVE trade AS ("
    " SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS weight"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " WHERE c_nationkey <> s_nationkey"
    " GROUP BY src, dst),"
    " topk AS (SELECT src, dst FROM ("
    "  SELECT src, dst, row_number() OVER ("
    "   ORDER BY weight DESC, src, dst) AS rn FROM trade)"
    "  WHERE rn <= 100),"
    " sym AS (SELECT src, dst FROM topk"
    "  UNION SELECT dst, src FROM topk),"
    " reach(node, r) AS ("
    "  SELECT src, dst FROM sym"
    "  UNION"
    "  SELECT reach.node, sym.dst FROM reach"
    "   JOIN sym ON reach.r = sym.src)"
    " SELECT node, CAST(least(node, min(r)) AS INT) AS component"
    " FROM reach GROUP BY node",
)
def _graph_wcc(spark, sf_dir):
    """Weakly-connected components over the 100 heaviest inter-nation
    trade edges — the large-star/small-star fixpoint
    (dedupe.connected_components_star, Kiveris et al. SoCC'14: O(log²n)
    rounds regardless of diameter) exposed as a graph query rather
    than only inside near-dup cluster resolution.  The cutoff is
    rank-based (weight desc, (src,dst) tiebreak), never a percentile,
    so both engines select the identical edge set.  Output: every node
    of the thresholded graph with the smallest node id it can reach."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    comp = D.connected_components_star(edges)
    return comp.select(
        F.col("node").cast("int").alias("node"),
        F.col("component").cast("int").alias("component"),
    )


@register(
    "graph_neighbor_jaccard",
    "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey"
    "  FROM lineitem),"
    " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y"
    "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
    "  AND a.l_partkey < b.l_partkey"
    "  GROUP BY 1, 2 HAVING count(*) >= 2),"
    " neigh AS (SELECT x AS node, y AS w FROM e"
    "  UNION ALL SELECT y, x FROM e),"
    " deg AS (SELECT node, count(*) AS d FROM neigh"
    "  GROUP BY node),"
    " com AS (SELECT n1.node AS na, n2.node AS nb,"
    "  count(*) AS n_common"
    "  FROM neigh n1 JOIN neigh n2 ON n1.w = n2.w"
    "  AND n1.node < n2.node"
    "  GROUP BY 1, 2 HAVING count(*) >= 2)"
    " SELECT na, nb, n_common,"
    " round(n_common / CAST(da.d + db.d - n_common AS DOUBLE), 6)"
    "  AS jaccard"
    " FROM com JOIN deg da ON com.na = da.node"
    " JOIN deg db ON com.nb = db.node"
    " ORDER BY jaccard DESC, na ASC, nb ASC LIMIT 100",
)
def _graph_neighbor_jaccard(spark, sf_dir):
    """Link-prediction feature over the part co-purchase backbone:
    neighborhood-overlap Jaccard for pairs sharing >=2 neighbors,
    top-100 under a total order — wedge-join candidates only, never
    |V|^2 (graph.neighbor_jaccard).  Backbone density is
    scale-dependent: at sf0.1 the >=2-co-order edge filter thins the
    graph to (correctly, oracle-agreed) zero qualifying pairs; the
    sf0.01 gate sees a populated result."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pb")
    )
    edges = (
        li.join(other, (li["l_orderkey"] == other["_ok"])
                & (li["l_partkey"] < other["_pb"]))
        .groupBy(F.col("l_partkey").alias("x"), F.col("_pb").alias("y"))
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("x", "y")
    )
    return G.neighbor_jaccard(edges, "x", "y", min_common=2, k=100)


_COPURCHASE_SQL = (
    "li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),"
    " e AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS n_co"
    "  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey"
    "  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)"
)


@register(
    "graph_kcore",
    "WITH " + _COPURCHASE_SQL + ","
    " u0 AS (SELECT x AS a, y AS b FROM e UNION SELECT y, x FROM e),"
    " d1 AS (SELECT a, count(*) AS deg FROM u0 GROUP BY 1),"
    " u1 AS (SELECT u.a, u.b FROM u0 u"
    "  JOIN d1 da ON u.a = da.a AND da.deg >= 2"
    "  JOIN d1 db ON u.b = db.a AND db.deg >= 2),"
    " d2 AS (SELECT a, count(*) AS deg FROM u1 GROUP BY 1),"
    " u2 AS (SELECT u.a, u.b FROM u1 u"
    "  JOIN d2 da ON u.a = da.a AND da.deg >= 2"
    "  JOIN d2 db ON u.b = db.a AND db.deg >= 2),"
    " d3 AS (SELECT a, count(*) AS deg FROM u2 GROUP BY 1),"
    " u3 AS (SELECT u.a, u.b FROM u2 u"
    "  JOIN d3 da ON u.a = da.a AND da.deg >= 2"
    "  JOIN d3 db ON u.b = db.a AND db.deg >= 2)"
    " SELECT a AS node, count(*) AS degree FROM u3 GROUP BY 1"
    " HAVING count(*) >= 2",
)
def _graph_kcore(spark, sf_dir):
    """2-core of the part co-purchase graph by three fixed
    degree-pruning rounds — each round one semi-join + one map-side
    degree count, no driver loop (graph.kcore_prune).  k=2, not 3:
    the >=2-co-order graph thins as SF grows (more parts dilute
    repeat pairs), and the 3-core is empty at sf0.1 — an empty
    oracle match verifies nothing."""
    return G.kcore_prune(
        _copurchase_edges(spark, sf_dir), "x", "y", k=2, iterations=3
    )


def _top_copurchase_edges(spark, sf_dir, n=200):
    """Top-n co-purchase edges by (count desc, x, y) — a RANK-based
    cutoff (never a percentile) so both engines pick the identical
    edge set; input of the Adamic–Adar and BFS queries."""
    return (
        _copurchase_edges(spark, sf_dir)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("n_co").desc(), "x", "y")
            ),
        )
        .filter(F.col("_rn") <= n)
        .select("x", "y")
    )


_TOP_EDGES_SQL = (
    " te AS (SELECT x, y FROM (SELECT x, y, row_number()"
    "  OVER (ORDER BY n_co DESC, x, y) AS rn FROM e) WHERE rn <= 200),"
    " u AS (SELECT x AS a, y AS b FROM te UNION SELECT y, x FROM te)"
)


@register(
    "graph_adamic_adar",
    "WITH " + _COPURCHASE_SQL + "," + _TOP_EDGES_SQL + ","
    " deg AS (SELECT a AS z, count(*) AS dz FROM u GROUP BY 1"
    "  HAVING count(*) >= 2),"
    " wedges AS (SELECT l.a AS u_node, r.b AS v_node, d.dz"
    "  FROM u l JOIN u r ON l.b = r.a AND l.a < r.b"
    "  JOIN deg d ON d.z = l.b),"
    " scored AS (SELECT u_node, v_node, count(*) AS common_neighbors,"
    "  round(sum(1.0 / ln(dz)), 6) AS aa_score"
    "  FROM wedges GROUP BY 1, 2),"
    " ex AS (SELECT least(a, b) AS u_node, greatest(a, b) AS v_node"
    "  FROM u GROUP BY 1, 2)"
    " SELECT s.u_node AS u, s.v_node AS v, common_neighbors, aa_score"
    " FROM scored s LEFT JOIN ex ON s.u_node = ex.u_node"
    " AND s.v_node = ex.v_node WHERE ex.u_node IS NULL",
)
def _graph_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction on the 200 heaviest co-purchase
    edges: wedge join on the middle node weighted by 1/ln(degree),
    anti-joined against existing edges so only ABSENT candidate
    links score (graph.adamic_adar)."""
    aa = G.adamic_adar(_top_copurchase_edges(spark, sf_dir), "x", "y")
    return aa.select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors", "aa_score",
    )


@register(
    "graph_bfs_reach",
    "WITH RECURSIVE " + _COPURCHASE_SQL + "," + _TOP_EDGES_SQL + ","
    " bfs(node, depth) AS ("
    "  SELECT (SELECT min(x) FROM te), 0"
    "  UNION ALL"
    "  SELECT u.b, bfs.depth + 1 FROM bfs JOIN u ON u.a = bfs.node"
    "  WHERE bfs.depth < 3)"
    " SELECT CAST(node AS INT) AS node,"
    " CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY 1",
)
def _graph_bfs_reach(spark, sf_dir):
    """3-hop BFS reachability from the smallest node of the top-200
    co-purchase graph — fixed-depth frontier expansion with
    visited-set dedup, min depth per node (graph.bfs_reach);
    recursive-CTE oracle."""
    edges = _top_copurchase_edges(spark, sf_dir)
    # seed as a 1-row frame: construction stays lazy (no .first()
    # executing the edge build before the plan exists)
    seed = edges.agg(F.min("x").alias("node"))
    return G.bfs_reach(edges, seed, "x", "y", max_depth=3)


# the rank-thresholded trade graph shared with the graph_wcc oracle
_TRADE_TOPK_SQL = (
    "trade AS MATERIALIZED ("
    " SELECT CAST(c_nationkey AS INT) AS src,"
    "  CAST(s_nationkey AS INT) AS dst, count(*) AS weight"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " WHERE c_nationkey <> s_nationkey"
    " GROUP BY src, dst),"
    " topk AS MATERIALIZED (SELECT src, dst FROM ("
    "  SELECT src, dst, row_number() OVER ("
    "   ORDER BY weight DESC, src, dst) AS rn FROM trade)"
    "  WHERE rn <= 100)"
)


_MODULARITY_SQL = f"""
WITH {_TRADE_TOPK_SQL},
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM topk
    UNION ALL SELECT dst AS node FROM topk
  )
), comm AS MATERIALIZED (
  SELECT node, CAST(node % 8 AS VARCHAR) AS community FROM nodes
), e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM topk WHERE src <> dst
), tagged AS MATERIALIZED (
  SELECT ca.community AS ca, cb.community AS cb
  FROM e JOIN comm ca ON e.a = ca.node JOIN comm cb ON e.b = cb.node
), m AS (SELECT count(*) AS m FROM tagged),
intra AS (
  SELECT ca AS community, count(*) AS intra_edges
  FROM tagged WHERE ca = cb GROUP BY ca
), deg AS (
  SELECT community, count(*) AS degree_sum FROM (
    SELECT ca AS community FROM tagged
    UNION ALL SELECT cb AS community FROM tagged
  ) GROUP BY community
), per_c AS (
  SELECT CAST(deg.community AS VARCHAR) AS community,
         CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
         CAST(deg.degree_sum AS BIGINT) AS degree_sum,
         round(coalesce(intra.intra_edges, 0) / CAST(m.m AS DOUBLE)
               - (deg.degree_sum / (2.0 * m.m))
                 * (deg.degree_sum / (2.0 * m.m)), 6) AS q_contribution
  FROM deg LEFT JOIN intra ON deg.community = intra.community, m
)
SELECT community, intra_edges, degree_sum, q_contribution FROM per_c
UNION ALL
SELECT '__ALL__' AS community,
       CAST(sum(intra_edges) AS BIGINT) AS intra_edges,
       CAST(sum(degree_sum) AS BIGINT) AS degree_sum,
       round(sum(q_contribution), 6) AS q_contribution
FROM per_c
"""


@register("graph_modularity", _MODULARITY_SQL)
def _graph_modularity(spark, sf_dir):
    """Newman modularity of a nationkey-derived partition (node mod 8)
    over the same rank-thresholded trade graph graph_wcc uses
    (graph.modularity): exact integer tallies, per-community Q
    contributions plus the global '__ALL__' row."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comm = nodes.select(
        "node", (F.col("node") % 8).cast("string").alias("community")
    )
    return G.modularity(edges, comm)


_TRADE_EDGES_SQL_CTE = """
e AS MATERIALIZED (
  SELECT c.c_nationkey AS s, su.s_nationkey AS d,
         CAST(count(*) AS HUGEINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier su ON l.l_suppkey = su.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT s AS v FROM e UNION ALL SELECT d AS v FROM e
  )
)"""


def _hits_oracle_sql(n_rounds: int) -> str:
    """Unrolled integer HITS: HUGEINT (exact 128-bit) mirrors Spark's
    DECIMAL(38,0) under the (Σw)^(2·rounds) < 1e38 bound, one final
    max-normalization."""
    parts = [_TRADE_EDGES_SQL_CTE + """,
h0 AS (SELECT v, CAST(1 AS HUGEINT) AS h FROM nodes)"""]
    for r in range(n_rounds):
        parts.append(f"""
a{r + 1} AS MATERIALIZED (
  SELECT n.v AS v, coalesce(x.a, 0) AS a FROM nodes n LEFT JOIN (
    SELECT e.d AS v, sum(e.w * h{r}.h) AS a
    FROM e JOIN h{r} ON e.s = h{r}.v GROUP BY e.d
  ) x ON n.v = x.v
),
h{r + 1} AS MATERIALIZED (
  SELECT n.v AS v, coalesce(x.h, 0) AS h FROM nodes n LEFT JOIN (
    SELECT e.s AS v, sum(e.w * a{r + 1}.a) AS h
    FROM e JOIN a{r + 1} ON e.d = a{r + 1}.v GROUP BY e.s
  ) x ON n.v = x.v
)""")
    last = n_rounds
    final = f"""
SELECT CAST(a{last}.v AS INT) AS node,
       round(CAST(a{last}.a AS DOUBLE)
             / CAST((SELECT max(a) FROM a{last}) AS DOUBLE), 6)
         AS authority,
       round(CAST(h{last}.h AS DOUBLE)
             / CAST((SELECT max(h) FROM h{last}) AS DOUBLE), 6) AS hub
FROM a{last} JOIN h{last} ON a{last}.v = h{last}.v
"""
    return "WITH " + ",".join(parts) + final


@register("graph_hits", _hits_oracle_sql(2))
def _graph_hits(spark, sf_dir):
    """HITS hubs/authorities over the nation trade graph
    (graph.hits_scores): two integer-exact DECIMAL(38,0) rounds —
    no per-round float normalization — with ONE max-normalization at
    the end; the bipartite-influence companion to graph_pagerank."""
    return G.hits_scores(_trade_edges(spark, sf_dir), n_rounds=2)


def _ppr_oracle_sql(iterations: int = 3) -> str:
    """DuckDB replica of graph.personalized_pagerank on the trade
    graph, seed = {0}: the unrolled pagerank chain with the teleport
    AND dangling mass restarting to the seed indicator."""
    parts = [
        "e AS MATERIALIZED (SELECT CAST(c_nationkey AS INT) AS src,"
        " CAST(s_nationkey AS INT) AS dst, count(*) AS w"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN supplier ON l_suppkey = s_suppkey GROUP BY src, dst)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "p AS MATERIALIZED (SELECT src, dst, w * 1.0 /"
        " sum(w) OVER (PARTITION BY src) AS p FROM e)",
        "sd AS MATERIALIZED (SELECT node,"
        " CASE WHEN node = 0 THEN 1.0 ELSE 0.0 END AS s FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, s AS pr FROM sd)",
    ]
    for i in range(iterations):
        parts.append(
            f"m{i} AS (SELECT coalesce(sum(pr), 0.0) AS m FROM r{i}"
            f" WHERE node NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT p.dst AS node,"
            f" sum(r.pr * p.p) AS contrib FROM p JOIN r{i} r"
            f" ON p.src = r.node GROUP BY p.dst)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT sd.node,"
            f" 0.15 * sd.s + 0.85 * (coalesce(c{i}.contrib, 0.0)"
            f" + m{i}.m * sd.s) AS pr"
            f" FROM sd CROSS JOIN m{i}"
            f" LEFT JOIN c{i} ON sd.node = c{i}.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, round(pr, 6) AS rank FROM r{iterations}"
    )


@register("graph_ppr", _ppr_oracle_sql(3))
def _graph_ppr(spark, sf_dir):
    """Personalized PageRank from nation 0 on the trade graph
    (graph.personalized_pagerank): restart-to-seed walk, 3
    iterations — 'which nations are close to nation 0 under
    multi-hop trade flow'."""
    ranks = G.personalized_pagerank(
        _trade_edges(spark, sf_dir), seeds=[0], iterations=3
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _harmonic_oracle_sql(max_hops: int = 3) -> str:
    """Unrolled multi-source BFS over the thresholded trade graph:
    frontier h = (frontier h-1 join edges) EXCEPT everything already
    reached; integer per-hop counts; fixed-order harmonic assembly."""
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    counts = " UNION ALL ".join(
        f"SELECT src, {h} AS h, count(*) AS nh FROM f{h} GROUP BY src"
        for h in range(1, max_hops + 1)
    )
    harmonic = " + ".join(
        f"sum(CASE WHEN h = {h} THEN nh ELSE 0 END) / {float(h)!r}"
        for h in range(1, max_hops + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
cnt AS ({counts}),
agg AS (
  SELECT src, CAST(sum(nh) AS BIGINT) AS n_reached,
         round({harmonic}, 6) AS harmonic
  FROM cnt GROUP BY src
)
SELECT CAST(n.v AS INT) AS node,
       coalesce(a.n_reached, 0) AS n_reached,
       coalesce(a.harmonic, 0.0) AS harmonic
FROM nodes n LEFT JOIN agg a ON n.v = a.src"""
    )


@register("graph_harmonic", _harmonic_oracle_sql(3))
def _graph_harmonic(spark, sf_dir):
    """Hop-limited harmonic centrality (graph.harmonic_centrality,
    3 directed hops) over the same top-100 rank-thresholded trade
    graph graph_wcc / graph_modularity use: integer per-hop reach
    counts, fixed-order 1/d assembly."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.harmonic_centrality(edges, max_hops=3)


_ASSORTATIVITY_SQL = f"""
WITH {_TRADE_TOPK_SQL},
od AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS od
       FROM topk GROUP BY src),
idg AS (SELECT dst AS n, CAST(count(*) AS BIGINT) AS id
        FROM topk GROUP BY dst),
t AS (SELECT od.od AS x, idg.id AS y
      FROM topk e JOIN od ON e.src = od.n JOIN idg ON e.dst = idg.n),
s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM t)
SELECT m AS n_edges,
       round(CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * (m * syy - sy * sy)), 6) AS r
FROM s"""


@register("graph_assortativity", _ASSORTATIVITY_SQL)
def _graph_assortativity(spark, sf_dir):
    """Directed degree assortativity (graph.assortativity) of the
    top-100 rank-thresholded trade graph: Pearson r of (src
    out-degree, dst in-degree) across edges, assembled from six
    exact integer sums."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.assortativity(edges)


_RECIPROCITY_SQL = f"""
WITH {_TRADE_TOPK_SQL},
e AS (SELECT DISTINCT src AS a, dst AS b FROM topk WHERE src <> dst),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocated
      FROM e WHERE EXISTS (SELECT 1 FROM e e2
                           WHERE e2.a = e.b AND e2.b = e.a)),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_reciprocated,
       round(CAST(n_reciprocated AS DOUBLE) / n_edges, 6)
         AS reciprocity
FROM t, r"""


@register("graph_reciprocity", _RECIPROCITY_SQL)
def _graph_reciprocity(spark, sf_dir):
    """Directed reciprocity (graph.reciprocity) of the top-100
    rank-thresholded trade graph: distinct pass + swapped-pair
    left-semi self-join, exact integer counts."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.reciprocity(edges)


_LOCAL_CLUSTERING_SQL = f"""
WITH {_TRADE_TOPK_SQL},
canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM topk WHERE src <> dst),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon)
  GROUP BY node),
tri AS MATERIALIZED (
  SELECT l.a AS x, l.b AS y, r.b AS z
  FROM canon l JOIN canon r ON l.b = r.a
  WHERE EXISTS (SELECT 1 FROM canon c
                WHERE c.a = l.a AND c.b = r.b)),
credits AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri) GROUP BY node)
SELECT CAST(d.node AS INT) AS node, d.degree,
       coalesce(c.triangles, 0) AS triangles,
       CASE WHEN d.degree < 2 THEN 0.0
            ELSE round(coalesce(c.triangles, 0)
                       / (d.degree * (d.degree - 1) / 2.0), 6)
       END AS lcc
FROM deg d LEFT JOIN credits c ON d.node = c.node"""


@register("graph_local_clustering", _LOCAL_CLUSTERING_SQL)
def _graph_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient
    (graph.local_clustering) on the thresholded trade graph:
    wedge-join + closing-edge probe kept as rows, 3-corner explode
    credit, exact integer degrees/triangles."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.local_clustering(edges)


def _scc_oracle_sql(max_hops: int = 4) -> str:
    """Unrolled closure + swapped mutual join + min-label + sizes."""
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    return (
        "WITH " + ",\n".join(parts)
        + f""",
reach AS MATERIALIZED ({reach_union}),
mutual AS (SELECT r.src, r.cur FROM reach r
           WHERE EXISTS (SELECT 1 FROM reach s
                         WHERE s.src = r.cur AND s.cur = r.src)),
labels AS (SELECT src, min(cur) AS scc_id FROM mutual GROUP BY src),
sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
          FROM labels GROUP BY scc_id)
SELECT CAST(l.src AS INT) AS node,
       CAST(l.scc_id AS INT) AS bounded_scc_id,
       s.scc_size AS bounded_scc_size
FROM labels l JOIN sizes s USING (scc_id)"""
    )


@register("graph_scc", _scc_oracle_sql(4))
def _graph_scc(spark, sf_dir):
    """Hop-bounded strongly connected components (graph.scc,
    max_hops=4) on the thresholded trade graph: frontier closure +
    ONE swapped self-join for mutual reachability, min-label ids,
    component sizes.  Output columns are bounded_scc_id /
    bounded_scc_size — the bound is part of the contract: mutual
    reach within 4 hops is not transitive, so the
    labels are an exact SCC partition only when every component's
    diameter fits the bound."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.scc(edges, max_hops=4)


def _path_stats_oracle_sql(max_hops: int = 4) -> str:
    parts = [
        _TRADE_TOPK_SQL,
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM ("
        " SELECT src AS v FROM topk"
        " UNION ALL SELECT dst AS v FROM topk))",
        "f0 AS (SELECT v AS src, v AS cur FROM nodes)",
    ]
    reach_union = "SELECT src, cur FROM f0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED ("
            f" SELECT DISTINCT f.src, e.dst AS cur"
            f" FROM f{h - 1} f JOIN topk e ON f.cur = e.src"
            f" EXCEPT ({reach_union}))"
        )
        reach_union += f" UNION ALL SELECT src, cur FROM f{h}"
    counts = ", ".join(
        f"(SELECT count(*) FROM f{h}) AS n{h}"
        for h in range(1, max_hops + 1)
    )
    total = " + ".join(f"n{h}" for h in range(1, max_hops + 1))
    weighted = " + ".join(
        f"n{h} * {h}" for h in range(1, max_hops + 1)
    )
    diam = "greatest(" + ", ".join(
        f"CASE WHEN n{h} > 0 THEN {h} ELSE 0 END"
        for h in range(1, max_hops + 1)
    ) + ")"
    return (
        "WITH " + ",\n".join(parts)
        + f""",
c AS (SELECT (SELECT count(*) FROM nodes) AS n_nodes, {counts})
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST({total} AS BIGINT) AS n_pairs_reachable,
       round(CAST({total} AS DOUBLE) / (n_nodes * (n_nodes - 1)), 6)
         AS reach_frac,
       round(CAST({weighted} AS DOUBLE) / ({total}), 6) AS mean_dist,
       CAST({diam} AS INT) AS diameter
FROM c"""
    )


@register("graph_path_stats", _path_stats_oracle_sql(4))
def _graph_path_stats(spark, sf_dir):
    """Hop-bounded path-length census (graph.path_length_stats,
    4 hops) over the thresholded trade graph: reachable-pair count,
    reach fraction, mean distance, in-bound diameter — exact per-hop
    integers, fixed-order assembly."""
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("weight").desc(), "src", "dst")
            ),
        )
        .filter(F.col("_rn") <= 100)
        .select("src", "dst")
    )
    return G.path_length_stats(edges, max_hops=4)
