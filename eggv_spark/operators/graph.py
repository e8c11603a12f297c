"""Iterative graph algorithms expressed as DataFrame fixpoint loops.

The reference engine has no graph module; this extends the analytics
surface the same way the dedup clustering pass does
(``dedupe.duplicate_clusters`` already runs large-star/small-star
connected components).  PageRank here follows the classic power
iteration: each round is one broadcast-or-shuffle join (ranks ⋈ edges)
plus one map-side-combined aggregation — the canonical "iterative
algorithm on a relational engine" pattern (cf. Spark's own GraphX
Pregel formulation, re-expressed on DataFrames so Catalyst/AQE manage
the physical plan).

Scale notes (100 TB / 1000 executors):
- the edge list is the big table and is traversed once per iteration;
  it is materialized once and re-used, and every iteration's shuffle
  keys on ``dst`` so AQE can coalesce/skew-split independently per
  round;
- ranks are O(|V|) — for web-scale graphs that still shuffles, but the
  per-iteration plan is join + partial-agg (never a cross product);
- a FIXED iteration count keeps lineage bounded (no unbounded loop on
  the driver) and keeps results deterministic/oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize, materialize_lazy


def _cap_neighborhoods(neigh: DataFrame, node_col: str, nbr_col: str,
                       max_degree: int) -> DataFrame:
    """Deterministically keep at most ``max_degree`` neighbors per
    node: rank each node's neighbors by a salted hash (uniform, no
    bias toward low ids) with the neighbor id as tiebreak, keep the
    first ``max_degree``.  This is the standard hub mitigation for
    wedge joins — the join output is Σ deg(z)², so one celebrity
    node at web scale otherwise dominates the whole job; capping
    bounds every node's contribution at max_degree².  One
    hash-partitioned window, same shuffle key the wedge join needs
    anyway."""
    w = Window.partitionBy(node_col).orderBy(
        F.xxhash64(F.col(node_col), F.col(nbr_col)), F.col(nbr_col)
    )
    return (
        neigh.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_degree)
        .drop("_rk")
    )


def out_weights(edges: DataFrame, src: str, dst: str, weight: str) -> DataFrame:
    """Per-edge transition probability: weight / total outgoing weight
    of the source node.  One map-side-combined aggregation on ``src``
    plus a same-key join (no extra shuffle under AQE)."""
    totals = edges.groupBy(src).agg(F.sum(weight).alias("_out_total"))
    return (
        edges.join(totals, src)
        .withColumn("_p", F.col(weight) / F.col("_out_total"))
        .select(src, dst, "_p")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count.

    ``rank_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} rank_t(u) * p(u→v)
                                      + dangling_mass_t / N)``

    Nodes are the union of sources and destinations; nodes with no
    out-edges (dangling) redistribute their rank uniformly, so total
    rank mass stays 1 each round.  Returns ``(node, rank)``.

    Every iteration is: broadcast the O(|V|)-row rank table onto the
    edge list (Catalyst picks broadcast while ranks fit, shuffle-hash
    beyond), aggregate contributions on ``dst`` (partial agg
    map-side), and recompute the two scalar terms — no driver-side
    loop over data, only over iteration count.
    """
    # The edge list feeds nodes (twice), the out-weight totals, and
    # the per-iteration contribution joins — materialize it once rather
    # than re-deriving its (possibly join-heavy) lineage per consumer.
    edges = edges.transform(materialize_lazy)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(materialize)
    )
    n_nodes = nodes.count()  # scalar, needed to seed ranks
    probs = out_weights(edges, src, dst, weight).transform(materialize_lazy)
    src_nodes = probs.select(F.col(src).alias("node")).distinct()
    src_nodes = src_nodes.transform(materialize_lazy)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        # Each round reads the previous ranks THREE times (dangling
        # mass, contributions, rebuild); without a lineage cut the
        # plan re-derives the whole prefix per use — ~3^k plan
        # growth.  Materializing pins each round to one computation
        # and keeps the physical plan per-iteration-sized.
        ranks = ranks.transform(materialize_lazy)
        # rank mass sitting on dangling nodes this round
        dangling = (
            ranks.join(src_nodes, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
        )
        contribs = (
            probs.join(ranks.withColumnRenamed("node", src), src)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0))
                       + F.col("m") / F.lit(float(n_nodes)))
                ).alias("rank"),
            )
        )
    return ranks


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node in/out degree and strength-of-connection summary —
    one grouped pass per direction, full-outer merged on node."""
    outs = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree"),
        F.countDistinct(dst).alias("out_distinct"),
    )
    ins = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_degree"),
        F.countDistinct(src).alias("in_distinct"),
    )
    return (
        outs.join(ins, "node", "full_outer")
        .na.fill(0, ["out_degree", "out_distinct", "in_degree", "in_distinct"])
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection):
    every node starts as its own community; each round it adopts the
    label carrying the most incident edge weight among its neighbors
    (ties break to the SMALLEST label — deterministic, so a fixed
    iteration count is exactly reproducible in SQL).

    Undirected semantics: edges are symmetrized up front.  Each round
    is one join (labels onto the edge list), one (node, label) weight
    fold, and one per-node argmax window over the candidate-label
    table — the same bounded per-iteration plan discipline as
    :func:`pagerank`, with a per-round lineage cut (materialize_lazy).
    Isolated nodes keep their own label forever.

    Known synchronous-update artifact (standard LPA caveat): a bare
    two-node component swaps labels every round instead of settling;
    components with odd cycles converge.  Use an odd/even iteration
    pair if a caller needs a fixpoint check on bipartite shapes."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                     F.col(weight).alias("w"))
        .union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"),
                         F.col(weight).alias("w"))
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .transform(materialize_lazy)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    nodes = nodes.transform(materialize_lazy)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iterations):
        labels = labels.transform(materialize_lazy)
        neigh = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.sum("w").alias("_lw"))
        )
        w_rank = Window.partitionBy("node").orderBy(
            F.col("_lw").desc(), F.col("label").asc()
        )
        best = (
            neigh.withColumn("_rk", F.row_number().over(w_rank))
            .filter(F.col("_rk") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("label")).alias("label"),
            )
        )
    return labels


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census: one row with edge/wedge/triangle counts
    and the global clustering coefficient (3·triangles / wedges).

    The classic join-oriented formulation: canonicalize to undirected
    distinct edges with ``a < b``, so every triangle ``a < b < c`` is
    produced exactly once by wedge-join (a,b)⋈(b,c) followed by an
    existence probe of the closing edge (a,c) — a LEFT SEMI join,
    never an all-pairs product.  Wedges come from per-node degrees
    (Σ d·(d−1)/2), integer-exact.

    Scale shape: all three joins key on node ids, so the work is
    Σ_b deg_in(b)·deg_out(b) — the id-ordering orientation already
    halves each edge, and at 100 TB the standard refinement is
    DEGREE ordering (orient each edge toward the higher-degree
    endpoint) which bounds the wedge fan-out by O(m^1.5) total; the
    join/semi-join plan is identical, only the canonical order column
    changes, and id-order keeps the result reproducible here."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
    )
    # per-term integer DIV keeps every term and the running sum in
    # LONG arithmetic — a double-typed sum loses integer exactness
    # past 2^53, which web-scale degree distributions can reach
    wedges = deg.agg(
        F.sum(F.expr("_d * (_d - 1) DIV 2")).alias("n_wedges")
    )
    e2 = canon.select(F.col("a").alias("_b"), F.col("b").alias("_c"))
    e3 = canon.select(F.col("a").alias("_ca"), F.col("b").alias("_cb"))
    paths = canon.join(e2, canon["b"] == e2["_b"])
    tri = paths.join(
        e3,
        (paths["a"] == e3["_ca"]) & (paths["_c"] == e3["_cb"]),
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    n_edges = canon.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.join(wedges).join(tri)
        .select(
            "n_edges", "n_wedges", "n_triangles",
            F.round(
                F.try_divide(3.0 * F.col("n_triangles"), F.col("n_wedges")),
                6,
            ).alias("clustering_coeff"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Node-pair similarity by neighborhood overlap — the classic
    link-prediction feature: for pairs sharing ≥ ``min_common``
    neighbors, Jaccard = |N(a)∩N(b)| / (|N(a)|+|N(b)|−|N(a)∩N(b)|),
    top-``k`` under a total (jaccard desc, a asc, b asc) order.

    Candidate pairs come from the wedge join (a,w)⋈(b,w) with a<b —
    only pairs that actually share a neighbor are ever materialized,
    never the |V|² cross product; the work is Σ_w deg(w)².

    ``max_degree`` (default off, exact) is the 100 TB hub
    mitigation: middle-node neighborhoods are deterministically
    downsampled to at most ``max_degree`` members BEFORE the wedge
    join, bounding every middle node's pair contribution at
    max_degree² while true degrees still come from the full
    adjacency.  With the cap on, ``n_common`` is a sampled lower
    bound (approximate jaccard) — standard practice for celebrity
    nodes, default-off so the exact oracle rows are unchanged."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    neigh = (
        canon.select(F.col("a").alias("node"), F.col("b").alias("w"))
        .unionAll(canon.select(F.col("b").alias("node"),
                               F.col("a").alias("w")))
    )
    deg = neigh.groupBy("node").agg(F.count("*").alias("_deg"))
    wedge_src = (
        _cap_neighborhoods(neigh, "w", "node", max_degree)
        if max_degree is not None
        else neigh
    )
    n1 = wedge_src.select(F.col("node").alias("na"), "w")
    n2 = wedge_src.select(F.col("node").alias("nb"), "w")
    common = (
        n1.join(n2, "w")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("node").alias("na"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("node").alias("nb"), F.col("_deg").alias("_db"))
    scored = (
        common.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .select(
            "na", "nb", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_da") + F.col("_db") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("na").asc(), F.col("nb").asc()
    ).limit(k)


def kcore_prune(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    iterations: int = 3,
    to_fixpoint: bool = False,
    max_iterations: int = 50,
) -> DataFrame:
    """k-core decomposition by iterated degree pruning: drop every
    node of degree < k, recompute degrees on the induced subgraph,
    repeat.  Each round is one semi-join of the undirected edge list
    against the surviving-degree frame plus one map-side-combined
    degree count — no collect, no driver loop over nodes.  Output:
    surviving nodes with their final-round degree.

    Two modes:
    - default: a FIXED ``iterations`` rounds — a bounded prefix of
      the exact fixpoint, deterministic and oracle-checkable (the
      registry query uses this so the plan has no data-dependent
      driver control);
    - ``to_fixpoint=True``: iterate until the surviving edge count is
      stable (one cheap count() action per round — the edge frame is
      already checkpointed, so the count reuses it), guarded by
      ``max_iterations``.  This is the TRUE k-core, the mode to run
      on a 100×-diameter graph where any fixed prefix under-prunes.

    At 100 TB the edge list dominates: the per-round semi-join keys
    on the node id both ways, so AQE handles skewed hubs; survivors
    shrink monotonically, and materializing the current edge frame bounds
    lineage."""
    # LAZY localCheckpoint per round (same lineage policy as
    # dedupe.connected_components_star): without it every prune
    # round re-derives the full upstream edge DAG — measured 296
    # exchanges in the plan vs ~10 checkpointed.  eager=False so
    # building the query (schema tooling) executes nothing.
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    cur = und

    def _prune_round(frame: DataFrame) -> DataFrame:
        deg = frame.groupBy("a").agg(F.count("*").alias("degree"))
        alive = deg.filter(F.col("degree") >= k).select("a")
        return (
            frame.join(alive, "a", "left_semi")
            .join(alive.select(F.col("a").alias("b")), "b", "left_semi")
            .transform(materialize_lazy)
        )

    if to_fixpoint:
        # data-dependent rounds: stop when the surviving edge count is
        # stable (pruning is monotone, so equal counts == fixpoint)
        prev_edges = cur.count()
        for _ in range(max_iterations):
            cur = _prune_round(cur)
            n = cur.count()
            if n == prev_edges:
                break
            prev_edges = n
    else:
        for _ in range(iterations):
            cur = _prune_round(cur)
    final = cur.groupBy("a").agg(F.count("*").alias("degree"))
    return final.filter(F.col("degree") >= k).select(
        F.col("a").alias("node"), "degree"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_degree: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link-prediction score for non-adjacent node pairs:
    AA(a, b) = sum over common neighbors z of 1/ln(deg(z)).  The
    classic wedge formulation: join the undirected adjacency with
    itself on the middle node (each wedge a–z–b with a < b scores
    once), weight by the PRE-COMPUTED middle-node degree broadcast,
    aggregate per pair, then anti-join the existing edge set so only
    candidate (absent) links remain.  Middles of degree < 2 are
    excluded (ln(1) = 0 would divide by zero — standard).

    The wedge join is the scale hazard: its output is sum_z deg(z)^2.
    ``max_degree`` (default off, exact) caps each middle node's
    neighborhood at ``max_degree`` deterministically-sampled members
    BEFORE the wedge join, bounding the per-middle contribution at
    max_degree² — one celebrity node no longer dominates the job.
    Scoring weights (1/ln deg) still use the TRUE degree from the
    full adjacency; with the cap on, per-pair sums are a sampled
    subset (approximate AA) — default-off so the exact oracle rows
    are unchanged."""
    # lazy checkpoint: the adjacency feeds FOUR branches (wedge left,
    # wedge right, middle degrees, existing-edge anti-join) — without
    # it each branch re-derives the upstream edge build (35 exchanges
    # measured on the co-purchase graph)
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    deg = und.groupBy(F.col("a").alias("z")).agg(
        F.count("*").alias("_deg")
    ).filter(F.col("_deg") >= min_degree)
    # (z, neighbor) adjacency keyed by the middle node; capped per
    # middle when max_degree is set (true degrees stay uncapped)
    by_middle = und.select(F.col("a").alias("z"), F.col("b").alias("n"))
    if max_degree is not None:
        by_middle = _cap_neighborhoods(by_middle, "z", "n", max_degree)
    left = by_middle.select("z", F.col("n").alias("u"))
    right = by_middle.select("z", F.col("n").alias("v"))
    wedges = (
        left.join(right, "z")
        .filter(F.col("u") < F.col("v"))
        .join(F.broadcast(deg), "z")
    )
    scored = wedges.groupBy("u", "v").agg(
        F.count("*").alias("common_neighbors"),
        F.round(F.sum(1.0 / F.log("_deg")), 6).alias("aa_score"),
    )
    existing = und.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    return scored.join(existing, ["u", "v"], "left_anti")


def bfs_reach(
    edges: DataFrame,
    seed,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 3,
    to_fixpoint: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """Breadth-first reachability from one seed, keeping the MINIMUM
    depth per node.  Each round is one join (frontier ⋈ edges) + one
    distinct; visited-set dedup keeps frontiers from re-expanding,
    which is what makes d rounds cost O(edges-within-d-hops), not
    O(paths).

    Two modes:
    - default: a FIXED ``max_depth`` hops — deterministic plan depth,
      oracle-checkable (the registry query uses this);
    - ``to_fixpoint=True``: iterate-until-empty-frontier driver
      control (one count() per round against the checkpointed
      frontier), guarded by ``max_iterations`` — full reachability on
      a 100×-diameter graph, where any fixed hop bound truncates.

    ``seed`` is an int node id OR a 1-row/1-column DataFrame (e.g.
    ``edges.agg(F.min("src"))``) — the frame form keeps query
    CONSTRUCTION lazy (no ``.first()`` driver round-trip before the
    plan even exists, so schema tooling doesn't execute the edge
    build)."""
    # LAZY localCheckpoint (eager=False): each BFS round joins the
    # frontier with the edge list — uncheckpointed, every round
    # replays the whole upstream DAG (measured 120 exchanges vs ~20);
    # eager=True would instead execute the edge build at construction
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    if isinstance(seed, DataFrame):
        visited = seed.select(
            F.col(seed.columns[0]).cast("int").alias("node"),
            F.lit(0).alias("depth"),
        )
    else:
        visited = und.sparkSession.range(1).select(
            F.lit(seed).cast("int").alias("node"), F.lit(0).alias("depth")
        )
    frontier = visited.select("node")

    def _expand(front: DataFrame, seen: DataFrame, d: int) -> DataFrame:
        return (
            front.join(und, front["node"] == und["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
        )

    if to_fixpoint:
        d = 0
        while d < max_iterations:
            d += 1
            nxt = _expand(frontier, visited, d).transform(materialize_lazy)
            if nxt.count() == 0:
                break
            visited = visited.unionByName(nxt).transform(materialize_lazy)
            frontier = nxt.select("node")
    else:
        for d in range(1, max_depth + 1):
            nxt = _expand(frontier, visited, d)
            visited = visited.unionByName(nxt).transform(materialize_lazy)
            frontier = nxt.select("node")
    return visited.select(F.col("node").cast("int").alias("node"), "depth")


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a community assignment over an
    UNDIRECTED simple graph: Q = Σ_c (e_c/m − (d_c/2m)²), where e_c
    is the intra-community edge count, d_c the community's total
    degree, and m the edge count — the number that says whether the
    partition label_propagation/wcc produced actually concentrates
    edges (Q ≈ 0: random; Q ≳ 0.3: real structure).

    Exact integer tallies end to end: canonicalize each edge once
    (src < dst, duplicates dropped), two broadcast joins to attach
    endpoint communities, one edges-pass for e_c and one for degrees
    — m, e_c, d_c are all BIGINT, so the only float math is the final
    Q formula on the communities-sized frame.  Output: one row per
    community (e_c, d_c, its Q contribution) plus the global Q on the
    '__ALL__' row.

    Edges with an endpoint ABSENT from ``communities`` are excluded
    from m/e_c/d_c (Q is only defined over the assigned subgraph) —
    but never silently (round-7 advice): when any edge is dropped, a
    '__UNMAPPED__' diagnostic row surfaces the dropped-edge count in
    its ``intra_edges`` column (degree_sum 0, q_contribution 0.0); a
    fully-assigned graph produces no such row, so the clean-path
    output is unchanged.  Staged for the round-8 registry window."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    cmap = F.broadcast(
        communities.select(
            F.col(node_col).alias("_n"), F.col(community_col).alias("_c")
        ).distinct()
    )
    tagged_all = (
        e.join(cmap.withColumnRenamed("_n", "_a")
               .withColumnRenamed("_c", "_ca"), "_a", "left")
        .join(cmap.withColumnRenamed("_n", "_b")
              .withColumnRenamed("_c", "_cb"), "_b", "left")
    )
    both = F.col("_ca").isNotNull() & F.col("_cb").isNotNull()
    # one pass over the canonical edges counts BOTH the assigned edge
    # total m and the dropped (unmapped-endpoint) edges
    stats = tagged_all.agg(
        F.sum(both.cast("long")).alias("_m"),
        F.sum((~both).cast("long")).alias("_unmapped"),
    )
    tagged = tagged_all.filter(both)
    m_df = stats.select("_m")
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count("*").alias("intra_edges"))
    )
    degrees = (
        tagged.select(F.col("_ca").alias("community"))
        .unionAll(tagged.select(F.col("_cb").alias("community")))
        .groupBy("community")
        .agg(F.count("*").alias("degree_sum"))
    )
    per_c = (
        degrees.join(intra, "community", "left")
        .select(
            "community",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            "degree_sum",
        )
        .crossJoin(F.broadcast(m_df))
        .select(
            "community", "intra_edges", "degree_sum",
            F.round(
                F.col("intra_edges") / F.col("_m")
                - (F.col("degree_sum") / (2.0 * F.col("_m"))) ** 2,
                6,
            ).alias("q_contribution"),
        )
    )
    total = per_c.agg(
        F.lit("__ALL__").cast("string").alias("community_label"),
        F.sum("intra_edges").alias("intra_edges"),
        F.sum("degree_sum").alias("degree_sum"),
        F.round(F.sum("q_contribution"), 6).alias("q_contribution"),
    ).select(
        F.col("community_label").alias("community"),
        "intra_edges", "degree_sum", "q_contribution",
    )
    # diagnostic row, present ONLY when edges were dropped: the 1-row
    # stats frame filters to 0 or 1 rows, so a fully-assigned graph's
    # output is unchanged
    diag = stats.filter(F.col("_unmapped") > 0).select(
        F.lit("__UNMAPPED__").alias("community"),
        F.col("_unmapped").alias("intra_edges"),
        F.lit(0).cast("long").alias("degree_sum"),
        F.lit(0.0).alias("q_contribution"),
    )
    return per_c.select(
        F.col("community").cast("string").alias("community"),
        "intra_edges", "degree_sum", "q_contribution",
    ).unionByName(total).unionByName(diag)


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    n_rounds: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a weighted digraph
    — the bipartite-influence companion to :func:`pagerank` (PageRank
    ranks by random-walk mass; HITS separates "points at good
    things" from "is pointed at by good things", the shape
    marketplace buyer/seller and crawl frontier analyses want).

    INTEGER-EXACT iteration: weights must be integers, scores start
    at 1 and accumulate as DECIMAL(38,0) — every round is exact,
    order-independent arithmetic (the usual per-round float
    normalization is what makes distributed HITS nondeterministic),
    and normalization happens ONCE at the end against the max score
    (two exact decimal→double casts, one division, 6dp).  The cost is
    a magnitude bound: scores grow by a factor ≤ (Σw)² per round, so
    ``n_rounds`` must satisfy 2·n_rounds·log₁₀(Σw) < 38 — Spark's
    ANSI decimal overflow raises loudly, never silently wraps.
    n_rounds=2 holds to Σw ≈ 3·10⁹ edges-weight; HITS on real graphs
    is near-converged by then.

    Shape per round: two edge-shuffles (group by dst, then by src) —
    the pagerank posture; node scores are materialized per round
    (flat lineage), and every round's cut stays stored until GC
    reaches its frame: up to 2·n_rounds·|V| rows per query.  Nodes
    with no in-edges (or out-edges) hold score 0.
    Output: one row per node — node, authority, hub (each
    max-normalized, 6dp)."""
    dec = "decimal(38,0)"
    ok = (
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & F.col(weight).isNotNull()
    )
    # a NULL endpoint or weight would silently fall out of the degree
    # sums and skew every score — raise in-plan instead.  The guard
    # must ride EVERY consumed column (not just the weight): the
    # equi-joins let Catalyst infer `key IS NOT NULL` and push it
    # below the projection, which would prune the offending ROW
    # before a weight-only guard ever evaluated (the srm_check
    # pruning lesson); a guarded key forces IsNotNull(when(...)) to
    # evaluate the raise first
    def _guard(c):
        return F.when(ok, c).otherwise(
            F.raise_error(
                F.lit("hits_scores: src/dst/weight must be non-null")
            )
        )

    e = edges.select(
        _guard(F.col(src)).alias("_s"),
        _guard(F.col(dst)).alias("_d"),
        _guard(F.col(weight).cast(dec)).alias("_w"),
    )
    nodes = (
        e.select(F.col("_s").alias("_v"))
        .unionByName(e.select(F.col("_d").alias("_v")))
        .distinct()
    )
    h = nodes.select("_v", F.lit(1).cast(dec).alias("_h"))
    a = None
    for _ in range(n_rounds):
        a_in = (
            e.join(h.withColumnRenamed("_v", "_s"), "_s")
            .groupBy("_d")
            .agg(F.sum(F.col("_w") * F.col("_h")).alias("_a"))
        )
        a = nodes.join(
            a_in.withColumnRenamed("_d", "_v"), "_v", "left"
        ).select(
            "_v", F.coalesce("_a", F.lit(0).cast(dec)).alias("_a")
        )
        a = a.transform(materialize)
        h_out = (
            e.join(a.withColumnRenamed("_v", "_d"), "_d")
            .groupBy("_s")
            .agg(F.sum(F.col("_w") * F.col("_a")).alias("_h"))
        )
        h = nodes.join(
            h_out.withColumnRenamed("_s", "_v"), "_v", "left"
        ).select(
            "_v", F.coalesce("_h", F.lit(0).cast(dec)).alias("_h")
        )
        h = h.transform(materialize)
    amax = a.agg(F.max("_a").alias("_amax"))
    hmax = h.agg(F.max("_h").alias("_hmax"))
    return (
        a.join(h, "_v")
        .crossJoin(F.broadcast(amax))
        .crossJoin(F.broadcast(hmax))
        .select(
            F.col("_v").alias("node"),
            F.round(
                F.col("_a").cast("double") / F.col("_amax").cast("double"),
                6,
            ).alias("authority"),
            F.round(
                F.col("_h").cast("double") / F.col("_hmax").cast("double"),
                6,
            ).alias("hub"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) — PageRank's
    global teleport replaced by restart to a SEED set, which turns
    the global-importance score into "importance relative to these
    nodes": the standard graph recommendation / related-entities
    kernel (seeds = a user's items → ranks = what to recommend;
    seeds = one entity → ranks = its neighborhood weighted by
    multi-hop connectivity).

    rank_{t+1}(v) = (1−d)·s(v) + d·(Σ_{u→v} rank_t(u)·p(u→v)
                                    + dangling_mass_t·s(v)),
    with s uniform over ``seeds`` and zero elsewhere — BOTH the
    teleport and the dangling redistribution restart to the seeds
    (the walk never leaks mass to non-seed teleports, the defining
    difference from :func:`pagerank`).

    Same execution discipline as pagerank: per-iteration broadcast
    of the O(|V|) rank table, map-side-combined contribution sums,
    per-round lineage cut, driver loops only over the iteration count.
    Output: (node, rank) — mass sums to 1 over reachable nodes."""
    edges = edges.transform(materialize_lazy)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    probs = out_weights(edges, src, dst, weight).transform(materialize_lazy)
    seed_share = 1.0 / len(seeds)
    seed_col = F.when(
        F.col("node").isin(list(seeds)), F.lit(seed_share)
    ).otherwise(F.lit(0.0))
    with_seed = nodes.withColumn("_s", seed_col).transform(materialize)

    ranks = with_seed.select("node", F.col("_s").alias("rank"))
    src_nodes = probs.select(F.col(src).alias("node")).distinct()
    src_nodes = src_nodes.transform(materialize_lazy)
    for _ in range(iterations):
        ranks = ranks.transform(materialize_lazy)
        dangling = (
            ranks.join(src_nodes, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_m"))
        )
        contribs = (
            probs.join(
                ranks.withColumnRenamed("node", src), src
            )
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        ranks = (
            with_seed.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("_s")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_m") * F.col("_s")
                    )
                ).alias("rank"),
            )
        )
    return ranks


def harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Hop-limited harmonic centrality: for every node v, the sum of
    ``1/d(v, u)`` over the nodes u reachable within ``max_hops``
    DIRECTED hops (following out-edges).  Harmonic is the
    closeness variant that is well-defined on disconnected graphs
    (unreachable nodes contribute 0, not a divide-by-infinity), which
    is why it is the form production graph QA uses.

    Execution is multi-source BFS as relational ops: the state is the
    (source, reached-node) pair set; each round is one join (frontier
    ⋈ edges) + distinct + anti-join against the visited set, so round
    h costs O(edges within h hops of any source), never O(paths).
    Per-hop reach COUNTS are integers (exact, order-independent); the
    harmonic sum is assembled from them in one fixed-order expression
    ``n1/1 + n2/2 + ... + nH/H``, so the 6dp rounding is stable
    across engines and partitionings.

    Scale contract: the state is O(Σ_v |B_H(v)|) — on a bounded-degree
    or hop-limited graph this is linear-ish in |V|; on a dense graph
    it approaches |V|², so callers at web scale pass a LANDMARK-sampled
    source subset (filter the node spine before seeding) — the plan
    below is unchanged.  Each round's frontier is localCheckpoint-ed
    (lazy) so round h's join does not replay rounds 1..h-1.

    Output: (node, n_reached, harmonic) for every node of the graph,
    0 / 0.0 where nothing is reachable within the bound."""
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .transform(materialize_lazy)
    )
    nodes = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .distinct()
        .transform(materialize_lazy)
    )
    visited = nodes.select(
        F.col("node").alias("_src"), F.col("node").alias("_cur")
    )
    frontier = visited
    hop_counts = []  # list of (h, DataFrame[_src, _n])
    for h in range(1, max_hops + 1):
        frontier = (
            frontier.join(e, frontier["_cur"] == e["_a"])
            .select("_src", F.col("_b").alias("_cur"))
            .distinct()
            .join(visited, ["_src", "_cur"], "left_anti")
            .transform(materialize_lazy)
        )
        visited = visited.unionByName(frontier).transform(materialize_lazy)
        hop_counts.append(
            (h, frontier.groupBy("_src").agg(F.count("*").alias("_n")))
        )
    per_hop = None
    for h, cnt in hop_counts:
        tagged = cnt.select("_src", F.lit(h).alias("_h"), "_n")
        per_hop = tagged if per_hop is None else per_hop.unionByName(tagged)
    # fixed-order harmonic assembly from exact integer per-hop counts
    harmonic = sum(
        (
            F.sum(F.when(F.col("_h") == h, F.col("_n")).otherwise(0))
            / float(h)
            for h, _ in hop_counts
        ),
        F.lit(0.0),
    )
    stats = per_hop.groupBy("_src").agg(
        F.sum("_n").alias("n_reached"),
        F.round(harmonic, 6).alias("harmonic"),
    )
    return (
        nodes.join(stats, nodes["node"] == stats["_src"], "left")
        .select(
            F.col("node").cast("int").alias("node"),
            F.coalesce(F.col("n_reached"), F.lit(0)).alias("n_reached"),
            F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic"),
        )
    )


def assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Directed degree assortativity: the Pearson correlation, across
    EDGES, of the source's out-degree with the destination's
    in-degree — positive means hubs feed hubs (core-periphery),
    negative means hubs feed leaves (star-like).  The one-number
    wiring-shape diagnostic next to degree_stats' distributions.

    Computed from exact integer moments: per-node out/in degrees are
    grouped counts (integers), joined back onto the edge list, and
    the correlation is assembled from the six integer sums
    (M, Σx, Σy, Σx², Σy², Σxy) in one fixed-order expression — no
    float accumulates anywhere before the final 6dp division, so the
    value is engine- and partitioning-exact.

    Plan: two map-side-combined degree counts, two equi-joins back
    to edges (broadcast while the node table fits, shuffle-hash
    beyond), one keys=[] aggregate.  Self-loops are excluded (they
    correlate a node with itself by construction).

    Output: one row (n_edges, r) — r NULL on a degenerate graph
    (uniform degrees on either side)."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    out_deg = e.groupBy(F.col("_s").alias("_n")).agg(
        F.count("*").alias("_od")
    )
    in_deg = e.groupBy(F.col("_d").alias("_n")).agg(
        F.count("*").alias("_id")
    )
    tagged = (
        e.join(out_deg, e["_s"] == out_deg["_n"])
        .drop("_n")
        .join(in_deg, e["_d"] == in_deg["_n"])
        .select(
            F.col("_od").cast("bigint").alias("_x"),
            F.col("_id").cast("bigint").alias("_y"),
        )
    )
    sums = tagged.agg(
        F.count("*").alias("m"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("m").alias("n_edges"),
        F.round(F.try_divide(num.cast("double"), den), 6).alias("r"),
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of (distinct,
    non-loop) edges whose reverse edge also exists — 1.0 on an
    effectively undirected graph, ~0 on a strict hierarchy.  The
    third one-number shape diagnostic next to assortativity and the
    global clustering coefficient.

    One distinct pass + one LEFT SEMI self-join keyed on the swapped
    pair (never a product), one keys=[] fold.  Counts are exact
    integers; the ratio is the only float (6dp)."""
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .transform(materialize_lazy)
    )
    rev = e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    recip = e.join(rev, ["_a", "_b"], "left_semi").agg(
        F.count("*").alias("n_reciprocated")
    )
    tot = e.agg(F.count("*").alias("n_edges"))
    return tot.crossJoin(F.broadcast(recip)).select(
        "n_edges", "n_reciprocated",
        F.round(
            F.try_divide(F.col("n_reciprocated"), F.col("n_edges")), 6
        ).alias("reciprocity"),
    )


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient — triangle_count's
    global census, refined to the node grain: lcc(v) = t_v /
    C(d_v, 2), the probability two of v's neighbors know each other.
    The node-level signal community detection sanity-checks against
    (a "community" of lcc≈0 nodes is a star, not a community).

    Same canonical a<b orientation and wedge-join ⋈ semi-probe as
    triangle_count, but the closing-edge probe is an INNER join so
    each found triangle (a<b<c) survives as a row and credits all
    three corners via a 3-element explode — one extra map stage over
    the census, no new shuffle shape.  Degrees and triangle credits
    are exact integers; lcc floats only at the final 6dp division.
    Degree<2 nodes have no wedge: lcc = 0.0 by convention.

    Output: (node, degree, triangles, lcc)."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_lazy)
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # wedges (a<b<c): (a,b) joins (b,c); the closing edge (a,c)
    # keeps the triangle
    left = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    right = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = (
        left.join(right, "y")
        .join(
            canon.select(F.col("a").alias("x"), F.col("b").alias("z")),
            ["x", "z"],
            "left_semi",
        )
    )
    credits = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    wedges = F.col("degree") * (F.col("degree") - 1) / 2
    return (
        deg.join(credits, "node", "left")
        .select(
            F.col("node").cast("int").alias("node"),
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("triangles"), F.lit(0)) / wedges, 6
                )
            )
            .alias("lcc"),
        )
    )


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Strongly connected components within a hop bound — the
    DIRECTED counterpart of graph_wcc: node u and v share a
    component iff each reaches the other in <= ``max_hops`` directed
    hops, and the component id is the smallest mutual-reach node.
    On a graph whose diameter fits the bound this IS the exact SCC
    partition; the bound is the operator's documented contract (the
    harmonic_centrality posture), keeping plan depth fixed and the
    result oracle-checkable.

    Execution: the same multi-source frontier closure as
    harmonic_centrality (join + distinct + anti-join per hop,
    lazily checkpointed), then ONE self-join of the closure with its
    swap — (v,u) ∧ (u,v) — a pair-keyed equi-join, never a product;
    min-label per node and a component-size rollup.  The closure is
    O(Σ|B_H(v)|) rows: linear-ish on bounded-degree graphs, so the
    same landmark/sampling caveat as harmonic applies at web scale
    (or run wcc first and scc per weak component).

    Output: (node, bounded_scc_id, bounded_scc_size) — singletons
    keep themselves as bounded_scc_id with size 1.  The column names
    carry the bound deliberately (round-8 advice): mutual
    reachability within ``max_hops`` is NOT transitive, so when the
    bound is smaller than a true component's internal diameter the
    min-labels need not form a consistent partition —
    ``bounded_scc_size`` counts label groups, not guaranteed SCCs.
    Only when every component's diameter fits the bound do the
    bounded labels coincide with the exact SCC partition."""
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .transform(materialize_lazy)
    )
    nodes = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .distinct()
        .transform(materialize_lazy)
    )
    visited = nodes.select(
        F.col("node").alias("_src"), F.col("node").alias("_cur")
    )
    frontier = visited
    for _ in range(max_hops):
        frontier = (
            frontier.join(e, frontier["_cur"] == e["_a"])
            .select("_src", F.col("_b").alias("_cur"))
            .distinct()
            .join(visited, ["_src", "_cur"], "left_anti")
            .transform(materialize_lazy)
        )
        visited = visited.unionByName(frontier).transform(materialize_lazy)
    swapped = visited.select(
        F.col("_cur").alias("_src"), F.col("_src").alias("_cur")
    )
    mutual = visited.join(swapped, ["_src", "_cur"], "left_semi")
    labels = mutual.groupBy("_src").agg(
        F.min("_cur").alias("bounded_scc_id")
    )
    sizes = labels.groupBy("bounded_scc_id").agg(
        F.count("*").alias("bounded_scc_size")
    )
    return (
        labels.join(sizes, "bounded_scc_id")
        .select(
            F.col("_src").cast("int").alias("node"),
            F.col("bounded_scc_id").cast("int").alias("bounded_scc_id"),
            "bounded_scc_size",
        )
    )


def path_length_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Hop-bounded path-length census: over all ordered node pairs
    (u≠v), how many are reachable within ``max_hops`` directed hops,
    at what mean distance, and what the observed diameter (within
    the bound) is — the one-row "how navigable is this graph"
    summary next to harmonic_centrality's per-node view, sharing its
    frontier-closure plan and its landmark-sampling scale caveat.

    Per-hop pair counts are exact integers; the mean is assembled
    from them in one fixed-order expression Σh·n_h / Σn_h (6dp).
    ``reach_frac`` divides by the n·(n−1) ordered-pair universe.

    Output: one row (n_nodes, n_pairs_reachable, reach_frac,
    mean_dist, diameter)."""
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .transform(materialize_lazy)
    )
    nodes = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .distinct()
        .transform(materialize_lazy)
    )
    visited = nodes.select(
        F.col("node").alias("_src"), F.col("node").alias("_cur")
    )
    frontier = visited
    hop_counts = []
    for h in range(1, max_hops + 1):
        frontier = (
            frontier.join(e, frontier["_cur"] == e["_a"])
            .select("_src", F.col("_b").alias("_cur"))
            .distinct()
            .join(visited, ["_src", "_cur"], "left_anti")
            .transform(materialize_lazy)
        )
        visited = visited.unionByName(frontier).transform(materialize_lazy)
        hop_counts.append(
            (h, frontier.agg(F.count("*").alias("_n")))
        )
    n_nodes = nodes.agg(F.count("*").alias("n_nodes"))
    out = n_nodes
    for h, cnt in hop_counts:
        out = out.crossJoin(
            F.broadcast(cnt.select(F.col("_n").alias(f"_n{h}")))
        )
    total = sum(
        (F.col(f"_n{h}") for h, _ in hop_counts[1:]),
        F.col(f"_n{hop_counts[0][0]}"),
    )
    weighted = sum(
        (F.col(f"_n{h}") * h for h, _ in hop_counts[1:]),
        F.col(f"_n{hop_counts[0][0]}") * hop_counts[0][0],
    )
    diameter = F.greatest(
        *[
            F.when(F.col(f"_n{h}") > 0, F.lit(h)).otherwise(0)
            for h, _ in hop_counts
        ]
    ) if len(hop_counts) > 1 else F.when(
        F.col("_n1") > 0, F.lit(1)
    ).otherwise(0)
    universe = F.col("n_nodes") * (F.col("n_nodes") - 1)
    return out.select(
        "n_nodes",
        total.alias("n_pairs_reachable"),
        F.round(F.try_divide(total, universe), 6).alias("reach_frac"),
        F.round(F.try_divide(weighted, total), 6).alias("mean_dist"),
        diameter.cast("int").alias("diameter"),
    )
