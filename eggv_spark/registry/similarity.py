"""Vector-similarity entries over ``embeddings``: exact, IVF and PQ
top-k search, embedding audits, and geo proximity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators import similarity as S
from eggv_spark.registry._shared import register, _t, _TOKS_SQL


def _cosine_topk_oracle() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (SELECT q.query_id, c.neighbor_id,
    round(list_dot_product(q.qv, c.cv)
          / (sqrt(list_dot_product(q.qv, q.qv))
             * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
    FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@register("sim_cosine_topk", _cosine_topk_oracle())
def _sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter("vec_id % 50 = 0"), k=5)


def _ivf_topk_oracle(k: int = 5) -> str:
    """IVF is deterministic end-to-end (md5-derived centroid
    literals, 6dp-rounded cosine argmax with a max-cell tiebreak —
    mirror of similarity._best_cells' reverse(array_sort(struct))),
    so the probe result is reproducible in SQL: assign every vector
    to its best cell, probe each query's 10 best cells, exact top-5
    within the probed subset (n_probe here MUST track the Spark
    queries' n_probe — see _sim_ivf_topk/_sim_recall_eval)."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe = 64, 16, 10
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
scored AS (SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


@register("sim_ivf_topk", _ivf_topk_oracle())
def _sim_ivf_topk(spark, sf_dir):
    """IVF probe at n_probe=10 of 16 cells: measured recall@5 = 0.94
    on the synthetic corpus (see the sweep in sim_recall_eval's
    docstring).  At real scale n_centroids ~ sqrt(n), so a 10-cell
    probe is a small corpus fraction, not 60% of the cells."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter("vec_id % 50 = 0"), k=5, n_probe=10)


@register(
    "sim_recall_eval",
    f"WITH bf AS ({_cosine_topk_oracle()}),"
    f" ivf AS ({_ivf_topk_oracle()})"
    " SELECT b.query_id, CAST(count(i.neighbor_id) AS INT)"
    "  AS n_hits,"
    " round(count(i.neighbor_id) / 5.0, 4) AS recall_at_5"
    " FROM bf b LEFT JOIN ivf i"
    "  ON b.query_id = i.query_id"
    "  AND b.neighbor_id = i.neighbor_id"
    " GROUP BY b.query_id",
)
def _sim_recall_eval(spark, sf_dir):
    """ANN quality gauge: recall@5 of the IVF probe against the
    exact brute-force top-5, per query — the metric that justifies
    (or vetoes) an index at scale.

    Measured recall/cost curve on the sf0.01 synthetic corpus
    (500 uniform-random 64-d vectors, 10 queries, mean recall@5):

    ====  =======  ==========  ======
    cells  probes  probe_frac  recall
    ====  =======  ==========  ======
      16        8        0.50   0.84
      16       10        0.62   0.94  <- default
      16       12        0.75   0.96
      32        8        0.25   0.54
      32       16        0.50   0.78
      64       16        0.25   0.50
    ====  =======  ==========  ======

    Uniform-random embeddings are the ANN worst case: with no cluster
    structure, cell membership carries almost no neighborhood signal
    and recall tracks the probed corpus fraction for ANY
    partition-based index (more centroids at fixed probe_frac only
    add quantization noise — see the 32/64-cell rows).  Real
    embedding corpora cluster, which is what lets sqrt(n) centroids
    with a small probe fraction hold recall high at scale; on this
    synthetic corpus the honest operating point is probe_frac=0.62
    for recall 0.94."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    return S.ann_recall(
        S.brute_force_topk(emb, q, k=5),
        S.ivf_topk(emb, q, k=5, n_probe=10),
        k=5,
    )


@register(
    "sim_ndcg",
    f"WITH bf AS ({_cosine_topk_oracle()}),"
    f" ivf AS ({_ivf_topk_oracle()}),"
    " t AS (SELECT query_id, neighbor_id,"
    "  CAST(6 - rank AS DOUBLE) AS rel FROM bf),"
    " g AS (SELECT i.query_id,"
    "  (pow(2.0, COALESCE(t.rel, 0)) - 1) / log2(i.rank + 1)"
    "   AS gain"
    "  FROM ivf i LEFT JOIN t ON t.query_id = i.query_id"
    "  AND t.neighbor_id = i.neighbor_id WHERE i.rank <= 5),"
    " dcg AS (SELECT query_id, sum(gain) AS dcg FROM g"
    "  GROUP BY 1),"
    " ideal AS (SELECT query_id,"
    "  sum((pow(2.0, rel) - 1) / log2(irk + 1)) AS idcg FROM ("
    "   SELECT query_id, rel, row_number() OVER ("
    "    PARTITION BY query_id ORDER BY rel DESC,"
    "    neighbor_id ASC) AS irk FROM t)"
    "  WHERE irk <= 5 GROUP BY 1)"
    " SELECT d.query_id, round(d.dcg, 6) AS dcg,"
    " round(i.idcg, 6) AS idcg,"
    " round(d.dcg / i.idcg, 6) AS ndcg_at_5"
    " FROM dcg d LEFT JOIN ideal i USING (query_id)",
)
def _sim_ndcg(spark, sf_dir):
    """Order-aware ANN quality: NDCG@5 of the IVF ranking against
    graded relevance derived from the exact brute-force ranks
    (rel = 6 - true_rank, so the true best neighbor carries gain
    2^5-1) — recall says whether the right neighbors came back,
    NDCG says whether they came back in the right ORDER
    (similarity.ranking_ndcg)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    truth = S.brute_force_topk(emb, q, k=5).select(
        "query_id",
        "neighbor_id",
        (F.lit(6) - F.col("rank")).cast("double").alias("rel"),
    )
    ranked = S.ivf_topk(emb, q, k=5, n_probe=10)
    return S.ranking_ndcg(ranked, truth, k=5)


def _pq_topk_oracle() -> str:
    """Exact replica of the PQ encode + asymmetric-distance ranking:
    md5-derived codebooks as literals; per-(vector, subspace) squared
    L2 to every centroid, 6dp-rounded; argmin with lowest-index
    tiebreak for codes; queries reuse the same distances as their
    LUT; approx distance = sum of the query's LUT entries at the
    corpus codes."""
    from eggv_spark.operators.similarity import _pq_codebook

    dim, m, k, kn = 64, 8, 16, 5
    sub_dim = dim // m
    rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cb(sub, c, cv) AS (VALUES {rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sd AS (SELECT vec_id, sub, c,
    round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cv[i])
             * (v[sub * {sub_dim} + i] - cv[i]))), 6) AS d
    FROM v CROSS JOIN cb),
enc AS (SELECT vec_id, sub, c AS code FROM (
    SELECT vec_id, sub, c,
        row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d ASC, c ASC) AS rn
    FROM sd) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, sub, c, d FROM sd WHERE vec_id % 50 = 0),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        round(sum(q.d), 4) AS approx_dist
    FROM enc e JOIN q ON q.sub = e.sub AND q.c = e.code
        AND e.vec_id <> q.query_id
    GROUP BY q.query_id, e.vec_id),
ranked AS (SELECT query_id, neighbor_id, approx_dist,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
    FROM scored)
SELECT query_id, neighbor_id, approx_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kn}
"""


@register("sim_pq_topk", _pq_topk_oracle())
def _sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN: shuffle-free 8x16 encode of the
    corpus + per-query asymmetric-distance LUT, fully deterministic
    (md5 codebooks, 6dp argmin w/ index tiebreak) so the DuckDB
    oracle reproduces codes, LUT, and ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, emb.filter("vec_id % 50 = 0"), k_neighbors=5)


def _range_search_oracle() -> str:
    """IVF radius-search replica: same cell assignment/probing as the
    top-k oracle, but the tail is a threshold filter on the rounded
    cosine instead of a ranking window."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe, threshold = 64, 16, 4, 0.25
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe})
SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id
      AND round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) >= {threshold}
"""


@register("sim_range_search", _range_search_oracle())
def _sim_range_search(spark, sf_dir):
    """Radius similarity search through the IVF index: every corpus
    neighbor with 4dp-rounded cosine >= 0.25 per query — unranked
    filter output, no per-query window funnel."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_range_search(
        emb, emb.filter("vec_id % 50 = 0"), threshold=0.25
    )


def _kmeans_iter_oracle() -> str:
    """Lloyd-iteration replica: same md5 centroid literals, same
    6dp-rounded squared-L2 argmin with lowest-cluster tiebreak, then
    count/inertia and per-dimension means re-aggregated in SQL."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_clusters = 64, 8
    # /2000 rescale mirrors kmeans_assign: repr() round-trips the
    # exact double, so both engines see bit-identical centroids.
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w / 2000.0) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_clusters)
    )
    return f"""
WITH cent(cluster_id, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, v, cluster_id,
    round(list_aggregate(list_transform(generate_series(1, {dim}),
          i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum'), 6) AS sqd
    FROM v CROSS JOIN cent),
asg AS (SELECT vec_id, v, cluster_id, sqd FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sqd, cluster_id) AS rk FROM d)
    WHERE rk = 1),
mem AS (SELECT cluster_id, count(*) AS n_members,
    round(sum(sqd), 2) AS inertia
    FROM asg GROUP BY cluster_id),
dm AS (SELECT cluster_id, i, avg(v[i]) AS m
    FROM asg, generate_series(1, {dim}) t(i) GROUP BY 1, 2),
cn AS (SELECT cluster_id, round(sqrt(sum(m * m)), 4) AS centroid_norm
    FROM dm GROUP BY cluster_id)
SELECT CAST(mem.cluster_id AS INT) AS cluster_id, n_members, inertia,
    centroid_norm
FROM mem JOIN cn USING (cluster_id)
"""


@register("sim_kmeans_iter", _kmeans_iter_oracle())
def _sim_kmeans_iter(spark, sf_dir):
    """One Lloyd k-means iteration over the embedding corpus
    (SemDeDup-style semantic clustering step): map-only E-step
    against deterministic md5 centroids, skinny posexplode M-step
    with map-side combine.  Deterministic (6dp distance round,
    lowest-cluster tiebreak) so the DuckDB oracle reproduces
    assignments, inertia, and updated-centroid norms."""
    return S.kmeans_iteration(_t(spark, sf_dir, "embeddings"))


@register(
    "sim_int8_quantize",
    "WITH q AS (SELECT vec_id,"
    "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,"
    "  127.0 / list_max(list_transform(embedding,"
    "   x -> abs(CAST(x AS DOUBLE)))) AS sc"
    " FROM embeddings)"
    " SELECT vec_id, CAST(len(v) AS INT) AS n_dims,"
    " round(sc, 6) AS scale,"
    " CAST(list_min(list_transform(v,"
    "  x -> CAST(round(x * sc) AS INT))) AS INT) AS min_code,"
    " CAST(list_max(list_transform(v,"
    "  x -> CAST(round(x * sc) AS INT))) AS INT) AS max_code,"
    " round(sqrt(list_sum(list_transform(v,"
    "  x -> pow(x - CAST(round(x * sc) AS INT) / sc, 2))) / len(v)),"
    "  6) AS recon_rmse"
    " FROM q",
)
def _sim_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization + reconstruction RMSE —
    shuffle-free Column array math (similarity.int8_quantize)."""
    return S.int8_quantize(_t(spark, sf_dir, "embeddings"))


@register(
    "sim_centroid_cosine",
    "WITH x AS (SELECT label, u.i AS dim,"
    "  CAST(embedding[u.i] AS DOUBLE) AS val FROM embeddings,"
    "  LATERAL unnest(generate_series(1, len(embedding))) u(i)),"
    " g AS (SELECT label, dim, sum(val) AS s, count(*) AS n"
    "  FROM x GROUP BY label, dim),"
    " c AS (SELECT label, list(s / n ORDER BY dim) AS centroid"
    "  FROM g GROUP BY label)"
    " SELECT a.label AS label_a, b.label AS label_b,"
    " round(list_dot_product(a.centroid, b.centroid)"
    "  / (sqrt(list_dot_product(a.centroid, a.centroid))"
    "   * sqrt(list_dot_product(b.centroid, b.centroid))), 6)"
    "  AS cosine"
    " FROM c a JOIN c b ON a.label < b.label",
)
def _sim_centroid_cosine(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids — class
    separation diagnostic; one pass over the vectors, broadcast
    self-join over the tiny centroid table."""
    return S.label_centroid_similarity(_t(spark, sf_dir, "embeddings"))


def _ivf_pq_topk_oracle() -> str:
    """IVF cell pruning composed with PQ asymmetric scoring — the
    union of _ivf_topk_oracle's cell CTEs and _pq_topk_oracle's
    code/LUT CTEs, joined: candidates come from probed cells, the
    distance from the query's per-subspace LUT at the candidate's
    codes."""
    from eggv_spark.operators.similarity import _centroid_values, _pq_codebook

    dim, n_centroids, n_probe, kn = 64, 16, 10, 5
    m, k = 8, 16
    sub_dim = dim // m
    cent_rows = ", ".join(
        f"({c}, [" + ", ".join(repr(w) for w in _centroid_values(c, dim)) + "])"
        for c in range(n_centroids)
    )
    cb_rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
cb(sub, c, cbv) AS (VALUES {cb_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
          6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, cell
           FROM ranked_cells WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cell
           FROM ranked_cells WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
sd AS (SELECT vec_id, sub, c,
    round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cbv[i])
             * (v[sub * {sub_dim} + i] - cbv[i]))), 6) AS d
    FROM v CROSS JOIN cb),
enc AS (SELECT vec_id, sub, c AS code FROM (
    SELECT vec_id, sub, c,
        row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d ASC, c ASC) AS rn
    FROM sd) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, sub, c,
    CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS du
    FROM sd WHERE vec_id % 50 = 0),
cand AS (SELECT p.query_id, a.neighbor_id
    FROM assign a JOIN probes p USING (cell)
    WHERE a.neighbor_id <> p.query_id),
scored AS (SELECT cd.query_id, cd.neighbor_id,
        CAST(sum(q.du) AS BIGINT) AS approx_dist_u
    FROM cand cd
    JOIN enc e ON e.vec_id = cd.neighbor_id
    JOIN q ON q.query_id = cd.query_id AND q.sub = e.sub AND q.c = e.code
    GROUP BY cd.query_id, cd.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, approx_dist_u,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY approx_dist_u ASC, neighbor_id ASC) AS rank
    FROM scored)
SELECT query_id, neighbor_id, approx_dist_u, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kn}
"""


@register("sim_ivf_pq_topk", _ivf_pq_topk_oracle())
def _sim_ivf_pq_topk(spark, sf_dir):
    """IVF cell pruning + PQ asymmetric-distance scoring composed —
    the FAISS-IVFPQ serving shape relationally: the persisted index
    holds (cell, codes) only; probes broadcast; ranking is m table
    lookups per scanned code row (similarity.ivf_pq_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k_neighbors=5, n_centroids=16, n_probe=10, m=8, k=16, dim=64,
    )


def _geo_points(spark, sf_dir):
    """Deterministic synthetic coordinates: customers cluster around
    their nation's anchor with a ≤2° md5 jitter — SQL-replayable, so
    the spatial join is value-oracled like every other family."""
    from eggv_spark.operators.dedupe import base_hash

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    jlat = (base_hash(F.concat(F.col("c_custkey").cast("string"),
                               F.lit("lat"))) % 200) / 100.0
    jlon = (base_hash(F.concat(F.col("c_custkey").cast("string"),
                               F.lit("lon"))) % 200) / 100.0
    return c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_nationkey") * 6 - 72 + jlat).alias("lat"),
        (F.col("c_nationkey") * 13 % 360 - 180 + jlon).alias("lon"),
    )


@register(
    "geo_proximity",
    "WITH pts AS (SELECT c_custkey AS id,"
    "  c_nationkey * 6 - 72 + (CAST(concat('0x', substr(md5("
    "   concat(CAST(c_custkey AS VARCHAR), 'lat')), 1, 8))"
    "   AS BIGINT) % 200) / 100.0 AS lat,"
    "  c_nationkey * 13 % 360 - 180 + (CAST(concat('0x',"
    "   substr(md5(concat(CAST(c_custkey AS VARCHAR), 'lon')),"
    "   1, 8)) AS BIGINT) % 200) / 100.0 AS lon"
    " FROM customer),"
    " lhs AS (SELECT id AS left_id, lat AS left_lat,"
    "  lon AS left_lon,"
    "  (CAST(floor((lat + 90.0) / 0.25) AS BIGINT) + dy.d) * 4096"
    "   + CAST(floor((lon + 180.0) / 0.25) AS BIGINT) + dx.d"
    "   AS cell"
    " FROM pts, (SELECT unnest([-1, 0, 1]) AS d) dy,"
    "  (SELECT unnest([-1, 0, 1]) AS d) dx),"
    " rhs AS (SELECT id AS right_id, lat AS right_lat,"
    "  lon AS right_lon,"
    "  CAST(floor((lat + 90.0) / 0.25) AS BIGINT) * 4096"
    "   + CAST(floor((lon + 180.0) / 0.25) AS BIGINT) AS cell"
    " FROM pts),"
    " cand AS (SELECT left_id, right_id,"
    "  round(2 * 6371.0 * asin(sqrt("
    "   sin(radians(right_lat - left_lat) / 2)"
    "    * sin(radians(right_lat - left_lat) / 2)"
    "   + cos(radians(left_lat)) * cos(radians(right_lat))"
    "    * sin(radians(right_lon - left_lon) / 2)"
    "    * sin(radians(right_lon - left_lon) / 2))), 2)"
    "   AS distance_km"
    " FROM lhs JOIN rhs USING (cell) WHERE left_id < right_id)"
    " SELECT left_id, right_id, distance_km FROM cand"
    " WHERE distance_km <= 25.0",
)
def _geo_proximity(spark, sf_dir):
    """Spatial proximity self-join: customer pairs within 25 km, via
    0.25° grid bucketing + 3×3 neighborhood + haversine verify
    (geo.proximity_join) — work is per-cell density bounded, never
    |A|·|B|."""
    from eggv_spark.operators import geo as GEO

    pts = _geo_points(spark, sf_dir)
    return GEO.proximity_join(pts, pts, radius_km=25.0, cell_deg=0.25)


def _pair_stats_oracle() -> str:
    return """
WITH n AS (SELECT count(*) AS n FROM embeddings),
pr0 AS (SELECT e.vec_id AS ida, j.j FROM embeddings e
  CROSS JOIN (VALUES (0), (1)) j(j)),
pr AS (SELECT DISTINCT ida,
  (ida + 1 + (CAST(concat('0x', substr(md5(CAST(ida AS VARCHAR)
    || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % (n.n - 1)))
  % n.n AS idb
  FROM pr0, n),
pairs AS (SELECT pr.ida, pr.idb,
  CAST(a.embedding AS DOUBLE[]) AS va,
  CAST(b.embedding AS DOUBLE[]) AS vb
  FROM pr JOIN embeddings a ON a.vec_id = pr.ida
  JOIN embeddings b ON b.vec_id = pr.idb
  WHERE pr.idb <> pr.ida),
scored AS (SELECT round(list_dot_product(va, vb)
  / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
  6) AS c FROM pairs)
SELECT CAST(least(greatest(floor(c * 10), -10), 9) AS INT)
  AS cos_bucket, count(*) AS n_pairs, round(avg(c), 4) AS mean_cos
FROM scored GROUP BY 1
"""


@register("sim_pair_stats", _pair_stats_oracle())
def _sim_pair_stats(spark, sf_dir):
    """Embedding-space cosine geometry over a deterministic md5 pair
    sample (2 partners per vector): 0.1-wide cosine histogram with
    per-bucket mean — the ANN/dedup threshold-tuning diagnostic
    (similarity.pair_cosine_histogram)."""
    return S.pair_cosine_histogram(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_pairs_per_vec=2,
    )


@register(
    "geo_grid_density",
    "WITH pts AS (SELECT"
    "  (c_custkey * 37 % 18000) / 100.0 - 90.0 AS lat,"
    "  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon"
    "  FROM customer),"
    " cells AS (SELECT CAST(floor((lat + 90.0) / 10.0) AS BIGINT)"
    "   * 4096 + CAST(floor((lon + 180.0) / 10.0) AS BIGINT)"
    "   AS cell_id, count(*) AS n_points FROM pts GROUP BY 1),"
    " r AS (SELECT cell_id, n_points, CAST(row_number() OVER ("
    "  ORDER BY n_points DESC, cell_id) AS INT) AS rank FROM cells)"
    " SELECT rank, cell_id, n_points,"
    " round(floor(cell_id / 4096) * 10.0 - 90.0, 4) AS lat_lo,"
    " round((cell_id % 4096) * 10.0 - 180.0, 4) AS lon_lo"
    " FROM r WHERE rank <= 20",
)
def _geo_grid_density(spark, sf_dir):
    """Spatial hotspot ranking: deterministic synthetic lat/lon per
    customer, 10-degree grid binning, top-20 cells by (count desc,
    cell) rank cutoff (geo.grid_density)."""
    from eggv_spark.operators.geo import grid_density

    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return grid_density(pts, "lat", "lon", cell_deg=10.0, top_n=20)


@register(
    "geo_hotspot_clusters",
    "WITH RECURSIVE pts AS (SELECT"
    "  (c_custkey * 37 % 18000) / 100.0 - 90.0 AS lat,"
    "  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon"
    "  FROM customer),"
    " occ AS (SELECT CAST(floor((lat + 90.0) / 5.0) AS BIGINT)"
    "   * 4096 + CAST(floor((lon + 180.0) / 5.0) AS BIGINT)"
    "   AS cell_id, count(*) AS n_points FROM pts GROUP BY 1),"
    " thr AS (SELECT greatest(3, CAST(ceil(1.25 * avg(n_points))"
    "   AS INT)) AS t FROM occ),"
    " dense AS (SELECT cell_id, n_points FROM occ, thr"
    "  WHERE n_points >= thr.t),"
    " ed AS (SELECT l.cell_id AS a, r.cell_id AS b"
    "  FROM dense l JOIN dense r ON r.cell_id - l.cell_id IN"
    "  (1, 4095, 4096, 4097)),"
    " sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),"
    " reach(node, r) AS ("
    "  SELECT a, b FROM sym"
    "  UNION"
    "  SELECT reach.node, sym.b FROM reach"
    "   JOIN sym ON reach.r = sym.a),"
    " comp AS (SELECT node, least(node, min(r)) AS component"
    "  FROM reach GROUP BY node),"
    " labeled AS (SELECT d.cell_id, d.n_points,"
    "  coalesce(c.component, d.cell_id) AS cluster_id"
    "  FROM dense d LEFT JOIN comp c ON c.node = d.cell_id)"
    " SELECT cluster_id, count(*) AS n_cells,"
    " CAST(sum(n_points) AS BIGINT) AS n_points"
    " FROM labeled GROUP BY 1",
)
def _geo_hotspot_clusters(spark, sf_dir):
    """Grid-based density clustering: dense 5° cells (adaptive
    threshold: max(3, 1.25x the occupancy mean), so the grid cannot
    percolate into one megacluster as SF grows) connected by
    8-neighborhood adjacency, components resolved with the dedup
    family's large-star/small-star — DBSCAN-at-resolution by
    composition (geo.hotspot_clusters)."""
    from eggv_spark.operators.geo import hotspot_clusters

    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return hotspot_clusters(
        pts, "lat", "lon", cell_deg=5.0, min_points=3, adaptive=True
    )


_EMB_DRIFT_SQL = """
WITH e AS (SELECT label AS g, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings WHERE label IN (0, 1)),
pairs AS (
  SELECT g, u.p[2] AS d, u.p[1] AS x
  FROM e, unnest(list_zip(vec, range(1, len(vec) + 1))) AS u(p)
), per_dim AS (
  SELECT g, d, avg(x) AS m, count(*) AS n FROM pairs GROUP BY g, d
), cents AS (
  SELECT g, list(m ORDER BY d) AS c, max(n) AS nvecs
  FROM per_dim GROUP BY g
), j AS (
  SELECT a.c AS ca, a.nvecs AS n_a, b.c AS cb, b.nvecs AS n_b
  FROM (SELECT * FROM cents WHERE g = 0) a,
       (SELECT * FROM cents WHERE g = 1) b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(len(ca) AS INT) AS dims,
       round(list_dot_product(ca, cb)
             / (sqrt(list_dot_product(ca, ca))
                * sqrt(list_dot_product(cb, cb))), 6) AS centroid_cosine,
       round(sqrt(list_dot_product(
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]),
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]))), 6)
         AS centroid_l2
FROM j
"""


@register("embedding_drift", _EMB_DRIFT_SQL)
def _embedding_drift(spark, sf_dir):
    """Centroid cosine/L2 drift between the label-0 and label-1
    embedding slices (similarity.embedding_drift)."""
    return S.embedding_drift(
        _t(spark, sf_dir, "embeddings"), "label", "embedding", 0, 1
    )


def _prefix_recall_block_sql(d: int, k: int) -> str:
    """Per-dims recall block over the shared exact/queries CTEs."""
    return f"""
SELECT CAST({d} AS INT) AS dims, count(*) AS n_queries,
       round(avg(recall), 4) AS mean_recall
FROM (
  SELECT e.query_id,
         count(a.neighbor_id) / CAST({k} AS DOUBLE) AS recall
  FROM exact e
  LEFT JOIN (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(
                      list_dot_product(q.embedding[1:{d}],
                                       c.embedding[1:{d}])
                      / (sqrt(list_dot_product(q.embedding[1:{d}],
                                               q.embedding[1:{d}]))
                         * sqrt(list_dot_product(c.embedding[1:{d}],
                                                 c.embedding[1:{d}]))),
                      4) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM emb c CROSS JOIN queries q
    WHERE c.vec_id <> q.vec_id
    QUALIFY rank <= {k}
  ) a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)"""


def _prefix_recall_oracle(dims_list, k, n_queries) -> str:
    blocks = " UNION ALL ".join(
        _prefix_recall_block_sql(d, k) for d in dims_list
    )
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
             FROM embeddings),
queries AS (SELECT vec_id, embedding FROM emb
            WHERE vec_id < {n_queries}),
exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.embedding, c.embedding)
                    / (sqrt(list_dot_product(q.embedding, q.embedding))
                       * sqrt(list_dot_product(c.embedding,
                                               c.embedding))), 4) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM emb c CROSS JOIN queries q
  WHERE c.vec_id <> q.vec_id
  QUALIFY rank <= {k}
)
{blocks}
UNION ALL
SELECT CAST((SELECT max(len(embedding)) FROM emb) AS INT) AS dims,
       (SELECT count(DISTINCT query_id) FROM exact) AS n_queries,
       CAST(1.0 AS DOUBLE) AS mean_recall
"""


@register("prefix_dim_recall", _prefix_recall_oracle([8, 16], 5, 20))
def _prefix_dim_recall(spark, sf_dir):
    """Matryoshka serving-dimension evaluation
    (similarity.prefix_dim_recall): recall@5 of 8- and 16-dim prefix
    truncations against the exact 64-dim top-5, 20 fixed queries
    (vec_id < 20 — a pushed-down predicate scan, no sort; the
    synthetic ids are dense from 0), plus the full-dimension baseline
    row."""
    return S.prefix_dim_recall(
        _t(spark, sf_dir, "embeddings"), dims_list=[8, 16], k=5,
        n_queries=20, query_pred=F.col("vec_id") < 20,
    )


_COHERENCE_THR = 0.5


def _coherence_scored_cte(dim: int) -> str:
    """Shared scored-vectors CTE: DECIMAL(38,18)-exact label centroids
    + sequential-fold cosine — bit-identical doubles cross-engine."""
    return f"""
v AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dims AS MATERIALIZED (
  SELECT label, i,
         CAST(sum(CAST(v[i] AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
  FROM v, generate_series(1, {dim}) t(i) GROUP BY label, i
),
cent AS MATERIALIZED (
  SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
),
scored AS MATERIALIZED (
  SELECT v.vec_id AS vec_id, v.label AS label,
         list_sum(list_transform(generate_series(1, {dim}),
                  i -> v.v[i] * cent.c[i]))
         / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
            * sqrt(list_sum(list_transform(cent.c, x -> x * x)))) AS cos
  FROM v JOIN cent ON v.label = cent.label
)"""


def _coherence_oracle_sql(dim: int, thr: float) -> str:
    return (
        "WITH " + _coherence_scored_cte(dim) + f"""
SELECT label, count(*) AS n, round(avg(cos), 4) AS avg_cos,
       round(min(cos), 4) AS min_cos,
       CAST(sum(CAST(cos < {thr} AS BIGINT)) AS BIGINT) AS n_low
FROM scored GROUP BY label
"""
    )


@register("embedding_coherence", _coherence_oracle_sql(16, _COHERENCE_THR))
def _embedding_coherence(spark, sf_dir):
    """Per-label coherence summary (similarity.embedding_coherence):
    each vector's cosine to its OWN label centroid —
    DECIMAL(38,18)-exact centroids so the n_low threshold count is
    reproducible across engines and partitionings."""
    return S.embedding_coherence(
        _t(spark, sf_dir, "embeddings"),
        dim=16,
        low_threshold=_COHERENCE_THR,
    )


_COS_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}),"
    " i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _mmr_oracle_sql(
    query_id: int, dim: int, n_candidates: int, k: int, lam: float
) -> str:
    """Unrolled greedy MMR.  The redundancy multiplier interpolates
    as repr(1.0 - lam): 1.0 - 0.7 is 0.30000000000000004 in binary
    and writing 0.3 would diverge at the 6dp rounding boundary."""
    lam_r = repr(float(lam))
    pen_r = repr(1.0 - lam)
    parts = [f"""
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),
cand AS MATERIALIZED (
  SELECT vec_id, rel, v FROM (
    SELECT vec_id, v,
           round({_COS_SQL.format(dim=dim, a='v', b='qv')}, 6) AS rel
    FROM v, q WHERE vec_id <> {query_id}
  ) ORDER BY rel DESC, vec_id LIMIT {n_candidates}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round({_COS_SQL.format(dim=dim, a='a.v', b='b.v')}, 6) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT 1 AS "rank", vec_id AS id, rel AS relevance, rel AS mmr_score
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
),
sel1 AS (SELECT id FROM s1)"""]
    for step in range(2, k + 1):
        parts.append(f"""
p{step} AS MATERIALIZED (
  SELECT c.vec_id AS id, c.rel AS rel,
         round({lam_r} * c.rel - {pen_r} * (
           SELECT max(p.sim) FROM pairs p
           WHERE p.ia = c.vec_id
             AND p.ib IN (SELECT id FROM sel{step - 1})
         ), 6) AS score
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT id FROM sel{step - 1})
),
s{step} AS MATERIALIZED (
  SELECT {step} AS "rank", id, rel AS relevance, score AS mmr_score
  FROM p{step} ORDER BY score DESC, id LIMIT 1
),
sel{step} AS (
  SELECT id FROM sel{step - 1} UNION ALL SELECT id FROM s{step}
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{s}" for s in range(1, k + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + union


@register("mmr_diversify", _mmr_oracle_sql(0, 16, 20, 5, 0.7))
def _mmr_diversify(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified top-5 for query
    vector 0 (similarity.mmr_diversify): one corpus pass scores
    relevance, TakeOrdered cuts the 20-candidate pool, and the greedy
    loop runs on the bounded pool with 6dp-rounded scores — the
    post-ANN de-redundancy step of a RAG retrieval stack."""
    return S.mmr_diversify(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, dim=16, n_candidates=20, k=5, lam=0.7,
    )


def _random_projection_oracle_sql(in_dim: int, out_dim: int) -> str:
    """Matrix-literal JL replica: the ±1 rows and the 1/√k scale
    interpolate as repr() literals (bit-identical parses); each fold
    in generate_series order matches the Spark sequential fold."""
    from eggv_spark.operators.similarity import jl_sign

    scale = repr(1.0 / (out_dim ** 0.5))
    rows = ", ".join(
        "["
        + ", ".join(repr(jl_sign(j, d)) for d in range(in_dim))
        + "]"
        for j in range(out_dim)
    )
    return f"""
WITH m(r) AS (SELECT [{rows}]),
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{in_dim}], x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
proj AS MATERIALIZED (
  SELECT vec_id, x,
         list_transform(m.r, row ->
           list_sum(list_transform(generate_series(1, {in_dim}),
             i -> row[i] * x[i])) * {scale}) AS y
  FROM v, m
),
pairs AS MATERIALIZED (
  SELECT sqrt(list_sum(list_transform(generate_series(1, {in_dim}),
           i -> (a.x[i] - b.x[i]) * (a.x[i] - b.x[i])))) AS dorig,
         sqrt(list_sum(list_transform(generate_series(1, {out_dim}),
           i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])))) AS dproj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
)
SELECT count(*) AS n_pairs,
       round(avg(dproj / dorig), 4) AS avg_ratio,
       round(min(dproj / dorig), 4) AS min_ratio,
       round(max(dproj / dorig), 4) AS max_ratio,
       round(avg(abs(dproj / dorig - 1.0)), 4) AS avg_abs_distortion
FROM pairs WHERE dorig > 0
"""


@register("sim_random_projection", _random_projection_oracle_sql(16, 8))
def _sim_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss compression QA
    (similarity.random_projection_distortion): project 16-dim
    embeddings to 8 dims through the deterministic md5 ±1/√8 matrix
    and report pairwise-distance distortion over consecutive-id
    probe pairs — the measure-before-you-compress audit."""
    return S.random_projection_distortion(
        _t(spark, sf_dir, "embeddings"), in_dim=16, out_dim=8
    )


def _maxsim_oracle_sql(
    every_n: int = 40,
    n_candidates: int = 20,
    k: int = 3,
    rep_tokens: int = 8,
    dim: int = 16,
) -> str:
    """DuckDB replica of similarity.maxsim_rerank: same rep-token
    selection, md5-parity sign vectors, packed SimHash signature,
    hamming top-N prune, and token-level MaxSim re-rank."""
    return f"""
WITH reps AS (
  SELECT doc_id AS id,
         list_sort(list_distinct(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           t -> t <> '')))[1:{rep_tokens}] AS reps
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) > 0
), tok AS (
  SELECT id, unnest(reps) AS tok FROM reps
), vocab AS (
  SELECT tok,
         list_transform(range({dim}), i -> CASE
           WHEN CAST('0x' || substr(md5(tok || '#' || i), 1, 1)
                AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS sv
  FROM (SELECT DISTINCT tok FROM tok)
), bit_sums AS (
  SELECT t.id, p.pos, sum(v.sv[p.pos + 1]) AS s
  FROM tok t JOIN vocab v USING (tok)
  CROSS JOIN (SELECT unnest(range({dim})) AS pos) p
  GROUP BY t.id, p.pos
), sigs AS (
  SELECT id,
         sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << pos
             ELSE 0 END) AS sig
  FROM bit_sums GROUP BY id
), ham AS (
  SELECT q.id AS query_id, c.id AS neighbor_id,
         bit_count(xor(q.sig, c.sig)) AS h
  FROM sigs q JOIN sigs c ON c.id <> q.id
  WHERE q.id % {every_n} = 0
), cands AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY h, neighbor_id) AS rn
  FROM ham QUALIFY rn <= {n_candidates}
), pair_best AS (
  SELECT cd.query_id, cd.neighbor_id, qt.tok AS qtok,
         max(list_sum(list_transform(range({dim}),
               i -> qv.sv[i + 1] * cv.sv[i + 1])) / {dim}.0) AS best
  FROM cands cd
  JOIN tok qt ON qt.id = cd.query_id
  JOIN tok ct ON ct.id = cd.neighbor_id
  JOIN vocab qv ON qv.tok = qt.tok
  JOIN vocab cv ON cv.tok = ct.tok
  GROUP BY cd.query_id, cd.neighbor_id, qt.tok
), scored AS (
  SELECT query_id, neighbor_id, round(sum(best), 4) AS maxsim
  FROM pair_best GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, maxsim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY maxsim DESC, neighbor_id)
            AS INT) AS rank
FROM scored QUALIFY rank <= {k}"""


@register("sim_maxsim_rerank", _maxsim_oracle_sql(40, 20, 3, 8, 16))
def _sim_maxsim_rerank(spark, sf_dir):
    """Two-stage late-interaction retrieval
    (similarity.maxsim_rerank): SimHash hamming prunes to 20
    candidates per query doc, token-level MaxSim re-ranks to top-3.
    Every number is integer-exact (±1 md5-parity token vectors)."""
    return S.maxsim_rerank(
        _t(spark, sf_dir, "documents"),
        every_n=40, n_candidates=20, k=3, rep_tokens=8, dim=16,
    )


def _kcenter_oracle_sql(k: int = 5, dim: int = 64) -> str:
    """DuckDB replica of similarity.kcenter_coreset: unrolled greedy
    steps, 6dp-rounded squared L2, max-struct argmax as ORDER BY md
    DESC, id LIMIT 1 — reused CTEs MATERIALIZED (the unrolled-
    iterative lesson)."""
    dist = (
        "round(list_sum(list_transform(list_zip(p.v, {c}.cv),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))), 6)"
    )
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id AS id,"
        f" embedding[1:{dim}] AS v FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT id AS cid, v AS cv FROM pts"
        " WHERE id = (SELECT min(id) FROM pts))",
        "d1 AS MATERIALIZED (SELECT p.id, p.v, "
        + dist.format(c="c1")
        + " AS md FROM pts p, c1)",
    ]
    selects = [
        "SELECT 1 AS step, c1.cid AS center_id,"
        " (SELECT max(md) FROM d1) AS coverage_radius FROM c1"
    ]
    for s in range(2, k + 1):
        prev = s - 1
        parts.append(
            f"c{s} AS MATERIALIZED (SELECT id AS cid, v AS cv"
            f" FROM d{prev} ORDER BY md DESC, id ASC LIMIT 1)"
        )
        parts.append(
            f"d{s} AS MATERIALIZED (SELECT p.id, p.v,"
            f" least(p.md, " + dist.format(c=f"c{s}")
            + f") AS md FROM d{prev} p, c{s})"
        )
        selects.append(
            f"SELECT {s} AS step, c{s}.cid AS center_id,"
            f" (SELECT max(md) FROM d{s}) AS coverage_radius FROM c{s}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


@register("sim_kcenter_coreset", _kcenter_oracle_sql(5, 64))
def _sim_kcenter_coreset(spark, sf_dir):
    """Greedy k-center over the embedding table
    (similarity.kcenter_coreset): 5 centers, deterministic
    farthest-point traversal, per-step coverage radius (the k-center
    objective) as a built-in self-audit — non-increasing by
    construction."""
    return S.kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), k=5, dim=64
    )


def _filtered_ivf_oracle() -> str:
    """The sim_ivf_topk oracle with the corpus restricted to
    label <= 4 (queries stay unfiltered): cell assignment is
    row-independent (fixed centroid literals), so pre-filtering the
    postings is exact."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids, n_probe, k = 64, 16, 10, 5
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
cellcos AS (SELECT vec_id, label, v, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(cv, cv))), 6) AS ccos
    FROM v CROSS JOIN cent),
ranked_cells AS (SELECT vec_id, label, v, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos),
assign AS (SELECT vec_id AS neighbor_id, v AS c_vec, cell
           FROM ranked_cells WHERE label <= 4 AND crank = 1),
probes AS (SELECT vec_id AS query_id, v AS q_vec, cell
           FROM ranked_cells
           WHERE vec_id % 50 = 0 AND crank <= {n_probe}),
scored AS (SELECT query_id, neighbor_id,
    round(list_dot_product(q_vec, c_vec)
          / (sqrt(list_dot_product(q_vec, q_vec))
             * sqrt(list_dot_product(c_vec, c_vec))), 4) AS cosine
    FROM assign JOIN probes USING (cell)
    WHERE neighbor_id <> query_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k}"""


@register("sim_filtered_ivf_topk", _filtered_ivf_oracle())
def _sim_filtered_ivf_topk(spark, sf_dir):
    """Metadata-FILTERED ANN — the production "vector search with a
    WHERE clause" shape: restrict the corpus to label <= 4 (half the
    classes) and run the same IVF probe as sim_ivf_topk.  Because
    the centroids are fixed literals, per-vector cell assignment is
    row-independent, so pushing the filter below the index build is
    EXACTLY pre-filtered IVF (filter the postings, then probe) —
    predicate pushdown reaches the parquet scan, the index is built
    over only the matching half, and recall semantics are exact
    post-filter."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb.filter(F.col("label") <= 4),
        emb.filter("vec_id % 50 = 0"),
        k=5, n_probe=10,
    )


def _ivf_cell_stats_oracle() -> str:
    """Per-cell occupancy + imbalance over the same deterministic
    assignment CTE as the IVF probe oracle, empty cells kept via the
    generate_series spine."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_centroids = 64, 16
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_centroids)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellcos AS (SELECT vec_id, cell,
    round(list_dot_product(v, cv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(cv, cv))), 6) AS ccos
    FROM v CROSS JOIN cent),
assign AS (SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY ccos DESC, cell DESC) AS crank
    FROM cellcos) WHERE crank = 1),
pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assign
       GROUP BY cell),
spine AS (SELECT CAST(g AS INT) AS cell
          FROM generate_series(0, {n_centroids - 1}) t(g)),
filled AS (SELECT s.cell, coalesce(pc.n, 0) AS n_vectors
           FROM spine s LEFT JOIN pc ON s.cell = pc.cell),
g AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS tot,
             CAST(max(n_vectors) AS BIGINT) AS mx FROM filled)
SELECT cell, CAST(n_vectors AS BIGINT) AS n_vectors,
       round(CAST(n_vectors AS DOUBLE) / tot, 6) AS share,
       round(CAST({n_centroids} * mx AS DOUBLE) / tot, 6)
         AS imbalance_factor
FROM filled, g"""


@register("sim_ivf_cell_stats", _ivf_cell_stats_oracle())
def _sim_ivf_cell_stats(spark, sf_dir):
    """IVF index health (similarity.ivf_cell_stats): per-cell
    occupancy with empty cells kept as zero rows, plus the global
    imbalance factor n_cells*max/total — the probe-latency-skew
    predictor a centroid-refresh decision reads."""
    return S.ivf_cell_stats(_t(spark, sf_dir, "embeddings"))


def _pq_distortion_oracle() -> str:
    """Per-subspace min-distance stats over the same codebook
    literals and 6dp per-pair rounding as the PQ encode oracle."""
    from eggv_spark.operators.similarity import _pq_codebook

    dim, m, k = 64, 8, 16
    sub_dim = dim // m
    rows = ", ".join(
        f"({s}, {c}, ["
        + ", ".join(repr(w) for w in _pq_codebook(s, k, sub_dim)[c])
        + "])"
        for s in range(m)
        for c in range(k)
    )
    return f"""
WITH cb(sub, c, cv) AS (VALUES {rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sd AS (SELECT vec_id, sub,
    min(round(list_sum(list_transform(generate_series(1, {sub_dim}),
        i -> (v[sub * {sub_dim} + i] - cv[i])
             * (v[sub * {sub_dim} + i] - cv[i]))), 6)) AS d
    FROM v CROSS JOIN cb GROUP BY vec_id, sub)
SELECT CAST(sub AS INT) AS sub,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(d), 4) AS mean_sqdist,
       round(max(d), 6) AS max_sqdist
FROM sd GROUP BY sub"""


@register("sim_pq_distortion", _pq_distortion_oracle())
def _sim_pq_distortion(spark, sf_dir):
    """PQ reconstruction-error audit (similarity.pq_distortion):
    per-subspace mean/max of the encoder's own argmin squared
    distance — the codebook-refresh budget allocator."""
    return S.pq_distortion(_t(spark, sf_dir, "embeddings"))


def _rrf_fusion_oracle_sql() -> str:
    """Lexical Jaccard top-20 + IVF top-20 (k-parameterized validated
    oracle) fused with reciprocal ranks."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
), toks_ne AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
q AS (SELECT doc_id AS query_id, t AS qt FROM toks_ne
      WHERE doc_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.doc_id AS neighbor_id,
         round(CAST(len(list_intersect(c.t, q.qt)) AS DOUBLE)
               / len(list_distinct(list_concat(c.t, q.qt))), 4)
           AS jaccard
  FROM toks_ne c CROSS JOIN q WHERE c.doc_id <> q.query_id
),
lex AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY jaccard DESC, neighbor_id ASC) AS r
  FROM scored QUALIFY r <= 20
),
vec AS (
  SELECT query_id, neighbor_id, rank AS r
  FROM ({_ivf_topk_oracle(20)})
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.neighbor_id, v.neighbor_id) AS neighbor_id,
         coalesce(1.0 / (60 + l.r), 0.0)
         + coalesce(1.0 / (60 + v.r), 0.0) AS s
  FROM lex l FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id
)
SELECT query_id, neighbor_id, round(s, 6) AS rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY s DESC, neighbor_id ASC) AS INT) AS rank
FROM fused
QUALIFY rank <= 10"""


@register("sim_rrf_fusion", _rrf_fusion_oracle_sql())
def _sim_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval (similarity.rrf_fusion): the lexical
    token-Jaccard top-20 (query batch broadcast, corpus streams
    once) fused with the IVF vector top-20 by reciprocal-rank
    fusion, final top-10 — the standard two-tower + BM25-ish serving
    shape; doc_id and vec_id share the 0..N id domain, so both
    systems rank the same corpus."""
    lex = S.lexical_jaccard_topk(
        _t(spark, sf_dir, "documents"), every_n=50, k=20
    )
    emb = _t(spark, sf_dir, "embeddings")
    vec = S.ivf_topk(
        emb, emb.filter("vec_id % 50 = 0"), k=20, n_probe=10
    )
    return S.rrf_fusion(lex, vec, k=10)


_VECTOR_QUALITY_SQL = """
WITH rows_ AS (
  SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
         CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
              THEN 1 ELSE 0 END AS wrong,
         CASE WHEN embedding IS NOT NULL AND len(embedding) = 64
              THEN sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x)))
         END AS nrm
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(is_null) AS BIGINT) AS n_null,
       CAST(sum(wrong) AS BIGINT) AS n_wrong_width,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(avg(nrm), 4) AS mean_norm
FROM rows_"""


@register("sim_vector_quality_audit", _VECTOR_QUALITY_SQL)
def _sim_vector_quality_audit(spark, sf_dir):
    """Embedding-column quality gate (similarity.vector_quality_audit):
    NULL / wrong-width / zero-norm counts plus the norm spread — the
    fail-fast checks an index build runs before spending cluster
    time; one shuffle-free pass."""
    return S.vector_quality_audit(_t(spark, sf_dir, "embeddings"))
