"""Similarity search over embedding columns (extension, SURVEY §7.4).

Three paths:
- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the full corpus; one pass, no shuffle of the big
  side, window top-k per query.  The correctness baseline.
- ``ivf_topk`` — IVF-style approximate path for scale: corpus rows
  are assigned to the nearest of C deterministic centroids
  (partition pruning analog); each query probes only its P nearest
  centroids' rows.  Cuts the scanned fraction to ~P/C while keeping
  the same final exact-cosine ranking within probed cells.
- ``pq_topk`` — product quantization: corpus vectors compress to m
  sub-codes; queries rank by asymmetric distance through per-query
  lookup tables.  The memory-footprint path (and IVF's standard
  companion: cells prune WHICH codes scan, PQ prunes WHAT each scan
  costs).

All stay in Column expressions (zip_with/aggregate higher-order
functions) — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize, materialize_lazy

from eggv_spark.operators.dedupe import base_hash, cosine_col, dot_col, norm_col


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    The query side is broadcast (it must be small — typical ANN usage
    has |queries| << |corpus|); the corpus streams through a single
    stage computing cosines, then one shuffle on query_id for the
    window top-k.  Self-matches are excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).withColumn("q_norm", norm_col(F.col("q_vec")))
    )
    # Norms once per row BEFORE the pair join: the naive per-pair
    # cosine evaluates three dot products; with |corpus| × |queries|
    # pairs that's 3× the flops of precomputing each side's norm once
    # (bit-identical arithmetic — sqrt(dot(v,v)) is the same value,
    # just not recomputed per pair).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_norm", norm_col(F.col("c_vec")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _centroid_values(c: int, dim: int) -> list[float]:
    """Pseudo-random centroid c as plain floats, derived from md5 —
    fully deterministic, computed once on the driver (same formula as
    :func:`eggv_spark.operators.dedupe.base_hash`; keeping it
    driver-side avoids inlining n_centroids × dim hash expressions
    into the plan, which bloats codegen superlinearly)."""
    import hashlib

    return [
        float(
            int(hashlib.md5(f"centroid-{c}-{d}".encode()).hexdigest()[:8], 16)
            % 2001
            - 1000
        )
        for d in range(dim)
    ]


def _best_cells(vec: Column, centroid_array: Column, n: int) -> Column:
    """IDs of the ``n`` nearest centroids by cosine.  The centroid set
    is a single nested-array LITERAL and the cosine is written once
    inside a higher-order transform — per-row work and plan size stay
    independent of n_centroids × dim."""
    scored = F.transform(
        centroid_array,
        lambda cen, i: F.struct(
            F.round(cosine_col(vec, cen), 6).alias("cos"),
            i.alias("cell"),
        ),
    )
    ordered = F.reverse(F.array_sort(scored))
    return F.transform(F.slice(ordered, 1, n), lambda s: s.getField("cell"))


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF index build: assign every corpus row to its nearest
    centroid cell — one map-side pass, no shuffle.

    ``dim`` must match the embedding width (no ``.first()`` probe —
    index planning stays job-free on the driver).

    The result is the INDEX: at scale, materialize it or write it
    bucketed/partitioned by ``cell`` once and serve many query
    batches off it (cell pruning ≈ partition pruning).  Re-deriving
    it per query batch would recompute n_centroids cosines per corpus
    row every time — the index build is precisely the part ANN
    amortizes.
    """
    centroid_array = F.lit([_centroid_values(c, dim) for c in range(n_centroids)])
    # c_norm is part of the index: computed once at build, reused by
    # every query batch's cosine (1 dot per probed pair, not 3).
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        .withColumn("cell", F.get(_best_cells(F.col("c_vec"), centroid_array, 1), 0))
        .withColumn("c_norm", norm_col(F.col("c_vec")))
    )


def ivf_query(
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Probe an :func:`ivf_index`: each query scores only its
    ``n_probe`` nearest cells' rows (~n_probe/n_centroids of the
    corpus) via a broadcast equi-join on cell, then window top-k.
    ``dim`` must match the embedding width (no ``.first()`` probe)."""
    centroid_array = F.lit([_centroid_values(c, dim) for c in range(n_centroids)])
    if "c_norm" not in index.columns:  # index built before norms existed
        index = index.withColumn("c_norm", norm_col(F.col("c_vec")))
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .withColumn("q_norm", norm_col(F.col("q_vec")))
        .withColumn(
            "cell", F.explode(_best_cells(F.col("q_vec"), centroid_array, n_probe))
        )
    )
    scored = (
        index.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """One-shot IVF ANN: build the index, materialize it (it feeds
    every downstream query stage — without the cut, Spark re-derives
    the full assignment inside each query stage of the plan, turning
    the amortized index build into per-stage work), then probe.
    ``dim`` must match the embedding width (no ``.first()`` probe)."""
    index = ivf_index(corpus, n_centroids, vec_col, id_col, dim=dim)
    index = index.transform(materialize_lazy)
    return ivf_query(
        index, queries, k, n_centroids, n_probe, vec_col, id_col, dim=dim
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------

def _pq_codebook(sub: int, k: int, sub_dim: int) -> list[list[float]]:
    """Deterministic md5-derived codebook for subspace ``sub``: ``k``
    centroids of ``sub_dim`` floats (same construction discipline as
    :func:`_centroid_values` — reproducible in the oracle, no RNG)."""
    import hashlib

    return [
        [
            float(
                int(hashlib.md5(f"pq-{sub}-{c}-{d}".encode()).hexdigest()[:8], 16)
                % 2001
                - 1000
            )
            for d in range(sub_dim)
        ]
        for c in range(k)
    ]


def pq_encode(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ index build: quantize every vector to ``m`` sub-codes (the
    nearest of ``k`` centroids per subspace, 6dp-rounded distance
    with a lowest-index tiebreak — deterministic).  Shuffle-free
    map pass; the stored code array is m small ints per vector —
    a ~dim*4/m byte compression, the representation that lets a
    billion-vector index live in memory.
    """
    # argmin over k centroids per subspace, via the compact
    # codebook-literal transform (see pq_codes_col / _pq_codebook_lit
    # — byte-identical results, plan independent of m·k)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        pq_codes_col(F.col(vec_col), m, k, dim).alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance: each query
    precomputes an m x k lookup table of exact subspace distances to
    every centroid (Column exprs on the query side, BEFORE the
    broadcast), then every corpus CODE row scores as m table lookups
    — no full-vector math on the corpus side at query time.

    Plan: shuffle-free encode of the corpus + broadcast of the
    (small) query side + one window top-k — the standard
    billion-scale ANN shape (compose with :func:`ivf_index` cells to
    also prune WHICH codes each query scans).
    """
    sub_dim = dim // m
    encoded = pq_encode(corpus, m, k, dim, vec_col, id_col)
    lut = F.transform(
        _pq_codebook_lit(m, k, sub_dim),
        lambda subtable, s: F.transform(
            subtable,
            lambda cen: F.round(
                _pq_sub_sq_dist(F.col("q_vec"), s, sub_dim, cen), 6
            ),
        ),
    )
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("lut", lut)
        .drop("q_vec")
    )
    approx = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda code, table: F.element_at(table, code + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        encoded.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dist", F.round(approx, 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) iteration
# ---------------------------------------------------------------------------

def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """E-step of Lloyd's k-means: assign every vector to its nearest
    centroid by squared L2.  Centroids are the deterministic
    md5-derived grid (:func:`_centroid_values`, shared with IVF), the
    distance is 6dp-rounded with a lowest-cluster tie-break, so any
    engine reproduces assignments exactly.

    Shuffle-free map pass: the centroid set is ONE nested-array
    literal and the argmin runs inside a higher-order transform, so
    per-row work is O(n_clusters x dim) with no join and no state.

    The md5 grid spans ±1000 (magnitude-blind under IVF's cosine,
    decisive under L2), so it is rescaled to ±0.5 here to sit inside
    a unit-ish embedding distribution — otherwise one
    nearest-to-origin centroid swallows every vector.
    """
    cents = F.lit(
        [[w / 2000.0 for w in _centroid_values(c, dim)] for c in range(n_clusters)]
    )
    v = F.col(vec_col).cast("array<double>")
    scored = F.transform(
        cents,
        lambda cen, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, cen, lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ),
                6,
            ).alias("d"),
            i.alias("cluster"),
        ),
    )
    best = F.get(F.array_sort(scored), 0)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        best.getField("cluster").cast("int").alias("cluster_id"),
        best.getField("d").alias("sq_dist"),
    )


def kmeans_iteration(
    corpus: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """One full Lloyd iteration (E-step assign + M-step recompute),
    summarized per cluster: member count, inertia (sum of squared
    distances — the quantity k-means minimizes), and the L2 norm of
    the UPDATED centroid (mean of member vectors).  Iterating this
    to convergence is the semantic-clustering front half of
    SemDeDup-style dataset pruning.

    Scale shape: assignment is map-only (see :func:`kmeans_assign`);
    the M-step posexplodes to skinny (cluster, dim, value) rows whose
    (cluster, dim) average gets map-side combine — the shuffle
    carries n_clusters x dim rows per map partition, NOT the data —
    and the count/inertia branch is one more combined aggregation.
    The final join is n_clusters rows on both sides (broadcast).
    """
    assigned = kmeans_assign(corpus, n_clusters, vec_col, id_col, dim)
    members = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("sq_dist"), 2).alias("inertia"),
    )
    dims = (
        assigned.select(
            "cluster_id",
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "x"),
        )
        .groupBy("cluster_id", "d")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster_id")
        .agg(
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias(
                "centroid_norm"
            )
        )
    )
    return members.join(F.broadcast(dims), "cluster_id")


def ivf_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Radius (range) similarity search — the second standard ANN API
    next to top-k: ALL corpus neighbors with cosine >= ``threshold``
    for each query, not a fixed k.  Same cell-pruned scan shape as
    :func:`ivf_query` (broadcast query fan-out over its n_probe best
    cells, ~n_probe/n_centroids of the corpus scanned), but the
    output is an unranked filter: no window, no per-query state, so
    the operator stays embarrassingly parallel even when one query
    has millions of in-radius neighbors (a top-k window would funnel
    them through one partition).

    The cosine is rounded to 4dp BEFORE the threshold compare so the
    boundary decision is engine-portable (same policy as
    events.zscore_anomalies).
    """
    index = ivf_index(corpus, n_centroids, vec_col, id_col, dim=dim)
    index = index.transform(materialize_lazy)
    centroid_array = F.lit([_centroid_values(c, dim) for c in range(n_centroids)])
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .withColumn("q_norm", norm_col(F.col("q_vec")))
        .withColumn(
            "cell", F.explode(_best_cells(F.col("q_vec"), centroid_array, n_probe))
        )
    )
    return (
        index.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("query_id", "neighbor_id", "cosine")
    )


def ann_recall(
    exact: DataFrame, approx: DataFrame, k: int
) -> DataFrame:
    """Recall@k of an approximate search against the exact top-k —
    the quality gauge every ANN deployment needs next to its speedup
    (an IVF/PQ/LSH index is only as good as the recall it buys).
    Per query: how many of the EXACT top-k neighbors the approximate
    result also returned, as n_hits and recall_at_k.

    Both inputs use the (query_id, neighbor_id, cosine, rank) shape
    of brute_force_topk / ivf_topk / pq_topk.  The comparison join
    carries k rows per query per side — negligible next to the
    searches themselves; the exact side drives the join so every
    query appears even with zero hits.
    """
    hits = approx.select("query_id", "neighbor_id").withColumn(
        "_hit", F.lit(1)
    )
    joined = exact.select("query_id", "neighbor_id").join(
        hits, ["query_id", "neighbor_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("_hit").cast("int").alias("n_hits"),
        F.round(F.count("_hit") / float(k), 4).alias(f"recall_at_{k}"),
    )


def int8_quantize(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    compression step of a vector pipeline (4× smaller than float32,
    8× smaller than float64 on the wire).

    Per row: scale = 127 / max|v|, codes = round(v·scale), and the
    reconstruction RMSE of codes/scale against the original.  All
    pure Column array math (transform/aggregate) — shuffle-free,
    whole-stage-codegen, embarrassingly parallel at any scale.
    Elements are cast to double FIRST so both engines (and any
    float32 source) quantize identical values."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, F.abs))
    scale = F.lit(127.0) / absmax
    codes = F.transform(v, lambda x: F.round(x * scale).cast("int"))
    sq_err = F.aggregate(
        F.zip_with(v, codes, lambda o, c: F.pow(o - c / scale, 2)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return df.select(
        F.col(id_col),
        F.size(v).alias("n_dims"),
        F.round(scale, 6).alias("scale"),
        F.array_min(codes).alias("min_code"),
        F.array_max(codes).alias("max_code"),
        F.round(F.sqrt(sq_err / F.size(v)), 6).alias("recon_rmse"),
    )


def label_centroid_similarity(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    cluster-separation diagnostic (are class embeddings distinct?).

    Two stages: (1) one map-side-combined aggregation folds every
    vector into its label's element-wise sum (posexplode → grouped
    sums keyed (label, dim) → re-assembled in label order), so the
    big table is touched once; (2) the centroid table is O(labels²)
    — tiny — and self-joins broadcast.  Upper triangle only."""
    dims = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))
                         ).alias("dim", "val"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    centroids = (
        dims.withColumn("m", F.col("s") / F.col("n"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
        .select("label", F.transform("_dm", lambda t: t["m"]).alias("centroid"))
    )
    a = centroids.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("va")
    )
    b = centroids.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("vb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
    )


def _pq_codebook_lit(m: int, k: int, sub_dim: int) -> Column:
    """The full m×k×sub_dim codebook as ONE nested-array literal.
    Plan-size discipline: unrolling m·k separate distance folds builds
    thousands of py4j Column nodes (measured 15 s of DataFrame
    CONSTRUCTION for m=8, k=16 before any execution); a single
    literal traversed by higher-order transforms keeps the plan a
    handful of nodes regardless of m and k."""
    return F.lit([
        [_pq_codebook(sub, k, sub_dim)[c] for c in range(k)]
        for sub in range(m)
    ])


def _pq_sub_sq_dist(vec: Column, sub_idx: Column, sub_dim: int,
                    centroid: Column) -> Column:
    """Squared L2 between a Column-indexed subvector and a centroid —
    sequential double fold, with the subspace chosen at runtime by
    ``sub_idx`` (a transform element index, not a Python int)."""
    subvec = F.slice(vec, sub_idx * sub_dim + 1, F.lit(sub_dim))
    return F.aggregate(
        F.zip_with(
            subvec, centroid,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codes_col(vec: Column, m: int, k: int, dim: int) -> Column:
    """PQ code array for one vector as a pure Column expression —
    argmin centroid per subspace, 6dp-rounded distance with
    lowest-index tiebreak (shared by :func:`pq_encode` and
    :func:`ivf_pq_topk`).  Codebook rides one nested literal; the
    per-subspace argmin is array_min over (dist, idx) structs —
    byte-identical results to the unrolled form, tiny plan."""
    sub_dim = dim // m
    cb = _pq_codebook_lit(m, k, sub_dim)
    return F.transform(
        cb,
        lambda subtable, s: F.array_min(
            F.transform(
                subtable,
                lambda cen, c: F.struct(
                    F.round(_pq_sub_sq_dist(vec, s, sub_dim, cen), 6)
                    .alias("dist"),
                    c.alias("idx"),
                ),
            )
        ).getField("idx"),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 5,
    n_centroids: int = 16,
    n_probe: int = 10,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN serving
    shape (FAISS IVFPQ, relationally): IVF cells prune WHICH rows a
    query scans (~n_probe/n_centroids of the corpus), PQ codes make
    each scanned row m table lookups instead of a dim-wide dot
    product.

    The serving index is (neighbor_id, cell, codes) ONLY — m small
    ints per vector, no full vectors — so at 10⁹ vectors it is tens
    of GB instead of TBs; it is materialized once and every query batch
    joins broadcast probes against it on the cell key.  Ranking uses
    the PQ asymmetric distance (query-side exact LUT per subspace).
    Fully deterministic (md5 centroids + codebooks, 6dp rounds,
    index tiebreaks) → value-oracled in SQL."""
    sub_dim = dim // m
    centroid_array = F.lit(
        [_centroid_values(c, dim) for c in range(n_centroids)]
    )
    index = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        .withColumn(
            "cell", F.get(_best_cells(F.col("c_vec"), centroid_array, 1), 0)
        )
        .withColumn("codes", pq_codes_col(F.col("c_vec"), m, k, dim))
        .select("neighbor_id", "cell", "codes")
        .transform(materialize_lazy)
    )
    # LUT entries as exact integer micro-units (floor-scale of the
    # 6dp-rounded subspace distance): per-query distance sums then
    # stay exact integers, so rank order and output values carry no
    # summation-order or decimal-round sensitivity at ANY data scale
    # (the rounded-double form hit a 4dp round-half boundary at tiny
    # sf).  Built by transforms over the single codebook literal —
    # see _pq_codebook_lit for why not m·k unrolled expressions.
    lut = F.transform(
        _pq_codebook_lit(m, k, sub_dim),
        lambda subtable, s: F.transform(
            subtable,
            lambda cen: F.floor(
                F.round(
                    _pq_sub_sq_dist(F.col("q_vec"), s, sub_dim, cen), 6
                ) * 1000000 + F.lit(0.5)
            ).cast("long"),
        ),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .withColumn(
            "cell",
            F.explode(_best_cells(F.col("q_vec"), centroid_array, n_probe)),
        )
        .withColumn("lut", lut)
        .drop("q_vec")
    )
    approx = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda code, table: F.element_at(table, code + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        index.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dist_u", approx)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist_u").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "approx_dist_u", "rank")
    )


def semantic_dedupe(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style embedding dedup: cluster the corpus (map-only
    E-step against deterministic centroids), then WITHIN each cluster
    drop every vector whose cosine to a lower-id cluster-mate exceeds
    ``threshold`` (6dp-rounded — engine-portable).  Returns the
    surviving rows as (id, cluster_id, n_cluster_members).

    This is the published SemDeDup recipe (cluster first so the
    quadratic near-dup scan runs per-cluster, not corpus-wide): the
    pair join keys on ``cluster_id``, so the work is Σ|cluster|² —
    bounded by the largest cluster, never |corpus|².  At 100 TB the
    cluster count scales with the corpus (√n-ish, as in IVF) to hold
    per-cluster membership flat; a runaway cluster is exactly the
    skew AQE's join splitting absorbs, and the lower-id keeper rule
    makes the result order- and partitioning-independent.
    """
    from eggv_spark.operators.dedupe import cosine_col

    assigned = kmeans_assign(
        corpus, n_clusters, vec_col, id_col, dim
    ).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"),
        "cluster_id",
    ).transform(materialize_lazy)
    a = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_ida"), F.col("_v").alias("_va"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_idb"), F.col("_v").alias("_vb"),
    )
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.round(cosine_col(F.col("_va"), F.col("_vb")), 6)
            > F.lit(threshold)
        )
        .select(F.col("_idb").alias("_dup"))
        .distinct()
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_cluster_members")
    )
    return (
        assigned.join(dups, assigned[id_col] == dups["_dup"], "left_anti")
        .join(F.broadcast(sizes), "cluster_id")
        .select(id_col, "cluster_id", "n_cluster_members")
    )


def ranking_ndcg(
    ranked: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """NDCG@k of a ranking against graded relevance — the standard
    retrieval-quality metric, completing the eval family next to
    :func:`ann_recall` (recall says WHETHER the right items came
    back; NDCG says whether they came back in the right ORDER, with
    graded gains).

    ``ranked`` is the system output in the (query, item, rank) shape
    of the top-k operators; ``truth`` carries (query, item, rel)
    graded relevance.  DCG uses the standard 2^rel - 1 gain and
    log2(rank+1) discount; IDCG re-ranks the truth grades descending
    (ties broken by item id for determinism).  Items missing from
    the truth set contribute zero gain.  Per query: dcg, idcg,
    ndcg@k (NULL when a query has no relevant items).

    Scale: two keyed joins/aggregations on the query id over TOP-K
    sized frames (k rows per query), never over the corpus.
    """
    r = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(item_col).alias("_i"),
        F.col(rank_col).alias("_rk"),
    )
    t = truth.select(
        F.col(query_col).alias("_q"),
        F.col(item_col).alias("_i"),
        F.col(rel_col).cast("double").alias("_rel"),
    )
    gained = r.join(t, ["_q", "_i"], "left").withColumn(
        "_gain",
        (F.pow(F.lit(2.0), F.coalesce("_rel", F.lit(0.0))) - 1)
        / F.log2(F.col("_rk") + 1),
    )
    dcg = gained.groupBy("_q").agg(F.sum("_gain").alias("dcg"))
    w = Window.partitionBy("_q").orderBy(
        F.col("_rel").desc(), F.col("_i").asc()
    )
    ideal = (
        t.withColumn("_irk", F.row_number().over(w))
        .filter(F.col("_irk") <= k)
        .groupBy("_q")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("_rel")) - 1)
                / F.log2(F.col("_irk") + 1)
            ).alias("idcg")
        )
    )
    return dcg.join(ideal, "_q", "left").select(
        F.col("_q").alias(query_col),
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.try_divide(F.col("dcg"), F.col("idcg")), 6).alias(
            f"ndcg_at_{k}"
        ),
    )


def pair_cosine_histogram(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_pairs_per_vec: int = 2,
) -> DataFrame:
    """Embedding-space geometry fingerprint: exact cosine over a
    DETERMINISTIC pseudo-random pair sample (each vector pairs with
    partners at md5-derived id offsets — reproducible across
    engines/runs, unlike ``df.sample``), binned to 0.1-wide buckets
    with corpus mean/std.  The diagnostic behind ANN-index and
    dedup-threshold tuning: if the cosine mass sits near 0 the space
    is healthy; a fat right tail predicts near-dup blowup.  Plan:
    one self-equi-join on the derived partner id (shuffle keyed on
    id — no cross product), one map-side-combined aggregation."""
    from eggv_spark.operators.dedupe import base_hash, cosine_col

    # corpus size rides along as a broadcast 1-row scalar — no
    # .count() at construction time, the query stays fully lazy
    n_row = df.agg(F.count("*").alias("_n"))
    left = df.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va")
    ).crossJoin(F.broadcast(n_row))
    n = F.col("_n")
    partners = left.select(
        "_ida", "_va",
        F.explode(
            F.array_distinct(
                F.array(*[
                    F.pmod(
                        F.col("_ida")
                        + 1
                        + F.pmod(
                            base_hash(
                                F.concat_ws(":", F.col("_ida"), F.lit(j))
                            ),
                            n - 1,
                        ),
                        n,
                    )
                    for j in range(n_pairs_per_vec)
                ])
            )
        ).alias("_idb"),
    ).filter(F.col("_idb") != F.col("_ida"))
    right = df.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb")
    )
    pairs = partners.join(right, "_idb")
    cos = cosine_col(F.col("_va"), F.col("_vb"))
    scored = pairs.select(F.round(cos, 6).alias("_cos"))
    bucket = F.least(
        F.greatest(F.floor(F.col("_cos") * 10), F.lit(-10)), F.lit(9)
    ).cast("int")
    per_bucket = scored.groupBy(bucket.alias("cos_bucket")).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("_cos"), 4).alias("mean_cos"),
    )
    return per_bucket


def embedding_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    slice_a: str,
    slice_b: str,
) -> DataFrame:
    """Embedding-space drift between two corpus slices: the cosine
    similarity and L2 distance between the slices' centroid vectors —
    the geometric companion to the lexical drift monitors (vocab JSD,
    PSI).  A centroid shift flags distribution change that token
    statistics can miss (same words, different contexts/encoder).

    Shape: posexplode each vector once, per-(slice, dimension) mean
    (map-side combinable, output is 2·dims rows), rebuild the two
    centroids via sort_array(collect_list(struct(dim, mean))) on the
    dims-sized frame, then one scalar cosine/L2 on a 1×1 join.
    Nothing after the first aggregation is data-sized.  Staged for
    the round-7 registry window."""
    pairs = df.filter(F.col(group_col).isin([slice_a, slice_b])).select(
        F.col(group_col).alias("_g"),
        F.posexplode(vec_col).alias("_d", "_x"),
    )
    per_dim = pairs.groupBy("_g", "_d").agg(
        F.avg("_x").alias("_m"), F.count("*").alias("_n")
    )
    cents = per_dim.groupBy("_g").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_d", "_m"))),
            lambda s: s["_m"],
        ).alias("_c"),
        F.max("_n").alias("_nvecs"),
    )
    # fold the (≤2)-row centroid frame to ONE row with a keys=[]
    # aggregate instead of filter+crossJoin: one fewer join, and the
    # plan is mechanically provable as bounded (scripts/plan_lint.py
    # BNLJ gate) rather than bounded-by-inspection
    j = cents.agg(
        F.any_value(
            F.when(F.col("_g") == slice_a, F.col("_c")), True
        ).alias("_ca"),
        F.any_value(
            F.when(F.col("_g") == slice_a, F.col("_nvecs")), True
        ).alias("n_a"),
        F.any_value(
            F.when(F.col("_g") == slice_b, F.col("_c")), True
        ).alias("_cb"),
        F.any_value(
            F.when(F.col("_g") == slice_b, F.col("_nvecs")), True
        ).alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with("_ca", "_cb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(
        F.transform("_ca", lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v,
    ))
    nb = F.sqrt(F.aggregate(
        F.transform("_cb", lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v,
    ))
    l2 = F.sqrt(F.aggregate(
        F.zip_with("_ca", "_cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    ))
    return j.select(
        "n_a", "n_b",
        F.size("_ca").alias("dims"),
        F.round(F.try_divide(dot, na * nb), 6).alias("centroid_cosine"),
        F.round(l2, 6).alias("centroid_l2"),
    )


def prefix_dim_recall(
    df: DataFrame,
    dims_list: Sequence[int],
    k: int = 5,
    n_queries: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_pred: Column | None = None,
) -> DataFrame:
    """Matryoshka-style serving-dimension evaluation (Kusupati et al.
    2022): recall@k of brute-force search over PREFIX-truncated
    vectors against the full-dimension exact top-k, per candidate
    prefix length — the measurement that picks the cheapest serving
    dimension that still hits the recall target (truncating 64→16
    dims quarters memory and flops for every downstream index).

    Queries: pass ``query_pred`` (a deterministic predicate, e.g.
    ``F.col("vec_id") < 20``) and the query batch is a PUSHED-DOWN
    filter scan — the 100 TB shape, no sort anywhere.  Without it,
    the ``n_queries`` lowest ids are taken via orderBy().limit(),
    which as an intermediate operator plans a global range-sort of
    the corpus just to pick the batch — fine on a demo corpus, flagged
    by plan_lint at scale.  Per dims value: one brute-force pass with
    ``F.slice``-truncated vectors composed through the existing
    :func:`brute_force_topk` / :func:`ann_recall` kernels, then a
    1-row mean-recall rollup; output is len(dims_list)+1 rows — one
    per candidate prefix plus the full-dimension baseline row
    (recall 1.0 by construction, dims = the corpus's native width)
    so the recall/cost trade-off table is self-contained."""
    if query_pred is not None:
        queries = df.filter(query_pred)
    else:
        queries = df.orderBy(id_col).limit(n_queries)
    exact = brute_force_topk(df, queries, k=k, vec_col=vec_col,
                             id_col=id_col)
    rows = []
    for d in dims_list:
        trunc = df.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        tq = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        approx = brute_force_topk(trunc, tq, k=k, vec_col=vec_col,
                                  id_col=id_col)
        rec = ann_recall(exact, approx, k=k)
        rows.append(
            rec.agg(
                F.lit(d).cast("int").alias("dims"),
                F.count("*").alias("n_queries"),
                F.round(F.avg(f"recall_at_{k}"), 4)
                .alias("mean_recall"),
            )
        )
    # full-dimension baseline row: exact-vs-exact recall is 1.0 by
    # construction, but computing it through the same kernel keeps the
    # n_queries column honest (ties at the k-th slot etc.)
    full_dims = df.agg(
        F.max(F.size(F.col(vec_col))).cast("int").alias("dims")
    )
    rows.append(
        ann_recall(exact, exact, k=k)
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.avg(f"recall_at_{k}"), 4).alias("mean_recall"),
        )
        .crossJoin(F.broadcast(full_dims))
        .select("dims", "n_queries", "mean_recall")
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def centroid_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    dim: int = 16,
) -> DataFrame:
    """Per-row cosine similarity to the row's OWN label centroid —
    the outlier/mislabel score behind :func:`embedding_coherence`
    and the coherence-gate composite (a vector far from its class
    centroid is either mislabeled or an embedding artifact; both are
    curation drops).  Complements :func:`label_centroid_similarity`,
    which compares centroids to EACH OTHER.

    Shape: one map-side-combined aggregation builds the centroids
    (posexplode → grouped per-dimension sums), broadcast-joined back
    on the label — the corpus is touched twice, never self-joined.

    Determinism: per-dimension sums accumulate as DECIMAL(38,18) —
    exact, order-independent — with one double division by the
    member count (the ``kmeans_lloyd`` rule; a double sum's last-ulp
    partitioning noise would make downstream threshold counts flap).
    The cosine itself is the sequential-fold ``cosine_col``, so both
    engines compute bit-identical doubles."""
    from eggv_spark.operators.ml import guarded_vec

    data = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        guarded_vec(vec_col, dim, "centroid_cosine").alias("_x"),
    )
    centroids = (
        data.select("_lbl", F.posexplode("_x").alias("_d", "_xd"))
        .groupBy("_lbl", "_d")
        .agg(
            (
                F.sum(F.col("_xd").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("_m")
        )
        .groupBy("_lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d", "_m"))),
                lambda s: s["_m"],
            ).alias("_c")
        )
    )
    return data.join(F.broadcast(centroids), "_lbl").select(
        "_id", "_lbl",
        cosine_col(F.col("_x"), F.col("_c")).alias("_cos"),
    )


def embedding_coherence(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    dim: int = 16,
    low_threshold: float = 0.5,
) -> DataFrame:
    """Per-label embedding-coherence summary: how tightly each
    label's vectors sit around their own centroid — the label-quality
    audit run before training a classifier on the labels (a label
    whose members barely correlate with their centroid is noise, and
    ``n_low`` counts its worst offenders for triage).

    Output: one row per label — n, avg_cos (4dp), min_cos (4dp),
    n_low (members with cosine < ``low_threshold``; the threshold
    compares bit-identical doubles, see :func:`centroid_cosine`)."""
    scored = centroid_cosine(df, vec_col, label_col, id_col, dim)
    return scored.groupBy(F.col("_lbl").alias("label")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("_cos"), 4).alias("avg_cos"),
        F.round(F.min("_cos"), 4).alias("min_cos"),
        F.sum((F.col("_cos") < low_threshold).cast("long")).alias("n_low"),
    )


def mmr_diversify(
    df: DataFrame,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 16,
    n_candidates: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    greedy top-``k`` selection that trades relevance against
    redundancy — the diversified-retrieval step a RAG pipeline runs
    after ANN recall so the context window isn't five near-copies of
    the same passage.  score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s).

    Shape: ONE data-sized pass scores relevance against the broadcast
    query vector and TakeOrdered cuts the ``n_candidates`` pool; the
    n²-pair similarity table is one broadcast join on that bounded
    pool; then the pool and pair table — ≤ n_candidates² rows BY
    CONSTRUCTION — are collected and the inherently-sequential
    greedy runs in plain driver Python (the 25-row-fixture rule:
    collecting a provably bounded frame is not a distributed-ness
    violation, and round-tripping k Spark jobs over 20 rows was
    measured at ~6 s of pure scheduling overhead).

    Determinism: relevance and pairwise similarities round to 6dp
    BEFORE any cut or argmax (sequential-fold cosine — identical
    doubles cross-engine), every ordering carries the id tiebreak,
    and λ-arithmetic happens on the rounded values.  Output: the k
    picks — rank (selection order), id, relevance, mmr_score (the
    first pick's mmr_score IS its relevance)."""
    data = df.select(
        F.col(id_col).alias("_id"),
        F.slice(F.col(vec_col).cast("array<double>"), 1, dim).alias("_x"),
    )
    q = data.filter(F.col("_id") == query_id).select(
        F.col("_x").alias("_q")
    ).limit(1)
    cand = (
        data.filter(F.col("_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "_id", "_x",
            F.round(cosine_col(F.col("_x"), F.col("_q")), 6).alias("_rel"),
        )
        .orderBy(F.col("_rel").desc(), F.col("_id"))
        .limit(n_candidates)
        .transform(materialize)
    )
    pool = cand.select("_id", "_rel").collect()
    if not pool:
        raise ValueError(
            "mmr_diversify: empty candidate pool — query id "
            f"{query_id} not found in {id_col}, or the corpus has no"
            " other rows"
        )
    pa = cand.select(
        F.col("_id").alias("_ia"), F.col("_x").alias("_xa"),
    )
    pb = cand.select(
        F.col("_id").alias("_ib"), F.col("_x").alias("_xb"),
    )
    pairs = (
        pa.join(F.broadcast(pb), F.col("_ia") != F.col("_ib"))
        .select(
            "_ia", "_ib",
            F.round(
                cosine_col(F.col("_xa"), F.col("_xb")), 6
            ).alias("_sim"),
        )
        .collect()
    )

    # Spark's round(double, 6) is BigDecimal.valueOf(d) (shortest
    # decimal repr, same as Python repr) + HALF_UP — replicate it
    # exactly so the driver-side scores match the SQL oracle bit for
    # bit (Python's builtin round is banker's and would not).
    from decimal import ROUND_HALF_UP, Decimal

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    rel = {r["_id"]: r["_rel"] for r in pool}
    sim = {(r["_ia"], r["_ib"]): r["_sim"] for r in pairs}
    first = min(pool, key=lambda r: (-r["_rel"], r["_id"]))
    out = [(1, first["_id"], first["_rel"], first["_rel"])]
    chosen = [first["_id"]]
    for step in range(2, k + 1):
        best = None
        for r in pool:
            cid = r["_id"]
            if cid in chosen:
                continue
            pen = max(sim[(cid, s)] for s in chosen)
            score = _round6(lam * rel[cid] - (1.0 - lam) * pen)
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel[cid], score)
        if best is None:
            break
        out.append((step, best[1], best[2], best[3]))
        chosen.append(best[1])
    return df.sparkSession.createDataFrame(
        out, "rank int, id long, relevance double, mmr_score double"
    )


def jl_sign(j: int, d: int) -> float:
    """Deterministic ±1 entry (j, d) of the sign random-projection
    matrix: md5 of ``"jl-{j}-{d}"`` parity — no RNG state, identical
    literals reproducible in any engine (the signlsh_plane rule)."""
    import hashlib

    h = int(hashlib.md5(f"jl-{j}-{d}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def random_projection_distortion(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 16,
    out_dim: int = 8,
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection + distortion
    audit: project every embedding to ``out_dim`` dims through a
    deterministic ±1/√k matrix and measure how well pairwise
    distances survive — the "can we store/search the compressed
    vectors instead" QA a 100 TB embedding pipeline runs before
    committing to a cheaper index (the JL lemma guarantees the
    distortion bound; this MEASURES it on the actual corpus).

    The probe pairs are consecutive ids (id, id+1) — an equi-join,
    O(n) pairs, no sampling RNG and no pair explosion.  The matrix
    enters the plan as one nested-array literal (md5-derived, the
    signlsh/PQ-codebook rule), each projected coordinate is a
    sequential fold, and the √-scale multiplies ONCE per coordinate —
    identical doubles in any engine, so min/max ratios are exact and
    the averages round at 4dp.  Zero-distance original pairs are
    excluded (ratio undefined).

    Output: ONE row — n_pairs, avg_ratio, min_ratio, max_ratio,
    avg_abs_distortion (mean |ratio − 1|)."""
    scale = 1.0 / (out_dim ** 0.5)
    matrix = F.array(*[
        F.array(*[F.lit(jl_sign(j, d)) for d in range(in_dim)])
        for j in range(out_dim)
    ])
    from eggv_spark.operators.ml import guarded_vec

    data = df.select(
        F.col(id_col).alias("_id"),
        guarded_vec(
            vec_col, in_dim, "random_projection_distortion"
        ).alias("_x"),
    ).select(
        "_id", "_x",
        F.transform(
            matrix,
            lambda row: F.aggregate(
                F.zip_with(row, F.col("_x"), lambda s, x: s * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
        ).alias("_y"),
    )
    a = data.select(
        F.col("_id").alias("_ia"), F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
    )
    b = data.select(
        (F.col("_id") - 1).alias("_ia"), F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
    )

    def _dist(u: str, v: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.zip_with(u, v, lambda p, q: (p - q) * (p - q)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    pairs = a.join(b, "_ia").select(
        _dist("_xa", "_xb").alias("_do"),
        _dist("_ya", "_yb").alias("_dp"),
    ).filter(F.col("_do") > 0)
    ratio = F.col("_dp") / F.col("_do")
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(ratio), 4).alias("avg_ratio"),
        F.round(F.min(ratio), 4).alias("min_ratio"),
        F.round(F.max(ratio), 4).alias("max_ratio"),
        F.round(F.avg(F.abs(ratio - 1.0)), 4).alias("avg_abs_distortion"),
    )


def _token_sign_vec(tok: Column, dim: int) -> Column:
    """±1 sign vector for a token: dim independent md5 parities
    (``base_hash``'s portable-digest family — bit i is the parity of
    the first hex nibble of md5(token || '#' || i)).  Exact small
    integers, so every dot product below is integer-exact."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(tok, F.lit("#"), i.cast("string"))),
                    1, 1,
                ),
                16, 10,
            ).cast("int") % 2 == 0,
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )


def maxsim_rerank(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    every_n: int = 40,
    n_candidates: int = 20,
    k: int = 3,
    rep_tokens: int = 8,
    dim: int = 16,
) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval as the production
    two-stage shape: a CHEAP single-vector first stage prunes the
    corpus to ``n_candidates`` per query, then MaxSim — the sum over
    query token vectors of each one's best cosine against the
    candidate's token vectors — re-ranks just those candidates to
    the final top ``k``.  Single-vector retrieval scores a doc as
    ONE point and misses partial topical overlap; MaxSim scores
    token-to-token and is the standard late-interaction fix, but is
    T² dots per pair — which is why it NEVER runs corpus-wide, only
    over a bounded candidate set (the PLAID recipe).

    Representation is deliberately hash-deterministic (the
    sign-projection family of ``jl_sign``/``simhash``): each doc is
    its ``rep_tokens`` lexicographically-smallest distinct word
    tokens; each token embeds as a ±1 md5-parity vector
    (``_token_sign_vec``); the stage-1 doc vector is the elementwise
    SIGN of the summed token vectors, packed into a ``dim``-bit
    integer so stage 1 is one XOR + bit_count per pair (SimHash
    hamming).  Every number is integer-exact (token cosines are
    multiples of 1/dim) — bit-reproducible across engines.  With a
    learned embedding column the same two-stage plan applies
    verbatim (stage 1 becomes ivf_topk).

    Queries are every ``every_n``-th doc (``id % every_n == 0``);
    self-matches excluded; empty-token docs cannot be represented
    and are dropped with the same contract as the fingerprint ops.

    Scale: stage 1 is the brute_force_topk posture — broadcast
    QUERY side (|queries| << corpus), corpus streams once, one
    window top-N on query_id; swap in the IVF index when the query
    side grows.  Stage 2 is bounded by construction:
    queries × n_candidates × rep_tokens² small-integer dots.  Sign
    vectors are computed once per DISTINCT token (vocabulary grain,
    broadcast-joined), never per occurrence.

    Output: query_id, neighbor_id, maxsim (4dp), rank 1..k."""
    from eggv_spark.operators.text_analysis import word_tokens_col

    reps = docs.select(
        F.col(id_col).alias("_id"),
        F.slice(
            F.array_sort(F.array_distinct(word_tokens_col(text_col))),
            1, rep_tokens,
        ).alias("_reps"),
    ).filter(F.size("_reps") > 0)
    # tok is consumed FOUR times (signature build, q_tok, c_tok) and
    # vocab THREE times (signature join, the two stage-2 vector
    # joins): without a checkpoint each consumer re-tokenizes the
    # corpus from parquet, so the tokenize+sort+slice work ran 4x per
    # query.  Eager localCheckpoint materializes each shared frame
    # once (token grain — tiny: rep_tokens rows/doc) and truncates
    # lineage; measured 3.39 s -> 2.39 s at sf0.1 on identical output.
    tok = reps.select("_id", F.explode("_reps").alias("_tok")) \
        .transform(materialize)
    vocab = tok.select("_tok").distinct().select(
        "_tok", _token_sign_vec(F.col("_tok"), dim).alias("_sv")
    ).transform(materialize)
    # stage-1 signature: sign of the summed token vectors, packed to
    # a dim-bit int at (doc, bit) grain — one map-side-combined agg
    bit_sums = (
        tok.join(F.broadcast(vocab), "_tok")
        .select("_id", F.posexplode("_sv").alias("_pos", "_s"))
        .groupBy("_id", "_pos")
        .agg(F.sum("_s").alias("_sum"))
    )
    # sigs feeds both the broadcast query side and the streamed
    # corpus side of the hamming stage — checkpoint so the two-agg
    # signature build runs once, not twice.
    sigs = bit_sums.groupBy("_id").agg(
        F.sum(
            F.when(
                F.col("_sum") >= 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), _pos)"),
            ).otherwise(F.lit(0))
        ).alias("_sig")
    ).transform(materialize)
    q_sigs = F.broadcast(
        sigs.filter(F.col("_id") % every_n == 0).select(
            F.col("_id").alias("query_id"), F.col("_sig").alias("_sq")
        )
    )
    ham = (
        sigs.select(F.col("_id").alias("neighbor_id"),
                    F.col("_sig").alias("_sc"))
        .crossJoin(q_sigs)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.bit_count(F.expr("_sq ^ _sc")).alias("_ham"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("_ham").asc(), F.col("neighbor_id").asc()
    )
    cands = (
        ham.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    # stage 2: MaxSim over the bounded candidate set
    q_tok = tok.select(
        F.col("_id").alias("query_id"), F.col("_tok").alias("_qt")
    )
    c_tok = tok.select(
        F.col("_id").alias("neighbor_id"), F.col("_tok").alias("_ct")
    )
    pair_toks = (
        cands.join(q_tok, "query_id")
        .join(c_tok, "neighbor_id")
        .join(
            F.broadcast(vocab.select(F.col("_tok").alias("_qt"),
                                     F.col("_sv").alias("_qv"))),
            "_qt",
        )
        .join(
            F.broadcast(vocab.select(F.col("_tok").alias("_ct"),
                                     F.col("_sv").alias("_cv"))),
            "_ct",
        )
        .select(
            "query_id", "neighbor_id", "_qt",
            (dot_col(F.col("_qv"), F.col("_cv")) / float(dim))
            .alias("_cos"),
        )
    )
    best = pair_toks.groupBy("query_id", "neighbor_id", "_qt").agg(
        F.max("_cos").alias("_best")
    )
    scored = best.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("_best"), 4).alias("maxsim")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "maxsim", "rank")
    )


def kcenter_coreset(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) coreset selection —
    the DIVERSITY dual of the density samplers (``semantic_dedupe``
    removes near-duplicates, ``mmr_diversify`` re-ranks a bounded
    pool; k-center picks the k points that together COVER the
    embedding space, the classic 2-approximation to the k-center
    objective and the standard seed for coresets / active-learning
    batches / kmeans++-style initialization without RNG).

    Deterministic variant: the first center is the smallest id; each
    subsequent center is the point FARTHEST from its nearest chosen
    center (squared L2, rounded at 6dp before every comparison — the
    mmr_diversify discipline: ties break to the smallest id, so the
    selection is engine- and partitioning-invariant).

    Iteration shape (the pagerank discipline): the state is the
    corpus-sized (id, min_dist) frame, updated per step with ONE
    broadcast of the single new center row and localCheckpoint-ed
    eagerly (flat lineage — a chained ``least`` otherwise nests k
    corpus scans); the argmax is a 1-row max-struct aggregate, never
    a driver collect.  k corpus passes total — the optimal shape for
    this algorithm on any engine.

    Output: one row per step — (step, center_id, coverage_radius)
    where coverage_radius is max_v min_c dist²(v, c) AFTER adding
    that center; the sequence is non-increasing (self-audit)."""

    def sq_dist(a: Column, b: Column) -> Column:
        return F.round(
            F.aggregate(
                F.zip_with(
                    a, b,
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    pts = df.select(
        F.col(id_col).alias("_id"),
        F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
        .alias("_v"),
    ).transform(materialize)

    first = F.broadcast(
        pts.agg(F.min("_id").alias("_cid"))
        .join(pts, F.col("_cid") == F.col("_id"))
        .select("_cid", F.col("_v").alias("_cv"))
    )
    state = pts.crossJoin(first).select(
        "_id", "_v",
        sq_dist(F.col("_v"), F.col("_cv")).alias("_md"),
    ).transform(materialize)
    selected = [
        first.crossJoin(
            F.broadcast(state.agg(F.max("_md").alias("coverage_radius")))
        ).select(
            F.lit(1).alias("step"),
            F.col("_cid").alias("center_id"),
            "coverage_radius",
        )
    ]
    for step in range(2, k + 1):
        # argmax id AND its vector from ONE max-struct aggregate (the
        # vector rides as the struct tail — ids are unique, so the
        # comparison never reaches it): the former two-stage form
        # (argmax-id aggregate, then a join back into state for the
        # vector) cost an extra aggregate + join per step — measured
        # 1.31 s -> 1.05 s for the k=5 query at sf0.1, identical
        # output.
        center = F.broadcast(
            state.agg(
                F.max(
                    F.struct(
                        F.col("_md"),
                        (-F.col("_id")).alias("_n"),
                        F.col("_v"),
                    )
                ).alias("_s")
            ).select(
                (-F.col("_s._n")).alias("_cid"),
                F.col("_s._v").alias("_cv"),
            )
        )
        state = state.crossJoin(center).select(
            "_id", "_v",
            F.least(
                F.col("_md"), sq_dist(F.col("_v"), F.col("_cv"))
            ).alias("_md"),
        ).transform(materialize)
        selected.append(
            center.crossJoin(
                F.broadcast(
                    state.agg(F.max("_md").alias("coverage_radius"))
                )
            ).select(
                F.lit(step).alias("step"),
                F.col("_cid").alias("center_id"),
                "coverage_radius",
            )
        )
    out = selected[0]
    for s in selected[1:]:
        out = out.unionByName(s)
    return out


def ivf_cell_stats(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF index health report: per-cell occupancy of the inverted
    lists, plus the global imbalance factor n_cells·max/total — the
    number that predicts probe-latency skew (a probe that lands on a
    10×-overfull cell scans 10× the vectors; imbalance 1.0 is
    perfectly even).  This is the QA a centroid refresh decision
    reads, the index-side sibling of sim_recall_eval's query-side
    gauge.

    One grouped count over the index assignment (map-side combined),
    a 1-row global fold broadcast back, and a left join against the
    full cell spine so EMPTY cells appear as zero rows — an empty
    cell is wasted fanout budget and must not vanish from the
    report.  Integer counts; shares 6dp.

    Output per cell: (cell, n_vectors, share, imbalance_factor) —
    the factor repeated per row for one-scan consumption."""
    index = ivf_index(corpus, n_centroids, vec_col, id_col, dim=dim)
    per_cell = index.groupBy("cell").agg(
        F.count("*").alias("n_vectors")
    )
    spine = corpus.sparkSession.range(n_centroids).select(
        F.col("id").cast("int").alias("cell")
    )
    filled = spine.join(per_cell, "cell", "left").select(
        "cell",
        F.coalesce(F.col("n_vectors"), F.lit(0)).alias("n_vectors"),
    )
    glob = filled.agg(
        F.sum("n_vectors").alias("_tot"),
        F.max("n_vectors").alias("_mx"),
    )
    return filled.crossJoin(F.broadcast(glob)).select(
        "cell", "n_vectors",
        F.round(F.try_divide(F.col("n_vectors"), F.col("_tot")), 6)
        .alias("share"),
        F.round(
            F.try_divide(
                F.lit(n_centroids) * F.col("_mx"), F.col("_tot")
            ),
            6,
        ).alias("imbalance_factor"),
    )


def pq_distortion(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ reconstruction-error audit — the int8_quantize RMSE gauge
    for the product-quantized index: per subspace, the mean and max
    squared L2 between each vector's sub-slice and its chosen
    codeword (the per-(vector, subspace) argmin distance the encoder
    already minimizes).  A subspace whose distortion dwarfs the rest
    is where recall dies first and where the codebook refresh should
    spend its budget.

    Shuffle shape: one shuffle-free map pass computes the m
    per-subspace min-distances per row (the same 6dp-rounded
    codebook transform pq_codes_col uses, so this audit measures
    EXACTLY what the encoder stores), a posexplode to (sub, dist)
    grain, one map-side-combined aggregate to m rows.  Per-row
    distances are deterministic (6dp); the cross-row mean is rounded
    at 4dp (the kmeans-inertia rounding discipline for free-order
    double sums).

    Output: (sub, n_vectors, mean_sqdist, max_sqdist)."""
    sub_dim = dim // m
    cb = _pq_codebook_lit(m, k, sub_dim)
    vec = F.col(vec_col)
    min_dists = F.transform(
        cb,
        lambda subtable, s: F.array_min(
            F.transform(
                subtable,
                lambda cen, c: F.struct(
                    F.round(_pq_sub_sq_dist(vec, s, sub_dim, cen), 6)
                    .alias("dist"),
                    c.alias("idx"),
                ),
            )
        ).getField("dist"),
    )
    exploded = corpus.select(
        F.posexplode(min_dists).alias("sub", "dist")
    )
    return exploded.groupBy("sub").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("dist"), 4).alias("mean_sqdist"),
        F.round(F.max("dist"), 6).alias("max_sqdist"),
    )


def rrf_fusion(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists — THE
    standard hybrid-retrieval combiner (lexical BM25/Jaccard list ⊕
    vector ANN list): per (query, candidate),

        score = Σ_systems 1 / (rrf_k + rank_in_that_system)

    summed over the systems that returned the candidate.  RRF needs
    no score calibration between systems (only ranks), which is why
    it wins in practice over weighted-score mixes.

    Inputs use the (query_id, neighbor_id, rank) shape every ranked
    op here emits.  The join is a per-query full outer on the
    candidate key — each side carries at most its own top-k per
    query, so the fused frame is bounded at 2k rows per query
    regardless of corpus size.  Scores are sums of at most two exact
    rationals (6dp); the final cut re-ranks by (score desc,
    neighbor_id asc) — a total order, both engines agree.

    Output: (query_id, neighbor_id, rrf_score, rank) — rank 1..k."""
    a = ranked_a.select(
        "query_id", "neighbor_id", F.col("rank").alias("_ra")
    )
    b = ranked_b.select(
        "query_id", "neighbor_id", F.col("rank").alias("_rb")
    )
    fused = a.join(b, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id", "neighbor_id",
        (
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("_ra")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("_rb")), F.lit(0.0))
        ).alias("_s"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("_s", 6).alias("rrf_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def lexical_jaccard_topk(
    docs: DataFrame,
    every_n: int = 50,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical retrieval stage for the hybrid fusion: per query doc
    (every ``every_n``-th id), the top-k corpus docs by distinct-
    word-token Jaccard.  The query batch broadcasts and the corpus
    streams once (the sim_cosine_topk posture — |queries| <<
    corpus); Jaccard is a ratio of exact integers, 4dp, and the cut
    orders by (jaccard desc, id asc) — total, engine-stable.

    Output: (query_id, neighbor_id, jaccard, rank)."""
    from eggv_spark.operators.text_analysis import word_tokens_col

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_tokens_col(text_col)).alias("_t"),
    ).filter(F.size("_t") > 0)
    q = F.broadcast(
        toks.filter(F.col("_id") % every_n == 0).select(
            F.col("_id").alias("query_id"), F.col("_t").alias("_qt")
        )
    )
    scored = toks.join(
        q, toks["_id"] != q["query_id"]
    ).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        F.round(
            F.size(F.array_intersect("_t", "_qt"))
            / F.size(F.array_union("_t", "_qt")).cast("double"),
            4,
        ).alias("jaccard"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "jaccard",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def vector_quality_audit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-column data-quality gate — the checks an ANN index
    build should fail FAST on instead of silently degrading: NULL
    vectors, wrong-width vectors, and zero-norm vectors (a zero
    vector has no direction — cosine against it is undefined and
    most engines quietly emit NULL or NaN mid-index).  Plus the norm
    spread, because a wildly varying norm under dot-product scoring
    means the corpus needs normalizing before indexing.

    One shuffle-free map pass + one keys=[] fold.  Counts are exact
    integers; norms are per-row doubles folded in a fixed order
    within each row, with the cross-row min/max exact under any
    partitioning (order-free) and the mean 4dp.

    Output: one row (n, n_null, n_wrong_width, n_zero_norm,
    min_norm, max_norm, mean_norm)."""
    v = F.col(vec_col).cast("array<double>")
    norm2 = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    ok_shape = v.isNotNull() & (F.size(v) == dim)
    rows = corpus.select(
        v.isNull().cast("bigint").alias("_null"),
        (v.isNotNull() & (F.size(v) != dim)).cast("bigint")
        .alias("_wrong"),
        F.when(ok_shape, F.sqrt(norm2)).alias("_norm"),
    )
    return rows.agg(
        F.count("*").alias("n"),
        F.sum("_null").alias("n_null"),
        F.sum("_wrong").alias("n_wrong_width"),
        F.sum((F.col("_norm") == 0.0).cast("bigint")).alias("n_zero_norm"),
        F.round(F.min("_norm"), 6).alias("min_norm"),
        F.round(F.max("_norm"), 6).alias("max_norm"),
        F.round(F.avg("_norm"), 4).alias("mean_norm"),
    )
