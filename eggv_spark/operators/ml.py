"""Iterative in-plan ML fits over embedding columns — the "train a
small model ON the data platform" operators a curation pipeline uses
for quality classifiers and projection probes (fasttext-style quality
gates, CCNet LM buckets, SemDeDup clustering all sit upstream of
these).  Reference scope: the reference engine has no ML surface —
these extend the §2.8 iterative family (kmeans_iteration, pagerank)
with supervised and spectral fits.

Both operators follow the pagerank/kmeans discipline for iterative
work on Spark:

* the MODEL STATE is a 1-row frame (weights / eigenvector as an
  array column) that is broadcast into each step;
* each step is ONE corpus pass — a map-side-combinable per-dimension
  aggregation (posexplode → groupBy(dim)) whose shuffle carries
  ``dim`` rows per map partition, never the data;
* each step's state frame is eagerly materialized so lineage stays
  flat (without it, step k's plan nests k corpus scans); the cut is
  taken where Catalyst proves the state's row count (a global
  aggregate, or a no-op ``limit(1)`` after a cross join), which the
  checkpoint leaf keeps for the nested-loop joins that read it;
* NOTHING data-sized ever reaches the driver: the only driver-side
  loop is over the fixed step count.

Determinism: fixed deterministic initial state (zeros / normalized
ones), fixed step count, and all reported metrics rounded — the
per-partition summation noise (~1e-15 relative per pass) is orders
of magnitude under the rounding grain, which the dual-scale oracle
sweep verifies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize, materialize_lazy


def _as_double_vec(col: str, dim: int) -> Column:
    return F.slice(F.col(col).cast("array<double>"), 1, dim)


def guarded_vec(vec_col: str, dim: int, op: str) -> Column:
    """Slice ``vec_col`` to ``dim`` doubles, raising IN-PLAN on a NULL
    or too-short vector — the loud alternative to letting null folds
    silently drop rows from distance sums and split counts (the
    labels-must-be-0/1 rule, applied to the feature side)."""
    v = _as_double_vec(vec_col, dim)
    return F.when(v.isNotNull() & (F.size(v) >= dim), v).otherwise(
        F.raise_error(
            F.lit(
                f"{op}: {vec_col} must be a non-null vector with"
                f" >= {dim} dims"
            )
        )
    )


def logistic_regression_gd(
    df: DataFrame,
    features_col: str = "embedding",
    label_col: str = "label",
    n_steps: int = 4,
    lr: float = 0.5,
    dim: int = 64,
) -> DataFrame:
    """Binary logistic regression by ``n_steps`` full-batch gradient
    descent steps, entirely as DataFrame ops — the quality-classifier
    training shape (fasttext-style linear gate over embeddings) run
    where the data lives instead of exporting to a driver-side fit.

    Per step, with weights w and bias b broadcast as a 1-row frame:
    p = sigmoid(w·x + b) per row, gradient g_d = avg((p − y)·x_d)
    via posexplode → groupBy(dim) (map-side combined, ``dim`` rows
    shuffle), g_b = avg(p − y), then w ← w − lr·g (an array zip on
    the 1-row frame).  Output is ONE row of final-model diagnostics:
    n, train accuracy at the 0.5 threshold, mean log-loss, ‖w‖₂, and
    the bias — the numbers a gate-deployment decision needs.

    Clamped log-loss (p bounded away from 0/1 by 1e-12) so a
    saturated prediction cannot emit ±inf.  Labels must be BINARY
    0/1: any other value raises in-plan (a multi-class label fed to
    a sigmoid fit silently produces negative "log-loss" and garbage
    gradients — the caller binarizes, e.g. ``(label < 5)``)."""
    y_raw = F.col(label_col).cast("double")
    data = df.select(
        _as_double_vec(features_col, dim).alias("_x"),
        F.when(y_raw.isin(0.0, 1.0), y_raw)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "logistic_regression_gd: labels must be 0/1,"
                        " got "
                    ),
                    y_raw.cast("string"),
                )
            )
        )
        .alias("_y"),
    )
    w = data.sparkSession.range(1).select(
        F.array_repeat(F.lit(0.0), dim).alias("_w"),
        F.lit(0.0).alias("_b"),
    )
    for _ in range(n_steps):
        scored = data.crossJoin(F.broadcast(w)).select(
            "_x", "_y",
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.aggregate(
                                F.zip_with(
                                    "_x", "_w", lambda x, wd: x * wd
                                ),
                                F.lit(0.0),
                                lambda acc, v: acc + v,
                            )
                            + F.col("_b")
                        )
                    )
                )
            ).alias("_p"),
        )
        grad = (
            scored.select(
                (F.col("_p") - F.col("_y")).alias("_e"),
                F.posexplode("_x").alias("_d", "_xd"),
            )
            .groupBy("_d")
            .agg(F.avg(F.col("_e") * F.col("_xd")).alias("_g"))
        )
        gvec = grad.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_d", "_g"))
                ),
                lambda s: s["_g"],
            ).alias("_gvec")
        )
        gbias = scored.agg(
            F.avg(F.col("_p") - F.col("_y")).alias("_gb")
        )
        w = (
            w.crossJoin(F.broadcast(gvec))
            .crossJoin(F.broadcast(gbias))
            .select(
                F.zip_with(
                    "_w", "_gvec", lambda wd, gd: wd - F.lit(lr) * gd
                ).alias("_w"),
                (F.col("_b") - F.lit(lr) * F.col("_gb")).alias("_b"),
            )
        )
        w = w.limit(1).transform(materialize)
    p = F.col("_p")
    p_safe = F.least(
        F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12)
    )
    final = data.crossJoin(F.broadcast(w)).select(
        "_y",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.aggregate(
                            F.zip_with("_x", "_w", lambda x, wd: x * wd),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        )
                        + F.col("_b")
                    )
                )
            )
        ).alias("_p"),
        F.aggregate(
            F.transform("_w", lambda wd: wd * wd),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_w2"),
        "_b",
    )
    return final.agg(
        F.count("*").alias("n"),
        F.round(
            F.avg(
                ((p >= 0.5).cast("double") == F.col("_y")).cast("double")
            ), 4,
        ).alias("accuracy"),
        F.round(
            F.avg(
                -(
                    F.col("_y") * F.log(p_safe)
                    + (1.0 - F.col("_y")) * F.log(1.0 - p_safe)
                )
            ), 6,
        ).alias("logloss"),
        F.round(F.sqrt(F.any_value("_w2")), 6).alias("w_norm"),
        F.round(F.any_value("_b"), 6).alias("bias"),
    )


def pca_power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    n_steps: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Top principal component by ``n_steps`` power iterations on the
    covariance operator, entirely as DataFrame ops — the projection
    probe behind embedding-drift monitoring and SemDeDup-style
    whitening decisions ("is the embedding space collapsing onto one
    axis?").

    The covariance matrix is never materialized: each step computes
    u = Σ ((x−μ)·v)(x−μ) / n directly from the data (one corpus pass:
    the scalar projection rides each row, the per-dimension average
    is posexplode → groupBy(dim)), then v ← u/‖u‖ on the 1-row state
    frame.  μ comes from one up-front pass, broadcast.  Output is ONE
    row: n, the top eigenvalue (Rayleigh quotient ‖u‖ of the final
    step), total variance, and the explained-variance share — plus
    the index of the heaviest loading dimension as an interpretable
    anchor (sign-invariant, unlike the eigenvector itself)."""
    data = df.select(_as_double_vec(vec_col, dim).alias("_x"))
    mu = (
        data.select(F.posexplode("_x").alias("_d", "_xd"))
        .groupBy("_d")
        .agg(F.avg("_xd").alias("_m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d", "_m"))),
                lambda s: s["_m"],
            ).alias("_mu")
        )
    )
    centered = data.crossJoin(F.broadcast(mu)).select(
        F.zip_with("_x", "_mu", lambda x, m: x - m).alias("_c")
    )
    inv_sqrt_dim = 1.0 / (dim ** 0.5)
    v = centered.sparkSession.range(1).select(
        F.array_repeat(F.lit(inv_sqrt_dim), dim).alias("_v"),
        F.lit(0.0).alias("_lambda"),
    )
    for _ in range(n_steps):
        proj = centered.crossJoin(F.broadcast(v)).select(
            "_c",
            F.aggregate(
                F.zip_with("_c", "_v", lambda c, vd: c * vd),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_s"),
        )
        u = (
            proj.select(
                "_s", F.posexplode("_c").alias("_d", "_cd")
            )
            .groupBy("_d")
            .agg(F.avg(F.col("_s") * F.col("_cd")).alias("_u"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_d", "_u"))),
                    lambda s: s["_u"],
                ).alias("_uvec")
            )
            .transform(materialize)
        )
        v = u.select(
            F.sqrt(
                F.aggregate(
                    F.transform("_uvec", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("_lambda"),
            "_uvec",
        ).select(
            F.transform(
                "_uvec", lambda x: x / F.col("_lambda")
            ).alias("_v"),
            "_lambda",
        )
    # trace of the covariance = Σ_rows Σ_d c_d² / n; the exploded
    # frame has n·dim rows, so trace = sum·dim/count
    total_var = centered.select(
        F.posexplode("_c").alias("_d", "_cd")
    ).agg(
        (F.sum(F.col("_cd") * F.col("_cd")) / F.count("*") * dim).alias(
            "_total_var"
        ),
        (F.count("*") / dim).cast("long").alias("n"),
    ).select("n", "_total_var")
    # deterministic argmax: max over (|loading|, -dim) structs — the
    # SMALLEST dim wins exact ties, same rule as the SQL oracle
    # (max_by alone leaves tie order engine-defined)
    top_dim = v.select(
        F.posexplode("_v").alias("_d", "_vd")
    ).agg(
        (
            -F.max(
                F.struct(
                    F.abs(F.col("_vd")).alias("_a"),
                    (-F.col("_d")).cast("long").alias("_nd"),
                )
            )["_nd"]
        ).cast("int").alias("top_loading_dim")
    )
    return (
        total_var.crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(top_dim))
        .select(
            "n",
            F.round("_lambda", 6).alias("top_eigenvalue"),
            F.round("_total_var", 6).alias("total_variance"),
            F.round(
                F.col("_lambda") / F.col("_total_var"), 4
            ).alias("explained_share"),
            "top_loading_dim",
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    n_steps: int = 3,
    dim: int = 16,
) -> DataFrame:
    """Full Lloyd's k-means — ``n_steps`` assign/update rounds plus a
    final readout assignment, entirely as DataFrame ops.  The
    multi-step companion to ``similarity.kmeans_iteration`` (one
    Lloyd round from fixed seed centroids): THIS one closes the loop,
    feeding engine-computed centroids back into the next assignment —
    the clustering shape SemDeDup/IVF cell-building actually runs.

    Scale posture (the logistic-GD/PCA discipline): the model state
    is a k-row centroid frame broadcast into each step; assignment is
    a broadcast product against k rows (k× row expansion, never
    data×data); the update shuffles k·dim per-dimension partial sums,
    map-side combined; each step's state is eagerly materialized so
    lineage stays flat.

    Determinism across engines AND partitionings — the feedback loop
    is where naive float use diverges, so every step is pinned:

    * assignment argmin uses the 6dp-ROUNDED squared distance with
      smallest-cluster tie-break (min-struct; the kmeans_iteration
      rule);
    * centroid update sums coordinates as DECIMAL(38,18) — EXACT,
      order-independent addition (a double sum differs across
      engines/partitionings in the last ulp, and after the cast any
      such noise feeds the next round's distances) — with ONE
      double division by the member count at the end;
    * initial centroids are the ``k`` vectors with the smallest
      ``id_col`` (TakeOrderedAndProject, no global sort) — the
      deterministic seed both engines can reproduce;
    * a cluster that goes empty keeps its previous centroid.

    Output: one row per cluster — n_points, inertia (sum of rounded
    squared distances, 2dp), centroid_norm (4dp)."""
    data = df.select(
        F.col(id_col).alias("_id"),
        guarded_vec(vec_col, dim, "kmeans_lloyd").alias("_x"),
    )
    from pyspark.sql import Window

    seed = data.orderBy("_id").limit(k)
    cent = seed.select(
        (
            F.row_number().over(Window.orderBy("_id")) - 1
        ).alias("_cid"),
        F.col("_x").alias("_c"),
    )

    def _assign(centroids: DataFrame) -> DataFrame:
        expanded = data.crossJoin(F.broadcast(centroids)).select(
            "_id", "_x", "_cid",
            F.round(
                F.aggregate(
                    F.zip_with("_x", "_c", lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("_sqd"),
        )
        return (
            expanded.groupBy("_id")
            .agg(
                F.min(F.struct("_sqd", "_cid")).alias("_m"),
                F.any_value("_x").alias("_x"),
            )
            .select(
                "_id", "_x",
                F.col("_m._cid").alias("_cid"),
                F.col("_m._sqd").alias("_sqd"),
            )
        )

    for _ in range(n_steps):
        assigned = _assign(cent)
        means = (
            assigned.select("_cid", F.posexplode("_x").alias("_d", "_xd"))
            .groupBy("_cid", "_d")
            .agg(
                (
                    F.sum(F.col("_xd").cast("decimal(38,18)"))
                    .cast("double")
                    / F.count("*")
                ).alias("_m")
            )
            .groupBy("_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_d", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cnew")
            )
        )
        # empty clusters keep their previous centroid; the limit(k)
        # marks the frame bounded for the broadcast-product lint
        cent_next = (
            cent.select("_cid", F.col("_c").alias("_cold"))
            .join(means, "_cid", "left")
            .select(
                "_cid", F.coalesce("_cnew", "_cold").alias("_c")
            )
            .limit(k)
        )
        cent_next = cent_next.transform(materialize)
        cent = cent_next
    final = _assign(cent)
    members = final.groupBy("_cid").agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("_sqd"), 2).alias("inertia"),
    )
    norms = cent.select(
        "_cid",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("_c", lambda c: c * c),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            4,
        ).alias("centroid_norm"),
    )
    return (
        norms.join(members, "_cid", "left")
        .select(
            F.col("_cid").cast("int").alias("cluster_id"),
            F.coalesce("n_points", F.lit(0)).alias("n_points"),
            F.coalesce("inertia", F.lit(0.0)).alias("inertia"),
            "centroid_norm",
        )
    )


def isotonic_calibration(
    df: DataFrame,
    bin_col: Column | str = "bin",
    label_col: Column | str = "label",
    max_bins: int = 1001,
) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) of a binary
    label on a BINNED score — the calibration FIT next to the
    round-5 reliability readout (``calibration_bins`` reports the
    gap; this computes the monotone correction a scored sampler
    would actually apply).

    PAV on bins via the minimax identity — no sequential pooling
    loop: ``iso(b) = max_{i≤b} min_{j≥b} mean(pos over bins i..j)``.
    With B bins that is a B²-row range table and a B³-row membership
    join — all on the BIN AGGREGATE, never the data: the only
    data-sized work is one groupBy(bin).  ``max_bins`` bounds B
    in-plan (raise_error past it): the minimax table is quadratic by
    design, so the caller must bin first — this is the
    PAV-on-aggregates form, not per-row isotonic.

    Exactness: every range mean is one double division of two exact
    integer sums — bit-identical in any engine — so the min/max
    lattice selects identically; output rates rounded (6dp).
    Output: one row per bin — n, pos_rate, iso_rate (non-decreasing
    in the bin order, which the staged property test asserts)."""
    b0 = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    y0 = F.col(label_col) if isinstance(label_col, str) else label_col
    # NULL bins/labels raise in-plan: a null bin would also ORDER
    # differently across engines (Spark windows put nulls first,
    # DuckDB last), so "bin your NULLs explicitly" is the contract
    b = F.when(b0.isNotNull(), b0).otherwise(
        F.raise_error(
            F.lit("isotonic_calibration: bin must be non-null —"
                  " bin NULL scores explicitly")
        )
    )
    y = F.when(y0.isNotNull(), y0).otherwise(
        F.raise_error(
            F.lit("isotonic_calibration: label must be non-null 0/1")
        )
    )
    bins = (
        df.select(b.cast("long").alias("_b"), y.cast("long").alias("_y"))
        .groupBy("_b")
        .agg(F.count("*").alias("_n"), F.sum("_y").alias("_pos"))
    )
    guard = bins.agg(F.count("*").alias("_nb"))
    bins = (
        bins.crossJoin(F.broadcast(guard))
        .where(
            F.when(F.col("_nb") <= max_bins, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "isotonic_calibration: distinct bins "
                        ),
                        F.col("_nb").cast("string"),
                        F.lit(f" exceed max_bins={max_bins}"),
                    )
                )
            )
        )
        .select("_b", "_n", "_pos")
    )
    from pyspark.sql import Window

    cum = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the limit is a no-op behind the max_bins guard; applied after the
    # cut it stays visible to the nested-loop build sides below, which
    # a checkpoint leaf alone would hide
    pre = bins.select(
        "_b", "_n", "_pos",
        F.sum("_n").over(cum).alias("_cn"),
        F.sum("_pos").over(cum).alias("_cp"),
    ).transform(materialize_lazy).limit(max_bins)
    lo = pre.select(
        F.col("_b").alias("_i"), F.col("_n").alias("_ni"),
        F.col("_pos").alias("_pi"), F.col("_cn").alias("_cni"),
        F.col("_cp").alias("_cpi"),
    )
    hi = pre.select(
        F.col("_b").alias("_j"), F.col("_cn").alias("_cnj"),
        F.col("_cp").alias("_cpj"),
    )
    ranges = lo.join(hi, F.col("_i") <= F.col("_j")).select(
        "_i", "_j",
        (
            (F.col("_cpj") - F.col("_cpi") + F.col("_pi")).cast("double")
            / (F.col("_cnj") - F.col("_cni") + F.col("_ni"))
        ).alias("_a"),
    )
    member = ranges.join(
        pre.select(F.col("_b")),
        (F.col("_i") <= F.col("_b")) & (F.col("_b") <= F.col("_j")),
    )
    iso = (
        member.groupBy("_b", "_i")
        .agg(F.min("_a").alias("_mn"))
        .groupBy("_b")
        .agg(F.max("_mn").alias("_iso"))
    )
    out = pre.join(iso, "_b").select(
        F.col("_b").alias("bin"),
        F.col("_n").alias("n"),
        F.round(F.col("_pos") / F.col("_n"), 6).alias("pos_rate"),
        F.round("_iso", 6).alias("iso_rate"),
    )
    return out


def naive_bayes_fit(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes over whitespace tokens with add-1
    smoothing, fit AND evaluated in-plan — the other classical
    text-quality classifier next to :func:`logistic_regression_gd`
    (NB needs no iteration: the model IS two grouped aggregations).

    Model: ln P(w|c) = ln((count(w,c)+1)/(total_c+V)),
    ln P(c) = ln(n_c/n).  Scoring joins each document's token counts
    to every class's smoothed log-prob — an UNAVOIDABLE |classes|×
    expansion of the token stream, which is why this reports the
    resubstitution readout rather than materializing per-doc
    posteriors.  Unseen (w, c) pairs fall back to the class's
    smoothing floor via the dense class×term grid being implicit:
    the per-doc score adds tf·ln(1/(total_c+V)) for absent pairs,
    folded in as (doc_tf_total − matched_tf)·floor_c.

    Prediction = argmax over the 6dp-ROUNDED score (summation-order
    noise absorbed; exact ties go to the LARGEST label — the
    max-struct rule, documented for the oracle).  Output: one row per
    class (label, n_docs, prior, recall) plus the '__ALL__' accuracy
    row."""
    from eggv_spark.operators.text_analysis import tokens_col

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_y"),
        F.explode(tokens_col(text_col)).alias("_w"),
    )
    doc_tf = toks.groupBy("_id", "_y", "_w").agg(
        F.count("*").alias("_tf")
    )
    class_term = doc_tf.groupBy("_y", "_w").agg(
        F.sum("_tf").alias("_ct")
    )
    vocab = class_term.select("_w").distinct().agg(
        F.count("*").alias("_v")
    )
    class_tot = class_term.groupBy("_y").agg(
        F.sum("_ct").alias("_tot")
    )
    docs_n = df.select(F.col(id_col).alias("_id"),
                       F.col(label_col).alias("_y"))
    priors = docs_n.groupBy("_y").agg(F.count("*").alias("_nc"))
    n_total = priors.agg(F.sum("_nc").alias("_n"))
    classes = (
        class_tot.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(priors), "_y")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("_y").alias("_c"),
            "_tot", "_v", "_nc", "_n",
            F.log(F.lit(1.0) / (F.col("_tot") + F.col("_v")))
            .alias("_floor"),
            F.log(F.col("_nc") / F.col("_n")).alias("_lprior"),
        )
    )
    # matched term mass: join doc term counts to class counts per
    # candidate class (the |classes|x expansion), PLUS the unmatched
    # remainder at the class floor
    per_class_terms = class_term.select(
        F.col("_y").alias("_c"), "_w", "_ct"
    )
    doc_totals = doc_tf.groupBy("_id").agg(
        F.sum("_tf").alias("_doc_tf")
    )
    matched = (
        doc_tf.join(per_class_terms, "_w")
        .join(F.broadcast(classes.select("_c", "_tot", "_v")), "_c")
        .groupBy("_id", "_c")
        .agg(
            F.sum(
                F.col("_tf")
                * F.log(
                    (F.col("_ct") + 1.0) / (F.col("_tot") + F.col("_v"))
                )
            ).alias("_m_sum"),
            F.sum("_tf").alias("_m_tf"),
        )
    )
    # DENSE doc x class candidate grid: a document whose every token
    # is unseen in class c still scores c (floor-only) — otherwise the
    # argmax silently drops classes from consideration
    scored = (
        doc_totals.crossJoin(
            F.broadcast(classes.select("_c", "_floor", "_lprior"))
        )
        .join(matched, ["_id", "_c"], "left")
        .select(
            "_id", "_c",
            F.round(
                F.col("_lprior")
                + F.coalesce(F.col("_m_sum"), F.lit(0.0))
                + (
                    F.col("_doc_tf")
                    - F.coalesce(F.col("_m_tf"), F.lit(0))
                )
                * F.col("_floor"),
                6,
            ).alias("_score"),
        )
    )
    pred = scored.groupBy("_id").agg(
        F.max(F.struct("_score", "_c"))["_c"].alias("_pred")
    )
    truth = docs_n.join(pred, "_id")
    per_class = (
        truth.groupBy("_y")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("_pred") == F.col("_y")).cast("long"))
            .alias("_n_correct"),
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("_y").alias("label"),
            "n_docs",
            F.round(F.col("n_docs") / F.col("_n"), 4).alias("prior"),
            F.round(F.col("_n_correct") / F.col("n_docs"), 4)
            .alias("recall"),
        )
    )
    overall = truth.agg(
        F.lit("__ALL__").alias("label"),
        F.count("*").alias("n_docs"),
        F.lit(1.0).alias("prior"),
        F.round(
            F.avg((F.col("_pred") == F.col("_y")).cast("double")), 4
        ).alias("recall"),
    )
    return per_class.unionByName(overall)


def decision_stump_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 16,
    thresholds: tuple = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3),
) -> DataFrame:
    """Best single-feature decision stump over embedding dimensions —
    the weak learner every boosting/cascade pipeline starts from, fit
    entirely in-plan (the one-split companion to
    :func:`logistic_regression_gd`; a stump is also the cheapest
    "is this feature predictive at all" probe a curation pass runs
    before paying for a full fit).

    Candidate grid = ``dim`` dimensions × a FIXED threshold grid
    (data-independent, so the candidate table is a literal both
    engines share — no quantile estimation step).  One corpus pass:
    posexplode the vector, broadcast-product against the threshold
    literals (|grid| ≤ a few hundred rows), and aggregate the four
    split counts per candidate map-side.  Errors are exact integers;
    the argmin is a min-struct over (n_errors, dim, threshold_index)
    — total order, engine-exact.  Polarity ties (left-positive vs
    right-positive equally wrong) go to left-positive.

    ``label_col`` must be binary 0/1 (raise_error in-plan otherwise,
    the logistic_regression_gd rule).  Output: ONE row — dim (1-based),
    threshold, polarity, n, n_errors, error_rate (6dp)."""
    y_raw = F.col(label_col).cast("double")
    pts = df.select(
        F.when(y_raw.isin(0.0, 1.0), y_raw.cast("long"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("decision_stump_fit: labels must be 0/1, got "),
                    y_raw.cast("string"),
                )
            )
        )
        .alias("_y"),
        F.posexplode(
            guarded_vec(vec_col, dim, "decision_stump_fit")
        ).alias("_d0", "_x"),
    )
    # The grid is a VALUES relation (a LocalTableScan): no Limit, whose
    # generated code names its counter by a per-build id and so is
    # compiled anew on every call, and no ExistingRDD scan, which
    # plan_lint cannot prove tiny.
    grid = ", ".join(
        f"({ti}, CAST({float(t)!r} AS DOUBLE))"
        for ti, t in enumerate(thresholds)
    )
    thr = df.sparkSession.sql(f"SELECT * FROM VALUES {grid} AS t(_ti, _t)")
    cand = (
        pts.crossJoin(F.broadcast(thr))
        .groupBy((F.col("_d0") + 1).alias("_d"), "_ti", "_t")
        .agg(
            F.count("*").alias("_n"),
            F.sum(
                F.col("_y") * (F.col("_x") <= F.col("_t")).cast("long")
            ).alias("_lp"),
            F.sum(
                (1 - F.col("_y"))
                * (F.col("_x") <= F.col("_t")).cast("long")
            ).alias("_ln"),
            F.sum("_y").alias("_pos"),
        )
        .select(
            "_d", "_ti", "_t", "_n", "_lp", "_ln",
            (F.col("_pos") - F.col("_lp")).alias("_rp"),
            (F.col("_n") - F.col("_pos") - F.col("_ln")).alias("_rn"),
        )
    )
    scored = cand.select(
        "_d", "_ti", "_t", "_n",
        # polarity A: left side predicts positive -> errors are the
        # left negatives + right positives; B is the mirror; ties -> A
        (F.col("_ln") + F.col("_rp")).alias("_errA"),
        (F.col("_lp") + F.col("_rn")).alias("_errB"),
    ).select(
        "_d", "_ti", "_t", "_n",
        F.least("_errA", "_errB").alias("_err"),
        F.when(F.col("_errA") <= F.col("_errB"), F.lit("left_pos"))
        .otherwise(F.lit("right_pos"))
        .alias("_pol"),
    )
    best = scored.agg(
        F.min(
            F.struct("_err", "_d", "_ti", "_t", "_pol", "_n")
        ).alias("_b")
    )
    return best.select(
        F.col("_b._d").cast("int").alias("dim"),
        F.col("_b._t").alias("threshold"),
        F.col("_b._pol").alias("polarity"),
        F.col("_b._n").alias("n"),
        F.col("_b._err").alias("n_errors"),
        F.round(F.col("_b._err") / F.col("_b._n"), 6).alias("error_rate"),
    )


def pca_top2_deflation(
    df: DataFrame,
    vec_col: str = "embedding",
    n_steps: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Top TWO principal components by power iteration + deflation —
    the spectral-gap probe behind :func:`pca_power_iteration` ("is
    the embedding space collapsing onto one axis?" needs λ₂/λ₁, not
    just λ₁: a ratio near 1 means two strong directions, near 0 means
    rank collapse).

    Phase 1 is the pca_power_iteration kernel (one corpus pass per
    step: scalar projection rides each row, per-dimension averages
    via posexplode → groupBy(dim)).  Phase 2 power-iterates the
    DEFLATED operator C′w = C·w − λ₁·(v₁ᵀw)·v₁ — C·w is the same
    corpus pass, the deflation term is pure 1-row state arithmetic,
    and the covariance matrix is never materialized for either
    component.  Both eigenvector states are eagerly
    localCheckpoint-ed per step, NOT merely persisted: phase 2
    references w twice per step (the covariance pass and the
    deflation product), so a persist+count state still grows the
    plan TREE ~2^steps and overflows the driver heap by step 4 —
    the bpe_train_merges lineage-cut lesson applied to 1-row
    state frames.

    Output: ONE row — n, eigenvalue_1, eigenvalue_2 (6dp),
    spectral_ratio λ₂/λ₁ (4dp), orthogonality v₁ᵀv₂ (4dp — a
    self-audit, ~0 by construction), and the two top-loading dims
    (smallest-dim tie rule, the pca_power_iteration max-struct)."""
    data = df.select(_as_double_vec(vec_col, dim).alias("_x"))
    mu = (
        data.select(F.posexplode("_x").alias("_d", "_xd"))
        .groupBy("_d")
        .agg(F.avg("_xd").alias("_m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d", "_m"))),
                lambda s: s["_m"],
            ).alias("_mu")
        )
    )
    centered = data.crossJoin(F.broadcast(mu)).select(
        F.zip_with("_x", "_mu", lambda x, m: x - m).alias("_c")
    )

    def _dot(a, b) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _cov_apply(state: DataFrame, vcol: str) -> DataFrame:
        """One corpus pass: per-dimension avg of (c·v)·c_d, assembled
        in dim order — the covariance operator applied to v."""
        proj = centered.crossJoin(F.broadcast(state)).select(
            "_c", _dot(F.col("_c"), F.col(vcol)).alias("_s")
        )
        return (
            proj.select("_s", F.posexplode("_c").alias("_d", "_cd"))
            .groupBy("_d")
            .agg(F.avg(F.col("_s") * F.col("_cd")).alias("_u"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_d", "_u"))),
                    lambda s: s["_u"],
                ).alias("_uvec")
            )
        )

    centered = centered.transform(materialize_lazy)
    inv = 1.0 / (dim ** 0.5)
    v = centered.sparkSession.range(1).select(
        F.array_repeat(F.lit(inv), dim).alias("_v"),
        F.lit(0.0).alias("_lam"),
    )
    for _ in range(n_steps):
        u = _cov_apply(v, "_v")
        v = u.select(
            F.sqrt(_dot(F.col("_uvec"), F.col("_uvec"))).alias("_lam"),
            "_uvec",
        ).select(
            F.transform(
                "_uvec", lambda x: x / F.col("_lam")
            ).alias("_v"),
            "_lam",
        ).transform(materialize)
    v1 = v  # flat leaf, read throughout phase 2
    w = centered.sparkSession.range(1).select(
        F.array_repeat(F.lit(inv), dim).alias("_w"),
        F.lit(0.0).alias("_lam2"),
    )
    for _ in range(n_steps):
        cw = _cov_apply(w, "_w")
        merged = (
            cw.crossJoin(F.broadcast(v1))
            .crossJoin(F.broadcast(w.select(F.col("_w").alias("_wp"))))
            .select(
                F.zip_with(
                    "_uvec", "_v",
                    lambda u_, v_: u_
                    - F.col("_lam")
                    * _dot(F.col("_v"), F.col("_wp"))
                    * v_,
                ).alias("_u2")
            )
        )
        w = merged.select(
            F.sqrt(_dot(F.col("_u2"), F.col("_u2"))).alias("_lam2"),
            "_u2",
        ).select(
            F.transform(
                "_u2", lambda x: x / F.col("_lam2")
            ).alias("_w"),
            "_lam2",
        ).transform(materialize)
    n = centered.agg(F.count("*").alias("n"))

    def _top_dim(frame: DataFrame, col: str) -> DataFrame:
        return frame.select(
            F.posexplode(col).alias("_d", "_vd")
        ).agg(
            (
                -F.max(
                    F.struct(
                        F.abs(F.col("_vd")).alias("_a"),
                        (-F.col("_d")).cast("long").alias("_nd"),
                    )
                )["_nd"]
            ).cast("int").alias("td")
        )

    t1 = _top_dim(v1, "_v").withColumnRenamed("td", "top_dim_1")
    t2 = _top_dim(w, "_w").withColumnRenamed("td", "top_dim_2")
    # the limit(1) markers declare the checkpointed 1-row state
    # leaves bounded for the broadcast-product lint (a raw RDD leaf
    # carries no provable row bound)
    return (
        n.crossJoin(F.broadcast(v1.limit(1)))
        .crossJoin(
            F.broadcast(
                w.select(F.col("_w").alias("_w2"), "_lam2").limit(1)
            )
        )
        .crossJoin(F.broadcast(t1.limit(1)))
        .crossJoin(F.broadcast(t2.limit(1)))
        .select(
            "n",
            F.round("_lam", 6).alias("eigenvalue_1"),
            F.round("_lam2", 6).alias("eigenvalue_2"),
            F.round(F.col("_lam2") / F.col("_lam"), 4)
            .alias("spectral_ratio"),
            F.round(_dot(F.col("_v"), F.col("_w2")), 4)
            .alias("orthogonality"),
            "top_dim_1",
            "top_dim_2",
        )
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_cols: list[str] | tuple[str, ...] = (),
    smoothing: float = 20.0,
    sum_decimals: int | None = None,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    feature-prep step that turns a high-cardinality categorical into
    one numeric column a downstream fit (logistic_regression_gd,
    decision_stump_fit) can consume without one-hot blowup.
    Leave-one-out is the leakage guard: a row's own target never
    enters its encoding, so the encoded column is safe to train on
    (plain mean encoding leaks the label and inflates offline
    metrics — the classic target-leak bug).

    enc_i = (Σ_cat y − y_i + m·prior) / (n_cat − 1 + m), prior the
    global target mean, m = ``smoothing`` pseudo-observations.  A
    singleton category falls out of the algebra as exactly the
    prior — no special case.  Rows with a NULL target get the
    INFERENCE-time posterior (Σ_cat y + m·prior)/(n_cat + m) over
    the non-null targets (they contribute nothing and leak nothing;
    this is the encoding a serving path would apply).  NULL
    categories are their own category — the per-category join is
    null-safe (the round-7 eqNullSafe lesson), so they get a real
    encoding instead of silently vanishing.

    Scale: one map-side-combined aggregate to CATEGORY grain, one
    1-row prior broadcast, one broadcast-able join back (category
    cardinality is the encoder's domain, orders of magnitude under
    the row count) — the row-grain frame shuffles zero times.

    ``sum_decimals``: when the target is fixed-point (money, counts),
    pass its decimal places and the category/prior SUMS accumulate in
    exact DECIMAL(38, d) instead of doubles — the wasserstein_cents
    discipline.  Every remaining operation is then scalar double
    arithmetic on order-independent inputs, so 6dp encodings are
    bit-identical across engines and partitionings.  Left unset, the
    double-sum partial-aggregation order contributes ~1e-15 relative
    noise — harmless for training, but round coarser before hashing
    encodings across engines.

    Output: id_cols + category + target + ``encoded`` (6dp)."""
    ids = list(id_cols)
    y = F.col(target_col).cast("double")
    if sum_decimals is not None:
        acc = y.cast(f"decimal(38,{int(sum_decimals)})")
        s_expr = F.sum(acc).cast("double")
        prior_expr = (
            F.sum(acc).cast("double") / F.count(acc)
        )
    else:
        s_expr = F.sum(y)
        prior_expr = F.avg(y)
    per_cat = df.groupBy(F.col(cat_col).alias("_pc_cat")).agg(
        F.count(y).alias("_n"), s_expr.alias("_s")
    )
    prior = df.agg(prior_expr.alias("_prior"))
    joined = (
        df.select(*ids, F.col(cat_col).alias("_cat"), y.alias("_y"))
        .join(
            F.broadcast(per_cat),
            on=F.col("_cat").eqNullSafe(F.col("_pc_cat")),
        )
        .drop("_pc_cat")
        .crossJoin(F.broadcast(prior))
    )
    m = F.lit(float(smoothing))
    loo = (F.col("_s") - F.col("_y") + m * F.col("_prior")) / (
        F.col("_n") - 1 + m
    )
    inference = (F.col("_s") + m * F.col("_prior")) / (F.col("_n") + m)
    enc = F.when(F.col("_y").isNotNull(), loo).otherwise(inference)
    return joined.select(
        *ids,
        F.col("_cat").alias(cat_col),
        F.col("_y").alias(target_col),
        F.round(enc, 6).alias("encoded"),
    )


def psm_att(
    df: DataFrame,
    unit_col: str,
    treat_col: str,
    outcome_col: str,
    cov_cols: list[str] | tuple[str, ...],
    caliper: float = 0.05,
) -> DataFrame:
    """Propensity-score matching ATT — the third leg of the
    observational-causal family (``did_estimator`` needs a
    pre-period, ``cuped_adjusted_lift`` needs randomization; PSM
    handles the cross-section where neither holds): each treated
    unit is matched to its nearest control BY PROPENSITY within a
    caliper, with replacement, and ATT = mean(y_t − y_matched).

    The propensity here is a deterministic index, not a fitted one:
    covariates are standardized against their full-sample moments
    (one 1-row broadcast) and squashed through the ALGEBRAIC
    sigmoid p = 0.5 + z/(2(1+|z|)), z = Σ z_i/k — monotone, in
    (0,1), and exp-free (exp's last ulp is not cross-engine
    portable; the round-8 DSIR lesson).  p rounds at 6dp BEFORE
    matching so distance comparisons are exact on both engines.  In
    production the score column would come from
    logistic_regression_gd — the matching kernel below is agnostic.

    Matching is the sorted-merge 1-NN kernel (the asof-join shape,
    both directions): sort units by (p, unit); each treated row
    sees the nearest control at-or-below via last(IGNORE NULLS)
    over the preceding frame and at-or-above via first(IGNORE
    NULLS) over the following frame; the closer of the two wins,
    ties to the lower-p side.  One global-sort window shuffle —
    O(n log n), no treated×control pair blowup; a unit table
    exceeding one executor's sort space takes the range-partitioned
    two-phase variant (roc_auc note).

    treat/outcome/covariates must be non-null — raised in-plan (a
    NULL flag would silently leave both arms).  Output: ONE row —
    n_treat, n_control, n_matched (within caliper), att (6dp),
    se (6dp, paired-difference SE; the Abadie–Imbens correction is
    out of scope and stated so), t_stat (4dp)."""
    from pyspark.sql import Window

    covs = list(cov_cols)
    ok = F.col(treat_col).isNotNull() & F.col(outcome_col).isNotNull()
    for c in covs:
        ok = ok & F.col(c).isNotNull()

    def _guard(c: Column) -> Column:
        return F.when(ok, c).otherwise(
            F.raise_error(
                F.lit(
                    "psm_att: treat/outcome/covariates must be"
                    " non-null"
                )
            )
        )

    base = df.select(
        F.col(unit_col).alias("_u"),
        _guard(F.col(treat_col).cast("boolean")).alias("_t"),
        _guard(F.col(outcome_col).cast("double")).alias("_y"),
        *[
            _guard(F.col(c).cast("double")).alias(f"_x{i}")
            for i, c in enumerate(covs)
        ],
    )
    moments = base.agg(
        *[
            a
            for i in range(len(covs))
            for a in (
                F.avg(f"_x{i}").alias(f"_m{i}"),
                F.stddev_pop(f"_x{i}").alias(f"_sd{i}"),
            )
        ]
    )
    z = None
    for i in range(len(covs)):
        zi = F.try_divide(
            F.col(f"_x{i}") - F.col(f"_m{i}"), F.col(f"_sd{i}")
        )
        zi = F.coalesce(zi, F.lit(0.0))  # constant covariate
        z = zi if z is None else z + zi
    z = z / float(len(covs))
    p = F.round(0.5 + z / (2.0 * (1.0 + F.abs(z))), 6)
    units = base.crossJoin(F.broadcast(moments)).select(
        "_u", "_t", "_y", p.alias("_p")
    )
    ordw = Window.orderBy("_p", "_u")
    ctrl = F.when(
        ~F.col("_t"), F.struct(F.col("_p"), F.col("_y"), F.col("_u"))
    )
    prev_c = F.last(ctrl, ignorenulls=True).over(
        ordw.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_c = F.first(ctrl, ignorenulls=True).over(
        ordw.rowsBetween(1, Window.unboundedFollowing)
    )
    cand = units.select(
        "_t", "_y", "_p",
        prev_c.alias("_pc"), next_c.alias("_nc"),
    ).filter("_t")
    d_prev = F.col("_p") - F.col("_pc._p")
    d_next = F.col("_nc._p") - F.col("_p")
    pick_prev = F.col("_pc").isNotNull() & (
        F.col("_nc").isNull() | (d_prev <= d_next)
    )
    match = F.when(pick_prev, F.col("_pc")).otherwise(F.col("_nc"))
    dist = F.when(pick_prev, d_prev).otherwise(d_next)
    matched = cand.select(
        "_y",
        F.when(
            match.isNotNull() & (dist <= F.lit(float(caliper))),
            match["_y"],
        ).alias("_yc"),
    )
    stats = matched.agg(
        F.count("*").alias("n_treat"),
        F.count("_yc").alias("n_matched"),
        F.avg(F.col("_y") - F.col("_yc")).alias("_att"),
        F.stddev_samp(F.col("_y") - F.col("_yc")).alias("_sd"),
    )
    n_ctrl = units.filter(~F.col("_t")).agg(
        F.count("*").alias("n_control")
    )
    se = F.try_divide(F.col("_sd"), F.sqrt(F.col("n_matched")))
    return stats.crossJoin(F.broadcast(n_ctrl)).select(
        "n_treat", "n_control", "n_matched",
        F.round("_att", 6).alias("att"),
        F.round(se, 6).alias("se"),
        F.round(F.try_divide(F.col("_att"), se), 4).alias("t_stat"),
    )


def gbrt_stumps(
    df: DataFrame,
    vec_col: str = "embedding",
    target_col: str = "label",
    n_rounds: int = 3,
    dim: int = 16,
    thresholds: tuple = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3),
) -> DataFrame:
    """Gradient-boosted regression stumps (squared loss) — the
    smallest real boosting loop: round 0 fits the global mean, every
    later round fits a depth-1 regression stump to the RESIDUALS and
    subtracts its predictions.  Chosen over AdaBoost deliberately:
    least-squares boosting needs no exp()/log() weight updates, so
    the whole fit stays inside the cross-engine-exact arithmetic
    this registry requires (the DSIR no-exp lesson), while still
    exercising the real boosting structure (sequential dependence of
    round k on the engine-computed output of round k−1 — the
    hardest thing to keep deterministic, same class as
    ``kmeans_lloyd``'s centroid feedback).

    Determinism discipline (the kmeans_lloyd recipe, adapted):

    * every SUM over rows runs in DECIMAL (residuals cast at 12dp,
      squares at 16dp) — exact, order-independent;
    * all scoring math (variance-reduction gain
      S_l²/n_l + S_r²/n_r − S²/n) runs in DOUBLE on those exact
      sums — identical scalars on both engines;
    * leaf values round at 6dp before entering the residual update,
      so round k's input is bit-identical everywhere;
    * the candidate grid is dims × a FIXED literal threshold list
      (the decision_stump_fit rule), argmax by
      (gain, dim asc, threshold-index asc) via max-struct;
    * the corpus-sized residual frame is localCheckpoint-ed per
      round (flat lineage — the bpe/kcenter lesson).

    A candidate that puts zero rows on one side scores gain −1
    (never beats any real split); callers supply a grid that splits
    their feature range.  Output: one row per round — round 0 is
    the base prediction (left_value = right_value = ȳ, dim 0,
    threshold NULL), rounds 1..n are stumps — with the exact
    train_sse after each round (non-increasing: self-audit)."""
    from pyspark.sql import Window as _W  # noqa: F401  (house import shape)

    dec_r = "decimal(38,12)"
    dec_s = "decimal(38,16)"
    y = F.col(target_col).cast("double")
    base = df.select(
        y.alias("_y"),
        guarded_vec(vec_col, dim, "gbrt_stumps").alias("_x"),
    )
    tot0 = base.agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_y").cast(dec_r)).alias("_s"),
    )
    mu0 = F.round(F.col("_s").cast("double") / F.col("_n"), 6)
    state = base.crossJoin(F.broadcast(tot0)).select(
        "_x", (F.col("_y") - mu0).alias("_r")
    ).transform(materialize)
    sse = F.round(
        F.sum((F.col("_r") * F.col("_r")).cast(dec_s)).cast("double"), 6
    )
    rounds = [
        tot0.crossJoin(
            F.broadcast(state.agg(sse.alias("train_sse")))
        ).select(
            F.lit(0).alias("round"),
            F.lit(0).alias("dim"),
            F.lit(None).cast("double").alias("threshold"),
            mu0.alias("left_value"),
            mu0.alias("right_value"),
            F.lit(None).cast("double").alias("gain"),
            "train_sse",
        )
    ]
    spark = df.sparkSession
    thr = spark.range(1).select(
        F.posexplode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("_ti", "_t")
    ).limit(len(thresholds))
    for rnd in range(1, n_rounds + 1):
        pts = state.select(
            "_r", F.posexplode("_x").alias("_d", "_v")
        )
        cand = (
            pts.crossJoin(F.broadcast(thr))
            .groupBy("_d", "_ti", "_t")
            .agg(
                F.count("*").alias("_n"),
                F.sum(F.col("_r").cast(dec_r)).alias("_s"),
                F.sum(
                    F.when(F.col("_v") <= F.col("_t"), 1).otherwise(0)
                ).alias("_nl"),
                F.sum(
                    F.when(F.col("_v") <= F.col("_t"), F.col("_r"))
                    .otherwise(0.0).cast(dec_r)
                ).alias("_sl"),
            )
        )
        sl = F.col("_sl").cast("double")
        sr = F.col("_s").cast("double") - sl
        nl = F.col("_nl")
        nr = F.col("_n") - nl
        gain = F.when(
            (nl > 0) & (nr > 0),
            sl * sl / nl + sr * sr / nr
            - F.col("_s").cast("double") * F.col("_s").cast("double")
            / F.col("_n"),
        ).otherwise(F.lit(-1.0))
        best = F.broadcast(
            cand.select(
                "_d", "_ti", "_t", "_nl", "_n",
                gain.alias("_g"),
                F.round(F.try_divide(sl, nl), 6).alias("_ml"),
                F.round(F.try_divide(sr, nr), 6).alias("_mr"),
            )
            .agg(
                F.max(
                    F.struct(
                        F.col("_g"),
                        (-F.col("_d")).alias("_nd"),
                        (-F.col("_ti")).alias("_nti"),
                        "_t", "_ml", "_mr",
                    )
                ).alias("_b")
            )
            .select(
                (-F.col("_b._nd")).alias("_bd"),
                F.col("_b._t").alias("_bt"),
                F.coalesce(F.col("_b._ml"), F.lit(0.0)).alias("_bml"),
                F.coalesce(F.col("_b._mr"), F.lit(0.0)).alias("_bmr"),
                F.col("_b._g").alias("_bg"),
            )
        )
        state = state.crossJoin(best).select(
            "_x",
            (
                F.col("_r")
                - F.when(
                    F.get("_x", F.col("_bd")) <= F.col("_bt"),
                    F.col("_bml"),
                ).otherwise(F.col("_bmr"))
            ).alias("_r"),
        ).transform(materialize)
        rounds.append(
            best.crossJoin(
                F.broadcast(state.agg(sse.alias("train_sse")))
            ).select(
                F.lit(rnd).alias("round"),
                (F.col("_bd") + 1).cast("int").alias("dim"),
                F.col("_bt").alias("threshold"),
                F.col("_bml").alias("left_value"),
                F.col("_bmr").alias("right_value"),
                F.round(F.col("_bg"), 6).alias("gain"),
                "train_sse",
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def perceptron_fit(
    df: DataFrame,
    features_col: str = "x",
    label_col: str = "y",
    n_epochs: int = 3,
    dim: int = 8,
) -> DataFrame:
    """Batch perceptron on INTEGER features — the fully exact member
    of the in-plan linear-fit family (logistic_regression_gd is its
    floating sibling).  Per epoch, with integer weights w and bias b
    broadcast as a 1-row frame:

        mis_i   = y_i * (w·x_i + b) <= 0        (batch margin test)
        w      += Σ_{mis} y_i * x_i              (per-dim integer sum)
        b      += Σ_{mis} y_i

    Everything is BIGINT: integer sums are associative-exact, so the
    result is bit-identical across engines, partitionings, and
    shuffle orders — no rounding contract needed anywhere.  Labels
    must be ±1 (raise_error in-plan otherwise); features must be a
    length>=dim integer vector (same loud guard).  Overflow bound
    (caller's contract): |w_d| <= n_epochs·N·max|x_d|, and the
    activation magnitude dim·max|w|·max|x| must stay < 2^63 — cents
    or millis-quantized embeddings at corpus scale are orders of
    magnitude inside it.

    The per-dim gradient is computed with a conditional inside the
    aggregate (``Σ CASE WHEN mis THEN y·x_d ELSE 0``) over a
    posexplode of ALL rows, so the zero-misclassified epoch still
    yields a dim-row frame (an empty-delta epoch is a fixed point,
    not a crash).  One corpus pass per epoch; each epoch's 1-row
    model state is eagerly materialized so step k's plan does not
    nest k corpus scans.

    Output: one diagnostics row — n, errors (final misclassified
    count), accuracy (4dp), bias, w_l1 = Σ|w_d|, w_abs_max (all
    exact integers except accuracy)."""
    y_raw = F.col(label_col).cast("bigint")
    v = F.slice(F.col(features_col).cast("array<bigint>"), 1, dim)
    data = df.select(
        F.when(v.isNotNull() & (F.size(v) >= dim), v)
        .otherwise(
            F.raise_error(
                F.lit(
                    f"perceptron_fit: {features_col} must be a"
                    f" non-null integer vector with >= {dim} dims"
                )
            )
        )
        .alias("_x"),
        F.when(y_raw.isin(-1, 1), y_raw)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("perceptron_fit: labels must be -1/+1, got "),
                    y_raw.cast("string"),
                )
            )
        )
        .alias("_y"),
    )
    zero = F.lit(0).cast("bigint")

    def _margin(w_col: str, b_col: str) -> Column:
        return F.col("_y") * (
            F.aggregate(
                F.zip_with("_x", w_col, lambda x, wd: x * wd),
                zero,
                lambda acc, t: acc + t,
            )
            + F.col(b_col)
        )

    w = data.sparkSession.range(1).select(
        F.array_repeat(zero, dim).alias("_w"), zero.alias("_b")
    )
    for _ in range(n_epochs):
        scored = data.crossJoin(F.broadcast(w)).select(
            "_x", "_y", (_margin("_w", "_b") <= 0).alias("_mis")
        )
        dw = (
            scored.select(
                F.when(F.col("_mis"), F.col("_y")).otherwise(zero).alias("_yy"),
                F.posexplode("_x").alias("_d", "_xd"),
            )
            .groupBy("_d")
            .agg(F.sum(F.col("_yy") * F.col("_xd")).alias("_g"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_d", "_g"))),
                    lambda s: s["_g"],
                ).alias("_dw")
            )
        )
        db = scored.agg(
            F.sum(F.when(F.col("_mis"), F.col("_y")).otherwise(zero))
            .alias("_db")
        )
        w = (
            w.crossJoin(F.broadcast(dw))
            .crossJoin(F.broadcast(db))
            .select(
                F.zip_with("_w", "_dw", lambda wd, gd: wd + gd).alias("_w"),
                (F.col("_b") + F.col("_db")).alias("_b"),
            )
        )
        w = w.limit(1).transform(materialize)
    final = data.crossJoin(F.broadcast(w)).select(
        (_margin("_w", "_b") <= 0).alias("_mis"), "_w", "_b"
    )
    return final.agg(
        F.count("*").alias("n"),
        F.sum(F.col("_mis").cast("bigint")).alias("errors"),
        F.round(
            F.lit(1.0) - F.avg(F.col("_mis").cast("double")), 4
        ).alias("accuracy"),
        F.any_value("_b").alias("bias"),
        F.any_value(
            F.aggregate(
                F.transform("_w", lambda wd: F.abs(wd)),
                zero,
                lambda acc, t: acc + t,
            )
        ).alias("w_l1"),
        F.any_value(
            F.array_max(F.transform("_w", lambda wd: F.abs(wd)))
        ).alias("w_abs_max"),
    )
