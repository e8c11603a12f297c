"""Model-fitting and feature-engineering entries."""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators import aggregates as AG
from eggv_spark.operators import ml as ML
from eggv_spark.operators import relational as R
from eggv_spark.registry._shared import register, _t, _TOKS_SQL


_EPOCH_SHUFFLE_SQL = """
WITH drawn AS (
  SELECT o_orderkey,
         md5('3' || '|' || CAST(o_orderkey AS VARCHAR)) AS draw
  FROM orders
), sharded AS (
  SELECT o_orderkey, draw,
         CAST(CAST('0x' || substr(draw, 1, 8) AS BIGINT) % 8 AS INT)
           AS shard
  FROM drawn
)
SELECT o_orderkey, shard,
       CAST(row_number() OVER (
         PARTITION BY shard ORDER BY draw, o_orderkey) AS INT)
         AS shard_pos
FROM sharded
"""


@register("epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def _epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-3 shuffle of the orders keys into 8 shards
    (relational.epoch_shuffle): portable md5 draw, no global sort."""
    return R.epoch_shuffle(
        _t(spark, sf_dir, "orders").select("o_orderkey"),
        ["o_orderkey"], epoch=3, n_shards=8,
    )


def _logistic_oracle_step_sql(i: int, dim: int, lr: float) -> str:
    """One logistic-GD step as DuckDB CTEs.  The multi-referenced CTEs
    are MATERIALIZED: DuckDB inlines CTEs referenced more than once,
    which re-executes the whole upstream chain per reference — the
    graph_modularity lesson, exponential in the step count here."""
    return f"""
p{i} AS MATERIALIZED (
  SELECT x, y,
         1.0 / (1.0 + exp(-(list_dot_product(x, w{i - 1}.w) + w{i - 1}.b)))
           AS p
  FROM data, w{i - 1}
),
g{i} AS (
  SELECT u.d AS d, avg((p - y) * x[u.d]) AS g
  FROM p{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
),
gl{i} AS (SELECT list(g ORDER BY d) AS gs FROM g{i}),
gb{i} AS (SELECT avg(p - y) AS gb FROM p{i}),
w{i} AS MATERIALIZED (
  SELECT list_transform(list_zip(w{i - 1}.w, gl{i}.gs),
                        z -> z[1] - {lr!r} * z[2]) AS w,
         w{i - 1}.b - {lr!r} * gb{i}.gb AS b
  FROM w{i - 1}, gl{i}, gb{i}
)"""


def _logistic_oracle_sql(dim: int, n_steps: int, lr: float) -> str:
    """DuckDB twin of _logistic_regression_gd: the unrolled list-math
    CTE chain over the embeddings table, label binarized identically
    in the data CTE."""
    sql = f"""
WITH data AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x,
         CAST(CAST(label < 5 AS INT) AS DOUBLE) AS y
  FROM embeddings
),
w0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}), d -> 0.0) AS w, 0.0 AS b
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _logistic_oracle_step_sql(i, dim, lr)
    sql += f"""
, final AS (
  SELECT y,
         1.0 / (1.0 + exp(-(list_dot_product(x, w{n_steps}.w)
                            + w{n_steps}.b))) AS p,
         w{n_steps}.w AS w, w{n_steps}.b AS b
  FROM data, w{n_steps}
)
SELECT count(*) AS n,
       round(avg(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0
                      ELSE 0.0 END), 4) AS accuracy,
       round(avg(-(y * ln(least(greatest(p, 1e-12), 1.0 - 1e-12))
                   + (1.0 - y)
                     * ln(1.0 - least(greatest(p, 1e-12),
                                      1.0 - 1e-12)))), 6) AS logloss,
       round(sqrt(list_dot_product(any_value(w), any_value(w))), 6)
         AS w_norm,
       round(any_value(b), 6) AS bias
FROM final
"""
    return sql


@register("logistic_regression_gd", _logistic_oracle_sql(64, 3, 0.4))
def _logistic_regression_gd(spark, sf_dir):
    """Quality-classifier fit run in-plan (ml.logistic_regression_gd):
    3 full-batch GD steps of binary logistic regression over the
    64-dim embeddings table, label binarized as (label < 5) — the
    table's label is 10-class, and the operator raises in-plan on
    non-binary labels.  One corpus pass per step; the only shuffle per
    step carries 64 dimension rows."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") < 5).cast("int").alias("label")
    )
    return ML.logistic_regression_gd(
        emb, "embedding", "label", n_steps=3, lr=0.4, dim=64
    )


def _pca_oracle_step_sql(i: int, dim: int) -> str:
    return f"""
s{i} AS (
  SELECT c, list_dot_product(c, v{i - 1}.v) AS s FROM cdata, v{i - 1}
),
uu{i} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM s{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
v{i} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v,
         sqrt(list_dot_product(u, u)) AS lam
  FROM uu{i}
)"""


def _pca_oracle_sql(dim: int, n_steps: int) -> str:
    """DuckDB twin of _pca_power_iteration; top_loading_dim is 0-based
    Spark-side, so the 1-based DuckDB dimension spine subtracts 1, and
    the argmax tie-breaks by SMALLEST dim on both engines."""
    sql = f"""
WITH data AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
mu AS (
  SELECT list(m ORDER BY d) AS mu FROM (
    SELECT u.d AS d, avg(x[u.d]) AS m
    FROM data, (SELECT unnest(range(1, {dim + 1})) AS d) u
    GROUP BY u.d
  )
),
cdata AS MATERIALIZED (
  SELECT list_transform(list_zip(x, mu.mu), z -> z[1] - z[2]) AS c
  FROM data, mu
),
v0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS v,
         0.0 AS lam
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _pca_oracle_step_sql(i, dim)
    sql += f"""
, tv AS (
  SELECT count(*) AS n,
         sum(list_dot_product(c, c)) / count(*) AS total_var
  FROM cdata
),
top AS (
  SELECT CAST(d AS INT) AS top_loading_dim FROM (
    SELECT u.d AS d, abs(v{n_steps}.v[u.d]) AS a
    FROM v{n_steps}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
)
SELECT tv.n AS n, round(v{n_steps}.lam, 6) AS top_eigenvalue,
       round(tv.total_var, 6) AS total_variance,
       round(v{n_steps}.lam / tv.total_var, 4) AS explained_share,
       top.top_loading_dim - 1 AS top_loading_dim
FROM tv, v{n_steps}, top
"""
    return sql


@register("pca_power_iteration", _pca_oracle_sql(64, 4))
def _pca_power_iteration(spark, sf_dir):
    """Top principal component of the embeddings table by 4 power
    iterations on the (never materialized) covariance operator
    (ml.pca_power_iteration): eigenvalue, total variance, explained
    share, and the heaviest loading dimension."""
    return ML.pca_power_iteration(
        _t(spark, sf_dir, "embeddings"), "embedding", n_steps=4, dim=64
    )


def _naive_bayes_oracle_sql(label_col: str = "source") -> str:
    """Dense-grid NB oracle: matched term mass joins
    class_term on the token, unmatched mass falls to the class floor,
    prediction by row_number over (6dp score DESC, label DESC) — the
    max-struct largest-label tie rule."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {label_col} AS y, unnest({_TOKS_SQL}) AS w
  FROM documents
),
doc_tf AS MATERIALIZED (
  SELECT doc_id, y, w, count(*) AS tf FROM toks GROUP BY doc_id, y, w
),
class_term AS MATERIALIZED (
  SELECT y AS c, w, sum(tf) AS ct FROM doc_tf GROUP BY y, w
),
vocab AS (SELECT count(DISTINCT w) AS v FROM class_term),
class_tot AS (SELECT c, sum(ct) AS tot FROM class_term GROUP BY c),
priors AS MATERIALIZED (
  SELECT {label_col} AS c, count(*) AS nc FROM documents GROUP BY c
),
ntot AS (SELECT sum(nc) AS n FROM priors),
classes AS MATERIALIZED (
  SELECT ct2.c AS c, ct2.tot AS tot, vocab.v AS v, p.nc AS nc,
         ln(1.0 / (ct2.tot + vocab.v)) AS floor_lp,
         ln(p.nc / CAST(ntot.n AS DOUBLE)) AS lprior
  FROM class_tot ct2 JOIN priors p ON ct2.c = p.c, vocab, ntot
),
doc_totals AS MATERIALIZED (
  SELECT doc_id, sum(tf) AS doc_tf FROM doc_tf GROUP BY doc_id
),
matched AS MATERIALIZED (
  SELECT d.doc_id AS doc_id, t.c AS c,
         sum(d.tf * ln((t.ct + 1.0) / (cl.tot + cl.v))) AS m_sum,
         sum(d.tf) AS m_tf
  FROM doc_tf d JOIN class_term t ON d.w = t.w
       JOIN classes cl ON t.c = cl.c
  GROUP BY d.doc_id, t.c
),
scored AS MATERIALIZED (
  SELECT dt.doc_id AS doc_id, cl.c AS c,
         round(cl.lprior + coalesce(m.m_sum, 0.0)
               + (dt.doc_tf - coalesce(m.m_tf, 0)) * cl.floor_lp,
               6) AS score
  FROM doc_totals dt CROSS JOIN classes cl
  LEFT JOIN matched m ON dt.doc_id = m.doc_id AND cl.c = m.c
),
pred AS MATERIALIZED (
  SELECT doc_id, c AS pred FROM (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, c DESC) AS rn
    FROM scored
  ) WHERE rn = 1
),
truth AS MATERIALIZED (
  SELECT d.{label_col} AS y, p.pred AS pred
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
),
per_class AS (
  SELECT y AS label, count(*) AS n_docs,
         round(count(*) / CAST(ntot.n AS DOUBLE), 4) AS prior,
         round(sum(CAST(pred = y AS INT)) / CAST(count(*) AS DOUBLE), 4)
           AS recall
  FROM truth, ntot GROUP BY y, ntot.n
)
SELECT label, CAST(n_docs AS BIGINT) AS n_docs, prior, recall
FROM per_class
UNION ALL
SELECT '__ALL__', CAST(count(*) AS BIGINT), 1.0,
       round(avg(CAST(pred = y AS INT)), 4)
FROM truth
"""


@register("naive_bayes_fit", _naive_bayes_oracle_sql("source"))
def _naive_bayes_fit(spark, sf_dir):
    """Multinomial Naive Bayes source classifier fit + resubstitution
    readout in-plan (ml.naive_bayes_fit): per-class priors/recall plus
    the '__ALL__' accuracy row; dense doc x class scoring grid so
    floor-only classes stay in the argmax."""
    return ML.naive_bayes_fit(_t(spark, sf_dir, "documents"))


def _kmeans_lloyd_oracle_sql(k: int, n_steps: int, dim: int) -> str:
    """Unrolled Lloyd rounds as AS-MATERIALIZED CTE chains (the
    iterative-fit rule), mirroring both determinism pins: round(sqd,6)
    argmin ordered (sqd, cid), DECIMAL(38,18)-exact centroid sums."""
    dist = (
        "round(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i]))), 6)"
    ).format(d=dim)
    parts = [
        f"""
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    for s in range(n_steps):
        parts.append(f"""
d{s} AS MATERIALIZED (
  SELECT vec_id, v, cid, {dist} AS sqd FROM v CROSS JOIN c{s}
),
a{s} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sqd, cid) AS rk
    FROM d{s}) WHERE rk = 1
),
m{s} AS MATERIALIZED (
  SELECT cid, i,
         CAST(sum(CAST(v[i] AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
  FROM a{s}, generate_series(1, {dim}) t(i) GROUP BY cid, i
),
c{s + 1} AS MATERIALIZED (
  SELECT p.cid AS cid, coalesce(n.cv, p.cv) AS cv
  FROM c{s} p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS cv FROM m{s} GROUP BY cid
  ) n ON p.cid = n.cid
)""")
    final = f"""
df AS MATERIALIZED (
  SELECT vec_id, cid, {dist} AS sqd FROM v CROSS JOIN c{n_steps}
),
af AS MATERIALIZED (
  SELECT vec_id, cid, sqd FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sqd, cid) AS rk
    FROM df) WHERE rk = 1
),
mem AS (
  SELECT cid, count(*) AS n_points, round(sum(sqd), 2) AS inertia
  FROM af GROUP BY cid
)
SELECT CAST(c.cid AS INT) AS cluster_id,
       CAST(coalesce(mem.n_points, 0) AS BIGINT) AS n_points,
       coalesce(mem.inertia, 0.0) AS inertia,
       round(sqrt(list_sum(list_transform(c.cv, x -> x * x))), 4)
         AS centroid_norm
FROM c{n_steps} c LEFT JOIN mem ON c.cid = mem.cid
"""
    return "WITH " + ",".join(parts) + "," + final


@register("kmeans_lloyd", _kmeans_lloyd_oracle_sql(k=4, n_steps=3, dim=16))
def _kmeans_lloyd(spark, sf_dir):
    """Multi-step Lloyd k-means over embeddings (ml.kmeans_lloyd,
    k=4, 3 assign/update rounds, dim=16): the iterative-feedback fit —
    DECIMAL(38,18)-exact centroid updates, 6dp-rounded argmin, first-k
    deterministic seed; per-cluster membership/inertia/norm readout."""
    return ML.kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"), k=4, n_steps=3, dim=16
    )


def _isotonic_oracle_sql(bin_sql: str, label_sql: str, table: str) -> str:
    """Minimax PAV lattice on exact integer prefix sums: every range
    mean is one int/int double division — bit-identical cross-engine,
    so the min/max selection agrees exactly."""
    return f"""
WITH bins AS MATERIALIZED (
  SELECT CAST({bin_sql} AS BIGINT) AS b, count(*) AS n,
         sum(CAST({label_sql} AS BIGINT)) AS pos
  FROM {table} GROUP BY 1
),
pre AS MATERIALIZED (
  SELECT b, n, pos, sum(n) OVER w AS cn, sum(pos) OVER w AS cp
  FROM bins
  WINDOW w AS (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ranges AS MATERIALIZED (
  SELECT lo.b AS i, hi.b AS j,
         (hi.cp - lo.cp + lo.pos)
           / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS a
  FROM pre lo JOIN pre hi ON lo.b <= hi.b
),
iso AS (
  SELECT b, max(mn) AS iso FROM (
    SELECT p.b AS b, r.i AS i, min(r.a) AS mn
    FROM ranges r JOIN pre p ON r.i <= p.b AND p.b <= r.j
    GROUP BY p.b, r.i
  ) GROUP BY b
)
SELECT pre.b AS bin, pre.n AS n,
       round(pre.pos / CAST(pre.n AS DOUBLE), 6) AS pos_rate,
       round(iso.iso, 6) AS iso_rate
FROM pre JOIN iso ON pre.b = iso.b
"""


@register(
    "isotonic_calibration",
    _isotonic_oracle_sql(
        "round(l_discount * 100)", "l_returnflag = 'R'", "lineitem"
    ),
)
def _isotonic_calibration(spark, sf_dir):
    """PAV isotonic fit of return probability on the discount bin
    (ml.isotonic_calibration): minimax on exact integer prefix sums
    over the 11-bin aggregate — the monotone calibration curve."""
    li = _t(spark, sf_dir, "lineitem")
    return ML.isotonic_calibration(
        li,
        F.round(F.col("l_discount") * 100).cast("long"),
        (F.col("l_returnflag") == "R").cast("long"),
    )


_STUMP_THRESHOLDS = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3)


def _stump_oracle_sql(dim: int, thresholds: tuple) -> str:
    """Grid-stump replica: thresholds enter as CAST(... AS DOUBLE)
    literals (a bare -0.3 is DECIMAL(2,1) in DuckDB), lpos/lneg avoid
    the ln() name clash."""
    vals = ", ".join(
        f"({ti}, CAST({t!r} AS DOUBLE))" for ti, t in enumerate(thresholds)
    )
    return f"""
WITH vv AS MATERIALIZED (
  SELECT CAST(label >= 5 AS BIGINT) AS y,
         list_transform(embedding[1:{dim}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
pts AS MATERIALIZED (
  SELECT y, i AS d, v[i] AS x FROM vv, generate_series(1, {dim}) t(i)
),
thr(ti, t) AS (VALUES {vals}),
cand AS MATERIALIZED (
  SELECT d, ti, t, count(*) AS n,
         sum(y * CAST(x <= t AS BIGINT)) AS lpos,
         sum((1 - y) * CAST(x <= t AS BIGINT)) AS lneg,
         sum(y) AS pos
  FROM pts CROSS JOIN thr GROUP BY d, ti, t
),
scored AS (
  SELECT d, ti, t, n,
         least(lneg + (pos - lpos), lpos + (n - pos - lneg)) AS err,
         CASE WHEN lneg + (pos - lpos) <= lpos + (n - pos - lneg)
              THEN 'left_pos' ELSE 'right_pos' END AS pol
  FROM cand
)
SELECT CAST(d AS INT) AS dim, t AS threshold, pol AS polarity,
       CAST(n AS BIGINT) AS n, CAST(err AS BIGINT) AS n_errors,
       round(err / CAST(n AS DOUBLE), 6) AS error_rate
FROM scored ORDER BY err, d, ti LIMIT 1
"""


@register("decision_stump", _stump_oracle_sql(16, _STUMP_THRESHOLDS))
def _decision_stump(spark, sf_dir):
    """Best single-split weak learner over embedding dims
    (ml.decision_stump_fit): fixed data-independent threshold grid,
    exact integer split errors, min-struct argmin over
    (n_errors, dim, threshold_index); labels binarized in-plan."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") >= 5).cast("long").alias("label")
    )
    return ML.decision_stump_fit(
        emb, dim=16, thresholds=_STUMP_THRESHOLDS
    )


def _pca2_oracle_sql(n_steps: int, dim: int) -> str:
    parts = [f"""
data AS MATERIALIZED (
  SELECT list_transform(embedding[1:{dim}],
                        x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
mu AS (
  SELECT list(m ORDER BY d) AS mu FROM (
    SELECT u.d AS d, avg(x[u.d]) AS m
    FROM data, (SELECT unnest(range(1, {dim + 1})) AS d) u
    GROUP BY u.d
  )
),
cdata AS MATERIALIZED (
  SELECT list_transform(list_zip(x, mu.mu), z -> z[1] - z[2]) AS c
  FROM data, mu
),
v0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS v, 0.0 AS lam
)"""]
    for i in range(1, n_steps + 1):
        parts.append(f"""
s{i} AS (
  SELECT c, list_dot_product(c, v{i - 1}.v) AS s FROM cdata, v{i - 1}
),
uu{i} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM s{i}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
v{i} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v,
         sqrt(list_dot_product(u, u)) AS lam
  FROM uu{i}
)""")
    parts.append(f"""
w0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
                        d -> 1.0 / sqrt({dim}.0)) AS w, 0.0 AS lam2
)""")
    vN = f"v{n_steps}"
    for j in range(1, n_steps + 1):
        parts.append(f"""
t{j} AS (
  SELECT c, list_dot_product(c, w{j - 1}.w) AS s FROM cdata, w{j - 1}
),
cw{j} AS (
  SELECT list(g ORDER BY d) AS u FROM (
    SELECT u.d AS d, avg(s * c[u.d]) AS g
    FROM t{j}, (SELECT unnest(range(1, {dim + 1})) AS d) u GROUP BY u.d
  )
),
wd{j} AS (
  SELECT list_transform(list_zip(cw{j}.u, {vN}.v),
           z -> z[1] - {vN}.lam
                * list_dot_product({vN}.v, w{j - 1}.w) * z[2]) AS u
  FROM cw{j}, {vN}, w{j - 1}
),
w{j} AS MATERIALIZED (
  SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS w,
         sqrt(list_dot_product(u, u)) AS lam2
  FROM wd{j}
)""")
    wN = f"w{n_steps}"
    parts.append(f"""
nn AS (SELECT count(*) AS n FROM cdata),
td1 AS (
  SELECT CAST(d AS INT) - 1 AS top_dim_1 FROM (
    SELECT u.d AS d, abs({vN}.v[u.d]) AS a
    FROM {vN}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
),
td2 AS (
  SELECT CAST(d AS INT) - 1 AS top_dim_2 FROM (
    SELECT u.d AS d, abs({wN}.w[u.d]) AS a
    FROM {wN}, (SELECT unnest(range(1, {dim + 1})) AS d) u
  ) ORDER BY a DESC, d ASC LIMIT 1
)
SELECT nn.n AS n, round({vN}.lam, 6) AS eigenvalue_1,
       round({wN}.lam2, 6) AS eigenvalue_2,
       round({wN}.lam2 / {vN}.lam, 4) AS spectral_ratio,
       round(list_dot_product({vN}.v, {wN}.w), 4) AS orthogonality,
       td1.top_dim_1 AS top_dim_1, td2.top_dim_2 AS top_dim_2
FROM nn, {vN}, {wN}, td1, td2""")
    return "WITH " + ",".join(parts)


@register("pca_top2_deflation", _pca2_oracle_sql(4, 64))
def _pca_top2_deflation(spark, sf_dir):
    """Spectral-gap probe (ml.pca_top2_deflation): top-2 eigenpairs by
    power iteration + deflation over the full 64-dim embeddings —
    λ₂/λ₁ is the rank-collapse signal a single-component PCA can't
    see; includes the v₁ᵀv₂ orthogonality self-audit."""
    return ML.pca_top2_deflation(
        _t(spark, sf_dir, "embeddings"), n_steps=4, dim=64
    )


_TARGET_ENCODING_SQL = """
WITH pc AS (
  SELECT o_orderpriority AS cat, count(o_totalprice) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS s
  FROM orders GROUP BY 1
), pr AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
           / count(o_totalprice) AS prior
  FROM orders
)
SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
       round(CASE WHEN o.o_totalprice IS NOT NULL
             THEN (pc.s - o.o_totalprice + 20.0 * pr.prior)
                  / (pc.n - 1 + 20.0)
             ELSE (pc.s + 20.0 * pr.prior) / (pc.n + 20.0) END,
             6) AS encoded
FROM orders o JOIN pc ON o.o_orderpriority IS NOT DISTINCT FROM pc.cat
CROSS JOIN pr"""


@register("fe_target_encoding", _TARGET_ENCODING_SQL)
def _fe_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of order priority against order
    value (ml.target_encode_loo): the row-grain frame never
    shuffles — category stats broadcast back.  Sums run in exact
    DECIMAL cents upstream of the division (the wasserstein_cents
    discipline), so 6dp encodings are engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    return ML.target_encode_loo(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        id_cols=("o_orderkey",),
        smoothing=20.0,
        sum_decimals=2,
    )


def _gbrt_oracle_sql(
    n_rounds: int = 3,
    dim: int = 16,
    thresholds: tuple = (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3),
) -> str:
    """DuckDB replica of ml.gbrt_stumps: unrolled residual-boosting
    rounds; every row-sum in DECIMAL (residuals 12dp, squares 16dp),
    all scoring math in DOUBLE on those exact sums, leaf values
    rounded 6dp before the residual update — the same determinism
    contract as the Spark side, so values match bit-for-bit."""
    ths = ", ".join(str(float(t)) for t in thresholds)
    parts = [
        f"grid AS MATERIALIZED (SELECT ti, ths[ti + 1] AS t FROM"
        f" (SELECT [{ths}] AS ths),"
        f" LATERAL (SELECT unnest(range({len(thresholds)})) AS ti))",
        f"base AS MATERIALIZED (SELECT"
        f" CAST(embedding[1:{dim}] AS DOUBLE[]) AS x,"
        f" CAST(label AS DOUBLE) AS y FROM embeddings)",
        "tot0 AS (SELECT count(*) AS n,"
        " round(CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE)"
        " / count(*), 6) AS mu0 FROM base)",
        "r0 AS MATERIALIZED (SELECT x, y - tot0.mu0 AS r"
        " FROM base, tot0)",
        "s0 AS (SELECT round(CAST(sum(CAST(r * r AS DECIMAL(38,16)))"
        " AS DOUBLE), 6) AS sse FROM r0)",
    ]
    selects = [
        "SELECT 0 AS round, 0 AS dim, CAST(NULL AS DOUBLE) AS threshold,"
        " tot0.mu0 AS left_value, tot0.mu0 AS right_value,"
        " CAST(NULL AS DOUBLE) AS gain, s0.sse AS train_sse"
        " FROM tot0, s0"
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(
            f"cand{i} AS MATERIALIZED (SELECT dd.d, g.ti, g.t,"
            f" count(*) AS n,"
            f" sum(CAST(r AS DECIMAL(38,12))) AS s,"
            f" sum(CASE WHEN x[dd.d + 1] <= g.t THEN 1 ELSE 0 END)"
            f" AS nl,"
            f" sum(CAST(CASE WHEN x[dd.d + 1] <= g.t THEN r"
            f" ELSE 0.0 END AS DECIMAL(38,12))) AS sl"
            f" FROM r{p}, (SELECT unnest(range({dim})) AS d) dd,"
            f" grid g GROUP BY dd.d, g.ti, g.t)"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT d, ti, t, n, nl,"
            f" CASE WHEN nl > 0 THEN round(CAST(sl AS DOUBLE) / nl, 6)"
            f" ELSE 0.0 END AS ml,"
            f" CASE WHEN n - nl > 0 THEN round((CAST(s AS DOUBLE)"
            f" - CAST(sl AS DOUBLE)) / (n - nl), 6) ELSE 0.0 END AS mr,"
            f" CASE WHEN nl > 0 AND n - nl > 0 THEN"
            f" CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl"
            f" + (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE))"
            f" * (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - nl)"
            f" - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n"
            f" ELSE -1.0 END AS g"
            f" FROM cand{i} ORDER BY g DESC, d ASC, ti ASC LIMIT 1)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT x,"
            f" r - CASE WHEN x[b{i}.d + 1] <= b{i}.t THEN b{i}.ml"
            f" ELSE b{i}.mr END AS r FROM r{p}, b{i})"
        )
        parts.append(
            f"s{i} AS (SELECT round(CAST(sum(CAST(r * r"
            f" AS DECIMAL(38,16))) AS DOUBLE), 6) AS sse FROM r{i})"
        )
        selects.append(
            f"SELECT {i} AS round, CAST(b{i}.d + 1 AS INT) AS dim,"
            f" b{i}.t AS threshold, b{i}.ml AS left_value,"
            f" b{i}.mr AS right_value, round(b{i}.g, 6) AS gain,"
            f" s{i}.sse AS train_sse FROM b{i}, s{i}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


@register("gbrt_stumps", _gbrt_oracle_sql(3, 16))
def _gbrt_stumps(spark, sf_dir):
    """Gradient-boosted regression stumps on the embedding table
    (ml.gbrt_stumps): 3 residual-fitting rounds over a 16-dim ×
    7-threshold literal grid, target = the integer label — the
    smallest real boosting loop, decimal-exact feedback."""
    return ML.gbrt_stumps(
        _t(spark, sf_dir, "embeddings"),
        target_col="label", n_rounds=3, dim=16,
    )


def _perceptron_oracle_sql(n_epochs: int = 3, dim: int = 8) -> str:
    """Unrolled batch perceptron: per-dim misclassified sums at the
    (epoch, dim) grain, list-assembled weights, every quantity BIGINT
    (DuckDB integer sums are exact, cast back from HUGEINT)."""
    parts = [
        f"""d AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {dim}),
           i -> CAST(floor(CAST(embedding AS DOUBLE[])[i] * 1000)
                     AS BIGINT)) AS x
  FROM embeddings
)""",
        """d2 AS MATERIALIZED (
  SELECT x, CASE WHEN x[1] >= 0 THEN CAST(1 AS BIGINT)
            ELSE CAST(-1 AS BIGINT) END AS y FROM d
)""",
        f"""w0 AS (SELECT list_transform(generate_series(1, {dim}),
  i -> CAST(0 AS BIGINT)) AS w, CAST(0 AS BIGINT) AS b)""",
    ]
    for e in range(1, n_epochs + 1):
        parts.append(
            f"""s{e} AS MATERIALIZED (
  SELECT x, y,
    (y * (list_sum(list_transform(generate_series(1, {dim}),
          i -> x[i] * w[i])) + b) <= 0) AS mis
  FROM d2, w{e - 1})"""
        )
        parts.append(
            f"""g{e} AS MATERIALIZED (
  SELECT i, CAST(sum(CASE WHEN mis THEN y * x[i] ELSE 0 END)
                 AS BIGINT) AS g
  FROM s{e}, generate_series(1, {dim}) t(i) GROUP BY i)"""
        )
        parts.append(
            f"""w{e} AS (
  SELECT list_transform(generate_series(1, {dim}),
           i -> w[i] + gv.dw[i]) AS w,
         b + db.v AS b
  FROM w{e - 1},
       (SELECT list(g ORDER BY i) AS dw FROM g{e}) gv,
       (SELECT CAST(sum(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT)
          AS v FROM s{e}) db)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
f AS (
  SELECT (y * (list_sum(list_transform(generate_series(1, {dim}),
           i -> x[i] * w[i])) + b) <= 0) AS mis, w, b
  FROM d2, w{n_epochs})
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       round(1.0 - avg(CASE WHEN mis THEN 1.0 ELSE 0.0 END), 4)
         AS accuracy,
       any_value(b) AS bias,
       CAST(any_value(list_sum(list_transform(w, t -> abs(t))))
            AS BIGINT) AS w_l1,
       CAST(any_value(list_max(list_transform(w, t -> abs(t))))
            AS BIGINT) AS w_abs_max
FROM f"""
    )


@register("perceptron_fit", _perceptron_oracle_sql(3, 8))
def _perceptron_fit(spark, sf_dir):
    """Batch perceptron (ml.perceptron_fit) on millis-quantized
    embeddings: x = floor(e_d * 1000) over the first 8 dims, label
    +1/-1 by the sign of the quantized first dim, 3 epochs.  Every
    weight/bias/count is an exact BIGINT — the bit-reproducible
    member of the linear-fit family."""
    emb = _t(spark, sf_dir, "embeddings")
    x = F.transform(
        F.slice(F.col("embedding").cast("array<double>"), 1, 8),
        lambda e: F.floor(e * 1000).cast("bigint"),
    )
    data = emb.select(x.alias("x")).select(
        "x",
        F.when(F.element_at("x", 1) >= 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("y"),
    )
    return ML.perceptron_fit(data, "x", "y", n_epochs=3, dim=8)


_WOE_SQL = """
WITH per AS (
  SELECT c_mktsegment AS category, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events
  FROM customer GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn,
         CAST(sum(n_events) AS BIGINT) AS te,
         CAST(count(*) AS BIGINT) AS k
  FROM per
)
SELECT category, n, n_events,
       round(ln(((n_events + 0.5) / (te + 0.5 * k))
                / ((n - n_events + 0.5) / (tn - te + 0.5 * k))), 6)
         AS woe,
       round(((n_events + 0.5) / (te + 0.5 * k)
              - (n - n_events + 0.5) / (tn - te + 0.5 * k))
             * ln(((n_events + 0.5) / (te + 0.5 * k))
                  / ((n - n_events + 0.5) / (tn - te + 0.5 * k))), 6)
         AS iv
FROM per, tot"""


@register("fe_woe_encoding", _WOE_SQL)
def _fe_woe_encoding(spark, sf_dir):
    """Weight-of-evidence + information value per market segment for
    the high-balance label (aggregates.woe_encoding, Laplace 0.5):
    the risk-model categorical encoder, integer counts + one 1-row
    totals broadcast."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 5000).alias("rich")
    )
    return AG.woe_encoding(cust, "c_mktsegment", "rich")


_RARE_CATEGORY_SQL = """
WITH per AS (
  SELECT p_brand AS c, CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY p_brand
), mapped AS (
  SELECT CASE WHEN n >= 10 THEN c ELSE '__OTHER__' END AS category, n
  FROM per
)
SELECT category, CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_source_categories,
       (category = '__OTHER__') AS is_collapsed
FROM mapped GROUP BY category"""


@register("fe_rare_category_collapse", _RARE_CATEGORY_SQL)
def _fe_rare_category_collapse(spark, sf_dir):
    """Rare-category collapse audit (relational.rare_category_collapse,
    min_count=10) over part brands: the post-collapse category table
    an encoder would actually consume, with the __OTHER__ absorption
    accounting.  The fixed threshold deliberately flips behavior
    across scales (everything collapses at sf0.001, nothing at
    sf0.01+), so the dual-scale gate exercises BOTH branches."""
    return R.rare_category_collapse(
        _t(spark, sf_dir, "part"), "p_brand", min_count=10
    )
