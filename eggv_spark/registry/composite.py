"""Multi-stage entries that chain operators from several families."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.operators import dedupe as D
from eggv_spark.operators import ml as ML
from eggv_spark.operators import relational as R
from eggv_spark.operators import similarity as S
from eggv_spark.operators import text_analysis as T
from eggv_spark.registry._shared import (
    _BASEHASH_SQL,
    _docs_with_dups,
    _DUPDOCS_SQL,
    register,
    _t,
    _TOKS_SQL,
)
from eggv_spark.registry.dedupe import _minhash_oracle
from eggv_spark.registry.ml import _logistic_oracle_sql
from eggv_spark.registry.similarity import (
    _coherence_scored_cte,
    _COHERENCE_THR,
    _cosine_topk_oracle,
    _ivf_cell_stats_oracle,
    _ivf_topk_oracle,
    _mmr_oracle_sql,
    _pq_distortion_oracle,
)
from eggv_spark.registry.text import (
    _bpe_apply_oracle_step_sql,
    _dsir_feature_ctes_sql,
)


@register(
    "composite_shipping_priority",
    "SELECT l_orderkey,"
    " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,"
    " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " AND o_orderdate < TIMESTAMP '1998-01-01'"
    " GROUP BY l_orderkey, o_orderdate"
    " ORDER BY revenue DESC, l_orderkey ASC LIMIT 10",
)
def _composite_shipping_priority(spark, sf_dir):
    """Composite relational query (TPC-H Q3 shape): 3-way join with
    selective filters on both outer tables, revenue aggregation, and
    global top-k.  Exercises Catalyst's join ordering + broadcast
    selection + partial aggregation in one plan — the 'does the whole
    engine compose' check."""
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # customer (filtered dim) is broadcast; lineitem⋈orders is a
    # fact-fact join — no hint, AQE picks broadcast at small SF and
    # shuffle-hash/sort-merge at scale.
    joined = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return R.sort_limit(
        agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    ).select(
        "l_orderkey",
        # NTZ -> LTZ (session tz is UTC) -> epoch seconds.
        F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_epoch"),
        "revenue",
    )


@register(
    "composite_training_mixture",
    "WITH base AS (SELECT doc_id, text, source FROM documents"
    "  UNION ALL SELECT doc_id + 1000000, text, source"
    "  FROM documents WHERE doc_id % 10 = 0),"
    " norm AS (SELECT doc_id, source,"
    "  trim(regexp_replace(regexp_replace(lower(text),"
    "   '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g'))"
    "   AS norm_text FROM base),"
    " dd AS (SELECT doc_id, source, norm_text,"
    "  row_number() OVER (PARTITION BY md5(norm_text)"
    "   ORDER BY doc_id) AS rn FROM norm),"
    " kept AS (SELECT doc_id, source, norm_text FROM dd"
    "  WHERE rn = 1),"
    " toks AS (SELECT doc_id, source,"
    "  list_filter(regexp_split_to_array(lower(norm_text),"
    "   '\\s+'), t -> t <> '') AS t FROM kept),"
    " q AS (SELECT doc_id, source, len(t) AS n_tokens,"
    "  round(CAST(len(list_filter(t, s -> list_contains("
    f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
    "   / greatest(len(t), 1), 4) AS stopword_ratio FROM toks),"
    " w AS (SELECT doc_id, source, n_tokens, stopword_ratio,"
    "  CAST(sum(n_tokens) OVER (PARTITION BY source"
    "   ORDER BY stopword_ratio DESC, doc_id"
    "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens"
    "  FROM q)"
    " SELECT * FROM w WHERE cum_tokens <= 600",
)
def _composite_training_mixture(spark, sf_dir):
    """The LLM-data cleaning pipeline as ONE declarative plan:
    dup-injected corpus -> text normalization -> exact dedup on
    normalized content (deterministic min-id keeper) -> quality
    scoring -> per-source token-budget fill.  Every stage is an
    existing operator; Catalyst fuses the normalize+score projections
    and the chain costs two shuffles (dedup window, budget window)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with_dups = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    normed = T.with_normalized_text(with_dups).select(
        "doc_id", "source", "norm_text"
    )
    deduped = R.dedupe_first_by_key(
        normed.withColumn("_h", F.md5("norm_text")), ["_h"], ["doc_id"]
    ).drop("_h")
    scored = T.with_quality_score(deduped, text_col="norm_text").select(
        "doc_id", "source", "n_tokens", "stopword_ratio"
    )
    return R.token_budget_sample(
        scored, "source", "doc_id", "stopword_ratio", "n_tokens", budget=600
    )


def _semantic_pairs_oracle() -> str:
    """The embedding-neardup oracle extended with the text re-score:
    same banded sign-LSH candidate construction, then doc-token
    Jaccard (distinct word sets) and label agreement joined on the
    (id % 1e6) doc key."""
    from eggv_spark.operators.dedupe import signlsh_plane

    dim, n_planes, n_tables = 64, 8, 4
    buckets = []
    for t in range(n_tables):
        bucket = " || ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(w) for w in signlsh_plane(t, p, dim))
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        buckets.append(f"{bucket} AS bucket{t}")
    bucket_cols = ", ".join(buckets)
    any_table = " OR ".join(f"a.bucket{t} = c.bucket{t}" for t in range(n_tables))
    return f"""
WITH src AS (SELECT vec_id, embedding FROM embeddings
             UNION ALL
             SELECT vec_id + 1000000 AS vec_id, embedding
             FROM embeddings WHERE vec_id % 25 = 0),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM src),
b AS (SELECT vec_id, v, {bucket_cols} FROM v),
scored AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
    round(list_dot_product(a.v, c.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
    FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_table})),
pairs AS (SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95),
toks AS (SELECT doc_id, list_distinct(list_filter(
    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS t
    FROM documents),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT p.id_a, p.id_b, p.cosine,
    round(len(list_intersect(ta.t, tb.t)) * 1.0
          / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 4)
        AS text_jaccard,
    la.label = lb.label AS same_label
FROM pairs p
JOIN toks ta ON p.id_a % 1000000 = ta.doc_id
JOIN toks tb ON p.id_b % 1000000 = tb.doc_id
JOIN lab la ON p.id_a % 1000000 = la.vec_id
JOIN lab lb ON p.id_b % 1000000 = lb.vec_id
"""


@register("composite_semantic_pairs", _semantic_pairs_oracle())
def _composite_semantic_pairs(spark, sf_dir):
    """Cross-modal dedup verification: sign-LSH embedding near-dup
    candidates joined back to their DOCUMENT texts and re-scored with
    word-set Jaccard plus a label-agreement flag — the
    embedding-found/text-verified pipeline a semantic dedup runs
    (vector recall, lexical precision).  Candidate generation is the
    banded LSH (never all-pairs); the text join keys on doc id."""
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    pairs = D.embedding_neardup_pairs(with_dups, threshold=0.95)
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), toks.alias("toks")
    )
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = docs.select(F.col("doc_id").alias("_da"), F.col("toks").alias("ta"))
    b = docs.select(F.col("doc_id").alias("_db"), F.col("toks").alias("tb"))
    la = labels.select(F.col("vec_id").alias("_la"),
                       F.col("label").alias("label_a"))
    lb = labels.select(F.col("vec_id").alias("_lb"),
                       F.col("label").alias("label_b"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size("ta") + F.size("tb") - inter
    return (
        pairs
        .join(a, F.col("id_a") % 1000000 == F.col("_da"))
        .join(b, F.col("id_b") % 1000000 == F.col("_db"))
        .join(F.broadcast(la), F.col("id_a") % 1000000 == F.col("_la"))
        .join(F.broadcast(lb), F.col("id_b") % 1000000 == F.col("_lb"))
        .select(
            "id_a", "id_b", "cosine",
            F.round(inter / union, 4).alias("text_jaccard"),
            (F.col("label_a") == F.col("label_b")).alias("same_label"),
        )
    )


@register(
    "composite_corpus_funnel",
    "WITH alldocs AS (SELECT doc_id, text, source FROM documents"
    "  UNION ALL SELECT doc_id + 1000000, text, source"
    "  FROM documents WHERE doc_id % 10 = 0),"
    f" toks AS (SELECT doc_id, source, text, {_TOKS_SQL} AS t"
    "  FROM alldocs),"
    " w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word"
    "  FROM toks),"
    " wc AS (SELECT doc_id, any_value(n) AS n, word"
    "  FROM w GROUP BY doc_id, word),"
    " wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd"
    "  FROM wc GROUP BY doc_id),"
    " q AS (SELECT t.doc_id, t.source, t.text,"
    "  CAST(len(t.t) AS INT) AS n_tokens,"
    "  round((len(t.t) - coalesce(w.nd, 0))"
    "   / CAST(greatest(len(t.t), 1) AS DOUBLE), 4)"
    "   AS dup_word_frac,"
    "  round(CAST(len(list_filter(t.t, s -> list_contains("
    f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
    "   / greatest(len(t.t), 1), 4) AS stopword_ratio"
    "  FROM toks t LEFT JOIN wagg w ON t.doc_id = w.doc_id),"
    " s2 AS (SELECT * FROM q WHERE dup_word_frac <= 0.75"
    "  AND n_tokens >= 10 AND stopword_ratio >= 0.0),"
    " s3 AS (SELECT * FROM (SELECT *, min(doc_id) OVER ("
    "  PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ',"
    "  'g')))) AS keeper FROM s2) WHERE doc_id = keeper),"
    " s4 AS (SELECT * FROM (SELECT *,"
    "  CAST(sum(n_tokens) OVER (PARTITION BY source"
    "   ORDER BY stopword_ratio DESC, doc_id"
    "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM s3)"
    "  WHERE cum <= 800)"
    " SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,"
    "  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM q"
    " UNION ALL SELECT 1, 'quality_gate', count(*),"
    "  CAST(sum(n_tokens) AS BIGINT) FROM s2"
    " UNION ALL SELECT 2, 'exact_dedup', count(*),"
    "  CAST(sum(n_tokens) AS BIGINT) FROM s3"
    " UNION ALL SELECT 3, 'token_budget', count(*),"
    "  CAST(sum(n_tokens) AS BIGINT) FROM s4",
)
def _composite_corpus_funnel(spark, sf_dir):
    """End-to-end pretraining-corpus cleaning funnel, reported as a
    per-stage survivor table (docs + tokens): raw (with injected
    exact duplicates) → quality gate (repetition + length + stopword
    signals, one pass) → exact dedup (min-id keeper per content hash)
    → per-source token budget.  Each stage is the registry operator
    it names (quality_filter / exact-hash keeper / token_budget) run
    in composition — the funnel IS the production shape: one scan
    feeds stage 0/1, the dedup adds one hash window, the budget one
    source window; stage counts are 1-row aggregates unioned."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    scored = T.quality_filter(corpus).select(
        "doc_id", "text", "source", "n_tokens", "stopword_ratio", "keep"
    )
    s2 = scored.filter("keep")
    content = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    s3 = (
        s2.withColumn("_keeper", F.min("doc_id").over(Window.partitionBy(content)))
        .filter(F.col("doc_id") == F.col("_keeper"))
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy(F.col("stopword_ratio").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s4 = (
        s3.withColumn("_cum", F.sum("n_tokens").over(w_budget))
        .filter(F.col("_cum") <= 800)
    )

    def stage(df, idx, name):
        return df.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"),
            "n_docs", "n_tokens",
        )

    return (
        stage(scored, 0, "raw")
        .unionByName(stage(s2, 1, "quality_gate"))
        .unionByName(stage(s3, 2, "exact_dedup"))
        .unionByName(stage(s4, 3, "token_budget"))
    )


def _tokenizer_pipeline_oracle_sql(
    n_steps: int, budget: int, seq: int
) -> str:
    """DuckDB twin of the tokenizer composite: the w-carrying BPE
    apply chain, then the same score/select/pack arithmetic."""
    sql = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_TOKS_SQL}) AS w FROM documents
),
words0 AS (
  SELECT w, string_split(w, '') AS syms,
         '|' || array_to_string(string_split(w, ''), '|  |') || '|'
           AS seq,
         count(*) AS f
  FROM toks GROUP BY w
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _bpe_apply_oracle_step_sql(i)
    sql += f"""
, per_doc AS (
  SELECT doc_id, source, count(*) AS n_words,
         CAST(sum(len(words{n_steps}.syms)) AS BIGINT) AS n_bpe_tokens
  FROM toks JOIN words{n_steps} USING (w)
  GROUP BY doc_id, source
), scored AS (
  SELECT doc_id, source, n_words, n_bpe_tokens,
         round(n_bpe_tokens / CAST(n_words AS DOUBLE), 4)
           AS bpe_per_word
  FROM per_doc
), cum AS (
  SELECT *, sum(n_bpe_tokens) OVER (
    PARTITION BY source ORDER BY bpe_per_word, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM scored
)
SELECT source, doc_id, n_words, n_bpe_tokens, bpe_per_word,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_bpe_tokens) // {seq} AS INT) AS seq_bin
FROM cum WHERE cum_tokens <= {budget}
"""
    return sql


@register(
    "composite_tokenizer_pipeline",
    _tokenizer_pipeline_oracle_sql(
        6, budget=2000, seq=256
    ),
)
def _composite_tokenizer_pipeline(spark, sf_dir):
    """The tokenizer-side training-data pipeline as ONE plan: train 6
    BPE merges on the documents corpus, count per-doc BPE tokens against
    the finished word map, greedily fill each source's 2000-token
    budget with its best-compressing documents, and pack the selected
    stream into 256-token training sequences
    (text_analysis.tokenizer_pipeline) — apply -> select -> pack with
    exactly two corpus shuffles (the pack offsets are arithmetic on
    the budget window's running sum; asserted in tests/test_plans.py).
    Mirrors composite_training_mixture's shape on the tokenizer axis."""
    docs = _t(spark, sf_dir, "documents")
    # single merge loop: the train fold carries the word string, so
    # the word→n_symbols map falls out of the final fold state (see
    # _bpe_apply_merges); the merge table itself is not consumed
    # downstream here, only the sizes map is.
    _merges, word_sizes = T.bpe_train_with_sizes(docs, n_merges=6)
    return T.tokenizer_pipeline(
        docs, word_sizes, budget_tokens=2000, seq_tokens=256
    )


def _importance_mixture_oracle_sql(
    n_buckets: int, a: float, n_per_stratum: int
) -> str:
    """DuckDB twin of _composite_importance_mixture: the DSIR chain,
    the 1e4-scaled clamped integer weight, and the per-source PPS
    systematic crossing test (same hash order and div arithmetic as
    the pps_stratified_sample oracle)."""
    return f"""
WITH {_dsir_feature_ctes_sql(n_buckets, a)},
h AS (
  SELECT d.source AS source, s.doc_id AS doc_id,
         greatest(CAST(round(s.dsir_logweight * 10000) AS BIGINT), 1)
           AS w,
         {_BASEHASH_SQL.format(x="CAST(s.doc_id AS VARCHAR)")} AS hk
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
cum AS (
  SELECT source, doc_id, w,
         sum(w) OVER (PARTITION BY source ORDER BY hk, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
),
tots AS (SELECT source, max(cumw) AS tw FROM cum GROUP BY source)
SELECT cum.source, doc_id, w AS weight_cents,
       CAST(cumw AS BIGINT) AS cum_weight_cents
FROM cum JOIN tots ON cum.source IS NOT DISTINCT FROM tots.source
WHERE cumw * {n_per_stratum} // tw > (cumw - w) * {n_per_stratum} // tw
"""


@register(
    "composite_importance_mixture",
    _importance_mixture_oracle_sql(
        4096, 1.0, 8
    ),
)
def _composite_importance_mixture(spark, sf_dir):
    """The DSIR selection axis composed end-to-end: score every raw
    document by its hashed-bigram importance log-weight against the
    target slice, convert the 4dp log-weight to a positive integer
    PPS weight (1e4-scaled, clamped >= 1 so anti-target docs keep a
    minimal draw probability), and
    fill an 8-unit per-source budget by stratified PPS systematic
    sampling — score -> weight -> per-stratum fill as ONE plan, the
    importance-resampling mirror of composite_training_mixture.

    Scale shape: the DSIR side is two bucket counts + a broadcast
    4096-row ratio table; the PPS side is |sources| independent
    cumulative-weight streams; the only corpus-sized shuffles are the
    per-doc score aggregation, the doc-key equi-join attaching source,
    and the per-source window."""
    docs = _t(spark, sf_dir, "documents")
    weights = T.dsir_log_weights(
        docs, F.col("source") == "src1", n_buckets=4096
    )
    scored = docs.select("doc_id", "source").join(weights, "doc_id")
    w = F.greatest(
        F.round(F.col("dsir_logweight") * 10000).cast("long"), F.lit(1)
    )
    return R.pps_stratified_sample(
        scored, ["source"], ["doc_id"], w, n_per_stratum=8
    )


def _hashed_classifier_oracle_sql(dim: int, n_steps: int, lr: float) -> str:
    """The logistic_regression_gd CTE chain fed from a hashed-BoW feature
    CTE instead of the embeddings table (composite oracle)."""
    bucket = _BASEHASH_SQL.format(x="s")
    data_cte = f"""
WITH data AS MATERIALIZED (
  SELECT list_transform(generate_series(0, {dim - 1}), i ->
           len(list_filter(t, s -> {bucket} % {dim} = i))
           / CAST(greatest(len(t), 1) AS DOUBLE)) AS x,
         CAST(CAST(is_t AS INT) AS DOUBLE) AS y
  FROM (SELECT {_TOKS_SQL} AS t, source = 'src1' AS is_t
        FROM documents)
),
w0 AS MATERIALIZED"""
    base = _logistic_oracle_sql(dim, n_steps, lr)
    _head, tail = base.split("),\nw0 AS MATERIALIZED", 1)
    return data_cte + tail


@register(
    "composite_hashed_classifier",
    _hashed_classifier_oracle_sql(
        16, 2, 0.5
    ),
)
def _composite_hashed_classifier(spark, sf_dir):
    """The fasttext-style quality-gate training loop as ONE plan:
    hash every document's bag of words into 16 normalized features
    (no vocabulary build, no shuffle) and fit a binary logistic
    classifier for the src1 slice by 2 full-batch GD steps
    (text_analysis.with_hashed_features -> ml.logistic_regression_gd)
    — featurize -> fit entirely where the data lives.  Scale shape:
    featurization rides the scan; each GD step is one corpus pass
    whose shuffle carries 16 dimension rows."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.with_hashed_features(docs, n_buckets=16).select(
        F.transform(
            "feature_vec",
            lambda v: v.cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
        ).alias("x"),
        (F.col("source") == "src1").cast("int").alias("label"),
    )
    return ML.logistic_regression_gd(
        feats, "x", "label", n_steps=2, lr=0.5, dim=16
    )


def _coherence_gate_oracle_sql(dim: int, thr: float) -> str:
    return (
        "WITH " + _coherence_scored_cte(dim) + f"""
SELECT label, count(*) AS n_total,
       CAST(sum(CAST(cos >= {thr} AS BIGINT)) AS BIGINT) AS n_kept,
       round(sum(CAST(cos >= {thr} AS BIGINT))
             / CAST(count(*) AS DOUBLE), 4) AS kept_share,
       round(avg(CASE WHEN cos >= {thr} THEN cos END), 4)
         AS avg_cos_kept
FROM scored GROUP BY label
"""
    )


@register(
    "composite_coherence_gate",
    _coherence_gate_oracle_sql(
        16, _COHERENCE_THR
    ),
)
def _composite_coherence_gate(spark, sf_dir):
    """Coherence-gate composite: score every vector against its label
    centroid (similarity.centroid_cosine), keep cosine >= 0.5, and
    report per-label kept/total/share plus the keepers' mean cosine —
    the mislabel-drop curation pass as ONE plan (centroid build +
    broadcast join + one grouped readout)."""
    thr = _COHERENCE_THR
    scored = S.centroid_cosine(_t(spark, sf_dir, "embeddings"), dim=16)
    return scored.groupBy(F.col("_lbl").alias("label")).agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("_cos") >= thr).cast("long")).alias("n_kept"),
        F.round(
            F.sum((F.col("_cos") >= thr).cast("long")) / F.count("*"), 4
        ).alias("kept_share"),
        F.round(
            F.avg(F.when(F.col("_cos") >= thr, F.col("_cos"))), 4
        ).alias("avg_cos_kept"),
    )


_RAG_BUDGET_TOKENS = 180


def _rag_pipeline_oracle_sql(budget: int) -> str:
    """MMR picks (the validated _mmr_oracle_sql as a derived table)
    joined to documents, greedy budget fill by selection order."""
    mmr = _mmr_oracle_sql(0, 16, 20, 5, 0.7)
    return f"""
SELECT p."rank" AS "rank", d.doc_id AS doc_id,
       p.relevance AS relevance,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(sum(len({_TOKS_SQL}))
            OVER (ORDER BY p."rank") AS BIGINT) AS cum_tokens
FROM ({mmr}) p JOIN documents d ON p.id = d.doc_id
QUALIFY cum_tokens <= {budget}
"""


@register(
    "composite_rag_pipeline",
    _rag_pipeline_oracle_sql(
        _RAG_BUDGET_TOKENS
    ),
)
def _composite_rag_pipeline(spark, sf_dir):
    """RAG context assembly as ONE plan: MMR-diversified top-5 for
    query vector 0 (similarity.mmr_diversify) -> join the documents
    by id (5-row broadcast against the pruned doc scan) -> greedy
    token-budget fill in selection order (window cumsum over 5 rows,
    budget 180) — the retrieve->diversify->pack shape a RAG serving
    stack runs per query."""
    picks = S.mmr_diversify(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, dim=16, n_candidates=20, k=5, lam=0.7,
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(T.tokens_col("text")).cast("long").alias("n_tokens"),
    )
    joined = F.broadcast(picks).join(
        docs, picks["id"] == docs["doc_id"]
    )
    w = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        joined.select(
            "rank", "doc_id", "relevance", "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _RAG_BUDGET_TOKENS)
    )


def _knn_eval_oracle_sql() -> str:
    """The validated IVF oracle as a derived table, then neighbor-label
    majority vote (row_number over count DESC, label ASC — the
    smallest-label tie rule) and per-label accuracy."""
    return f"""
WITH ivf AS ({_ivf_topk_oracle()}),
votes AS MATERIALIZED (
  SELECT i.query_id AS query_id, e.label AS nl, count(*) AS c
  FROM ivf i JOIN embeddings e ON i.neighbor_id = e.vec_id
  GROUP BY 1, 2
),
pred AS MATERIALIZED (
  SELECT query_id, nl AS pred FROM (
    SELECT query_id, nl,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, nl ASC) AS rn
    FROM votes
  ) WHERE rn = 1
),
truth AS MATERIALIZED (
  SELECT e.label AS y, p.pred AS pred
  FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
)
SELECT CAST(y AS INT) AS label, count(*) AS n_queries,
       CAST(sum(CAST(pred = y AS INT)) AS BIGINT) AS n_correct,
       round(sum(CAST(pred = y AS INT))
             / CAST(count(*) AS DOUBLE), 4) AS accuracy
FROM truth GROUP BY y
UNION ALL
SELECT -1, count(*),
       CAST(sum(CAST(pred = y AS INT)) AS BIGINT),
       round(avg(CAST(pred = y AS INT)), 4)
FROM truth
"""


@register("composite_knn_eval", _knn_eval_oracle_sql())
def _composite_knn_eval(spark, sf_dir):
    """k-NN classification eval on the ANN index as ONE plan: IVF
    top-5 neighbors for every 50th vector (the sim_ivf_topk probe),
    neighbor labels joined (broadcast), majority vote with the
    smallest-label tie rule, per-label accuracy + the '__ALL__' row —
    "are the embedding labels learnable from neighborhood structure",
    the eval a curation pass runs before trusting label-conditioned
    sampling."""
    emb = _t(spark, sf_dir, "embeddings")
    nn = S.ivf_topk(
        emb, emb.filter("vec_id % 50 = 0"), k=5, n_probe=10
    )
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("_nl"),
                )
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "_nl")
        .agg(F.count("*").alias("_c"))
    )
    pred = votes.groupBy("query_id").agg(
        (
            -F.max(F.struct(F.col("_c"), (-F.col("_nl")).alias("_neg")))[
                "_neg"
            ]
        ).alias("_pred")
    )
    truth = pred.join(
        F.broadcast(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("_y"),
            )
        ),
        "query_id",
    )
    per_label = (
        truth.groupBy(F.col("_y").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum((F.col("_pred") == F.col("_y")).cast("long"))
            .alias("n_correct"),
        )
        .select(
            "label", "n_queries", "n_correct",
            F.round(F.col("n_correct") / F.col("n_queries"), 4)
            .alias("accuracy"),
        )
    )
    overall = truth.agg(
        F.lit(-1).cast(per_label.schema["label"].dataType)
        .alias("label"),
        F.count("*").alias("n_queries"),
        F.sum((F.col("_pred") == F.col("_y")).cast("long"))
        .alias("n_correct"),
        F.round(
            F.avg((F.col("_pred") == F.col("_y")).cast("double")), 4
        ).alias("accuracy"),
    )
    return per_label.unionByName(overall)


def _contrastive_oracle_sql() -> str:
    """Oracle for the contrastive-triplet composite: the validated
    MinHash near-dup oracle as a derived table (the composite_knn_eval
    pattern) + the far-bucket negative rule + the anti-join guard."""
    return f"""
WITH pos AS ({_minhash_oracle()}),
corpus AS ({_DUPDOCS_SQL}),
bm AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 64 AS b,
         min(doc_id) AS negative_id
  FROM corpus GROUP BY 1
), trip AS (
  SELECT p.id_a AS anchor_id, p.id_b AS positive_id, p.jaccard,
         bm.negative_id
  FROM pos p JOIN bm
    ON bm.b = (CAST('0x' || substr(md5(CAST(p.id_a AS VARCHAR)), 1, 8)
               AS BIGINT) % 64 + 32) % 64
  WHERE bm.negative_id <> p.id_a AND bm.negative_id <> p.id_b
)
SELECT anchor_id, positive_id, negative_id, jaccard
FROM trip t
WHERE NOT EXISTS (
  SELECT 1 FROM pos g
  WHERE least(t.anchor_id, t.negative_id) = least(g.id_a, g.id_b)
    AND greatest(t.anchor_id, t.negative_id) = greatest(g.id_a, g.id_b)
)"""


@register("composite_contrastive_pairs", _contrastive_oracle_sql())
def _composite_contrastive_pairs(spark, sf_dir):
    """Contrastive TRAINING TRIPLETS as one plan — the artifact a
    similarity-model fine-tune actually consumes: anchors/positives
    from the MinHash near-dup pipeline on the dup-injected corpus,
    negatives from the far hash bucket (bucket(anchor)+B/2 mod B,
    smallest id — deterministic, bucket-local, NO global sort), with
    an anti-join guard so a negative can never be a known near-dup
    of its anchor.  Triplets whose negative collides with the pair
    itself are dropped (documented contract; the far-bucket rule
    makes collisions structurally rare)."""
    from eggv_spark.operators.dedupe import base_hash

    n_buckets = 64
    docs = _docs_with_dups(spark, sf_dir)
    pos = D.minhash_neardup_pairs(docs, threshold=0.7)
    bucket_min = F.broadcast(
        docs.groupBy(
            (base_hash(F.col("doc_id").cast("string")) % n_buckets)
            .alias("_b")
        ).agg(F.min("doc_id").alias("negative_id"))
    )
    trip = (
        pos.select(
            F.col("id_a").alias("anchor_id"),
            F.col("id_b").alias("positive_id"),
            "jaccard",
            (
                (base_hash(F.col("id_a").cast("string")) % n_buckets
                 + n_buckets // 2) % n_buckets
            ).alias("_tb"),
        )
        .join(bucket_min, F.col("_tb") == F.col("_b"))
        .drop("_b", "_tb")
        .filter(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("negative_id") != F.col("positive_id"))
        )
    )
    guard = pos.select(
        F.least("id_a", "id_b").alias("_ga"),
        F.greatest("id_a", "id_b").alias("_gb"),
    )
    return trip.join(
        guard,
        (F.least("anchor_id", "negative_id") == F.col("_ga"))
        & (F.greatest("anchor_id", "negative_id") == F.col("_gb")),
        "left_anti",
    ).select("anchor_id", "positive_id", "negative_id", "jaccard")


def _dedup_funnel_oracle_sql() -> str:
    """Funnel oracle: the exact-hash keeper set as a derived table,
    the VALIDATED minhash chain re-run over the survivors."""
    survivors_sql = f"""
SELECT a.doc_id, a.text FROM ({_DUPDOCS_SQL}) a
JOIN (SELECT min(doc_id) AS doc_id FROM ({_DUPDOCS_SQL})
      GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) k
  ON a.doc_id = k.doc_id"""
    return f"""
WITH pos AS ({_minhash_oracle(survivors_sql)}),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_input
       FROM ({_DUPDOCS_SQL})),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_unique FROM
       (SELECT min(doc_id) FROM ({_DUPDOCS_SQL})
        GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs FROM pos),
nd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_docs_in_pairs
       FROM (SELECT id_a AS d FROM pos
             UNION ALL SELECT id_b AS d FROM pos))
SELECT n_input, n_exact_unique,
       n_input - n_exact_unique AS n_exact_removed,
       n_neardup_pairs, n_docs_in_pairs
FROM ni, nu, np, nd"""


@register("composite_dedup_funnel", _dedup_funnel_oracle_sql())
def _composite_dedup_funnel(spark, sf_dir):
    """The dedup pipeline as a FUNNEL readout — the one-row survivor
    accounting a corpus-curation dashboard leads with: input docs
    (plants included) -> exact-unique survivors (md5 content hash,
    min-id keeper) -> verified near-dup pairs among the survivors
    (the full banded-MinHash chain over the exact-dedup OUTPUT — the
    production staging order: exact first, it is 100x cheaper) ->
    docs implicated in a near-dup pair.  One plan: the exact stage's
    keeper semi-join feeds the LSH stage directly."""
    docs = _docs_with_dups(spark, sf_dir)
    keepers = D.exact_dedupe(docs)
    survivors = docs.join(
        keepers.select(F.col("keeper_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    pairs = D.minhash_neardup_pairs(survivors, threshold=0.7)
    n_input = docs.agg(F.count("*").alias("n_input"))
    n_unique = keepers.agg(F.count("*").alias("n_exact_unique"))
    n_pairs = pairs.agg(F.count("*").alias("n_neardup_pairs"))
    n_docs_in_pairs = (
        pairs.select(F.col("id_a").alias("d"))
        .union(pairs.select(F.col("id_b").alias("d")))
        .agg(F.count_distinct("d").alias("n_docs_in_pairs"))
    )
    return (
        n_input.crossJoin(F.broadcast(n_unique))
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_docs_in_pairs))
        .select(
            "n_input", "n_exact_unique",
            (F.col("n_input") - F.col("n_exact_unique"))
            .alias("n_exact_removed"),
            "n_neardup_pairs", "n_docs_in_pairs",
        )
    )


def _ann_health_oracle_sql() -> str:
    return f"""
WITH bf AS ({_cosine_topk_oracle()}),
ivf AS ({_ivf_topk_oracle()}),
rec AS (
  SELECT round(avg(r), 4) AS mean_recall_at_5 FROM (
    SELECT round(count(i.neighbor_id) / 5.0, 4) AS r
    FROM bf b LEFT JOIN ivf i
      ON b.query_id = i.query_id
      AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id)
),
cells AS ({_ivf_cell_stats_oracle()}),
imb AS (SELECT max(imbalance_factor) AS imbalance_factor FROM cells),
pq AS ({_pq_distortion_oracle()}),
dist AS (SELECT round(avg(mean_sqdist), 4) AS mean_pq_sqdist FROM pq)
SELECT mean_recall_at_5, imbalance_factor, mean_pq_sqdist,
       (mean_recall_at_5 >= 0.5 AND imbalance_factor <= 4.0)
         AS healthy
FROM rec, imb, dist"""


@register("composite_ann_health", _ann_health_oracle_sql())
def _composite_ann_health(spark, sf_dir):
    """The ANN index go/no-go gate as ONE row — the three validated
    gauges composed: mean recall@5 of the IVF probe vs brute force
    (query side), the cell imbalance factor (index side), and the
    mean PQ distortion (compression side), plus the boolean pass/fail
    a refresh pipeline branches on.  Each sub-gauge reuses its
    already-validated plan; the composite is three 1-row folds
    crossJoined."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    rec = S.ann_recall(
        S.brute_force_topk(emb, q, k=5),
        S.ivf_topk(emb, q, k=5, n_probe=10),
        k=5,
    ).agg(F.round(F.avg("recall_at_5"), 4).alias("mean_recall_at_5"))
    imb = S.ivf_cell_stats(emb).agg(
        F.max("imbalance_factor").alias("imbalance_factor")
    )
    dist = S.pq_distortion(emb).agg(
        F.round(F.avg("mean_sqdist"), 4).alias("mean_pq_sqdist")
    )
    return (
        rec.crossJoin(F.broadcast(imb))
        .crossJoin(F.broadcast(dist))
        .select(
            "mean_recall_at_5", "imbalance_factor", "mean_pq_sqdist",
            (
                (F.col("mean_recall_at_5") >= 0.5)
                & (F.col("imbalance_factor") <= 4.0)
            ).alias("healthy"),
        )
    )


_QUALITY_VS_DUP_SQL = f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),
wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c
       FROM w GROUP BY doc_id, word),
wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd
         FROM wc GROUP BY doc_id),
stop AS (SELECT doc_id,
  len(list_filter(t, x -> list_contains(
    ['the','a','of','and','to','in','is','on','for','with'], x)))
    AS n_stop, len(t) AS n FROM toks),
q AS (SELECT s.doc_id,
  (round((s.n - coalesce(w.nd, 0))
         / CAST(greatest(s.n, 1) AS DOUBLE), 4) <= 0.75
   AND CAST(s.n AS INT) >= 10
   AND round(s.n_stop / CAST(greatest(s.n, 1) AS DOUBLE), 4) >= 0.0)
    AS keep
  FROM stop s LEFT JOIN wagg w ON w.doc_id = s.doc_id),
h AS (SELECT doc_id,
      md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS hh
      FROM alldocs),
hc AS (SELECT hh, count(*) AS nc FROM h GROUP BY hh),
flags AS (SELECT h.doc_id, (hc.nc >= 2) AS dup, q.keep
          FROM h JOIN hc USING (hh) JOIN q USING (doc_id)),
cells AS (SELECT
  CAST(sum(CASE WHEN keep AND dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_keep_dup,
  CAST(sum(CASE WHEN keep AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_keep_uniq,
  CAST(sum(CASE WHEN NOT keep AND dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_drop_dup,
  CAST(sum(CASE WHEN NOT keep AND NOT dup THEN 1 ELSE 0 END)
       AS BIGINT) AS n_drop_uniq
  FROM flags)
SELECT n_keep_dup, n_keep_uniq, n_drop_dup, n_drop_uniq,
       round((n_keep_uniq + 0.5) * (n_drop_dup + 0.5)
             / ((n_keep_dup + 0.5) * (n_drop_uniq + 0.5)), 6)
         AS uniq_quality_odds_ratio,
       round(ln((n_keep_uniq + 0.5) * (n_drop_dup + 0.5)
                / ((n_keep_dup + 0.5) * (n_drop_uniq + 0.5))), 6)
         AS log_or
FROM cells"""


@register("composite_quality_vs_dup", _QUALITY_VS_DUP_SQL)
def _composite_quality_vs_dup(spark, sf_dir):
    """Quality × duplication cross-audit as one 2x2 row: are
    duplicated documents lower quality?  Quality keep flag from the
    validated quality_filter chain; duplication membership = content
    hash shared by >= 2 docs (the exact-dedup hash).  Counts are
    exact integers; the association is the Haldane-corrected odds
    ratio (+0.5 per cell so empty cells stay finite), 6dp — the
    number that justifies (or refutes) 'dedup doubles as a quality
    filter' for THIS corpus."""
    docs = _docs_with_dups(spark, sf_dir)
    quality = T.quality_filter(docs).select("doc_id", "keep")
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    hashed = docs.select("doc_id", F.md5(normalized).alias("_h"))
    counts = hashed.groupBy("_h").agg(F.count("*").alias("_nc"))
    flags = (
        hashed.join(counts, "_h")
        .select("doc_id", (F.col("_nc") >= 2).alias("_dup"))
        .join(quality, "doc_id")
    )
    cells = flags.agg(
        F.sum((F.col("keep") & F.col("_dup")).cast("bigint"))
        .alias("n_keep_dup"),
        F.sum((F.col("keep") & ~F.col("_dup")).cast("bigint"))
        .alias("n_keep_uniq"),
        F.sum((~F.col("keep") & F.col("_dup")).cast("bigint"))
        .alias("n_drop_dup"),
        F.sum((~F.col("keep") & ~F.col("_dup")).cast("bigint"))
        .alias("n_drop_uniq"),
    )
    orr = (
        (F.col("n_keep_uniq") + 0.5) * (F.col("n_drop_dup") + 0.5)
    ) / ((F.col("n_keep_dup") + 0.5) * (F.col("n_drop_uniq") + 0.5))
    return cells.select(
        "n_keep_dup", "n_keep_uniq", "n_drop_dup", "n_drop_uniq",
        F.round(orr, 6).alias("uniq_quality_odds_ratio"),
        F.round(F.log(orr), 6).alias("log_or"),
    )
