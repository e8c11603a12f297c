"""Deduplication entries: exact, MinHash, SimHash, LSH-index,
containment and passage-level dedup over ``documents``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.functions import scalars as SC
from eggv_spark.operators import dedupe as D
from eggv_spark.operators import relational as R
from eggv_spark.operators import similarity as S
from eggv_spark.operators import text_analysis as T
from eggv_spark.registry._shared import (
    _BASEHASH_SQL,
    _docs_with_dups,
    _DUPDOCS_SQL,
    register,
    _SHINGLES_SQL,
    _t,
    _TOKS_SQL,
)


@register(
    "ddp_dedup_all",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def _ddp_dedup_all(spark, sf_dir):
    return R.dedupe(
        R.project(_t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])
    )


@register("ddp_dedup_keys", "SELECT DISTINCT o_custkey FROM orders")
def _ddp_dedup_keys(spark, sf_dir):
    return R.dedupe(R.project(_t(spark, sf_dir, "orders"), ["o_custkey"]))


@register(
    "ddp_first_by_key",
    "SELECT o_custkey, o_orderkey,"
    " CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch FROM ("
    "  SELECT *, row_number() OVER ("
    "    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
    "  ) AS rn FROM orders"
    ") WHERE rn = 1",
)
def _ddp_first_by_key(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    first = R.dedupe_first_by_key(
        df, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    )
    return first.select(
        "o_custkey",
        "o_orderkey",
        # NTZ -> LTZ (session tz is UTC) -> epoch seconds.
        F.col("o_orderdate").cast("timestamp").cast("long").alias("order_epoch"),
    )


@register(
    "ddp_dedup_composite",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def _ddp_dedup_composite(spark, sf_dir):
    return R.dedupe(
        R.project(_t(spark, sf_dir, "events"), ["user_id", "event_type"])
    )


def _decontaminate_oracle() -> str:
    # 5-gram shingles: mirror of shingles_col(n=5) — short docs keep
    # one clamped shingle.
    shingles5 = (
        "list_distinct(list_transform("
        " generate_series(1, greatest(len(t) - 4, 1)),"
        " i -> array_to_string(list_slice(t, i, i + 4), ' ')))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles5}) AS shingle FROM toks),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
contaminated AS (SELECT DISTINCT s.doc_id FROM sh s
                 JOIN eval_sh e ON s.shingle = e.shingle
                 WHERE s.doc_id % 10 <> 0)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id % 10 <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@register("ddp_decontaminate", _decontaminate_oracle())
def _ddp_decontaminate(spark, sf_dir):
    """Train/eval decontamination: docs with doc_id % 10 == 0 play the
    eval set; surviving training docs share no 5-gram with it."""
    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return T.decontaminate(train, eval_set).select(
        "doc_id", "source", "n_chars"
    )


@register(
    "ddp_exact_hash",
    f"WITH alldocs AS ({_DUPDOCS_SQL})"
    " SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,"
    " min(doc_id) AS keeper_id, count(*) AS n_copies"
    " FROM alldocs GROUP BY 1",
)
def _ddp_exact_hash(spark, sf_dir):
    return D.exact_dedupe(_docs_with_dups(spark, sf_dir))


@register(
    "ddp_soft_dedup",
    "WITH d AS (SELECT doc_id, source, text FROM documents"
    " UNION ALL SELECT doc_id + 1000000, source, text"
    "  FROM documents WHERE doc_id % 10 = 0),"
    " h AS (SELECT source, md5(text) AS h FROM d),"
    " c AS (SELECT h, count(*) AS n FROM h GROUP BY h)"
    " SELECT source, count(*) AS n_docs,"
    " count(DISTINCT h.h) AS n_distinct,"
    " round(sum(1.0 / c.n), 4) AS effective_docs"
    " FROM h JOIN c USING (h) GROUP BY source",
)
def _ddp_soft_dedup(spark, sf_dir):
    """Soft dedup by downweighting: instead of REMOVING duplicates,
    every copy gets weight 1/(duplicate-group size), so a content
    group contributes exactly one document of effective mass however
    many times it was crawled — the keep-but-reweight curation
    alternative to hard removal (preserves coverage while killing
    over-representation).  One hash-partitioned window (same shuffle
    key a groupBy would use) computes group sizes; the per-source
    rollup reports raw vs distinct vs effective document counts.
    Injected dup group sizes are 1 or 2, so every weight is exactly
    representable and the float sum is parity-exact."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    all_docs = docs.unionByName(
        docs.filter("doc_id % 10 = 0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    w = Window.partitionBy(F.md5("text"))
    weighted = all_docs.withColumn(
        "_w", F.lit(1.0) / F.count("*").over(w)
    )
    return weighted.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.round(F.sum("_w"), 4).alias("effective_docs"),
    )


def _minhash_oracle(source_sql: str | None = None) -> str:
    """Banded-LSH near-dup oracle; ``source_sql`` overrides the
    (doc_id, text) source (default: the planted-dups corpus) so
    composites can run the same validated chain over a derived
    survivor set."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    return f"""
WITH alldocs AS ({source_sql or _DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id, shingles,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bands l JOIN bands r
          ON l.band = r.band AND l.band_key = r.band_key
          AND l.doc_id < r.doc_id),
verified AS (SELECT id_a, id_b,
    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
    FROM pairs JOIN hs sa ON sa.doc_id = id_a JOIN hs sb ON sb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.7
"""


@register("ddp_minhash_neardup", _minhash_oracle())
def _ddp_minhash_neardup(spark, sf_dir):
    return D.minhash_neardup_pairs(_docs_with_dups(spark, sf_dir), threshold=0.7)


def _simhash_oracle(src: str = "SELECT * FROM documents") -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(D.SIMHASH_BITS)
    )
    terms = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM ({src})),
tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
h AS (SELECT doc_id, {_BASEHASH_SQL.format(x='token')} AS h FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM bits
"""


@register("ddp_simhash", _simhash_oracle())
def _ddp_simhash(spark, sf_dir):
    return D.simhash(_t(spark, sf_dir, "documents"))


def _simhash_neardup_oracle() -> str:
    """All-pairs Hamming join over the simhash fingerprints.  Valid
    as an EXACT oracle because 4 bands x 8 bits with threshold 3 < 4
    gives perfect recall (pigeonhole: <=3 differing bits cannot touch
    all 4 bands), so the banded Spark plan's output equals the full
    quadratic join the oracle can afford at sf0.01."""
    return f"""
WITH sim AS ({_simhash_oracle(_DUPDOCS_SQL)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("ddp_simhash_neardup", _simhash_neardup_oracle())
def _ddp_simhash_neardup(spark, sf_dir):
    return D.simhash_neardup_pairs(_docs_with_dups(spark, sf_dir), max_hamming=3)


def _index_dedup_oracle() -> str:
    """Index-probe incremental dedup replica: shard docs are exact
    copies of every 10th corpus doc, so their signatures equal the
    source's — bands/signatures are computed once over documents and
    the shard side reuses them via src_id."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    n_perms = len(D.MINHASH_A)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
shard AS (SELECT doc_id + 1000000 AS new_id, doc_id AS src_id
          FROM documents WHERE doc_id % 10 = 0),
cand AS (SELECT DISTINCT s.new_id, s.src_id, b2.doc_id AS old_id
         FROM shard s JOIN bands b1 ON b1.doc_id = s.src_id
         JOIN bands b2 ON b2.band = b1.band AND b2.band_key = b1.band_key),
est AS (SELECT c.new_id, c.old_id,
        round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
              / {n_perms}.0, 4) AS ej
        FROM cand c JOIN sig sa ON sa.doc_id = c.src_id
        JOIN sig sb ON sb.doc_id = c.old_id AND sb.j = sa.j
        GROUP BY c.new_id, c.old_id),
m AS (SELECT new_id, min(old_id) AS dup_of,
      CAST(count(DISTINCT old_id) AS BIGINT) AS n_matches,
      max(ej) AS best_est
      FROM est WHERE ej >= 0.7 GROUP BY new_id)
SELECT s.new_id AS doc_id, m.dup_of IS NOT NULL AS is_dup, m.dup_of,
 COALESCE(m.n_matches, 0) AS n_matches, m.best_est
FROM shard s LEFT JOIN m ON m.new_id = s.new_id
"""


@register("ddp_index_dedup", _index_dedup_oracle())
def _ddp_index_dedup(spark, sf_dir):
    """Incremental near-dup: probe a re-crawled shard (every 10th doc
    re-tagged +1,000,000) against a persisted MinHash band index of
    the full corpus — the production shape for continuously-crawled
    corpora, where all-pairs LSH over corpus ∪ shard every ingest is
    O(corpus).  Each shard doc is an exact copy of its source, so the
    signature-agreement estimate is 1.0 and dup_of resolves to the
    smallest matching corpus id (dedupe.minhash_band_index /
    dedupe_against_index).

    NEGATIVE RESULT: an xxhash64 gram hash (output
    row-identical at sf0.001/0.01/0.1) measured NEUTRAL (0.87-1.05x
    across idle-host A/Bs), as did a fused one-pass signature build:
    at this SF the operator is bound by interpreted
    higher-order-function overhead in the shingle construction
    (phase bisect: shingle strings 0.85 s of the 1.76 s floor), not
    by the hash (OPTIMIZATION_r11.md, item 4).  md5 stays — uniform
    oracle portability at zero measured cost."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = D.minhash_band_index(docs)
    shard = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return D.dedupe_against_index(shard, index, threshold=0.7)


def _window_dedup_oracle() -> str:
    """Sliding-window substring-dedup replica: same K=8 window
    hashes, dup-start flags, and positional cover (max over a
    K-1-preceding ROWS frame) as dedupe.sliding_window_dedup.
    string_agg FILTER yields NULL for fully-removed docs — coalesced
    to '' to match Spark's concat_ws."""
    k = 8
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
g0 AS (SELECT doc_id, unnest(list_transform(
        generate_series(0, len(t) - {k}), i -> {{'i': i,
        'h': md5(array_to_string(list_slice(t, i + 1, i + {k}), ' '))}}))
        AS u FROM toks),
g AS (SELECT doc_id, u.i AS i, u.h AS h FROM g0),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
fl AS (SELECT doc_id, i FROM g JOIN dup USING (h)),
p0 AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t)), i -> {{'p': i - 1, 'tok': t[i]}}))
        AS u FROM toks),
pos AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM p0),
flagged AS (SELECT pos.doc_id, pos.p, pos.tok,
            CASE WHEN fl.i IS NOT NULL THEN 1 ELSE 0 END AS d
            FROM pos LEFT JOIN fl
            ON fl.doc_id = pos.doc_id AND fl.i = pos.p),
marked AS (SELECT doc_id, p, tok, d,
           max(d) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS rm
           FROM flagged),
agg AS (SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(d) AS BIGINT) AS n_dup_windows,
        CAST(sum(rm) AS BIGINT) AS n_removed,
        COALESCE(string_agg(tok, ' ' ORDER BY p) FILTER (rm = 0), '')
         AS cleaned_text
        FROM marked GROUP BY doc_id)
SELECT a.doc_id, COALESCE(g.n_tokens, 0) AS n_tokens,
 COALESCE(g.n_dup_windows, 0) AS n_dup_windows,
 COALESCE(g.n_removed, 0) AS n_removed,
 COALESCE(g.cleaned_text, '') AS cleaned_text
FROM alldocs a LEFT JOIN agg g USING (doc_id)
"""


@register("ddp_window_dedup", _window_dedup_oracle())
def _ddp_window_dedup(spark, sf_dir):
    """Unaligned exact-substring dedup (sliding K-token windows,
    suffix-dedup semantics): every 8-token window is counted
    corpus-wide and any position covered by a duplicated window is
    stripped — catches duplicated runs at ANY offset, where the
    chunk-aligned passage dedup only catches boundary-aligned ones.
    Over the corpus-with-exact-dups fixture the re-tagged copies (and
    their sources) are removed wholesale
    (dedupe.sliding_window_dedup)."""
    return D.sliding_window_dedup(
        _docs_with_dups(spark, sf_dir), window_tokens=8
    )


def _ngram_jaccard_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
pairs AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM documents a)
SELECT id_a, id_b,
 round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
"""


@register("ddp_ngram_jaccard", _ngram_jaccard_oracle())
def _ddp_ngram_jaccard(spark, sf_dir):
    """Standalone exact n-gram Jaccard on deterministic adjacent-id
    pairs (the verification kernel of the near-dup pipeline)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = D.with_shingle_hashes(docs)
    # Pairs whose id_b has no document drop out in the verify join
    # (inner) — same as the oracle's JOIN.
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return D.jaccard_verify_pairs(pairs, shingled, threshold=0.0)


@register(
    "ddp_dup_clusters",
    f"WITH RECURSIVE np AS ({_minhash_oracle()}),"
    " edges AS ("
    "  SELECT id_a AS src, id_b AS dst FROM np"
    "  UNION SELECT id_b, id_a FROM np"
    "  UNION SELECT id_a, id_a FROM np"
    "  UNION SELECT id_b, id_b FROM np"
    " ),"
    " reach(src, dst) AS ("
    "  SELECT src, dst FROM edges"
    "  UNION"
    "  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
    " ),"
    f" alldocs AS ({_DUPDOCS_SQL})"
    " SELECT d.doc_id,"
    " coalesce(min(r.dst), d.doc_id) AS keeper_id"
    " FROM alldocs d LEFT JOIN reach r ON r.src = d.doc_id"
    " GROUP BY d.doc_id",
)
def _ddp_dup_clusters(spark, sf_dir):
    """Near-dup pairs resolved to duplicate clusters: iterative
    connected components, then every doc mapped to its cluster's
    keeper (min id)."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = D.minhash_neardup_pairs(docs, threshold=0.7)
    return D.dedup_keepers(pairs, docs.select("doc_id"))


@register(
    "ddp_canonical_docs",
    f"WITH RECURSIVE np AS ({_minhash_oracle()}),"
    " edges AS ("
    "  SELECT id_a AS src, id_b AS dst FROM np"
    "  UNION SELECT id_b, id_a FROM np"
    "  UNION SELECT id_a, id_a FROM np"
    "  UNION SELECT id_b, id_b FROM np"
    " ),"
    " reach(src, dst) AS ("
    "  SELECT src, dst FROM edges"
    "  UNION"
    "  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
    " ),"
    f" alldocs AS ({_DUPDOCS_SQL})"
    " SELECT d.doc_id,"
    " coalesce(arg_min(t.doc_id,"
    "   t.doc_id - CAST(length(t.text) AS BIGINT) * 10000000),"
    "  d.doc_id) AS keeper_id"
    " FROM alldocs d"
    " LEFT JOIN reach r ON r.src = d.doc_id"
    " LEFT JOIN alldocs t ON t.doc_id = r.dst"
    " GROUP BY d.doc_id",
)
def _ddp_canonical_docs(spark, sf_dir):
    """Near-dup clusters canonicalized by QUALITY (longest text wins,
    min id on ties) instead of min-id — the keeper-selection policy
    real cleaning pipelines use."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = D.minhash_neardup_pairs(docs, threshold=0.7)
    scored = docs.select("doc_id", F.length("text").alias("quality"))
    return D.canonical_keepers(pairs, scored)


def _embedding_neardup_oracle() -> str:
    """Exact replica of the BANDED sign-LSH construction (4 tables x
    8 planes, OR over tables): hyperplanes are deterministic (md5 of
    'plane-{t}-{p}-{d}' — dedupe.signlsh_plane), so the candidate
    union + cosine-verify output is reproducible in SQL with the
    planes embedded as literals.  dim=64 per TESTDATA.md embeddings."""
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
    FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_table}))
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95
"""


@register("ddp_embedding_neardup", _embedding_neardup_oracle())
def _ddp_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    return D.embedding_neardup_pairs(with_dups, threshold=0.95)


@register(
    "ddp_passage_dedup",
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t"
    "  FROM documents),"
    " c AS (SELECT doc_id, t,"
    "  CAST(greatest(ceil(len(t) / 4.0), 1) AS INT) AS n FROM toks),"
    " e AS (SELECT doc_id, t,"
    "  unnest(generate_series(0, n - 1)) AS i FROM c),"
    " ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,"
    "  array_to_string(list_slice(t, i * 4 + 1, i * 4 + 4), ' ')"
    "   AS chunk_text FROM e),"
    " f AS (SELECT md5(chunk_text) AS h, count(*) AS n"
    "  FROM ch GROUP BY 1),"
    " j AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.n"
    "  FROM ch JOIN f ON md5(ch.chunk_text) = f.h)"
    " SELECT doc_id, count(*) AS n_chunks,"
    " CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_dup_chunks,"
    " coalesce(string_agg(CASE WHEN n = 1 THEN chunk_text END,"
    "  ' ' ORDER BY chunk_idx), '') AS cleaned_text"
    " FROM j GROUP BY doc_id",
)
def _ddp_passage_dedup(spark, sf_dir):
    """Corpus-level duplicated-passage removal (C4/RefinedWeb step):
    4-token passages, global md5-keyed occurrence counts, duplicated
    passages stripped, survivors reassembled in document order."""
    return D.passage_dedup(_t(spark, sf_dir, "documents"), chunk_tokens=4)


@register(
    "ddp_url_dedup",
    "WITH h AS (SELECT doc_id, doc_id // 2 AS pair,"
    "  's' || CAST((doc_id // 2) % 7 AS VARCHAR) AS host"
    " FROM documents),"
    " u AS (SELECT doc_id, CASE"
    " WHEN doc_id % 4 = 0 THEN 'https://' || host ||"
    "  '.example.com/p/' || CAST(pair AS VARCHAR) ||"
    "  '?utm_source=feed&utm_campaign=x'"
    " WHEN doc_id % 4 = 1 THEN 'https://www.' || upper(host) ||"
    "  '.EXAMPLE.com/p/' || CAST(pair AS VARCHAR) || '/'"
    " WHEN doc_id % 4 = 2 THEN 'https://' || host ||"
    "  '.example.com/p/' || CAST(pair AS VARCHAR) ||"
    "  '#section-2'"
    " ELSE 'https://' || host || '.example.com/p/' ||"
    "  CAST(pair AS VARCHAR) || '?ref=home' END AS url"
    " FROM h),"
    " c AS (SELECT doc_id, "
    + SC.CANONICAL_URL_SQL_STEPS.format(x="url")
    + " AS canonical_url FROM u)"
    " SELECT canonical_url, min(doc_id) AS keeper_id,"
    " count(*) AS n_copies FROM c GROUP BY canonical_url",
)
def _ddp_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (C4-style crawl cleaning): four cosmetic
    URL variants per content key — tracking params, WWW+case+trailing
    slash, fragment, ref param — must collapse to ONE canonical form;
    keeper is the min doc_id.  The canonicalization is a regexp chain
    (scalars.canonical_url) whose SQL twin runs the identical RE2
    program."""
    d = _t(spark, sf_dir, "documents")
    # host keyed on the PAIR id so (2k, 2k+1) share a canonical URL
    # and the dedup actually collapses rows
    pair = (F.col("doc_id") / 2).cast("long")
    host = F.concat(F.lit("s"), (pair % 7).cast("string"))
    base = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"), pair
    )
    upper_base = F.concat(
        F.lit("https://www."), F.upper(host),
        F.lit(".EXAMPLE.com/p/"), pair, F.lit("/"),
    )
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(F.col("doc_id") % 4 == 1, upper_base)
        .when(F.col("doc_id") % 4 == 2, F.concat(base, F.lit("#section-2")))
        .otherwise(F.concat(base, F.lit("?ref=home")))
    )
    return (
        d.select("doc_id", SC.canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _minhash_est_oracle() -> str:
    """Estimated (signature agree-share) vs exact Jaccard on
    adjacent-id pairs — the same deterministic shingle/perm formulas
    as _minhash_oracle, over plain documents."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    n_perms = len(D.MINHASH_A)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id, shingles,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents),
est AS (SELECT pr.id_a, pr.id_b,
        round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
              / {n_perms}.0, 4) AS est_jaccard
        FROM pairs pr JOIN sig sa ON sa.doc_id = pr.id_a
        JOIN sig sb ON sb.doc_id = pr.id_b AND sb.j = sa.j
        GROUP BY pr.id_a, pr.id_b),
ex AS (SELECT pr.id_a, pr.id_b,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))),
             4) AS exact_jaccard
       FROM pairs pr JOIN hs sa ON sa.doc_id = pr.id_a
       JOIN hs sb ON sb.doc_id = pr.id_b)
SELECT e.id_a, e.id_b, e.est_jaccard, x.exact_jaccard,
 round(abs(e.est_jaccard - x.exact_jaccard), 4) AS abs_err
FROM est e JOIN ex x ON e.id_a = x.id_a AND e.id_b = x.id_b
"""


@register("ddp_minhash_est", _minhash_est_oracle())
def _ddp_minhash_est(spark, sf_dir):
    """MinHash sketch-quality gauge on adjacent-id pairs: estimated
    Jaccard (signature agree-share) vs exact shingle Jaccard with the
    absolute error — the measurement that sizes MINHASH_PERMS."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return D.minhash_jaccard_estimate(docs, pairs)


@register(
    "ddp_bloom_prefilter",
    "WITH pos AS (SELECT DISTINCT"
    "  CAST(concat('0x', substr(md5(concat("
    "   CAST(c_custkey AS VARCHAR), '#', t.i)), 1, 8)) AS BIGINT)"
    "   % 65536 AS pos"
    " FROM customer, LATERAL unnest(['0','1','2','3']) t(i)"
    " WHERE c_acctbal > 9000),"
    " checks AS (SELECT probe_key,"
    "  CAST(concat('0x', substr(md5(concat("
    "   CAST(probe_key AS VARCHAR), '#', t.i)), 1, 8)) AS BIGINT)"
    "   % 65536 AS pos"
    " FROM (SELECT DISTINCT o_custkey AS probe_key FROM orders),"
    "  LATERAL unnest(['0','1','2','3']) t(i))"
    " SELECT probe_key,"
    " count(*) FILTER (WHERE pos IN (SELECT pos FROM pos)) = 4"
    "  AS bloom_candidate"
    " FROM checks GROUP BY probe_key",
)
def _ddp_bloom_prefilter(spark, sf_dir):
    """Bloom-filter existence pre-pass: which ordering customers MIGHT
    be in the high-balance set (acctbal > 9000), by k=4 md5 bit
    positions mod 2^16 — build side folds to ≤65536 distinct set bits
    (broadcastable at ANY build cardinality), probe streams map-side.
    Classic Bloom semantics: no false negatives, (1-e^{-kn/m})^k false
    positives."""
    build = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    probe = _t(spark, sf_dir, "orders")
    return D.bloom_prefilter(
        probe, build, probe_key="o_custkey", build_key="c_custkey",
        k=4, m_bits=1 << 16,
    )


def _semdedup_oracle() -> str:
    """SemDeDup replica: the kmeans_assign centroid literals and
    6dp-rounded argmin (same as _kmeans_iter_oracle), then in-cluster
    cosine pairs and the lower-id-keeper anti-join."""
    from eggv_spark.operators.similarity import _centroid_values

    dim, n_clusters = 64, 8
    cent_rows = ", ".join(
        f"({c}, ["
        + ", ".join(repr(w / 2000.0) for w in _centroid_values(c, dim))
        + "])"
        for c in range(n_clusters)
    )
    return f"""
WITH cent(cluster_id, cv) AS (VALUES {cent_rows}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
    FROM embeddings WHERE vec_id % 25 = 0),
d AS (SELECT vec_id, v, cluster_id,
    round(list_aggregate(list_transform(generate_series(1, {dim}),
          i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum'), 6) AS sqd
    FROM base CROSS JOIN cent),
asg AS (SELECT vec_id, v, cluster_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sqd, cluster_id) AS rk FROM d)
    WHERE rk = 1),
dup AS (SELECT DISTINCT b.vec_id AS idb
    FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id
        AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) > 0.95),
sz AS (SELECT cluster_id, count(*) AS n_cluster_members
    FROM asg GROUP BY cluster_id)
SELECT vec_id, CAST(asg.cluster_id AS INT) AS cluster_id,
    n_cluster_members
FROM asg JOIN sz USING (cluster_id)
WHERE vec_id NOT IN (SELECT idb FROM dup)
"""


@register("ddp_semdedup", _semdedup_oracle())
def _ddp_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup on the embedding corpus with
    injected exact duplicates (every 25th vector re-added under a
    shifted id): k-means cluster (map-only deterministic E-step),
    within-cluster cosine pairs, drop near-dups (>0.95) of lower-id
    cluster-mates.  Quadratic work is per-cluster, never corpus-wide
    (similarity.semantic_dedupe)."""
    emb = _t(spark, sf_dir, "embeddings")
    with_dups = emb.unionByName(
        emb.filter("vec_id % 25 = 0").withColumn(
            "vec_id", F.col("vec_id") + F.lit(1000000)
        )
    )
    return S.semantic_dedupe(with_dups, threshold=0.95)


def _containment_oracle() -> str:
    p = D.MINHASH_PRIME
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents),
trunc_src AS (SELECT doc_id, {_TOKS_SQL} AS t FROM docs
  WHERE doc_id % 5 = 0),
truncated AS (SELECT doc_id + 1000000 AS doc_id,
  array_to_string(list_slice(t, 1,
    greatest(CAST(len(t) // 2 AS INT), 1)), ' ') AS text
  FROM trunc_src),
alldocs AS (SELECT * FROM docs UNION ALL SELECT * FROM truncated),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
  list_distinct(list_transform(shingles,
    s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
blocks AS (SELECT DISTINCT doc_id,
  unnest(list_slice(list_sort(hashes), 1, 8)) AS blk FROM hs),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM blocks l JOIN blocks r ON l.blk = r.blk
  AND l.doc_id < r.doc_id),
scored AS (SELECT id_a, id_b,
  CAST(len(list_intersect(ha.hashes, hb.hashes)) AS BIGINT) AS n_common,
  round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)
    / least(len(ha.hashes), len(hb.hashes)), 4) AS containment
  FROM cand JOIN hs ha ON ha.doc_id = id_a
  JOIN hs hb ON hb.doc_id = id_b)
SELECT id_a, id_b, n_common, containment FROM scored
WHERE containment >= 0.8
"""


@register("ddp_containment", _containment_oracle())
def _ddp_containment(spark, sf_dir):
    """Asymmetric containment dedup (short doc embedded in long doc):
    every 5th document gets a half-length truncated twin (id +
    1000000, the registry-wide twin-id convention) injected in-query; bottom-k shingle-hash blocking +
    exact intersection verification must recover the twins
    (dedupe.containment_pairs).

    The frequent-bucket ceiling is LIVE here (max_block_size=64): a
    boilerplate shingle shared by B docs yields C(B,2) candidates, so
    the 100 TB plan needs the cap on.  64 is proven output-neutral at
    both test scales — the largest observed block is 8 members at
    sf0.01 and 26 at sf0.1
    (test_containment_cap_is_output_neutral_and_live), so the capped
    plan emits exactly the uncapped oracle rows while bounding the
    per-block candidate volume where a template-heavy corpus would
    explode it."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = T.tokens_col("text")
    half = F.greatest(F.floor(F.size(toks) / 2).cast("int"), F.lit(1))
    truncated = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("text"),
        )
    )
    alldocs = docs.unionByName(truncated)
    out = D.containment_pairs(
        alldocs, "doc_id", "text", threshold=0.8, max_block_size=64
    )
    return out.select(
        "id_a", "id_b", F.col("n_common").cast("long").alias("n_common"),
        "containment",
    )


def _chunk_dedup_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
tk AS (SELECT doc_id, source, t[i] AS tok, i
  FROM toks, unnest(generate_series(1, len(t))) u(i)),
fl AS (SELECT doc_id, source, tok, i,
  CASE WHEN {_BASEHASH_SQL.format(x='tok')} % 16 = 0 THEN 1 ELSE 0 END
   AS flag FROM tk),
ch AS (SELECT doc_id, source, tok, i,
  sum(flag) OVER (PARTITION BY doc_id ORDER BY i) - flag AS chunk
  FROM fl),
chunks AS (SELECT doc_id, source, chunk,
  md5(string_agg(tok, ' ' ORDER BY i)) AS h FROM ch GROUP BY 1, 2, 3)
SELECT source, count(*) AS n_chunks,
 count(DISTINCT h) AS n_unique,
 round(1.0 - count(DISTINCT h) / CAST(count(*) AS DOUBLE), 6)
  AS dup_frac
FROM chunks GROUP BY source
"""


@register("ddp_chunk_dedup", _chunk_dedup_oracle())
def _ddp_chunk_dedup(spark, sf_dir):
    """Content-defined chunking (hash-boundary chunks, insertion-
    robust) + per-source chunk duplication profile — the chunk-level
    dedup feasibility measurement (dedupe.content_defined_chunks /
    chunk_dedup_stats)."""
    return D.chunk_dedup_stats(_t(spark, sf_dir, "documents"))


def _minhash_eval_oracle_sql() -> str:
    """Oracle for the minhash recall eval: the validated near-dup
    oracle as a derived table + the planted-pair arithmetic."""
    return f"""
WITH pos AS ({_minhash_oracle()}),
truth AS (
  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
  FROM documents WHERE doc_id % 10 = 0
), rec AS (
  SELECT count(*) AS n_recovered
  FROM pos JOIN truth USING (id_a, id_b)
), np AS (SELECT count(*) AS n_pred FROM pos),
nt AS (SELECT count(*) AS n_truth FROM truth)
SELECT CAST(nt.n_truth AS BIGINT) AS n_truth,
       CAST(np.n_pred AS BIGINT) AS n_pred,
       CAST(rec.n_recovered AS BIGINT) AS n_recovered,
       CAST(np.n_pred - rec.n_recovered AS BIGINT) AS n_extra,
       round(CAST(rec.n_recovered AS DOUBLE) / nt.n_truth, 4)
         AS recall
FROM np, rec, nt"""


@register("ddp_minhash_eval", _minhash_eval_oracle_sql())
def _ddp_minhash_eval(spark, sf_dir):
    """Recall eval of the MinHash near-dup pipeline against the
    PLANTED ground truth (every 10th doc duplicated at +1,000,000 —
    known by construction, the dedup twin of sim_recall_eval): how
    many planted pairs the banded LSH recovered, plus the extra
    verified near-dups it found beyond the plant.  The QA a dedup
    config change (bands, shingle size, threshold) must pass before
    rollout."""
    docs = _docs_with_dups(spark, sf_dir)
    pred = D.minhash_neardup_pairs(docs, threshold=0.7)
    truth = (
        _t(spark, sf_dir, "documents")
        .filter("doc_id % 10 = 0")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
    )
    hits = pred.join(truth, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    stats = pred.agg(F.count("*").alias("n_pred")).crossJoin(
        F.broadcast(hits.agg(F.count("*").alias("n_recovered")))
    ).crossJoin(F.broadcast(n_truth))
    return stats.select(
        "n_truth", "n_pred", "n_recovered",
        (F.col("n_pred") - F.col("n_recovered")).alias("n_extra"),
        F.round(
            F.try_divide(F.col("n_recovered"), F.col("n_truth")), 4
        ).alias("recall"),
    )


def _lsh_band_stats_oracle() -> str:
    """Bucket-size stats over the same shingle/signature/band CTEs
    as the validated minhash oracle."""
    consts = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    p = D.MINHASH_PRIME
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
hs AS (SELECT doc_id,
       list_distinct(list_transform(shingles,
         s -> {_BASEHASH_SQL.format(x='s')} % {p})) AS hashes FROM sh),
consts(j, a, b) AS (VALUES {consts}),
sig AS (SELECT doc_id, j,
        list_min(list_transform(hashes, x -> (a * x + b) % {p})) AS m
        FROM hs CROSS JOIN consts),
bands AS (SELECT doc_id, j // {D.MINHASH_ROWS} AS band,
          string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM sig GROUP BY doc_id, j // {D.MINHASH_ROWS}),
buckets AS (SELECT band, band_key, CAST(count(*) AS BIGINT) AS s
            FROM bands GROUP BY band, band_key)
SELECT CAST(band AS INT) AS band,
       CAST(sum(s) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(s) AS BIGINT) AS max_bucket_size,
       CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs,
       round(CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS singleton_frac
FROM buckets GROUP BY band"""


@register("ddp_lsh_band_stats", _lsh_band_stats_oracle())
def _ddp_lsh_band_stats(spark, sf_dir):
    """LSH bucket-size profile (dedupe.lsh_band_stats) over the
    planted-dups corpus — the quadratic-blowup early warning: per
    band, bucket counts, max bucket, and the implied candidate-pair
    load, computed arithmetically (no pair join materialized)."""
    return D.lsh_band_stats(_docs_with_dups(spark, sf_dir))


def _dedup_savings_oracle_sql() -> str:
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
tok AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS ntok,
        text FROM alldocs),
keep AS (SELECT min(doc_id) AS doc_id FROM alldocs
         GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))),
before AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens_total FROM tok),
after AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
          CAST(sum(ntok) AS BIGINT) AS tokens_kept
          FROM tok JOIN keep USING (doc_id))
SELECT n_docs, n_docs_kept, tokens_total, tokens_kept,
       tokens_total - tokens_kept AS tokens_saved,
       round(CAST(tokens_total - tokens_kept AS DOUBLE)
             / tokens_total, 6) AS saved_frac
FROM before, after"""


@register("ddp_dedup_savings", _dedup_savings_oracle_sql())
def _ddp_dedup_savings(spark, sf_dir):
    """The dedup BUSINESS CASE as one row: whitespace-token totals
    before and after exact dedup on the planted corpus — tokens a
    training run would re-consume, tokens dedup reclaims, and the
    saved fraction.  Token counting shares the corpus tokenizer
    (word_tokens_col); the keeper set is exact_dedupe's min-id
    keeper semi-join — both already-validated kernels, composed."""
    from eggv_spark.operators.text_analysis import word_tokens_col

    docs = _docs_with_dups(spark, sf_dir).select(
        "doc_id", F.size(word_tokens_col("text")).cast("bigint")
        .alias("_ntok"),
        "text",
    )
    keepers = D.exact_dedupe(docs)
    kept = docs.join(
        keepers.select(F.col("keeper_id").alias("doc_id")),
        "doc_id", "left_semi",
    )
    before = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("tokens_total"),
    )
    after = kept.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("_ntok").alias("tokens_kept"),
    )
    return before.crossJoin(F.broadcast(after)).select(
        "n_docs", "n_docs_kept", "tokens_total", "tokens_kept",
        (F.col("tokens_total") - F.col("tokens_kept"))
        .alias("tokens_saved"),
        F.round(
            F.try_divide(
                F.col("tokens_total") - F.col("tokens_kept"),
                F.col("tokens_total"),
            ),
            6,
        ).alias("saved_frac"),
    )
