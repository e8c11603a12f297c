"""Deduplication operator family (extension, SURVEY §7.4 / north
star): exact hash dedup, MinHash+LSH near-dup, SimHash, n-gram
Jaccard verification, embedding-cosine near-dup.

Scale design
------------
- Exact dedup: one map-side-combined shuffle on the content hash.
- MinHash+LSH: per-row signature computation is shuffle-free Column
  math; candidate generation shuffles once on (band, band_key) —
  never the O(n²) cross join.  Bucket self-join output is bounded by
  bucket sizes (skew guard: oversized buckets are salted out by
  AQE's skew-join handling; truly adversarial buckets should be
  capped upstream).
- Verification joins shingle sets only for candidate pairs.
- All hashing is md5-derived (deterministic, engine-portable) — NOT
  Spark's ``hash()``/``xxhash64`` (not reproducible in the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize, materialize_lazy

from eggv_spark.operators.text_analysis import shingles_col, tokens_col

#: MinHash parameters: 16 permutations = 4 bands x 4 rows
#: (LSH threshold ~ (1/b)^(1/r) = 0.71 jaccard).
MINHASH_PRIME = 2147483647
MINHASH_A = (
    1103515245, 1229782938, 1076767861, 1476291629,
    1117695901, 1442695041, 1865811235, 1540483477,
    1013904223, 1196314165, 1293839219, 1669632769,
    1386796291, 1152921505, 1926732743, 1073741827,
)
MINHASH_B = (
    12345, 67891, 24683, 13579,
    98765, 43210, 11111, 77777,
    31415, 27182, 16180, 14142,
    17320, 22360, 26457, 30000,
)
MINHASH_BANDS = 4
MINHASH_ROWS = 4


def base_hash(col: Column) -> Column:
    """Portable 32-bit string hash: first 8 hex chars of md5, as a
    long.  Identical expression exists in DuckDB
    (``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedupe(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content hash: one row per distinct normalized
    text, keeping the smallest id (deterministic keeper) and the
    duplicate count.  Single hash-shuffle with map-side partial agg.
    """
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return (
        df.withColumn("content_hash", F.md5(normalized))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def with_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Distinct word-shingle set and its 32-bit hashes per document
    (``base_hash(shingle) % MINHASH_PRIME`` — the md5 hash DuckDB
    recomputes, so every hash-derived output stays oracle-portable).

    The token array is STAGED as its own column before shingling
    (round 11): ``shingles_col`` references its tokens argument ~5x
    (three shifted slices + two size probes), and higher-order
    functions are interpreted with no common-subexpression
    elimination — an inline ``tokens_col(text)`` re-ran the regex
    split+filter per reference.  Staging measured −30% on the
    shingle pass (0.79 -> 0.55 s over sf0.1 documents, 4-round
    interleaved min) and propagates to every minhash/containment
    consumer.  Same values, column set unchanged."""
    df = df.withColumn("_toks", tokens_col(text_col))
    shingles = shingles_col(F.col("_toks"), shingle_size)
    return df.withColumn("shingles", shingles).withColumn(
        "shingle_hashes",
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: base_hash(s) % MINHASH_PRIME)
        ),
    ).drop("_toks")


def with_minhash_signature(df: DataFrame) -> DataFrame:
    """16-permutation MinHash signature over ``shingle_hashes``.
    (a*x+b) mod p with a,x < 2^31 stays within int64.  Pure per-row
    array math — no shuffle, no UDF."""
    # Closure factory: Spark treats a multi-arg lambda (incl. default
    # args) as an (element, index) lambda.
    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_PRIME

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("shingle_hashes"), _perm(a, b)))
            for a, b in zip(MINHASH_A, MINHASH_B)
        ]
    )
    return df.withColumn("minhash_sig", sig)


def _band_rows(
    df: DataFrame, id_col: str = "doc_id", extra: tuple[str, ...] = ()
) -> DataFrame:
    """Explode a signed frame to one row per (doc, band):
    (id, band, band_key[, *extra]) — the LSH bucket key both the
    self-join candidate generator and the persistable index build on."""
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("minhash_sig").getItem(band * MINHASH_ROWS + r)
                                for r in range(MINHASH_ROWS)
                            ],
                        ).alias("band_key"),
                    )
                    for band in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *extra, "bk.band", "bk.band_key")


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signatures and self-join buckets -> distinct candidate
    pairs (a < b).  The only shuffle is on the band key."""
    bands = _band_rows(df, id_col)

    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )


def jaccard_verify_pairs(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs: join shingle sets
    back (2 joins on the pair ids) and keep pairs >= threshold."""
    sa = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    jacc = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        4,
    )
    return (
        joined.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Sketch-quality gauge: for given (id_a, id_b) pairs, the
    MinHash ESTIMATE of Jaccard — the share of agreeing signature
    components, the textbook unbiased estimator with std err
    ``~1/sqrt(n_perms)`` — next to the EXACT shingle Jaccard and the
    absolute error.  This is the measurement that justifies (or
    re-sizes) ``MINHASH_PERMS`` before trusting the LSH pipeline on
    a real corpus.

    Scale shape: signatures are fixed 16-element arrays, so the two
    pair joins carry ~128 bytes per row; the agree-share is a
    zip_with/filter over the arrays — no explode, no per-component
    shuffle."""
    shingled = with_minhash_signature(
        with_shingle_hashes(df, text_col, shingle_size)
    )
    n_perms = len(MINHASH_A)
    sa = shingled.select(
        F.col(id_col).alias("id_a"),
        F.col("minhash_sig").alias("_sig_a"),
        F.col("shingles").alias("_sh_a"),
    )
    sb = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col("minhash_sig").alias("_sig_b"),
        F.col("shingles").alias("_sh_b"),
    )
    agree = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
            lambda b: b,
        )
    )
    est = F.round(agree.cast("double") / n_perms, 4)
    exact = F.round(
        F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
        / F.size(F.array_union("_sh_a", "_sh_b")).cast("double"),
        4,
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_size: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> minhash ->
    band-bucket join -> exact Jaccard verify.  The shingled frame is
    persisted (two consumers: candidate generation + verification)."""
    shingled = with_minhash_signature(
        with_shingle_hashes(df, text_col, shingle_size)
    ).persist()
    pairs = lsh_candidate_pairs(shingled, id_col)
    return jaccard_verify_pairs(pairs, shingled, threshold, id_col)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Persistable MinHash band index of a corpus: one row per
    (doc, band) carrying (id, band, band_key, minhash_sig).

    This is the incremental-dedup half of the LSH design: build it
    ONCE over the existing corpus, write it partitioned/bucketed by
    (band, band_key), and every future crawl shard probes it with an
    equi-join instead of re-pairing the whole corpus
    (:func:`dedupe_against_index`).  The full 16-slot signature rides
    along (~128 B/row, MINHASH_BANDS rows per doc) so probe-side
    verification is signature agreement — no corpus text re-read.
    """
    sigs = with_minhash_signature(
        with_shingle_hashes(df, text_col, shingle_size)
    )
    return _band_rows(sigs, id_col, extra=("minhash_sig",))


def dedupe_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_size: int = 3,
) -> DataFrame:
    """Incremental near-dup: probe a NEW shard against a persisted
    :func:`minhash_band_index` of the existing corpus — the
    production shape for continuously-crawled training corpora, where
    re-running all-pairs LSH over corpus ∪ shard every crawl is
    O(corpus) per ingest.

    Per new doc: ``is_dup`` (any index doc whose signature agreement
    ≥ ``threshold``), ``dup_of`` (the SMALLEST matching corpus id —
    deterministic), ``n_matches`` (distinct matching corpus docs),
    and ``best_est`` (max signature-agreement Jaccard estimate, 4dp).

    Scale: the probe shuffles only the shard's band rows (bands ×
    |shard|, tiny next to the corpus); the index side is a plain
    equi-join on (band, band_key) — bucketed storage makes it
    shuffle-free on the corpus side too.  Verification is pure array
    math on the two 16-slot signatures (zip_with agreement share), so
    the corpus text is never touched.  A pair colliding in several
    bands is collapsed by the pre-verify dropDuplicates.
    """
    matches = index_probe_matches(
        new_docs, index, text_col=text_col, id_col=id_col,
        shingle_size=shingle_size,
    )
    return collapse_index_matches(
        matches, new_docs.select(F.col(id_col)), id_col, threshold
    )


def signature_agreement_est(sig_a: Column, sig_b: Column) -> Column:
    """Jaccard estimate from two MinHash signatures: the agreeing
    slot share (zip_with + aggregate — pure in-row array math),
    rounded to 4dp.  The single source of truth for probe-side
    verification: batch and streaming index dedup both draw from
    here, so the estimate cannot diverge between them."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.round(agree / F.lit(float(len(MINHASH_A))), 4)


def index_probe_matches(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Band-probe stage shared by batch and streaming index dedup:
    shingle + sign the new docs, equi-join their band rows to the
    index, and emit one row per band collision
    (id, old_id, est_jaccard).  Stateless — safe as the map side of
    a stream-static join."""
    sigs_new = with_minhash_signature(
        with_shingle_hashes(new_docs, text_col, shingle_size)
    )
    probe = _band_rows(sigs_new, id_col, extra=("minhash_sig",)).select(
        F.col(id_col),
        F.col("minhash_sig").alias("_sig_new"),
        "band",
        "band_key",
    )
    idx = index.select(
        F.col(id_col).alias("old_id"),
        F.col("minhash_sig").alias("_sig_old"),
        "band",
        "band_key",
    )
    return probe.join(idx, ["band", "band_key"]).select(
        id_col,
        "old_id",
        signature_agreement_est(
            F.col("_sig_new"), F.col("_sig_old")
        ).alias("est_jaccard"),
    )


def collapse_index_matches(
    matches: DataFrame,
    shard_ids: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Verdict stage shared by batch and streaming index dedup:
    collapse per-band-collision rows (id, old_id, est_jaccard) to one
    row per shard doc — is_dup, dup_of (smallest matching corpus id),
    n_matches, best_est — re-anchored on ``shard_ids`` so non-matching
    docs still appear with is_dup = false."""
    verdict = (
        matches.dropDuplicates([id_col, "old_id"])
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy(id_col)
        .agg(
            F.min("old_id").alias("dup_of"),
            F.countDistinct("old_id").alias("n_matches"),
            F.max("est_jaccard").alias("best_est"),
        )
    )
    return shard_ids.join(verdict, id_col, "left").select(
        id_col,
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        "best_est",
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document: each token votes +1/-1 on each bit
    of its 32-bit hash; the sign of the bit-sum forms the fingerprint.

    Plan shape: explode tokens -> single groupBy(id) computing all 32
    bit-sums as parallel agg expressions -> recombine.  One shuffle.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    ).withColumn("h", base_hash(F.col("token")))

    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)

    fingerprint = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: candidates via 4-byte band equality (any two
    fingerprints within hamming distance 3 share at least one of 4
    bytes), verified by exact popcount of the XOR.  Band join, not
    O(n²)."""
    sh = simhash(df, text_col, id_col)
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.band_val")

    left, right = bands.alias("l"), bands.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def dot_col(x: Column, y: Column) -> Column:
    """Dot product of two float-array columns, accumulated in double
    (sequential fold — engine-portable summation order)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    """L2 norm.  Precompute this ONCE per row before any pair join —
    evaluating cosine_col per pair costs three dot products per pair
    instead of one."""
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity between two float-array columns, accumulated
    in double (sequential, engine-portable)."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def signlsh_plane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic hyperplane weights for sign-LSH table ``table``,
    plane ``plane``: md5 of ``"plane-{table}-{plane}-{d}"`` per
    dimension, mapped to [-1000, 1000].  No RNG state — identical
    values are reproducible in the DuckDB oracle."""
    import hashlib

    return [
        float(
            int(hashlib.md5(f"plane-{table}-{plane}-{d}".encode()).hexdigest()[:8], 16)
            % 2001
            - 1000
        )
        for d in range(dim)
    ]


def signlsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Banded sign-LSH bucket assignment: one output row per (vector,
    table) with the table's 2^``n_planes``-ary ``bucket`` key and the
    precomputed L2 norm.  Shuffle-free map-side pass; hyperplane
    weights are driver-computed literals (plan size n_tables ×
    n_planes × dim doubles, independent of data)."""
    sign_bits = [
        [
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.lit(signlsh_plane(t, p, dim)),
                        lambda x, w: x.cast("double") * w,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]
    table_buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                F.concat_ws("", *[b.cast("string") for b in sign_bits[t]]).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    return (
        df.select(id_col, vec_col)
        .withColumn("tb", F.explode(table_buckets))
        .select(id_col, vec_col, "tb.tbl", "tb.bucket")
        .withColumn("nrm", norm_col(F.col(vec_col)))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup via BANDED sign-LSH (OR-construction):
    ``n_tables`` independent hash tables of ``n_planes`` hyperplanes
    each; a pair is a candidate if it collides in ANY table, then
    exact-cosine-verified.

    Recall math: one random hyperplane separates vectors at angle
    theta with prob theta/pi, so a single table (AND of r planes)
    catches a pair with prob p^r where p = 1 - theta/pi.  At the
    dedup threshold cos >= 0.95 (theta ~= 0.318 rad, p ~= 0.899) a
    single 8-plane table has recall ~0.43 — NOT high.  OR-ing b
    tables lifts it to 1-(1-p^r)^b: ~0.89 at the default (r=8, b=4),
    ~0.99 at b=8.  Raise ``n_tables`` for recall, ``n_planes`` for
    precision/bucket-size.

    Scale design: each table has 2^r buckets; at 1 B+ vectors raise
    ``n_planes`` to 16-24 so per-bucket self-joins stay bounded (the
    AND/OR trade-off keeps recall via ``n_tables``).  Candidate
    generation is an equi-join on (table, bucket) — one shuffle,
    never O(n²); duplicate candidates from multi-table collisions are
    dropped before the verify so each pair pays one dot product.

    ``dim`` must match the embedding width (no ``.first()`` probe —
    planning stays job-free on the driver).
    """
    # Persisted: the self-join consumes it twice — without this the
    # n_tables × n_planes dot products per row run once per join
    # side.  The L2 norm rides along so the pair verify is one dot
    # product, not three (bit-identical value, not recomputed per
    # pair).
    bucketed = signlsh_buckets(df, vec_col, id_col, dim, n_planes, n_tables).persist()

    left, right = bucketed.alias("l"), bucketed.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{vec_col}").alias("v_a"),
            F.col(f"r.{vec_col}").alias("v_b"),
            F.col("l.nrm").alias("n_a"),
            F.col("r.nrm").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = F.round(dot_col(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 4)
    return (
        cands.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (iterative connected components)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    max_iterations: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation.  Output: (node, component) with
    ``component`` = the smallest node id reachable from ``node`` —
    i.e. the canonical keeper of each duplicate cluster.

    Each iteration joins every node's label against its neighbors'
    and takes the min — labels converge in O(component diameter)
    rounds (near-dup clusters are shallow: usually 2-3).  The label
    frame is re-persisted per round and the loop exits early when a
    round changes nothing (one lightweight count action per round).
    At web scale this is the standard large-star/small-star regime;
    diameter-bounded dedup graphs converge in a handful of rounds.

    If ``max_iterations`` rounds pass without convergence (a graph
    with diameter > max_iterations — e.g. a long chain of pairwise
    near-dups), the PARTIAL labels are still returned (every label is
    a valid cluster member id, just possibly not yet the global min)
    and a ``RuntimeWarning`` is emitted so callers can raise the
    budget or switch to large-star/small-star.
    """
    import warnings
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .dropDuplicates()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .persist()
    )

    converged = False
    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
            .persist()
        )
        # persist caches DATA but the logical plan still nests one
        # level per round; truncate lineage periodically so planning
        # cost stays flat and a late-stage executor loss doesn't
        # recompute the whole iteration chain.
        if i % 3 == 2:
            new_labels = new_labels.transform(materialize_lazy)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "iterations; returning partial labels (graph diameter exceeds "
            "the iteration budget — raise max_iterations or use a "
            "large-star/small-star decomposition)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: symmetrize, then for every node ``u`` attach
    each STRICTLY LARGER neighbor to ``m = min(neighborhood ∪ {u})``.
    One groupBy shuffle + one join on the same key (co-partitioned —
    AQE reuses the exchange)."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient larger→smaller, then for every node
    ``u`` attach its smaller neighbors (and ``u`` itself) to the
    minimum of that set.  Same two-shuffle shape as the large star."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("node"), F.col("m"))
        .filter(F.col("node") != F.col("m"))
        .unionByName(mins.select(F.col("src").alias("node"), F.col("m")))
        .select(F.col("node").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): each round hooks whole star subtrees onto
    smaller ids, so label information travels exponentially —
    convergence in O(log² n) rounds REGARDLESS of graph diameter,
    where :func:`connected_components`' min-label propagation needs
    O(diameter) rounds (a 1000-link chain of near-identical docs
    never finishes there).  This is the 100 TB default; propagation
    remains for shallow graphs where its cheaper rounds win.

    Output contract matches :func:`connected_components`: (node,
    component) with ``component`` the smallest reachable id.

    Lineage policy: every round ends in an EAGER ``localCheckpoint``.
    A star round references its input ~4 times (symmetrize + the
    min-join on each side), so without truncation the logical plan
    grows ~16x per iteration on top of the (already deep) candidate
    -generation lineage — planning cost explodes long before data
    cost does.  Checkpointing the small edge list each round keeps
    the plan one round deep; the same interval-checkpoint discipline
    GraphFrames applies to its iterative algorithms.
    """
    import warnings

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize)
    )
    converged = False
    for _ in range(max_iterations):
        new_edges = _small_star(_large_star(edges)).transform(materialize)
        # set equality needs both a no-new-edges probe and a count
        # match (new ⊂ old would pass the probe alone)
        changed = (
            new_edges.exceptAll(edges).limit(1).count() > 0
            or new_edges.count() != edges.count()
        )
        edges = new_edges
        if not changed:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components_star did not converge in "
            f"{max_iterations} iterations; returning labels from the "
            "last round (raise max_iterations)",
            RuntimeWarning,
            stacklevel=2,
        )
    # at the fixpoint every edge points larger→component-min: labels
    # are the edge list itself plus a self-label for each minimum
    labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = edges.select(F.col("dst").alias("node")).subtract(
        edges.select(F.col("src").alias("node"))
    )
    return labels.unionByName(
        roots.withColumn("component", F.col("node"))
    )


def dedup_keepers(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end cluster dedup decision: every id keeps ``keeper_id``
    = min id of its near-dup cluster (itself when unpaired).  Feed
    with :func:`minhash_neardup_pairs` / :func:`simhash_neardup_pairs`
    / :func:`embedding_neardup_pairs` output.

    Cluster resolution uses the large-star/small-star decomposition
    (:func:`connected_components_star`) — diameter-independent, the
    web-scale-safe default."""
    comps = connected_components_star(pairs)
    return (
        all_ids.select(id_col)
        .join(comps, all_ids[id_col] == comps["node"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("keeper_id"),
        )
    )


def passage_dedup(
    df: DataFrame,
    chunk_tokens: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicated-passage removal (the C4/RefinedWeb
    cleaning step): segment every document into fixed-token passages,
    count each passage's EXACT occurrences across the whole corpus,
    drop passages that appear more than once anywhere, and reassemble
    the surviving passages in document order.  Returns one row per
    document: (id, n_chunks, n_dup_chunks, cleaned_text).

    Works for newline-delimited line dedup too — segmenting is
    delegated to ``text_analysis.chunk_documents``, so any 1→N
    segmentation with a per-doc ordinal plugs in.

    Scale shape (100 TB): the global frequency table is keyed on the
    passage's md5, not its text — the count shuffle and the
    candidate join carry 16-byte keys instead of passage bodies, and
    both aggregations get map-side partial combine (the duplicated
    head — boilerplate, navbars, license blocks — collapses before
    the exchange).  Three exchanges total: count, count⋈chunks (two
    sides co-partitioned on the hash), per-doc reassembly.

    Zipf-head skew posture: passage frequencies are Zipfian, but no
    single reducer can be serialized by a head key —

    - the COUNT shuffle is algebraic, so map-side partial combine
      caps any key's reducer input at one row per map task;
    - the JOIN-BACK streams only the DUP-ONLY frequency table
      (``_n > 1``, a left join with missing keys coalesced to 1):
      the unique long tail — the overwhelming majority of distinct
      passages — never enters the build side, which both shrinks the
      exchange and lets AQE pick a broadcast join (then the probe
      side does not shuffle at all);
    - when the dup table is too big to broadcast, AQE's skew-join
      splitting (on by default, session.py) shards the head key's
      probe partition across tasks, replicating the single matching
      build row.

    The window alternative (count OVER passage-partition) has the
    same shuffle count but no dup-only reduction and no AQE skew
    split for the aggregation.  Covered by a 10^4x-skewed fixture in
    tests/test_text_dedupe_similarity.py.
    """
    from eggv_spark.operators.text_analysis import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, text_col=text_col, id_col=id_col
    ).select(
        id_col,
        "chunk_idx",
        "chunk_text",
        F.md5("chunk_text").alias("_h"),
    )
    freq = chunks.groupBy("_h").agg(F.count("*").alias("_n"))
    dup_freq = freq.filter(F.col("_n") > 1)
    joined = (
        chunks.join(dup_freq, "_h", "left")
        .withColumn("_n", F.coalesce("_n", F.lit(1)))
        .drop("_h")
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_n") == 1,
                            F.struct("chunk_idx", "chunk_text"),
                        )
                    )
                ).getField("chunk_text"),
            ).alias("cleaned_text"),
        )
    )


def sliding_window_dedup(
    df: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unaligned exact-substring dedup at fixed window granularity —
    the sliding-window approximation of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): EVERY K-token window is hashed and counted corpus-wide,
    so a duplicated run is caught at ANY offset, where chunk-aligned
    :func:`passage_dedup` only catches runs that happen to fall on
    chunk boundaries.  A position is removed iff ANY duplicated
    window covers it, so overlapping duplicated windows merge into
    maximal removed spans for free.  Returns one row per document:
    (id, n_tokens, n_dup_windows, n_removed, cleaned_text).

    Within-doc repetition counts toward duplication (a window
    repeated twice in one document is removed), matching
    suffix-dedup semantics.

    Scale shape (100 TB): four keyed exchanges, none skew-fragile —
    (1) the window-frequency count is algebraic (map-side combine
    collapses the boilerplate head before the shuffle) and carries
    16-byte md5 keys, not window text; (2) the flag join streams only
    the DUP-ONLY key set (left-semi), so the unique long tail never
    enters the build side and AQE can broadcast it; (3) positions ⋈
    dup-starts co-partitions on (doc, position); (4) the per-doc
    cover window + reassembly partitions on doc id, whose group size
    is bounded by document length.  Cost is the K-window explode
    (~n_tokens rows per doc) — the same inflation class as
    decontamination, and the price of offset-free matching.
    """
    k = window_tokens
    toks = tokens_col(text_col)
    base = df.select(F.col(id_col), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    # grams feeds BOTH the window-frequency count and the dup-start
    # probe; without a checkpoint each consumer re-runs the
    # K-window md5 transform (the operator's single most expensive
    # expression) over the whole corpus.  Eager localCheckpoint
    # materializes the exploded (id, pos, hash) frame once — measured
    # 3.18 s -> 2.33 s paired at sf0.1, identical output.
    grams = base.select(
        id_col,
        F.posexplode(
            F.when(
                F.col("_n") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.col("_n") - k),
                    lambda i: F.md5(F.array_join(F.slice("_t", i + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_i", "_h"),
    ).transform(materialize)
    dup_keys = grams.groupBy("_h").count().filter(F.col("count") > 1)
    dup_starts = (
        grams.join(dup_keys, "_h", "semi")
        .select(id_col, F.col("_i").alias("_p"))
        .withColumn("_d", F.lit(1))
    )
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("_p", "_tok")
    )
    flagged = pos.join(dup_starts, [id_col, "_p"], "left").withColumn(
        "_d", F.coalesce("_d", F.lit(0))
    )
    # position p is covered iff a dup window STARTS in [p-K+1, p];
    # positions are dense per doc, so a ROWS frame equals the
    # positional range
    cover = Window.partitionBy(id_col).orderBy("_p").rowsBetween(-(k - 1), 0)
    marked = flagged.withColumn("_rm", F.max("_d").over(cover))
    agged = marked.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("_d").alias("n_dup_windows"),
        F.sum("_rm").alias("n_removed"),
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_rm") == 0, F.struct("_p", "_tok"))
                )
            ).getField("_tok"),
        ).alias("cleaned_text"),
    )
    # zero-token docs explode to no position rows and would vanish
    # from the aggregate; re-anchor on the input ids so the contract
    # "one row per document" holds (keyed left join, no extra shuffle
    # class)
    return df.select(F.col(id_col)).join(agged, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


def canonical_keepers(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    quality_scale: int = 10_000_000,
) -> DataFrame:
    """Cluster canonicalization by QUALITY: every id maps to the
    highest-quality member of its near-dup cluster (min id on ties;
    itself when unpaired) — the keeper selection step after near-dup
    clustering, where pipelines keep the longest / highest-scoring
    variant instead of an arbitrary min-id.

    ``docs`` carries (id, integer quality).  The argmax is a
    ``min_by`` over the composite key ``id - quality*quality_scale``
    — one engine-portable BIGINT, so ties are impossible (the id is
    unique within the key) and the DuckDB oracle reproduces the
    selection with a plain ``arg_min``.  ``quality_scale`` must
    exceed the max id; quality must stay below 2^63/scale.

    Same shuffle shape as :func:`dedup_keepers` plus one extra
    aggregate+join on the component id (cluster-count-sized, not
    corpus-sized).
    """
    comps = connected_components_star(pairs)
    labeled = (
        docs.select(id_col, quality_col)
        .join(comps, docs[id_col] == comps["node"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
            quality_col,
        )
    )
    key = F.col(id_col) - F.col(quality_col).cast("long") * quality_scale
    best = labeled.groupBy("component").agg(
        F.min_by(F.col(id_col), key).alias("keeper_id")
    )
    return labeled.join(best, "component").select(id_col, "keeper_id")


def bloom_positions(key: Column, k: int, m_bits: int) -> Column:
    """The ``k`` Bloom bit positions of a key: independent md5-derived
    hashes (portable ``base_hash`` over ``key || '#' || i``), each mod
    ``m_bits``.  Pure Column array — no UDF."""
    return F.array(*[
        base_hash(F.concat(key, F.lit(f"#{i}"))) % m_bits for i in range(k)
    ])


def bloom_prefilter(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    k: int = 4,
    m_bits: int = 1 << 16,
) -> DataFrame:
    """Bloom-filter membership pre-filter, expressed relationally so
    it scales and stays oracle-checkable.

    The build side is folded to its DISTINCT set bit positions — at
    most ``m_bits`` rows regardless of build cardinality, so the set
    always broadcasts (the whole point of a Bloom filter: O(m) state
    for O(n) keys).  A probe row is a *candidate* iff all ``k`` of its
    positions are set — exactly classic Bloom semantics including the
    false-positive rate (1-e^{-kn/m})^k; no false negatives.

    At 100 TB this is the cheap existence pre-pass in front of an
    expensive exact join: the probe table streams map-side against the
    broadcast position set and only candidates continue.  Returns the
    probe keys (distinct) flagged ``bloom_candidate``."""
    positions = (
        build.select(
            F.explode(
                bloom_positions(F.col(build_key).cast("string"), k, m_bits)
            ).alias("pos")
        ).distinct()
    )
    probed = (
        probe.select(F.col(probe_key).alias("probe_key")).distinct()
        .select(
            "probe_key",
            F.explode(
                bloom_positions(F.col("probe_key").cast("string"), k, m_bits)
            ).alias("pos"),
        )
        .join(F.broadcast(positions).withColumn("_set", F.lit(1)), "pos", "left")
        .groupBy("probe_key")
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k).alias(
            "bloom_candidate"
        ))
    )
    return probed


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    block_k: int = 8,
    max_block_size: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment |S_A ∩ S_B| /
    min(|S_A|, |S_B|) over word-shingle sets — the measure that
    catches a short document embedded in a long one, which Jaccard
    (÷ union) structurally under-scores.  Candidate generation
    blocks on each document's ``block_k`` SMALLEST shingle hashes
    (exploded — a bottom-k sketch; two near-dup docs collide on at
    least one bottom-k hash with probability far above raw MinHash's
    single-min Jaccard bound, which matters precisely in the
    small-in-big case).  Exact verification joins each candidate
    pair to the two PACKED shingle arrays and intersects in-row
    (``array_intersect`` — a per-pair hash intersect inside
    whole-stage codegen): no explode, no pair-grained re-aggregation,
    no separate size joins — measured 29% faster than the
    explode-join-agg form at sf0.1 (3.6 s vs 5.0 s) on identical
    output.  Per-task memory is two shingle arrays per candidate
    row, bounded by document length and the block cap.  No all-pairs
    product anywhere.  Deterministic: same md5 shingle hashes as the
    MinHash family.

    ``max_block_size`` (default off, exact) is the template-corpus
    guard: a shingle-hash block shared by B documents generates
    C(B, 2) candidate pairs, so one boilerplate shingle (a license
    header, a nav bar) across a 100 TB crawl makes candidate volume
    quadratic in its frequency.  When set, blocks with more than
    ``max_block_size`` members are dropped from candidate generation
    — the standard LSH frequent-bucket ceiling — trading recall only
    on pairs whose EVERY shared bottom-k shingle is boilerplate.
    Default-off so the exact oracle rows are unchanged."""
    # hs is consumed THREE times (block generation plus both sides of
    # the verify join); without a checkpoint each consumer re-runs
    # tokenize+shingle+md5 over the full corpus.  Eager
    # localCheckpoint materializes the shingle table once and
    # truncates lineage; measured 3.78 s -> 2.83 s at sf0.1 on
    # identical output (1375/1375 rows byte-equal).
    hs = with_shingle_hashes(df, text_col).select(
        F.col(id_col).alias("_id"),
        "shingle_hashes",
        F.size("shingle_hashes").alias("_n_sh"),
    ).transform(materialize)
    blocks = hs.select(
        "_id",
        F.explode(
            F.slice(F.array_sort("shingle_hashes"), 1, block_k)
        ).alias("_blk"),
    ).distinct()
    if max_block_size is not None:
        # frequent-bucket ceiling: one map-side-combined count per
        # block, then a semi-join keeps only blocks under the cap —
        # the candidate join's per-block output is bounded at
        # C(max_block_size, 2)
        small = (
            blocks.groupBy("_blk")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_block_size)
            .select("_blk")
        )
        blocks = blocks.join(small, "_blk", "left_semi")
    cand = (
        blocks.alias("l")
        .join(blocks.alias("r"), "_blk")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        )
        .distinct()
    )
    a = hs.select(
        F.col("_id").alias("id_a"),
        F.col("shingle_hashes").alias("_sha"),
        F.col("_n_sh").alias("_na"),
    )
    b = hs.select(
        F.col("_id").alias("id_b"),
        F.col("shingle_hashes").alias("_shb"),
        F.col("_n_sh").alias("_nb"),
    )
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("_sha", "_shb")).alias("n_common"),
            F.round(
                F.size(F.array_intersect("_sha", "_shb"))
                / F.least("_na", "_nb"),
                4,
            ).alias("containment"),
        )
    )
    return scored.filter(F.col("containment") >= threshold)


def content_defined_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 16,
) -> DataFrame:
    """Content-defined chunking (the CDC idea behind rsync/FastCDC,
    applied to tokens): a chunk boundary falls AFTER any token whose
    portable hash ≡ 0 (mod ``boundary_mod``), so chunk boundaries
    depend only on CONTENT — an insertion early in a document shifts
    byte offsets but not the chunks after the next boundary, which
    is what makes chunk-level dedup robust where fixed-width
    passage windows break.  Returns one row per (doc, chunk) with
    the chunk fingerprint.

    Plan: posexplode tokens, boundary flag per token, chunk id as a
    running flag-sum window per doc (one shuffle on the doc id),
    re-assemble each chunk with sort_array(collect_list(struct(pos,
    token))) — deterministic order without a second sort shuffle."""
    from eggv_spark.operators.text_analysis import tokens_col

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens_col(text_col)).alias("_pos", "_tok"),
    )
    flag = (base_hash(F.col("_tok")) % boundary_mod == 0).cast("int")
    w = Window.partitionBy("_id").orderBy("_pos")
    chunked = toks.withColumn(
        "_chunk",
        F.sum(flag).over(w) - flag,  # boundary token CLOSES its chunk
    )
    chunks = chunked.groupBy("_id", "_chunk").agg(
        F.count("*").alias("n_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_pos", "_tok"))
                ),
                lambda s: s["_tok"],
            ),
        ).alias("chunk_text"),
    )
    return chunks.select(
        F.col("_id").alias(id_col),
        F.col("_chunk").alias("chunk_idx"),
        "n_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    )


def chunk_dedup_stats(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level duplication profile per corpus slice: total chunk
    instances vs distinct fingerprints and the duplicated fraction —
    the measurement that decides whether chunk-level dedup is worth
    running on a crawl slice.  One grouped pass over the chunk
    frame."""
    chunks = content_defined_chunks(df, id_col, text_col)
    joined = chunks.join(
        df.select(F.col(id_col), F.col(group_col)), id_col
    )
    return joined.groupBy(group_col).agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct("chunk_hash").alias("n_unique"),
        F.round(
            1.0 - F.count_distinct("chunk_hash") / F.count("*"), 6
        ).alias("dup_frac"),
    )


def lsh_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """LSH bucket-size profile per band — the dedup-side index
    health gauge (the sibling of similarity.ivf_cell_stats): bucket
    counts, the largest bucket, and the implied candidate-pair load
    Σ s(s−1)/2.  This is the EARLY WARNING for the quadratic-blowup
    failure mode the containment join's frequent-bucket cap guards
    against — a boilerplate shingle that funnels thousands of docs
    into one bucket shows up here as max_bucket_size long before the
    pair join melts, and is what a bands/rows retune decision reads.

    Plan: the same shingle → signature → band explode the candidate
    generator uses (so the stats measure EXACTLY the buckets the
    join would see), then two grouped integer passes (bucket grain,
    band grain).  No pair join is ever materialized — the pair count
    is computed from bucket sizes arithmetically.

    Output per band: (band, n_docs, n_buckets, max_bucket_size,
    candidate_pairs, singleton_frac)."""
    signed = with_minhash_signature(
        with_shingle_hashes(df, text_col, shingle_size)
    )
    bands = _band_rows(signed, id_col)
    buckets = bands.groupBy("band", "band_key").agg(
        F.count("*").alias("_s")
    )
    return buckets.groupBy("band").agg(
        F.sum("_s").alias("n_docs"),
        F.count("*").alias("n_buckets"),
        F.max("_s").alias("max_bucket_size"),
        F.sum(F.expr("_s * (_s - 1) DIV 2")).alias("candidate_pairs"),
        F.round(
            F.sum((F.col("_s") == 1).cast("bigint")) / F.count("*"), 6
        ).alias("singleton_frac"),
    )
