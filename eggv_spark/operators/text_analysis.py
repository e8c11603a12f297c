"""Text-analysis operators (extension family, SURVEY §7.4 / repo
north star): tokenization, token counting, quality scoring, language
ID, document fingerprinting.

All pure Column expressions (whole-stage codegen; embarrassingly
parallel — no shuffle) so they run at scan speed over 100 TB of
documents.  Every helper is deterministic and mirrors one-to-one to
ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize

#: Small fixed stopword list used by quality scoring (order matters
#: only for documentation; membership tests are set semantics).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic.  Deterministic tie-break: first language in this order
#: with the max score wins.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "las"),
    "de": ("der", "die", "und", "das", "nicht"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def tokens_col(text_col: str | Column) -> Column:
    """Whitespace tokenization of lowercased text, empty tokens
    dropped.  The shared front-end of every operator below."""
    raw = F.split(F.lower(text_col), r"\s+")
    return F.filter(raw, lambda t: t != "")


def word_tokens_col(text_col: str | Column) -> Column:
    """BPE-ish tokenization: split on any non-alphanumeric run, so
    punctuation-glued words count separately."""
    raw = F.split(F.lower(text_col), r"[^a-z0-9]+")
    return F.filter(raw, lambda t: t != "")


def _reject_temp_clash(df: DataFrame, fn: str, *temps: str) -> None:
    """Raise if ``df`` already has a column that ``fn`` stages under a
    temporary name and drops again: ``withColumn`` would overwrite the
    caller's column and the final ``drop`` would lose it.  Spark
    resolves names case-insensitively, so the check does too.  A
    driver-side look at ``df.columns``; the plan is unchanged."""
    lowered = {t.lower() for t in temps}
    clash = [c for c in df.columns if c.lower() in lowered]
    if clash:
        raise ValueError(
            f"{fn}: input column(s) {clash} collide with its temporary "
            "column names; rename them before calling"
        )


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens +
    distinct-token count.

    Tokens STAGED as a column (round 11): two consumers would
    otherwise each re-run the regex split+filter per row — HOFs are
    interpreted with no common-subexpression elimination (the same
    finding as dedupe.with_shingle_hashes, −30% there)."""
    _reject_temp_clash(df, "with_token_counts", "_toks")
    df = df.withColumn("_toks", tokens_col(text_col))
    toks = F.col("_toks")
    words = word_tokens_col(text_col)
    return df.withColumns(
        {
            "n_tokens": F.size(toks),
            "n_words": F.size(words),
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
        }
    ).drop("_toks")


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio,
    alnum-space ratio, and a composite score.

    Ratios are rounded to 4dp so cross-engine double comparisons are
    stable.

    Tokens STAGED as a column (round 11): the inline form evaluated
    the regex split+filter ~6x per row (three size() references, the
    stopword filter, the mean-length aggregate) — HOFs are
    interpreted with no common-subexpression elimination.
    """
    _reject_temp_clash(df, "with_quality_score", "_toks")
    df = df.withColumn("_toks", tokens_col(text_col))
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    text_len = F.length(text_col)
    alnum_len = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9 ]", ""))
    mean_tok = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / F.greatest(n_tokens, F.lit(1)).cast("double"),
        4,
    )
    stop_ratio = F.round(
        n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 4
    )
    alnum_ratio = F.round(
        alnum_len.cast("double") / F.greatest(text_len, F.lit(1)).cast("double"), 4
    )
    return df.withColumns(
        {
            "text_len": text_len.cast("long"),
            "n_tokens": n_tokens,
            "mean_token_len": mean_tok,
            "stopword_ratio": stop_ratio,
            "alnum_ratio": alnum_ratio,
        }
    ).drop("_toks")


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: count marker-word hits per language,
    argmax with a fixed-order tie-break (CASE chain — identical
    semantics in the SQL oracle)."""
    toks = tokens_col(text_col)

    # NB: the lambda must take exactly one parameter — Spark treats a
    # two-arg lambda (incl. default args) as (element, index).
    def _contains(arr: Column):
        return lambda t: F.array_contains(arr, t)

    scores: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, _contains(arr)))

    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            geq = scores[lang] >= scores[other]
            cond = geq if cond is None else (cond & geq)
        pred = (
            F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
        )
    pred = pred.otherwise(F.lit(langs[-1]))
    return df.withColumn("lang_pred", pred).withColumns(
        {f"score_{lang}": scores[lang] for lang in langs}
    )


def with_fingerprint(
    df: DataFrame, text_col: str = "text", shingle_size: int = 3
) -> DataFrame:
    """Document fingerprinting: (a) md5 of whitespace-normalized
    lowercased text — the exact-dup key; (b) min shingle hash — a
    1-permutation MinHash usable as a cheap near-dup prefilter.

    Tokens staged (round 11): shingles_col references its tokens
    argument ~5x and HOFs get no subexpression elimination."""
    _reject_temp_clash(df, "with_fingerprint", "_toks")
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    df = df.withColumn("_toks", tokens_col(text_col))
    shingles = shingles_col(F.col("_toks"), shingle_size)
    return df.withColumns(
        {
            "content_hash": F.md5(normalized),
            "min_shingle_hash": F.array_min(
                F.transform(shingles, lambda s: F.md5(s))
            ),
        }
    ).drop("_toks")


def _max_multiplicity(arr: Column, dtype: str = "string") -> Column:
    """Count of the most-frequent element of an array, as a pure
    Column expression: sort, then a single ``aggregate`` pass tracking
    (prev, run, best).  O(n log n) per row, no shuffle, no UDF — the
    per-document repetition stats below stay embarrassingly parallel
    at 100 TB (an explode+groupBy formulation would shuffle one row
    PER TOKEN — billions of rows for no reason).

    ``dtype`` must name the array's element type so the fold
    accumulator's ``prev`` slot matches (callers on hashed ``long``
    arrays pass ``"long"`` — comparing 8-byte hashes sorts ~30%
    faster than variable-length strings, see
    :func:`with_repetition_stats`)."""
    sorted_ = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast(dtype).alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_, init, step, lambda acc: acc["best"])


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1):
    documents dominated by repeated words/phrases are low-quality
    training data.  Emits, per document:

    - ``dup_word_frac``  — 1 - distinct/total words (word repetition)
    - ``max_word_share`` — share of the single most common word
    - ``top_bigram_share`` — share of the most common adjacent pair

    All pure Column expressions — scan-speed, shuffle-free (see
    :func:`_max_multiplicity`).  Ratios rounded 4dp for cross-engine
    comparison.  Extension family (reference is genomics-only); the
    canonical use is ``filter(dup_word_frac < 0.8)`` pre-training.

    Token identity runs over ``xxhash64`` fingerprints: tokens are
    hashed once, bigram identity is the hash of the adjacent hash
    pair (no bigram strings ever materialize), and the distinct /
    multiplicity passes sort fixed-width longs instead of
    variable-length strings — measured 31% faster end-to-end at
    sf0.1 with bit-identical output.  A 64-bit collision WITHIN one
    document (~n²/2⁶⁵, <1e-13 for 10k-word docs) would overcount a
    share by one; acceptable for a quality filter.
    """
    # Tokens, token hashes, and bigram hashes STAGED as columns
    # (round 11): the inline form re-evaluated ``toks`` (regex
    # split+filter) and ``th`` (a full xxhash transform) per
    # reference — ~6 token-split evaluations per row through the
    # nested references — because HOFs are interpreted with no
    # common-subexpression elimination.  Same expressions, same
    # values; the staged columns are dropped.
    _reject_temp_clash(df, "with_repetition_stats", "_toks", "_th", "_bh")
    df = df.withColumn("_toks", tokens_col(text_col))
    df = df.withColumn(
        "_th", F.transform(F.col("_toks"), lambda s: F.xxhash64(s))
    )
    th = F.col("_th")
    n = F.size(F.col("_toks"))
    n1 = F.greatest(n - 1, F.lit(0))
    df = df.withColumn(
        "_bh",
        F.zip_with(
            F.slice(th, 1, n1), F.slice(th, 2, n1),
            lambda x, y: F.xxhash64(x, y),
        ),
    )
    bigram_h = F.col("_bh")
    nd = F.size(F.array_distinct(th))
    nb = F.size(bigram_h)
    denom = F.greatest(n, F.lit(1)).cast("double")
    bdenom = F.greatest(nb, F.lit(1)).cast("double")
    return df.withColumns(
        {
            "n_words": n,
            "dup_word_frac": F.round((n - nd).cast("double") / denom, 4),
            "max_word_share": F.round(
                _max_multiplicity(th, "long").cast("double") / denom, 4
            ),
            "top_bigram_share": F.round(
                _max_multiplicity(bigram_h, "long").cast("double") / bdenom, 4
            ),
        }
    ).drop("_toks", "_th", "_bh")


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
) -> DataFrame:
    """Training-set decontamination: drop every training document
    sharing ANY word ``shingle_size``-gram with the evaluation set
    (the standard n-gram-overlap protocol used for LLM train/test
    hygiene).

    Plan shape: eval shingles are exploded + distinct'd (small — eval
    sets are orders of magnitude smaller than train), then the train
    side is probed with a LEFT SEMI join to find contaminated ids and
    a LEFT ANTI join removes them.  Spark broadcasts the eval-shingle
    side automatically under AQE when it fits; at 100 TB train scale
    the probe is a broadcast-hash existence filter — no train-side
    shuffle at all.
    """
    from pyspark.sql.functions import broadcast

    # tokens staged before shingling on both sides (round 11):
    # shingles_col references its tokens argument ~5x and HOFs get no
    # subexpression elimination — inline tokens re-ran the regex
    # split per reference
    eval_shingles = (
        eval_set.select(tokens_col(F.col(text_col)).alias("_toks"))
        .select(
            F.explode(shingles_col(F.col("_toks"), shingle_size)).alias(
                "shingle"
            )
        )
        .distinct()
    )
    train_shingles = train.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(shingles_col(F.col("_toks"), shingle_size)).alias("shingle"),
    )
    contaminated = (
        train_shingles.join(broadcast(eval_shingles), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array.  Documents
    shorter than ``n`` tokens contribute their full token string as a
    single shingle (so no document has an empty shingle set).

    Implemented as arrays_zip over ``n`` shifted slices (one
    evaluation of ``tokens`` per slice per ROW).  The obvious
    ``transform(sequence(...), i -> slice(tokens, i, n))`` form
    re-evaluates ``tokens`` — a regex split — per ELEMENT: O(n²)
    splits per row, measured 25× slower (see ngrams_col)."""
    length = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(tokens, k, length) for k in range(1, n + 1)])
    ngrams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    # empty token array: one empty-string shingle (back-compat with
    # the sequence formulation and the DuckDB oracle's
    # generate_series(1, greatest(len-2, 1)))
    return F.when(F.size(tokens) == 0, F.array(F.lit(""))).otherwise(
        F.array_distinct(ngrams)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf:
    ``ln((N+1)/(df+1)) + 1``).

    Plan shape: explode -> (doc, term) counts [one shuffle] ->
    document frequencies [aggregated FROM the tf table, so the raw
    token stream shuffles once, not twice] -> broadcast df + N back
    onto tf -> window top-k per doc.  The df table is vocabulary-
    sized (small), hence broadcast; N is a 1-row broadcast
    cross-join so the whole computation stays in-plan (no driver
    count collected into a literal)."""
    terms = df.select(id_col, F.explode(tokens_col(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("n_docs_with_term"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1)
                        / (F.col("n_docs_with_term") + 1)
                    )
                    + 1
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-unigram language-model scoring: estimate p(w) from the
    corpus itself, score each document by its mean token ln p(w) — a
    perplexity proxy that flags out-of-distribution documents (the
    cheap first-pass LM quality signal in training-data pipelines).

    Plan: one explode+count to the vocabulary table (small —
    broadcast), a 1-row total, then mean log-prob per doc.  Token
    stream shuffles once."""
    terms = df.select(id_col, F.explode(tokens_col(text_col)).alias("term"))
    counts = terms.groupBy("term").agg(F.count("*").alias("n_term"))
    total = counts.agg(F.sum("n_term").alias("n_total"))
    scored = (
        terms.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("logp", F.log(F.col("n_term") / F.col("n_total")))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_word_frac: float = 0.75,
    min_tokens: int = 10,
    min_stopword_ratio: float = 0.0,
) -> DataFrame:
    """Composite pre-training quality gate: repetition + length +
    stopword signals computed in ONE pass (the individual with_*
    operators compose into a single Project — no extra scans), plus
    a ``keep`` flag.  Filter-style consumers do
    ``quality_filter(df).filter('keep')``."""
    scored = with_repetition_stats(with_quality_score(df, text_col), text_col)
    keep = (
        (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    )
    return scored.withColumn("keep", keep)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-token-window chunking for training-example preparation:
    each document becomes ceil(n_tokens / chunk_tokens) rows of at
    most ``chunk_tokens`` whitespace tokens (1->N explode).

    Shuffle-free: tokenize once, explode a chunk-index sequence, and
    slice the token array per chunk — all Column expressions, so a
    100 TB corpus chunks in a single map-side pass.
    """
    toks = tokens_col(text_col)
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(chunk_tokens))), F.lit(1)
    ).cast("int")
    staged = df.select(
        F.col(id_col), toks.alias("_toks"), n_chunks.alias("_n")
    )
    chunk = F.slice(
        F.col("_toks"), F.col("chunk_idx") * chunk_tokens + 1, chunk_tokens
    )
    return (
        staged.select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    seq_tokens: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-sequence packing: assign documents to fixed-capacity
    token bins by cumulative offset in a concatenated token stream —
    the contiguous-fill packing pretraining pipelines use (documents
    keep their boundaries; a doc whose START offset falls in bin b
    belongs to bin b).

    Scale design: a single global cumulative sum would serialize on
    one partition, so the stream is SHARDED by ``id % n_shards`` and
    packed within each shard (how per-worker packing behaves in a
    real loader).  One shuffle (window partition by shard); bins are
    (shard, bin_in_shard) pairs.  Deterministic in the ids — no RNG.
    """
    n_tok = F.size(tokens_col(text_col))
    staged = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        n_tok.alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    return staged.select(
        id_col,
        "shard",
        "n_tokens",
        start,
    ).withColumn(
        "bin_in_shard", F.floor(F.col("start_offset") / seq_tokens).cast("int")
    )


def ngrams_col(tokens: Column, n: int) -> Column:
    """Adjacent word n-gram array built from ``n`` shifted slices
    folded with zip_with ('a b c', n=2 -> ['a b', 'b c']); empty for
    documents with fewer than ``n`` tokens.

    NOT a transform with a per-index ``slice(tokens, i, n)``, which
    re-evaluates the whole ``tokens`` expression (a regex split) per
    ELEMENT: O(n²) splits per row, measured 25× slower on the
    documents table."""
    if n < 2:
        raise ValueError("ngrams need n >= 2")
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    out = F.slice(tokens, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus n-gram frequency table, top-k: tokenize, build adjacent
    n-grams, explode, count, keep the ``k`` most frequent under a
    TOTAL order (count desc, then n-gram asc) so the cut is
    deterministic.

    Scale shape: the tokens array is STAGED as its own projection so
    the regex split runs once per row (not once per slice); the
    explode→groupBy gets map-side partial aggregation, which absorbs
    the Zipf head before the shuffle; the final top-k is
    TakeOrderedAndProject — no global sort ever materializes.
    """
    staged = df.select(tokens_col(F.col(text_col)).alias("_toks"))
    exploded = staged.select(
        F.explode(ngrams_col(F.col("_toks"), n)).alias("ngram")
    )
    counts = exploded.groupBy("ngram").agg(
        F.count("*").alias("n_occurrences")
    )
    return counts.orderBy(F.desc("n_occurrences"), "ngram").limit(k)


def with_normalized_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Text normalization, the first pass of every corpus-cleaning
    pipeline: lowercase, replace control characters with spaces,
    collapse whitespace runs, and trim.  Adds ``norm_text``,
    ``n_chars_norm``, and ``chars_removed`` (original minus
    normalized length — a cheap "how dirty was this" signal used to
    route documents to heavier cleaning).

    Pure Column expressions (whole-stage codegen, shuffle-free): a
    100 TB corpus normalizes at scan speed with zero exchanges.  Every
    regex is POSIX-portable so the DuckDB oracle runs the identical
    program (DuckDB needs the explicit ``'g'`` flag; Spark's
    regexp_replace is global by default).
    """
    cleaned = F.regexp_replace(
        F.lower(F.col(text_col)), r"[\x00-\x1f]", " "
    )
    norm = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return df.withColumns(
        {
            "norm_text": norm,
            "n_chars_norm": F.length(norm),
            "chars_removed": F.length(F.col(text_col)) - F.length(norm),
        }
    )


def with_dup_ngram_fraction(
    df: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated-n-gram fraction: for every document, the share of
    its stride-1 ``n``-token windows that occur MORE THAN ONCE
    corpus-wide (multiplicity counted across all docs, including
    repeats within the same doc) — the RefinedWeb-style substring-
    duplication signal used to filter boilerplate-heavy documents,
    and the stride-1 sibling of :func:`~eggv_spark.operators.dedupe.
    passage_dedup`'s disjoint chunks.

    Scale shape: windows explode once (the n-gram array is built with
    zip_with, O(tokens) per row), the global frequency table is keyed
    on the window's md5 (16-byte shuffle keys, map-side combine
    absorbs the boilerplate head), and the per-doc rollup rides the
    count⋈windows join.  Three exchanges, same as passage dedup —
    and the same Zipf-head skew posture (see
    :func:`~eggv_spark.operators.dedupe.passage_dedup`): the count
    shuffle partial-combines head keys away, and the join-back
    streams only the dup-only frequency table (left join, missing
    keys coalesced to 1) so AQE can broadcast it or skew-split the
    probe side.
    """
    windows = df.select(
        id_col,
        F.explode(ngrams_col(tokens_col(text_col), n)).alias("_w"),
    ).select(id_col, F.md5("_w").alias("_h"))
    freq = windows.groupBy("_h").agg(F.count("*").alias("_n"))
    dup_freq = freq.filter(F.col("_n") > 1)
    joined = windows.join(dup_freq, "_h", "left").withColumn(
        "_n", F.coalesce("_n", F.lit(1))
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias(
            "n_dup_windows"
        ),
        F.round(
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("dup_ngram_frac"),
    )


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence segmentation (1->N): split on terminal punctuation
    runs followed by whitespace (``[.!?]+\\s+`` — RE2-safe, no
    lookbehind, so the identical regex runs in any oracle engine),
    drop empty segments, and emit (id, sentence_idx, sentence,
    n_chars) with the index assigned AFTER filtering so both engines
    number identically.

    Pure Column work: split -> filter -> posexplode, shuffle-free;
    the per-sentence rows inherit the document's partitioning, which
    is what downstream per-sentence quality scoring wants.
    """
    segments = F.filter(
        F.split(F.col(text_col), r"[.!?]+\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    return df.select(
        id_col, F.posexplode(segments).alias("sentence_idx", "sentence")
    ).select(
        id_col,
        "sentence_idx",
        "sentence",
        F.length("sentence").cast("int").alias("n_chars"),
    )


def temperature_weights(
    df: DataFrame,
    domain_col: str = "source",
    n_tokens_col: str = "n_tokens",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled sampling distribution (the multilingual
    ``p^alpha`` rule, Conneau & Lample 2019 §3.1): target share
    ``q_i = p_i^alpha / Σ_j p_j^alpha`` where ``p_i`` is the domain's
    token share.  ``alpha=1`` keeps the natural mixture, ``alpha=0``
    is uniform; between, low-resource domains are upsampled without
    letting the head domains vanish.  ``sample_weight = q_i / p_i``
    is the per-domain multiplier a sampler applies.

    Same shuffle shape as :func:`mixture_weights`: one map-side-
    combined domain rollup, then the scalar normalizers ride a 1-row
    broadcast cross join — no driver round-trip at any scale.
    """
    per_domain = df.groupBy(domain_col).agg(
        F.sum(n_tokens_col).alias("n_tokens")
    )
    totals = per_domain.agg(F.sum("n_tokens").alias("_total"))
    with_p = per_domain.crossJoin(F.broadcast(totals)).withColumn(
        "_p", F.col("n_tokens") / F.col("_total")
    )
    z = with_p.agg(F.sum(F.pow("_p", F.lit(alpha))).alias("_z"))
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            domain_col,
            "n_tokens",
            F.round("_p", 4).alias("p_natural"),
            F.round(F.pow("_p", F.lit(alpha)) / F.col("_z"), 4).alias(
                "q_temperature"
            ),
            F.round(
                F.pow("_p", F.lit(alpha)) / F.col("_z") / F.col("_p"), 4
            ).alias("sample_weight"),
        )
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """Mixture DESIGN step: per-domain token shares and the
    importance weight (uniform-target share ÷ actual share) a
    sampler must apply to flatten the mixture — the number you
    compute BEFORE running domain_mix_sample / token_budget_sample,
    and the artifact mixture configs are reviewed against.

    Two tiny aggregations: domain rollup (map-side combined), then
    the corpus total re-broadcast as a 1-row cross join so shares
    and weights stay in-plan — no driver round-trip, no collect.
    """
    per_domain = df.groupBy(domain_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens_col).alias("n_tokens"),
    )
    totals = per_domain.agg(
        F.sum("n_tokens").alias("_total_tokens"),
        F.count("*").alias("_n_domains"),
    )
    return (
        per_domain.crossJoin(F.broadcast(totals))
        .select(
            domain_col,
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_total_tokens"), 4).alias(
                "token_share"
            ),
            F.round(
                F.col("_total_tokens")
                / (F.col("_n_domains") * F.col("n_tokens")),
                4,
            ).alias("uniform_weight"),
        )
    )


def with_hashed_features(
    df: DataFrame, n_buckets: int = 8, text_col: str = "text"
) -> DataFrame:
    """Feature hashing (the hashing trick): fold each document's
    token counts into a fixed-width integer vector by hashing tokens
    into ``n_buckets`` — the dimensionality-capped bag-of-words
    featurizer linear classifiers train on at corpus scale (no
    vocabulary build, no global state, no shuffle).

    Buckets use the engine-portable md5 hash (dedupe.base_hash
    formula) so the vector reproduces bit-identically in SQL.  Cost
    is O(n_buckets · tokens) per row in codegen — fine for the small
    bucket counts the trick is used with; raise buckets via several
    independent columns rather than one giant loop.
    """
    from eggv_spark.operators.dedupe import base_hash

    toks = tokens_col(text_col)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.size(
            F.filter(toks, lambda t: F.pmod(base_hash(t), n_buckets) == i)
        ),
    )
    return df.withColumns(
        {"feature_vec": vec, "n_tokens": F.size(toks)}
    )


def zipf_slope(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus Zipf-fit diagnostic: OLS slope of ln(freq) ~ ln(rank)
    over the unigram frequency table (a healthy natural-language
    corpus runs slope ≈ -1; a templated/duplicated corpus flattens
    or steepens).  Pipeline: tokenize → one map-side-combined count
    shuffle → global rank (single pass over the DISTINCT-term table,
    which is vocabulary-sized, not corpus-sized — the only global
    window here orders ~|V| rows, fine at any corpus scale) → moments
    fold to one row.  Ties rank deterministically (freq desc, term
    asc)."""
    toks = df.select(
        F.explode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("term")
    ).filter(F.col("term") != "")
    freqs = toks.groupBy("term").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = freqs.select(
        F.log(F.col("freq").cast("double")).alias("lf"),
        F.log(F.row_number().over(w).cast("double")).alias("lr"),
    )
    slope = F.covar_samp(F.col("lr"), F.col("lf")) / F.var_samp(F.col("lr"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            F.avg("lf") - slope * F.avg("lr"), 4
        ).alias("intercept"),
    )


def source_vocab_jaccard(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard similarity between document groups
    (sources/domains/shards) — the corpus-composition diagnostic: near-
    identical vocabularies across "different" sources flag mirrored or
    templated scrapes before any expensive doc-level dedup runs.

    One distinct-(group, term) pass over the corpus, then a term-keyed
    self-join (shuffle on term — each term contributes its group-pair
    combinations, never an all-docs product), group sizes broadcast
    back.  |groups|² output rows."""
    terms = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    sizes = terms.groupBy("g").agg(F.count("*").alias("n"))
    a = terms.select(F.col("g").alias("src_a"), "term")
    b = terms.select(F.col("g").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("g").alias("src_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("g").alias("src_b"), F.col("n").alias("_nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    thresholds: "Sequence[float]" = (0.5, 0.9, 0.95, 0.99),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: for each coverage threshold,
    the number of highest-frequency word types needed so that their
    occurrences cover that share of the corpus — the first question of
    vocabulary construction ("how big must the vocab be for ≤1% OOV?").

    Pipeline: token counts (one map-side-combined shuffle over the
    corpus), a cumulative-count window over the VOCAB-sized table
    ranked by (count desc, token asc — a total order, so the curve is
    deterministic), then a threshold probe.  The cumulative window is
    the same single-reducer posture as ``ks_statistic``: it runs over
    type counts, not corpus rows (≈10⁵–10⁷ rows even at 100 TB); if
    the vocabulary itself outgrows one task, the decomposition is the
    two-phase bucketed prefix sum (per-bucket partials + broadcast
    bucket offsets) over the identical ordering.
    """
    counts = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count("*").alias("_c"))
    )
    w = Window.orderBy(F.col("_c").desc(), F.col("_tok").asc())
    curve = counts.select(
        F.row_number().over(w).alias("_rank"),
        F.sum("_c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    )
    total = counts.agg(F.sum("_c").alias("_total"))
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    probes = total.select("_total", thr)
    return (
        curve.join(F.broadcast(probes))
        .filter(F.col("_cum") >= F.col("threshold") * F.col("_total"))
        .groupBy("threshold")
        .agg(
            F.min("_rank").alias("vocab_size"),
            F.min("_cum").alias("covered_tokens"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model scoring — the step up from
    :func:`unigram_logprob`: each document's mean
    ln(λ·c(w₋₁w)/c(w₋₁) + (1−λ)·c(w)/N), with both models estimated
    from the corpus itself.  Flags out-of-distribution word ORDER,
    not just vocabulary (the unigram model cannot tell scrambled text
    from prose).

    Plan shape: bigram pairs build shuffle-free per row
    (``arrays_zip`` of the two token-array slices — no posexplode
    self-join); bigram counts get one map-side-combined shuffle and
    join back ON THE PAIR KEY (the bigram table is corpus-vocabulary
    sized — NOT broadcastable at scale, unlike the unigram table
    which is); unigram/context counts and the 1-row total ride
    broadcast joins.  Documents with fewer than 2 tokens have no
    bigrams and drop out (consistently in any engine)."""
    toks = df.select(id_col, tokens_col(F.col(text_col)).alias("_t"))
    n = F.size("_t")
    pairs = toks.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, F.greatest(n - 1, F.lit(0))),
                F.expr("slice(_t, 2, greatest(size(_t) - 1, 0))"),
            )
        ).alias("_p"),
    ).select(
        id_col,
        F.col("_p.0").alias("prev"),
        F.col("_p.1").alias("cur"),
    )
    uni = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_term"))
    )
    total = uni.agg(F.sum("n_term").alias("n_total"))
    big = pairs.groupBy("prev", "cur").agg(F.count("*").alias("n_big"))
    ctx = uni.select(F.col("term").alias("prev"),
                     F.col("n_term").alias("n_prev"))
    cur = uni.select(F.col("term").alias("cur"),
                     F.col("n_term").alias("n_cur"))
    scored = (
        pairs.join(big, ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(cur), "cur")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_logp",
            F.log(
                F.lit(lam) * (F.col("n_big") / F.col("n_prev"))
                + F.lit(1.0 - lam) * (F.col("n_cur") / F.col("n_total"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_logp"), 4).alias("avg_logprob"),
    )


def with_code_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose signals for corpus routing (code wants different
    tokenization/dedup than prose): brace/semicolon density, code-
    keyword hits, symbol ratio, and a conjunctive ``is_code`` flag.
    Pure regexp_count expressions — JVM-side, one projection, no
    shuffle."""
    t = F.col(text_col)
    n_braces = F.regexp_count(t, F.lit(r"[{}]"))
    n_semis = F.regexp_count(t, F.lit(";"))
    n_kw = F.regexp_count(
        t, F.lit(r"\b(function|return|import|def|class|var|const)\b")
    )
    n_sym = F.regexp_count(t, F.lit(r"[{}();=<>\[\]]"))
    symbol_ratio = F.round(n_sym / F.greatest(F.length(t), F.lit(1)), 4)
    is_code = ((n_braces > 0) & (n_kw > 0)).cast("int")
    return df.select(
        "*",
        n_braces.alias("n_braces"),
        n_semis.alias("n_semicolons"),
        n_kw.alias("n_code_keywords"),
        symbol_ratio.alias("symbol_ratio"),
        is_code.alias("is_code"),
    )


def strip_markdown(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Markdown → plain text for training-corpus cleaning: inline
    links collapse to their anchor text, emphasis markers and ATX
    heading prefixes drop, fenced-code markers drop.  A
    regexp_replace chain (JVM, no UDF); reports per-doc original/
    stripped lengths and the link/heading counts so a quality filter
    can gate on markup density."""
    t = F.col(text_col)
    n_links = F.regexp_count(t, F.lit(r"\[[^\]]*\]\([^)]*\)"))
    n_headings = F.regexp_count(t, F.lit(r"(^|\n)#+ "))
    stripped = F.regexp_replace(t, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    stripped = F.regexp_replace(stripped, r"(^|\n)#+ +", r"$1")
    stripped = F.regexp_replace(stripped, r"(\*\*|__|```)", "")
    return df.select(
        "*",
        n_links.alias("n_links"),
        n_headings.alias("n_headings"),
        F.length(t).alias("md_len"),
        F.length(stripped).alias("stripped_len"),
        stripped.alias("stripped_text"),
    )


def with_unicode_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-class profile per document — the cheap first-pass
    curation fingerprint (OCR garbage, boilerplate tables, and
    non-prose content all skew these ratios): printable-ASCII,
    digit, uppercase, punctuation, and whitespace fractions of the
    character count.  One projection of regexp_counts."""
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1))
    def ratio(pat):
        return F.round(F.regexp_count(t, F.lit(pat)) / n, 4)
    return df.select(
        "*",
        F.length(t).alias("n_chars_text"),
        ratio(r"[ -~]").alias("ascii_ratio"),
        ratio(r"[0-9]").alias("digit_ratio"),
        ratio(r"[A-Z]").alias("upper_ratio"),
        ratio(r"[.,!?;:'\"()-]").alias("punct_ratio"),
        # explicit class, not \s: Java's \s includes vertical tab,
        # RE2's (DuckDB oracle) does not — OCR garbage is exactly the
        # input this operator targets, so the engines must agree
        ratio(r"[ \t\n\f\r]").alias("space_ratio"),
    )


def novelty_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document novelty as the mean inverse document frequency of its
    DISTINCT tokens: boilerplate-heavy docs (all common words) score
    low, rare-vocabulary docs high — a cheap curation signal that
    needs no model.  idf = ln(N / df_t) over the distinct
    (doc, token) projection; two keyed aggregations + one broadcast
    of the corpus size."""
    pairs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("_tok"),
    )
    n_docs = df.agg(F.count("*").alias("_n"))
    dfreq = pairs.groupBy("_tok").agg(F.count("*").alias("_df"))
    scored = (
        pairs.join(dfreq, "_tok")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            F.round(
                F.avg(F.log(F.col("_n") / F.col("_df"))), 4
            ).alias("novelty_idf"),
        )
    )
    return scored.withColumnRenamed("_id", id_col)


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation mining by pointwise mutual information: PMI(a, b)
    = ln(p(ab) / (p(a) p(b))) over adjacent token pairs, keeping
    bigrams seen >= ``min_count`` times and ranking by (PMI desc,
    bigram) — a RANK cutoff, so the selected set is engine-identical.
    The probability denominators come from the unigram counts of the
    SAME tokenization; two grouped passes + one tiny top-N window."""
    toks = df.select(tokens_col(text_col).alias("_t"))
    uni = toks.select(F.explode("_t").alias("_w")).groupBy("_w").agg(
        F.count("*").alias("_cw")
    )
    n_uni = uni.agg(F.sum("_cw").alias("_n"))
    bi_all = (
        toks.select(F.explode(ngrams_col(F.col("_t"), 2)).alias("_bg"))
        .groupBy("_bg")
        .agg(F.count("*").alias("_cbg"))
    )
    # p(ab)'s denominator is ALL bigram occurrences — summing after
    # the min_count filter would inflate every PMI by the constant
    # ln(N_all / N_surviving)
    n_bi = bi_all.agg(F.sum("_cbg").alias("_nb"))
    bi = bi_all.filter(F.col("_cbg") >= min_count)
    parts = F.split("_bg", " ")
    scored = (
        bi.withColumn("_wa", F.get(parts, 0))
        .withColumn("_wb", F.get(parts, 1))
        .join(uni.withColumnRenamed("_w", "_wa")
              .withColumnRenamed("_cw", "_ca"), "_wa")
        .join(uni.withColumnRenamed("_w", "_wb")
              .withColumnRenamed("_cw", "_cb"), "_wb")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.log(
        (F.col("_cbg") / F.col("_nb"))
        / ((F.col("_ca") / F.col("_n")) * (F.col("_cb") / F.col("_n")))
    )
    ranked = scored.select(
        F.col("_bg").alias("bigram"),
        F.col("_cbg").alias("n_bigram"),
        F.round(pmi, 4).alias("pmi"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("pmi").desc(), "bigram")
        ),
    )
    return ranked.filter(F.col("rank") <= top_n)


def hapax_stats(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Vocabulary-growth profile per corpus slice: vocabulary size,
    hapax legomena (tokens seen exactly once IN THE SLICE), the
    hapax fraction of the vocabulary, and the type-token ratio —
    the classic signals for synthetic/templated text (low hapax,
    low TTR) vs natural prose.  Two keyed map-side-combined
    aggregations; nothing touches the raw text twice."""
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(tokens_col(text_col)).alias("_tok"),
    )
    per_tok = toks.groupBy("_g", "_tok").agg(F.count("*").alias("_n"))
    return per_tok.groupBy("_g").agg(
        F.sum("_n").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum((F.col("_n") == 1).cast("long")).alias("n_hapax"),
        F.round(
            F.sum((F.col("_n") == 1).cast("long")) / F.count("*"), 6
        ).alias("hapax_frac"),
        F.round(F.count("*") / F.sum("_n"), 6).alias("type_token_ratio"),
    ).withColumnRenamed("_g", group_col)


def c4_line_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep
    only lines that end in terminal punctuation AND have at least
    ``min_words`` words, and drop any line containing a curly brace
    or the "lorem ipsum" / "javascript" boilerplate markers; a page
    then survives only if at least ``min_kept_lines`` lines remain.
    The published recipe behind the C4 corpus, complementing the
    Gopher repetition gates in :func:`quality_filter`.

    Everything is higher-order array functions over ONE split of the
    text — shuffle-free per-row Column expressions (no UDF, no
    explode), so the filter composes with scan pruning at any scale.
    Staged for the round-7 registry window."""
    lines = F.split(F.col(text_col), "\n")

    def _keep(line: Column) -> Column:
        t = F.trim(line)
        low = F.lower(t)
        return (
            t.rlike(r'[.!?"’”]$')
            & (F.size(F.split(t, r"\s+")) >= min_words)
            & ~low.contains("{")
            & ~low.contains("lorem ipsum")
            & ~low.contains("javascript")
        )

    kept = F.filter(lines, _keep)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        (F.size(kept) >= min_kept_lines).alias("page_ok"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def vocab_jsd(
    df: DataFrame,
    group_col: str,
    text_col: str,
    slice_a: str,
    slice_b: str,
) -> DataFrame:
    """Jensen–Shannon divergence between two corpus slices' unigram
    distributions — the bounded, symmetric drift monitor (0 =
    identical, ln 2 = disjoint vocabularies), complementing the
    binned PSI in aggregates.population_stability with a
    full-vocabulary comparison that needs no binning choices.

    JSD = ½ Σ p ln(p/m) + ½ Σ q ln(q/m) with m = (p+q)/2; tokens
    absent from one side contribute p·ln 2 exactly (handled by the
    full-outer join's null→0 coalesce, no epsilon smoothing).  Two
    map-side-combined token counts, one vocabulary-sized join, one
    reduce — nothing touches raw text twice.  Staged for the round-7
    registry window."""
    toks = df.filter(
        F.col(group_col).isin([slice_a, slice_b])
    ).select(
        F.col(group_col).alias("_g"),
        F.explode(tokens_col(text_col)).alias("_tok"),
    )
    counts = toks.groupBy("_tok").agg(
        F.sum((F.col("_g") == slice_a).cast("long")).alias("_ca"),
        F.sum((F.col("_g") == slice_b).cast("long")).alias("_cb"),
    )
    tot = counts.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("_ca") / F.col("_na")
    q = F.col("_cb") / F.col("_nb")
    m = (p + q) / 2.0
    # x ln(x/m) with x→0 limit 0: gate the log behind x > 0
    term = (
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    return j.agg(
        F.any_value("_na").alias("n_tokens_a"),
        F.any_value("_nb").alias("n_tokens_b"),
        F.count("*").alias("vocab_union"),
        F.sum((F.col("_ca") > 0).cast("long")).alias("vocab_a"),
        F.sum((F.col("_cb") > 0).cast("long")).alias("vocab_b"),
        F.round(F.sum(term), 6).alias("jsd_nats"),
        F.round(F.sum(term) / F.lit(0.6931471805599453), 6)
        .alias("jsd_normalized"),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """The BPE tokenizer-training inner loop (Sennrich et al. 2016)
    as a fully-lazy Spark plan: per merge step, count adjacent symbol
    pairs weighted by word frequency, pick the most frequent pair
    (ties broken by pair string — deterministic across engines), and
    apply the merge greedily left-to-right to every word.  Returns
    the merge table: (step, pair_a, pair_b, merged, pair_count).

    Shape per step: pair counts are a grouped aggregation over the
    word-frequency table (VOCABULARY-sized, not corpus-sized — the
    one corpus pass happens once up front), the argmax pair is a
    1-row frame broadcast back, and the merge itself is an array fold
    (``F.aggregate``) inside whole-stage codegen.  No driver-side
    collect anywhere: ``n_merges`` steps are ``n_merges`` broadcast
    joins in ONE lazy plan, the same posture as
    ``similarity.kmeans_iteration``.  Each step's vocabulary frame is
    eagerly localCheckpoint-ed — materialized AND lineage-truncated.
    Round-8 lesson, twice over: (1) the original "fully lazy" form
    (persist, no count, no unpersist) was 2-3x slower and wildly
    variable (11-31 s on an idle sf0.1 host) — lazy persists do not
    deduplicate CONCURRENT first computations, so the merge-row
    branches and the apply-side guards raced to recompute the same
    uncached vocab frames, and every invocation leaked ~7 cached
    vocabulary frames whose GC/eviction churn compounded across
    runs; (2) persist+count alone is STILL not enough, because the
    plan TREE of step k embeds every earlier step's fold twice (the
    argmax row and the fold input), so the printed plan grows
    ~2^steps and AQE's explainString overflows the JVM string limit
    by step 6 of the composed train+apply query.  localCheckpoint
    solves both: flat leaf plans and one tiny vocabulary-sized job
    per merge.  The abandoned step RDDs stay persisted until the
    ContextCleaner sees their JVM objects collected, which is not
    guaranteed: the benchmark's traced run
    (``perfbench/run.py --trace 1``) still counts persisted RDDs after
    a Python and JVM GC (``materialize.persisted_rdds_after`` is 2 on
    gvf_annotate and 9 on registry_mix).  At tokenizer scale (30k+
    merges) the same call doubles as the every-few-hundred-rounds
    lineage cut."""
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
        .select(F.split("_w", "").alias("_s"), "_f")
    )
    merges = []
    for step in range(1, n_merges + 1):
        # localCheckpoint(eager): materialize AND truncate lineage.
        # persist-only is not enough here — the plan TREE of step k
        # embeds every earlier step's fold twice (via the argmax row
        # and the fold input), so the printed plan grows ~2^k and
        # AQE's explainString overflows the JVM string limit by step
        # 6 of the composed train+apply query; checkpointed frames
        # are flat leaves.  The abandoned step RDDs are released only
        # if the ContextCleaner sees them collected (not guaranteed;
        # see the docstring).
        words = words.transform(materialize)
        n1 = F.greatest(F.size("_s") - 1, F.lit(0))
        pair_counts = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice("_s", 1, n1),
                        F.slice("_s", 2, n1),
                        lambda x, y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    )
                ).alias("_p"),
                "_f",
            )
            .groupBy("_p")
            .agg(F.sum("_f").alias("_cnt"))
        )
        best = (
            pair_counts.orderBy(
                F.col("_cnt").desc(),
                F.col("_p.a"), F.col("_p.b"),
            )
            .limit(1)
            .select(
                F.col("_p.a").alias("_ba"),
                F.col("_p.b").alias("_bb"),
                F.col("_cnt").alias("_bcnt"),
            )
            # flat 1-row leaf: the merge table and the next fold both
            # read this row without re-running the TakeOrdered
            .transform(materialize)
        )
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("_ba").alias("pair_a"),
                F.col("_bb").alias("pair_b"),
                F.concat("_ba", "_bb").alias("merged"),
                F.col("_bcnt").alias("pair_count"),
            )
        )
        # apply the merge: greedy left-to-right fold over each word's
        # symbols; the chosen pair rides in as broadcast columns
        words = words.crossJoin(F.broadcast(best)).select(
            F.aggregate(
                "_s",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    # try_element_at: NULL (not an ANSI error) on the
                    # empty accumulator of the first fold step
                    (F.try_element_at(acc, F.lit(-1)) == F.col("_ba"))
                    & (x == F.col("_bb")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat("_ba", "_bb")),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("_s"),
            "_f",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    # the union of n_merges flat 1-row leaves — tiny and already
    # materialized; nothing data-sized stays referenced
    return out


def bpe_train_with_sizes(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Run the BPE merge loop ONCE, returning both the merge table
    and the finished word→symbol-count map.

    The train/apply composition (`bpe_train_merges` then
    `bpe_apply_merges`) runs the vocabulary merge loop TWICE — the
    train loop drops the word string before folding, so the apply
    side has to rebuild the whole loop from the merge table via
    ``bpe_word_sizes``.  Carrying the word column through the train
    fold makes the second loop free: the final fold state IS the
    word→n_symbols map.  Measured 3.69 s -> 2.34 s at sf0.1 on
    identical output (5000/5000 rows byte-equal).  Same checkpoint
    discipline as `bpe_train_merges` (see its docstring for why
    eager localCheckpoint, not persist)."""
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
        .select("_w", F.split("_w", "").alias("_s"), "_f")
    )
    merges = []
    for step in range(1, n_merges + 1):
        words = words.transform(materialize)
        n1 = F.greatest(F.size("_s") - 1, F.lit(0))
        pair_counts = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice("_s", 1, n1),
                        F.slice("_s", 2, n1),
                        lambda x, y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    )
                ).alias("_p"),
                "_f",
            )
            .groupBy("_p")
            .agg(F.sum("_f").alias("_cnt"))
        )
        best = (
            pair_counts.orderBy(
                F.col("_cnt").desc(),
                F.col("_p.a"), F.col("_p.b"),
            )
            .limit(1)
            .select(
                F.col("_p.a").alias("_ba"),
                F.col("_p.b").alias("_bb"),
                F.col("_cnt").alias("_bcnt"),
            )
            .transform(materialize)
        )
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("_ba").alias("pair_a"),
                F.col("_bb").alias("pair_b"),
                F.concat("_ba", "_bb").alias("merged"),
                F.col("_bcnt").alias("pair_count"),
            )
        )
        words = words.crossJoin(F.broadcast(best)).select(
            "_w",
            F.aggregate(
                "_s",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.try_element_at(acc, F.lit(-1)) == F.col("_ba"))
                    & (x == F.col("_bb")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat("_ba", "_bb")),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("_s"),
            "_f",
        )
    word_sizes = words.select(
        "_w", F.size("_s").alias("_n_syms")
    ).transform(materialize)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out, word_sizes


def label_chi2_terms(
    df: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
    top_n: int = 10,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Per-class discriminative terms by chi-square feature selection
    (the classic text-classification recipe): for each (term, label),
    the 2×2 presence/absence contingency chi2 over DOCUMENT
    frequencies — which tokens most separate a class from the rest of
    the corpus.  Curation use: surfacing source-specific boilerplate
    and leakage markers before training.

    One distinct (doc, term) projection, one (term, label)
    document-frequency aggregation joined against broadcast term and
    label marginals, chi2 assembled in whole-stage codegen, rank
    cutoff by (chi2 desc, term) per label — engine-identical
    selection.  Staged for the round-7 registry window."""
    pairs = df.select(
        F.col(label_col).alias("_l"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("_t"),
    )
    n_docs_df = df.agg(F.count("*").alias("_n"))
    per_label = df.groupBy(F.col(label_col).alias("_l")).agg(
        F.count("*").alias("_nl")
    )
    per_term = pairs.groupBy("_t").agg(F.count("*").alias("_dt"))
    cell = pairs.groupBy("_l", "_t").agg(F.count("*").alias("_a"))
    j = (
        cell.join(F.broadcast(per_term), "_t")
        .filter(F.col("_dt") >= min_doc_freq)
        .join(F.broadcast(per_label), "_l")
        .crossJoin(F.broadcast(n_docs_df))
    )
    # 2x2 cells: a = docs of label WITH term, b = other docs with
    # term, c = label docs without, d = other docs without
    a = F.col("_a").cast("double")
    b = (F.col("_dt") - F.col("_a")).cast("double")
    c = (F.col("_nl") - F.col("_a")).cast("double")
    n = F.col("_n").cast("double")
    d = n - a - b - c
    chi2 = F.try_divide(
        n * (a * d - b * c) ** 2,
        (a + b) * (c + d) * (a + c) * (b + d),
    )
    ranked = j.select(
        F.col("_l").alias(label_col),
        F.col("_t").alias("term"),
        F.col("_a").alias("label_doc_freq"),
        F.col("_dt").alias("corpus_doc_freq"),
        F.round(chi2, 4).alias("chi2"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(label_col)
            .orderBy(F.col("chi2").desc(), "term")
        ),
    )
    return ranked.filter(F.col("rank") <= top_n)


def perplexity_bins(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bins: int = 3,
) -> DataFrame:
    """CCNet-style quality binning (Wenzek et al. 2020): score every
    document with the corpus-unigram LM (:func:`unigram_logprob`),
    cut the score distribution into ``n_bins`` equal-probability
    buckets (head = best-scoring third under the default 3), and
    report each bucket's document count, mean score, and token mass —
    the standard "keep head, sample middle, drop tail" curation
    readout.

    Scale shape: bin CUTOFFS are DISCRETE order statistics selected
    from the score HISTOGRAM — one map-combinable groupBy to the
    distinct-4dp-score frame (small: bounded by score granularity,
    the same "vocabulary-sized" posture as the LM itself), one
    cumulative window over that small frame, then cutoff i = the
    smallest score whose cumulative count reaches ⌈n·i/k⌉ (exact
    integer threshold).  Documents are then assigned by pure
    comparison against the broadcast cutoffs, fully parallel.  (A
    global ntile window would rank-partition exactly but serializes
    the whole docs frame through one task.)

    Discrete — NOT interpolated — cutoffs are the determinism fix
    (round 8): an interpolated percentile whose index lands at the
    EDGE of a tie run resolves to the run value in one engine and a
    hair above it in another, flipping the entire tie mass between
    bins (observed at sf0.1: a 121-doc mass at the 2/3 cutoff).  A
    cutoff that IS a data value makes assignment purely ORDINAL, so
    any engine computing the same score multiset bins identically;
    ties at a cutoff still go to the better bin (``>=``)."""
    scored = unigram_logprob(df, text_col, id_col)
    hist = scored.groupBy("avg_logprob").agg(F.count("*").alias("_c"))
    wcum = Window.orderBy("avg_logprob").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "avg_logprob", "_c", F.sum("_c").over(wcum).alias("_cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("_c").alias("_n"))))
    cuts = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(f"(_n * {i} + {n_bins - 1}) div {n_bins}"),
                    F.col("avg_logprob"),
                )
            ).alias(f"_c{i - 1}")
            for i in range(1, n_bins)
        ]
    )
    fracs = list(range(1, n_bins))
    j = scored.crossJoin(F.broadcast(cuts))
    # bin assignment counts cutoffs the score REACHES (>=): a doc
    # exactly at a cutoff goes to the better bin, so a mass of tied
    # top scores (cutoff == their value) lands in the head, not the
    # tail.  Emitted with head = 1 labels.
    bin_idx = F.lit(1)
    for i in range(len(fracs)):
        bin_idx = bin_idx + (F.col("avg_logprob") >= F.col(f"_c{i}")).cast(
            "int"
        )
    binned = j.select(
        (F.lit(n_bins + 1) - bin_idx).alias("bin"),  # 1 = head
        "avg_logprob", "n_tokens",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_sizes: DataFrame | None = None,
) -> DataFrame:
    """Apply a trained BPE merge table (the output of
    :func:`bpe_train_merges`) to a corpus and report each document's
    BPE token count — the tokenizer-application half of the BPE pair,
    and the number every token-budget/packing decision downstream
    actually consumes.

    Plan: the merge loop runs over the DISTINCT-WORD table
    (vocabulary-sized), applying step i's pair as a broadcast 1-row
    join + greedy left-to-right array fold; the corpus joins the
    finished word→n_symbols map once at the end (the token stream
    shuffles once).  ``n_merges`` bounds the unroll — the caller
    knows it because they trained the table.

    Two hardening points (round-7 advice): (1) the step lookup is
    GUARDED — a merge table missing (or duplicating) a step ≤
    ``n_merges`` raises in-plan instead of silently emptying the
    vocabulary through a crossJoin with an empty frame (the guard
    rides the consumed pair column, so Catalyst cannot prune it);
    (2) each step's vocabulary frame is materialized eagerly and the
    PREVIOUS step's cache dropped, so live cache is one vocab copy,
    not ``n_merges`` accumulating copies — the discipline a 30k-merge
    tokenizer run needs.

    ``word_sizes``: a precomputed word→symbol-count map (e.g. from
    :func:`bpe_train_with_sizes`, which gets it for free from the
    train fold) skips the apply-side merge loop entirely."""
    if word_sizes is None:
        word_sizes = bpe_word_sizes(df, merges, n_merges, text_col)
    terms = df.select(id_col, F.explode(tokens_col(text_col)).alias("_w"))
    return (
        terms.join(F.broadcast(word_sizes), "_w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_word_sizes(
    df: DataFrame,
    merges: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """The vocabulary half of BPE application: run the merge loop over
    the corpus's DISTINCT words and return the finished
    (``_w``, ``_n_syms``) word→symbol-count map — vocabulary-sized,
    broadcastable, the reusable kernel behind
    :func:`bpe_apply_merges` and the tokenizer-pipeline composite.
    See :func:`bpe_apply_merges` for the guard and cache discipline."""
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("_w"))
        .distinct()
        .select("_w", F.split("_w", "").alias("_s"))
    )
    for step in range(1, n_merges + 1):
        best = F.broadcast(
            merges.filter(F.col("step") == step)
            .agg(
                F.count("*").alias("_k"),
                F.any_value("pair_a").alias("_a0"),
                F.any_value("pair_b").alias("_b0"),
            )
            .select(
                F.when(
                    F.col("_k") != 1,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "bpe_apply_merges: merge table has "
                            ),
                            F.col("_k").cast("string"),
                            F.lit(
                                f" rows for step {step} (expected"
                                " exactly 1) — merges/n_merges"
                                " mismatch"
                            ),
                        )
                    ),
                ).otherwise(F.col("_a0")).alias("_ba"),
                F.col("_b0").alias("_bb"),
            )
        )
        words = words.crossJoin(best).select(
            "_w",
            F.aggregate(
                "_s",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.try_element_at(acc, F.lit(-1)) == F.col("_ba"))
                    & (x == F.col("_bb")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat("_ba", "_bb")),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("_s"),
        # eager localCheckpoint: materializes the step (firing the
        # step guard early and loudly), truncates the lineage (the
        # composed train+apply plan tree otherwise grows ~2^steps in
        # print size — see bpe_train_merges).  The abandoned step
        # RDDs are released only if the ContextCleaner sees them
        # collected, which is not guaranteed (see bpe_train_merges)
        ).transform(materialize)
    # hand back the SMALL (word, count) map as a flat leaf — the
    # heavy symbol-array frame goes out of scope with the loop
    return words.select(
        "_w", F.size("_s").alias("_n_syms")
    ).transform(materialize)


def tokenizer_pipeline(
    df: DataFrame,
    word_sizes: DataFrame,
    budget_tokens: int,
    seq_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """The tokenizer-side training-data pipeline as ONE declarative
    plan: BPE-tokenize (count) every document against a trained
    word→symbol-count map, score each doc by its compression ratio
    (BPE tokens per word — low = compresses well = in-distribution
    for the tokenizer), greedily fill each domain's token budget with
    its best-compressing documents, and assign the selected stream to
    fixed-capacity training sequences — the apply→select→pack chain
    every pretraining loader runs, mirroring
    ``composite_training_mixture``'s shape on the tokenizer axis.

    Scale shape — exactly TWO corpus shuffles (asserted in
    tests/test_plans.py):
    (1) the token stream aggregates to the (doc, domain) grain
        (map-side combinable; the word map joins as a BROADCAST
        before the shuffle, so only doc-grained rows move);
    (2) one window partitioned by domain computes the running token
        total in (quality, id) order — and because budget selection
        keeps a PREFIX of that same ordering, the pack offsets fall
        out arithmetically (start = cum − n; bin = start div
        seq_tokens): the packing costs ZERO additional shuffle, where
        a separate pack_sequences pass would re-shuffle the survivors.
    Deterministic end to end: quality ties break on the id, integer
    token counts, integer bin math."""
    terms = df.select(
        id_col, domain_col,
        F.explode(tokens_col(text_col)).alias("_w"),
    )
    per_doc = (
        terms.join(F.broadcast(word_sizes), "_w")
        .groupBy(id_col, domain_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )
    scored = per_doc.withColumn(
        "bpe_per_word",
        F.round(
            F.col("n_bpe_tokens") / F.col("n_words").cast("double"), 4
        ),
    )
    w = (
        Window.partitionBy(domain_col)
        .orderBy("bpe_per_word", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.withColumn(
        "cum_tokens", F.sum("n_bpe_tokens").over(w)
    ).filter(F.col("cum_tokens") <= budget_tokens)
    return cum.select(
        domain_col, id_col, "n_words", "n_bpe_tokens", "bpe_per_word",
        "cum_tokens",
        F.expr(f"(cum_tokens - n_bpe_tokens) div {int(seq_tokens)}")
        .cast("int").alias("seq_bin"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document — the
    classic readability gate curation pipelines run next to the
    Gopher/C4 heuristics (a corpus whose grade level collapses to 2
    or explodes to 20 is boilerplate or garbage, not prose).

    Counting rules, chosen to be engine-reproducible: sentences =
    non-empty ``[.!?]+`` splits (min 1); words = whitespace tokens
    (min 1); syllables per word = vowel-GROUP count ``[aeiouy]+``
    (min 1 — the standard cheap approximation; no dictionary).  All
    three are exact integers from one projection of regexp counts —
    JVM-side, shuffle-free — and the two scores are fixed affine
    formulas on their exact ratios, rounded 4dp.

    Flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W);
    FK grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.
    Staged for the round-9 registry window."""
    toks = tokens_col(text_col)
    sentences = F.filter(
        F.split(F.col(text_col), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    n_sent = F.greatest(F.size(sentences), F.lit(1))
    n_words = F.greatest(F.size(toks), F.lit(1))
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, s: acc + s,
    )
    n_syl = F.greatest(syl, F.lit(1))
    staged = df.select(
        id_col,
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        n_syl.cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    return staged.select(
        id_col, "n_sentences", "n_words", "n_syllables",
        F.round(
            F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4
        ).alias("flesch"),
        F.round(
            0.39 * wps + 11.8 * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    )


def contamination_report(
    df: DataFrame,
    eval_pred: Column,
    ngram_sizes: Sequence[int] = (3, 5),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval n-gram contamination audit — the REPORT companion
    to :func:`decontaminate` (which removes): for each n-gram size,
    how many distinct eval n-grams also appear in the train slice,
    and how many eval documents carry at least one such overlap.
    This is the number a benchmark-integrity review asks for BEFORE
    deciding to filter.

    ``eval_pred`` marks the eval slice (e.g. ``F.col("source") ==
    "src1"``); everything else is train.  Shape per size: explode to
    distinct (side, ngram), aggregate the train side to a distinct
    set, inner-join for the overlap count and semi-join the eval
    doc→ngram pairs for affected docs — the n-gram frames are
    vocabulary-sized after the distinct, so every join is on the
    reduced side.  Sizes are a small Python loop unioned into one
    plan (2–3 rows out).  Staged for the round-9 registry window."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        eval_pred.alias("_is_eval"),
        tokens_col(text_col).alias("_t"),
    )
    out = None
    for n in ngram_sizes:
        grams = toks.select(
            "_id", "_is_eval",
            F.explode(
                F.array_distinct(ngrams_col(F.col("_t"), n))
            ).alias("_g"),
        )
        train_g = (
            grams.filter(~F.col("_is_eval")).select("_g").distinct()
        )
        eval_pairs = grams.filter(F.col("_is_eval"))
        eval_g = eval_pairs.select("_g").distinct()
        overlap = eval_g.join(train_g, "_g")
        hit_docs = eval_pairs.join(train_g, "_g").select("_id").distinct()
        stats = (
            eval_g.agg(F.count("*").alias("n_eval_ngrams"))
            .crossJoin(
                F.broadcast(
                    overlap.agg(F.count("*").alias("n_overlap"))
                )
            )
            .crossJoin(
                F.broadcast(
                    eval_pairs.select("_id").distinct().agg(
                        F.count("*").alias("n_eval_docs")
                    )
                )
            )
            .crossJoin(
                F.broadcast(
                    hit_docs.agg(F.count("*").alias("n_docs_hit"))
                )
            )
            .select(
                F.lit(n).alias("ngram_size"),
                "n_eval_ngrams", "n_overlap",
                F.round(
                    F.try_divide(
                        F.col("n_overlap"), F.col("n_eval_ngrams")
                    ), 6,
                ).alias("overlap_share"),
                "n_eval_docs", "n_docs_hit",
                F.round(
                    F.try_divide(
                        F.col("n_docs_hit"), F.col("n_eval_docs")
                    ), 6,
                ).alias("docs_hit_share"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def dsir_log_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW
    document by the log-likelihood ratio of its hashed bigram
    features under the TARGET distribution vs the RAW distribution —
    the standard "resample the crawl toward the high-quality slice"
    selection signal (feed the weights to pps/weighted sampling).

    ``target_pred`` marks the target slice; raw = everything else
    (the population being resampled, scored rows).  Features are
    bigrams hashed into ``n_buckets`` buckets with the portable md5
    hash, so both distributions live in a FIXED-size table:
    log-ratio(b) = ln((c_t(b)+a)/(N_t+a·B)) − ln((c_r(b)+a)/(N_r+a·B))
    with add-``a`` smoothing (unseen buckets get a finite ratio).

    Scale shape: two map-side-combinable bucket counts (B rows each),
    the B-row ratio table BROADCAST back, and one corpus pass summing
    each raw doc's feature log-ratios (with multiplicity) — nothing
    data-sized shuffles except the final per-doc aggregation.  Output
    per raw doc: n_features and the 4dp log-weight.  Staged for the
    round-9 registry window."""
    from eggv_spark.operators.dedupe import base_hash

    feats = df.select(
        F.col(id_col).alias("_id"),
        target_pred.alias("_is_target"),
        F.explode(
            ngrams_col(tokens_col(text_col), 2)
        ).alias("_ng"),
    ).select(
        "_id", "_is_target",
        (base_hash(F.col("_ng")) % n_buckets).cast("int").alias("_b"),
    )
    a = float(smoothing)
    tgt = (
        feats.filter(F.col("_is_target"))
        .groupBy("_b").agg(F.count("*").alias("_ct"))
    )
    raw = (
        feats.filter(~F.col("_is_target"))
        .groupBy("_b").agg(F.count("*").alias("_cr"))
    )
    # dense B-row spine so unseen buckets smooth instead of vanish
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("_b")
    )
    totals = (
        tgt.agg(F.sum("_ct").alias("_nt"))
        .crossJoin(raw.agg(F.sum("_cr").alias("_nr")))
    )
    ratios = (
        spine.join(tgt, "_b", "left")
        .join(raw, "_b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "_b",
            (
                _logp_fill("_ct", "_nt", a, n_buckets)
                - _logp_fill("_cr", "_nr", a, n_buckets)
            ).alias("_lr"),
        )
    )
    scored = (
        feats.filter(~F.col("_is_target"))
        .join(F.broadcast(ratios), "_b")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count("*").alias("n_features"),
            F.round(F.sum("_lr"), 4).alias("dsir_logweight"),
        )
    )
    return scored


def _logp_fill(
    count_col: str, total_col: str, a: float, n_buckets: int
) -> Column:
    """Smoothed log-probability of one bucket with NULL counts
    (unseen buckets after the left joins) treated as zero."""
    return F.log(
        (F.coalesce(F.col(count_col), F.lit(0)) + a)
        / (F.col(total_col) + a * n_buckets)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranking of the corpus against a fixed query-term set —
    the classic lexical retrieval scorer (Robertson/Spärck Jones;
    the Lucene ``k1``/``b`` defaults), the exact-match complement to
    the embedding ANN family for "find me training docs about X".

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5))  (always positive).

    Plan shape: document length is a projection; the explode keeps
    ONLY query terms (the filter rides inside the array before the
    explode, so the generated row count is Σ per-doc query-term hits,
    not corpus tokens); tf counts are one map-side-combined shuffle;
    df and the (N, avgdl) scalars are |Q|-row / 1-row broadcasts; the
    final top-k is TakeOrdered on the 4dp-rounded score with an id
    tiebreak — no global sort, and the rounding makes the boundary
    engine-deterministic.  Staged for the round-9 registry window."""
    q = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col).alias("_id"),
        tokens_col(text_col).alias("_t"),
    ).select(
        "_id",
        F.size("_t").alias("_dl"),
        F.filter(
            "_t", lambda t: t.isin(*q) if len(q) > 1 else t == q[0]
        ).alias("_qt"),
    )
    corpus = toks.agg(
        F.count("*").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        toks.filter(F.size("_qt") > 0)
        .select("_id", "_dl", F.explode("_qt").alias("_term"))
        .groupBy("_id", "_dl", "_term")
        .agg(F.count("*").alias("_tf"))
    )
    dfreq = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n_docs") - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5)
                )
                * (F.col("_tf") * (k1 + 1.0))
                / (
                    F.col("_tf")
                    + k1
                    * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.round(F.sum("_s"), 4).alias("bm25"),
        )
    )
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias(id_col), "n_terms_hit", "bm25")
    )


def kneser_ney_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring — the published upgrade
    over :func:`bigram_logprob`'s fixed-λ interpolation: the backoff
    weight is the context's escape mass (absolute discounting) and
    the lower-order model is the CONTINUATION distribution (how many
    distinct contexts a word follows), which famously stops
    "Francisco" from looking probable outside "San Francisco".

    P(w₂|w₁) = (c(w₁w₂)−D)/c(w₁) + D·N₁₊(w₁·)/c(w₁) · P_cont(w₂),
    P_cont(w₂) = N₁₊(·w₂)/N₁₊(··).

    Scoring the training corpus itself means every scored bigram has
    c ≥ 1, so the discounted term is strictly positive for D < 1 and
    the log never sees zero.  Plan shape mirrors bigram_logprob: the
    bigram-stat table (c₁₂ plus the per-context totals and
    continuation-type counts derived from it) joins back on the PAIR
    key; the two unigram-sized tables and the 1-row type total ride
    broadcasts.  Documents with < 2 tokens drop (no bigrams).
    Staged for the round-9 registry window."""
    d = float(discount)
    toks = df.select(id_col, tokens_col(F.col(text_col)).alias("_t"))
    n = F.size("_t")
    pairs = toks.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, F.greatest(n - 1, F.lit(0))),
                F.expr("slice(_t, 2, greatest(size(_t) - 1, 0))"),
            )
        ).alias("_p"),
    ).select(
        id_col,
        F.col("_p.0").alias("prev"),
        F.col("_p.1").alias("cur"),
    )
    big = pairs.groupBy("prev", "cur").agg(F.count("*").alias("n_big"))
    ctx = big.groupBy("prev").agg(
        F.sum("n_big").alias("n_prev"),
        F.count("*").alias("n_types_after"),
    )
    cont = big.groupBy("cur").agg(F.count("*").alias("n_types_before"))
    total_types = big.agg(F.count("*").alias("n_bigram_types"))
    scored = (
        pairs.join(big, ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(cont), "cur")
        .crossJoin(F.broadcast(total_types))
        .withColumn(
            "_logp",
            F.log(
                (F.col("n_big") - d) / F.col("n_prev")
                + F.lit(d)
                * F.col("n_types_after")
                / F.col("n_prev")
                * (
                    F.col("n_types_before")
                    / F.col("n_bigram_types")
                )
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_logp"), 4).alias("avg_kn_logprob"),
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the document's OWN token
    distribution, plus Pielou evenness (H / ln(n_distinct)) — the
    repetitiveness signal the Gopher max-multiplicity stats miss:
    a doc cycling three phrases has low entropy even when no single
    token dominates.

    Entirely in-row (shuffle-free): distinct tokens via
    ``array_distinct``, each distinct token's count via a filtered
    size — O(distinct·tokens) per row in codegen, the
    with_hashed_features trade-off.  Evenness is 0 for single-token
    vocabularies (ln 1 = 0 ⇒ try_divide null ⇒ coalesce), entropy
    rounded 4dp.  Staged for the round-9 registry window."""
    toks = tokens_col(text_col)
    staged = df.select(
        id_col,
        toks.alias("_t"),
        F.array_distinct(toks).alias("_d"),
    ).select(
        id_col,
        F.size("_t").alias("n_tokens"),
        F.size("_d").alias("n_distinct"),
        F.aggregate(
            F.transform(
                "_d",
                lambda w: F.size(
                    F.filter("_t", lambda t: t == w)
                ).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, c: acc
            - (c / F.size("_t"))
            * F.log(c / F.size("_t")),
        ).alias("_h"),
    )
    return staged.filter(F.col("n_tokens") > 0).select(
        id_col, "n_tokens", "n_distinct",
        F.round("_h", 4).alias("entropy"),
        F.coalesce(
            F.round(
                F.try_divide(
                    F.col("_h"), F.log(F.col("n_distinct").cast("double"))
                ),
                4,
            ),
            F.lit(0.0),
        ).alias("evenness"),
    )


def ngram_diversity(
    df: DataFrame,
    by_col: str = "source",
    sizes: Sequence[int] = (1, 2, 3),
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity per corpus slice: for each n-gram size,
    distinct n-grams / total n-grams within each ``by_col`` group —
    the generation-diversity audit (self-BLEU's cheap inverse): a
    slice whose distinct-2 ratio collapses is template/boilerplate
    output, whatever its per-doc quality scores say.

    One explode + one map-side-combinable count per size, all sizes
    unioned into a single plan; every aggregation is (slice, gram)-
    keyed then slice-keyed — vocabulary-bounded after the first
    fold.  Staged for the round-9 registry window."""
    out = None
    for n in sizes:
        toks = tokens_col(text_col)
        grams = df.select(
            F.col(by_col).alias("_g"),
            F.explode(
                toks if n == 1 else ngrams_col(toks, n)
            ).alias("_ng"),
        )
        per_gram = grams.groupBy("_g", "_ng").agg(
            F.count("*").alias("_c")
        )
        stats = per_gram.groupBy("_g").agg(
            F.lit(n).alias("ngram_size"),
            F.sum("_c").alias("total_ngrams"),
            F.count("*").alias("distinct_ngrams"),
            F.round(F.count("*") / F.sum("_c"), 6).alias(
                "diversity"
            ),
        ).select(
            F.col("_g").alias(by_col),
            "ngram_size", "total_ngrams", "distinct_ngrams",
            "diversity",
        )
        out = stats if out is None else out.unionByName(stats)
    return out


RAKE_STOPWORDS = (
    "a", "the", "and", "of", "to", "in", "on", "is", "for", "with",
)


def rake_keywords(
    df: DataFrame,
    top_k: int = 20,
    stopwords: Sequence[str] = RAKE_STOPWORDS,
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ phrase length over its occurrences,
    frequency = occurrence count); a phrase scores the sum of its
    word scores — the classic unsupervised "what is this corpus
    about" extractor, cheaper than TF-IDF top-terms and
    phrase-grained.

    Phrase segmentation is done with a SEPARATOR ENCODING shared by
    any engine: map each stopword token to ``|``, rejoin, split on
    ``|`` — no lookahead regex (RE2-unsafe) and no stateful fold.
    Word stats are one map-side-combinable aggregation over exploded
    (word, phrase_len) pairs; the vocabulary-sized score table joins
    back BY WORD onto exploded phrase words, and the final ranking is
    TakeOrdered on the 4dp-rounded score with a phrase tiebreak.
    Staged for the round-9 registry window."""
    sep_toks = F.transform(
        tokens_col(text_col),
        lambda t: F.when(
            t.isin(*stopwords), F.lit("|")
        ).otherwise(t),
    )
    phrases_arr = F.filter(
        F.transform(
            F.split(F.array_join(sep_toks, " "), r"\|"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    phrases = df.select(
        F.explode(phrases_arr).alias("phrase")
    ).select(
        "phrase",
        F.split(F.col("phrase"), " ").alias("_ws"),
        F.size(F.split(F.col("phrase"), " ")).alias("_len"),
    )
    word_stats = (
        phrases.select(F.explode("_ws").alias("_w"), "_len")
        .groupBy("_w")
        .agg(
            F.count("*").alias("_freq"),
            F.sum("_len").alias("_deg"),
        )
        .select(
            "_w",
            (F.col("_deg") / F.col("_freq")).alias("_score"),
        )
    )
    phrase_scores = (
        phrases.select("phrase", F.explode("_ws").alias("_w"))
        .join(word_stats, "_w")
        .groupBy("phrase")
        .agg(F.sum("_score").alias("_raw"))
    )
    counts = phrases.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences")
    )
    return (
        phrase_scores.join(counts, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            F.round(F.col("_raw") / F.col("n_occurrences"), 4).alias(
                "rake_score"
            ),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase"))
        .limit(top_k)
    )


def log_odds_ratio(
    df: DataFrame,
    group_col: str = "lang",
    group_a: str = "en",
    text_col: str = "text",
    alpha0: float = 500.0,
    top_n: int = 25,
) -> DataFrame:
    """Weighted log-odds-ratio with an informative Dirichlet prior
    (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — WHICH terms
    distinguish corpus slice A from the rest, with a z-score that
    raw frequency ratios and even PMI lack (both over-promote rare
    terms; the Dirichlet prior shrinks low-count terms toward the
    background so surviving terms are both distinctive AND
    attested).  The corpus-comparison dual of ``label_chi2_terms``:
    chi² ranks association strength, log-odds gives a SIGNED,
    variance-normalized effect size per term.

    δ_w = ln[(y_aw + α_w)/(n_a + α₀ − y_aw − α_w)]
        − ln[(y_bw + α_w)/(n_b + α₀ − y_bw − α_w)],
    σ²_w ≈ 1/(y_aw + α_w) + 1/(y_bw + α_w),  z_w = δ_w/σ_w,
    with α_w = α₀ · (y_aw + y_bw)/(n_a + n_b) — the background
    token distribution as the prior, Monroe's informative choice.

    Output: the ``top_n`` most A-distinctive terms (side 'a', rank
    by z desc) and the ``top_n`` most B-distinctive (side 'b', z
    asc), tie-broken by token — RANK cutoffs, engine-identical.
    Rows with a NULL group are excluded (membership unknown ≠ arm
    B).  Tokenization is the shared whitespace front-end.

    Scale: two vocabulary-sized aggregates (token counts per side
    fold map-side), one 1-row totals broadcast, two top-N windows
    over the VOCAB-sized scored frame — nothing document-sized
    shuffles twice."""
    toks = df.filter(F.col(group_col).isNotNull()).select(
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        F.explode(tokens_col(text_col)).alias("_w"),
    )
    counts = toks.groupBy("_w").agg(
        F.sum("_a").alias("_ya"),
        (F.count("*") - F.sum("_a")).alias("_yb"),
    )
    totals = counts.agg(
        F.sum("_ya").alias("_na"), F.sum("_yb").alias("_nb")
    )
    scored = counts.crossJoin(F.broadcast(totals))
    alpha = alpha0 * (F.col("_ya") + F.col("_yb")) / (
        F.col("_na") + F.col("_nb")
    )
    ya, yb = F.col("_ya"), F.col("_yb")
    na, nb = F.col("_na"), F.col("_nb")
    delta = F.log(
        (ya + alpha) / (na + F.lit(alpha0) - ya - alpha)
    ) - F.log((yb + alpha) / (nb + F.lit(alpha0) - yb - alpha))
    sigma2 = 1.0 / (ya + alpha) + 1.0 / (yb + alpha)
    z = delta / F.sqrt(sigma2)
    zs = scored.select(
        F.col("_w").alias("token"),
        ya.alias("count_a"),
        yb.alias("count_b"),
        F.round(z, 4).alias("z_score"),
    )
    w_a = Window.orderBy(F.col("z_score").desc(), "token")
    w_b = Window.orderBy(F.col("z_score").asc(), "token")
    top_a = (
        zs.withColumn("rank", F.row_number().over(w_a))
        .filter(F.col("rank") <= top_n)
        .withColumn("side", F.lit("a"))
    )
    top_b = (
        zs.withColumn("rank", F.row_number().over(w_b))
        .filter(F.col("rank") <= top_n)
        .withColumn("side", F.lit("b"))
    )
    return top_a.unionByName(top_b)


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    graph-centrality member of the keyword trifecta (RAKE scores
    phrase runs, TF-IDF scores corpus contrast; TextRank scores a
    word by the importance of the words it CO-OCCURS with): build
    the word co-occurrence graph over adjacent non-stopword tokens
    and run weighted PageRank on it.

    The graph is vocabulary-sized, so the expensive step — the
    per-document pair extraction — is one explode over the
    ``ngrams_col(…, 2)`` kernel on the STOPWORD-FILTERED token sequence
    (adjacency after filtering, the common simplification, stated
    here as the contract); edges are undirected (both directions
    emitted before the grouped count).  PageRank is the shared
    ``graph.pagerank`` operator — per-iteration broadcast of the
    vocab-sized rank table, map-side-combined contribution sums,
    fixed iteration count.

    Output: the ``top_n`` tokens by (rank 6dp desc, token) — a rank
    cutoff, engine-identical."""
    from eggv_spark.operators.graph import pagerank

    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = df.select(
        F.filter(
            word_tokens_col(text_col),
            lambda t: ~F.array_contains(stop_arr, t),
        ).alias("_t")
    )
    pairs = toks.select(
        F.explode(ngrams_col(F.col("_t"), 2)).alias("_bg")
    )
    parts = F.split("_bg", " ")
    directed = pairs.select(
        F.get(parts, 0).alias("_a"), F.get(parts, 1).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    edges = (
        directed.select("_a", "_b")
        .unionAll(directed.select(
            F.col("_b").alias("_a"), F.col("_a").alias("_b")
        ))
        .groupBy(F.col("_a").alias("src"), F.col("_b").alias("dst"))
        .agg(F.count("*").alias("weight"))
    )
    ranks = pagerank(
        edges, iterations=iterations, damping=damping
    )
    scored = ranks.select(
        F.col("node").alias("token"),
        F.round("rank", 6).alias("rank_score"),
    )
    w = Window.orderBy(F.col("rank_score").desc(), "token")
    return (
        scored.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= top_n)
    )


#: Literal cue sets for the instruction-data miner — data-independent
#: so both engines share them (the decision_stump grid rule).
INSTRUCTION_VERBS = (
    "write", "explain", "describe", "list", "summarize", "translate",
    "create", "give", "make", "find",
)
QUESTION_WORDS = ("what", "how", "why", "when", "where", "which", "who")


def instruction_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Instruction-data mining heuristics — the cheap first-pass
    filter for harvesting instruction-tuning candidates from a web
    corpus (the fasttext-classifier stage trains on what THIS stage
    surfaces): imperative-verb openings, interrogatives, enumerated
    structure, and request phrasing, combined into one score.

    Pure Column expressions over the shared tokenization (no UDFs,
    no regex backtracking risk: enumeration detection is a simple
    anchored pattern).  Weights are declared literals; the score is
    a 2dp-exact sum of flag·weight products — engine-identical.

    Output: doc id + the four flags + instruction_score (0..1).
    Flags: imperative_start (0.35), is_question (0.35 — wh-word
    start or a '?'), has_enumeration (0.2), has_request (0.1)."""
    toks = tokens_col(text_col)
    first = F.get(toks, 0)
    verbs = F.array(*[F.lit(v) for v in INSTRUCTION_VERBS])
    wh = F.array(*[F.lit(w) for w in QUESTION_WORDS])
    imperative = F.coalesce(
        F.array_contains(verbs, first), F.lit(False)
    )
    question = F.coalesce(
        F.array_contains(wh, first), F.lit(False)
    ) | F.col(text_col).contains("?")
    enumerated = F.col(text_col).rlike(r"(^|\n)\s*([0-9]+[.)]|[-*] )")
    request = F.lower(F.col(text_col)).contains("please")
    score = F.round(
        imperative.cast("double") * 0.35
        + question.cast("double") * 0.35
        + enumerated.cast("double") * 0.2
        + request.cast("double") * 0.1,
        2,
    )
    return df.select(
        "doc_id",
        imperative.alias("imperative_start"),
        question.alias("is_question"),
        enumerated.alias("has_enumeration"),
        request.alias("has_request"),
        score.alias("instruction_score"),
    )


def dup_sentence_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Repeated-sentence audit — the C4 / RefinedWeb curation rule
    at its native grain: a sentence whose NORMALIZED form occurs in
    >= ``min_count`` documents corpus-wide is boilerplate (cookie
    banners, nav text, license footers), and a document dominated by
    such sentences is a template, not content.  Reports, per doc,
    how much of it is corpus-duplicated — the score the line-level
    filter thresholds on.

    Grain discipline for 100 TB: sentences explode 1→N but NEVER
    carry text into the shuffle — the corpus count groups on the
    md5 of the lowercased trimmed sentence (fixed-width key,
    map-side combined), the duplicate set joins back on that same
    hash, and the per-doc rollup re-aggregates on the doc key the
    explode inherited.  Distinct DOCS per sentence (count_distinct
    on the doc key), not occurrences, so a doc repeating its own
    sentence isn't counted as corpus duplication.

    Output per doc: (doc_id, n_sentences, n_dup_sentences,
    dup_frac 4dp, dup_chars)."""
    sents = split_sentences(df, text_col, id_col).select(
        id_col,
        "n_chars",
        F.md5(F.lower(F.trim(F.col("sentence")))).alias("_h"),
    )
    corpus = sents.groupBy("_h").agg(
        F.count_distinct(id_col).alias("_docs")
    )
    tagged = sents.join(corpus, "_h").select(
        id_col, "n_chars",
        (F.col("_docs") >= min_count).alias("_dup"),
    )
    return tagged.groupBy(id_col).agg(
        F.count("*").alias("n_sentences"),
        F.sum(F.col("_dup").cast("bigint")).alias("n_dup_sentences"),
        F.round(
            F.sum(F.col("_dup").cast("bigint")) / F.count("*"), 4
        ).alias("dup_frac"),
        F.sum(
            F.when(F.col("_dup"), F.col("n_chars")).otherwise(0)
        ).cast("bigint").alias("dup_chars"),
    )


def hash_collision_audit(
    df: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing collision audit — the QA behind
    txt_hashed_features: at dimension ``n_buckets``, how much of the
    vocabulary collides?  A collision_frac creeping up as the corpus
    grows is the signal to widen the hash dimension before model
    quality quietly degrades.

    Vocabulary = distinct lowercased whitespace tokens (the corpus
    tokenizer); bucket = portable md5 hash mod n_buckets (the same
    base_hash the hashed-features op uses, so the audit measures the
    REAL buckets).  One distinct at vocab grain, one grouped count at
    bucket grain, one keys=[] fold — all exact integers.

    Output: one row (n_terms, n_buckets_used, n_colliding_terms,
    collision_frac, max_bucket_terms)."""
    from eggv_spark.operators.dedupe import base_hash

    vocab = (
        df.select(F.explode(word_tokens_col(text_col)).alias("_t"))
        .distinct()
        .select(F.pmod(base_hash(F.col("_t")), F.lit(n_buckets)).alias("_b"))
    )
    per_bucket = vocab.groupBy("_b").agg(F.count("*").alias("_n"))
    return per_bucket.agg(
        F.sum("_n").alias("n_terms"),
        F.count("*").alias("n_buckets_used"),
        F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0))
        .cast("bigint").alias("n_colliding_terms"),
        F.round(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0))
            / F.sum("_n").cast("double"),
            6,
        ).alias("collision_frac"),
        F.max("_n").alias("max_bucket_terms"),
    )
