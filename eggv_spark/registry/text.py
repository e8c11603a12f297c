"""Text entries over ``documents``: tokenization, quality signals,
language models, keyword extraction and retrieval scoring.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eggv_spark.functions import scalars as SC
from eggv_spark.operators import text_analysis as T
from eggv_spark.operators.text_analysis import RAKE_STOPWORDS
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
    "txt_token_count",
    f"SELECT doc_id, len({_TOKS_SQL}) AS n_tokens,"
    " len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
    "     t -> t <> '')) AS n_words,"
    f" len(list_distinct({_TOKS_SQL})) AS n_distinct_tokens"
    " FROM documents",
)
def _txt_token_count(spark, sf_dir):
    return T.with_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_words", "n_distinct_tokens"
    )


@register(
    "txt_quality_score",
    f"WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents)"
    " SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,"
    " len(t) AS n_tokens,"
    " round(list_sum(list_transform(t, s -> CAST(length(s) AS DOUBLE)))"
    "       / greatest(len(t), 1), 4) AS mean_token_len,"
    " round(CAST(len(list_filter(t, s -> list_contains("
    f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
    "       / greatest(len(t), 1), 4) AS stopword_ratio,"
    " round(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"
    "   AS DOUBLE) / greatest(length(text), 1), 4) AS alnum_ratio"
    " FROM toks",
)
def _txt_quality_score(spark, sf_dir):
    return T.with_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "text_len", "n_tokens", "mean_token_len",
        "stopword_ratio", "alnum_ratio",
    )


@register(
    "txt_lang_id",
    f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),"
    " s AS (SELECT doc_id,"
    + ",".join(
        f" len(list_filter(t, x -> list_contains("
        f"{list(T.LANG_MARKERS[lang])}, x))) AS score_{lang}"
        for lang in T.LANG_MARKERS
    )
    + " FROM toks)"
    " SELECT doc_id, CASE"
    " WHEN score_en >= score_fr AND score_en >= score_es"
    "  AND score_en >= score_de AND score_en >= score_zh THEN 'en'"
    " WHEN score_fr >= score_es AND score_fr >= score_de"
    "  AND score_fr >= score_zh THEN 'fr'"
    " WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'"
    " WHEN score_de >= score_zh THEN 'de'"
    " ELSE 'zh' END AS lang_pred,"
    " score_en, score_fr, score_es, score_de, score_zh FROM s",
)
def _txt_lang_id(spark, sf_dir):
    return T.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "score_en", "score_fr", "score_es",
        "score_de", "score_zh",
    )


@register(
    "txt_fingerprint",
    f"WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),"
    f" sh AS (SELECT doc_id, text, {_SHINGLES_SQL} AS shingles FROM toks)"
    " SELECT doc_id,"
    " md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,"
    " list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_hash"
    " FROM sh",
)
def _txt_fingerprint(spark, sf_dir):
    return T.with_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "content_hash", "min_shingle_hash"
    )


def _repetition_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),
wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c
       FROM w GROUP BY doc_id, word),
wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd, max(c) AS maxc
         FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id,
       list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1]) AS bgs
       FROM toks),
b AS (SELECT doc_id, len(bgs) AS nb, unnest(bgs) AS pair FROM bg),
bc AS (SELECT doc_id, any_value(nb) AS nb, pair, count(*) AS c
       FROM b GROUP BY doc_id, pair),
bagg AS (SELECT doc_id, any_value(nb) AS nb, max(c) AS maxbc
         FROM bc GROUP BY doc_id)
SELECT w.doc_id, CAST(w.n AS INT) AS n_words,
 round((w.n - w.nd) / CAST(greatest(w.n, 1) AS DOUBLE), 4) AS dup_word_frac,
 round(w.maxc / CAST(greatest(w.n, 1) AS DOUBLE), 4) AS max_word_share,
 round(coalesce(b.maxbc, 0)
       / CAST(greatest(coalesce(b.nb, 0), 1) AS DOUBLE), 4) AS top_bigram_share
FROM wagg w LEFT JOIN bagg b ON w.doc_id = b.doc_id
"""


@register("txt_repetition", _repetition_oracle())
def _txt_repetition(spark, sf_dir):
    return T.with_repetition_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "dup_word_frac", "max_word_share",
        "top_bigram_share",
    )


@register(
    "txt_pii_scrub",
    "SELECT c_custkey,"
    " regexp_replace(regexp_replace(regexp_replace("
    "   c_name || ' ' || 'user' || c_custkey || '@example.com'"
    "   || ' ' || '55-123-456-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    "   || ' ' || '10.0.' || c_nationkey || '.1',"
    "  '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),"
    "  '\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),"
    "  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')"
    " AS scrubbed FROM customer",
)
def _txt_pii_scrub(spark, sf_dir):
    """PII redaction over deterministic synthesized text (the corpus
    has no PII, so emails/phones/IPs are composed from customer
    columns, then scrubbed)."""
    c = _t(spark, sf_dir, "customer")
    phone = F.concat(
        F.lit("55-123-456-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    synth = F.concat_ws(
        " ",
        F.col("c_name"),
        F.concat(F.lit("user"), F.col("c_custkey"), F.lit("@example.com")),
        phone,
        F.concat(F.lit("10.0."), F.col("c_nationkey"), F.lit(".1")),
    )
    return c.select(
        "c_custkey", SC.redact_pii(synth).alias("scrubbed")
    )


@register(
    "txt_url_parse",
    "WITH u AS (SELECT doc_id,"
    "  'https://' || source || '.example.com/docs/' || doc_id"
    "  || '?lang=' || lang AS url FROM documents)"
    " SELECT doc_id,"
    " regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS url_host,"
    " regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS url_path,"
    " regexp_extract(url, '^([a-z]+)://', 1) AS url_proto"
    " FROM u",
)
def _txt_url_parse(spark, sf_dir):
    """URL decomposition via Spark's built-in parse_url over
    deterministic synthesized URLs."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"),
    )
    parts = SC.url_parts(url)
    return d.select(
        "doc_id",
        parts["url_host"].alias("url_host"),
        parts["url_path"].alias("url_path"),
        parts["url_proto"].alias("url_proto"),
    )


@register(
    "txt_tfidf",
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
    " tf AS (SELECT doc_id, unnest(t) AS term FROM toks),"
    " tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),"
    " dfreq AS (SELECT term, count(*) AS ndt FROM tfc GROUP BY 1),"
    " n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),"
    " scored AS (SELECT doc_id, term, tf,"
    "  round(tf * (ln((n_docs + 1) / CAST(ndt + 1 AS DOUBLE)) + 1), 4)"
    "   AS tfidf"
    "  FROM tfc JOIN dfreq USING (term) CROSS JOIN n),"
    " ranked AS (SELECT doc_id, term, tf, tfidf,"
    "  CAST(row_number() OVER (PARTITION BY doc_id"
    "   ORDER BY tfidf DESC, term ASC) AS INT) AS rank FROM scored)"
    " SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3",
)
def _txt_tfidf(spark, sf_dir):
    return T.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register(
    "txt_chunk",
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
    " c AS (SELECT doc_id, t,"
    "  CAST(greatest(ceil(len(t) / 32.0), 1) AS INT) AS n FROM toks),"
    " e AS (SELECT doc_id, t,"
    "  unnest(generate_series(0, n - 1)) AS i FROM c)"
    " SELECT doc_id, CAST(i AS INT) AS chunk_idx,"
    " array_to_string(list_slice(t, i * 32 + 1, i * 32 + 32), ' ')"
    "  AS chunk_text,"
    " CAST(len(list_slice(t, i * 32 + 1, i * 32 + 32)) AS INT)"
    "  AS n_tokens"
    " FROM e",
)
def _txt_chunk(spark, sf_dir):
    """Fixed-token-window chunking (training-example prep), 1->N."""
    return T.chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=32)


@register(
    "txt_pack_sequences",
    "WITH toks AS (SELECT doc_id,"
    "  CAST(doc_id % 8 AS INT) AS shard,"
    "  CAST(len(" + _TOKS_SQL + ") AS INT) AS n_tokens FROM documents),"
    " w AS (SELECT doc_id, shard, n_tokens,"
    "  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id"
    "   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset"
    "  FROM toks)"
    " SELECT doc_id, shard, n_tokens, start_offset,"
    " CAST(floor(start_offset / 256.0) AS INT) AS bin_in_shard FROM w",
)
def _txt_pack_sequences(spark, sf_dir):
    """Sharded training-sequence packing by cumulative token offset."""
    return T.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_tokens=256, n_shards=8
    )


@register(
    "txt_unigram_lm",
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
    " t AS (SELECT doc_id, unnest(t) AS term FROM toks),"
    " counts AS (SELECT term, count(*) AS n_term FROM t GROUP BY 1),"
    " total AS (SELECT sum(n_term) AS n_total FROM counts)"
    " SELECT doc_id, count(*) AS n_tokens,"
    " round(avg(ln(n_term / CAST(n_total AS DOUBLE))), 4) AS avg_logprob"
    " FROM t JOIN counts USING (term) CROSS JOIN total"
    " GROUP BY doc_id",
)
def _txt_unigram_lm(spark, sf_dir):
    return T.unigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "txt_quality_filter",
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),"
    " w AS (SELECT doc_id, len(t) AS n, unnest(t) AS word FROM toks),"
    " wc AS (SELECT doc_id, any_value(n) AS n, word, count(*) AS c"
    "  FROM w GROUP BY doc_id, word),"
    " wagg AS (SELECT doc_id, any_value(n) AS n, count(*) AS nd"
    "  FROM wc GROUP BY doc_id),"
    " stop AS (SELECT doc_id,"
    "  len(list_filter(t, x -> list_contains("
    "   ['the','a','of','and','to','in','is','on','for','with'], x)))"
    "   AS n_stop, len(t) AS n FROM toks),"
    " j AS (SELECT s.doc_id, CAST(s.n AS INT) AS n_tokens,"
    "  round((s.n - coalesce(w.nd, 0))"
    "   / CAST(greatest(s.n, 1) AS DOUBLE), 4) AS dup_word_frac,"
    "  round(s.n_stop / CAST(greatest(s.n, 1) AS DOUBLE), 4)"
    "   AS stopword_ratio"
    "  FROM stop s LEFT JOIN wagg w ON w.doc_id = s.doc_id)"
    " SELECT doc_id, n_tokens, dup_word_frac, stopword_ratio,"
    " (dup_word_frac <= 0.75 AND n_tokens >= 10"
    "  AND stopword_ratio >= 0.0) AS keep FROM j",
)
def _txt_quality_filter(spark, sf_dir):
    out = T.quality_filter(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", "dup_word_frac", "stopword_ratio", "keep"
    )


@register(
    "txt_ngram_stats",
    f"WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),"
    " e AS (SELECT unnest(list_transform("
    "  generate_series(1, greatest(len(t) - 1, 0)),"
    "  i -> t[i] || ' ' || t[i + 1])) AS ngram FROM tk)"
    " SELECT ngram, count(*) AS n_occurrences FROM e"
    " GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 100",
)
def _txt_ngram_stats(spark, sf_dir):
    """Corpus bigram frequency top-100 under a total order
    (count desc, ngram asc): tokens computed once, map-side-combined
    explode count, TakeOrderedAndProject cut."""
    return T.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=100)


@register(
    "txt_hashed_features",
    f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)"
    " SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,"
    " array_to_string(list_transform(generate_series(0, 7), i ->"
    "  CAST(len(list_filter(t, s ->"
    "   CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 8"
    "    = i)) AS VARCHAR)), ',') AS feature_csv"
    " FROM toks",
)
def _txt_hashed_features(spark, sf_dir):
    """Feature hashing: fixed-width bag-of-words vectors via the
    engine-portable md5 bucket hash — no vocabulary, no shuffle.

    The vector is emitted as a comma-joined scalar (``feature_csv``)
    rather than ArrayType: the driver's pandas canonicalizer sorts on
    all columns and cannot hash list-typed cells (``TypeError:
    unhashable type: 'list'``)."""
    return T.with_hashed_features(
        _t(spark, sf_dir, "documents"), n_buckets=8
    ).select(
        "doc_id",
        "n_tokens",
        F.concat_ws(",", F.col("feature_vec").cast("array<string>")).alias(
            "feature_csv"
        ),
    )


@register(
    "txt_source_quality",
    f"WITH toks AS (SELECT doc_id, source, lang, text, {_TOKS_SQL}"
    "  AS t FROM documents),"
    " q AS (SELECT source, lang, len(t) AS n_tokens,"
    "  round(CAST(len(list_filter(t, s -> list_contains("
    f"   {list(T.STOPWORDS)}, s))) AS DOUBLE)"
    "   / greatest(len(t), 1), 4) AS stopword_ratio,"
    "  round(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]',"
    "   '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4)"
    "   AS alnum_ratio FROM toks)"
    " SELECT source, lang, count(*) AS n_docs,"
    " round(avg(n_tokens), 4) AS avg_tokens,"
    " round(avg(stopword_ratio), 4) AS avg_stopword_ratio,"
    " round(avg(alnum_ratio), 4) AS avg_alnum_ratio"
    " FROM q GROUP BY ROLLUP (source, lang)",
)
def _txt_source_quality(spark, sf_dir):
    """Corpus-quality audit rollup: per (source, lang) quality
    metrics WITH subtotal rows per source and a grand total
    (ROLLUP) — the drift dashboard over the cleaning signals."""
    scored = T.with_quality_score(_t(spark, sf_dir, "documents"))
    return (
        scored.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("alnum_ratio"), 4).alias("avg_alnum_ratio"),
        )
    )


@register(
    "txt_dup_ngram_frac",
    f"WITH alldocs AS ({_DUPDOCS_SQL}),"
    f" toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM alldocs),"
    " w AS (SELECT doc_id,"
    "  md5(array_to_string(list_slice(t, i, i + 3), ' ')) AS h"
    "  FROM toks, unnest(generate_series(1,"
    "   greatest(len(t) - 3, 0))) AS g(i)),"
    " f AS (SELECT h, count(*) AS n FROM w GROUP BY 1)"
    " SELECT w.doc_id, count(*) AS n_windows,"
    " CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_dup_windows,"
    " round(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) * 1.0"
    "  / count(*), 4) AS dup_ngram_frac"
    " FROM w JOIN f USING (h) GROUP BY w.doc_id",
)
def _txt_dup_ngram_frac(spark, sf_dir):
    """Duplicated 4-gram fraction per document over the dup-injected
    corpus — the RefinedWeb substring-duplication filter signal."""
    return T.with_dup_ngram_fraction(_docs_with_dups(spark, sf_dir), n=4)


@register(
    "txt_normalize",
    "WITH n AS (SELECT doc_id,"
    "  trim(regexp_replace(regexp_replace(lower(text),"
    "   '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,"
    "  length(text) AS raw_len"
    " FROM documents)"
    " SELECT doc_id, norm_text,"
    " CAST(length(norm_text) AS INT) AS n_chars_norm,"
    " CAST(raw_len - length(norm_text) AS INT) AS chars_removed"
    " FROM n",
)
def _txt_normalize(spark, sf_dir):
    """Corpus text normalization: lowercase, control-char strip,
    whitespace collapse, trim — shuffle-free Column expressions."""
    return T.with_normalized_text(_t(spark, sf_dir, "documents")).select(
        "doc_id", "norm_text", "n_chars_norm", "chars_removed"
    )


@register(
    "txt_sentences",
    r"WITH sent AS (SELECT doc_id,"
    r" list_filter(regexp_split_to_array(text, '[.!?]+\s+'),"
    r"  s -> len(trim(s)) > 0) AS ss FROM documents)"
    " SELECT doc_id, CAST(i - 1 AS INT) AS sentence_idx,"
    " ss[i] AS sentence, CAST(len(ss[i]) AS INT) AS n_chars"
    " FROM sent, lateral unnest(generate_series(1, len(ss))) t(i)",
)
def _txt_sentences(spark, sf_dir):
    """Sentence segmentation 1->N with post-filter indexing — the
    per-sentence expansion feeding sentence-level quality scoring."""
    return T.split_sentences(_t(spark, sf_dir, "documents"))


@register(
    "txt_readability",
    rf"WITH s AS (SELECT doc_id, {_TOKS_SQL} AS t,"
    r" len(list_filter(regexp_split_to_array(text, '[.!?]+\s+'),"
    r"  x -> len(trim(x)) > 0)) AS n_sent FROM documents)"
    " SELECT doc_id, CAST(n_sent AS INT) AS n_sentences,"
    " CAST(len(t) AS INT) AS n_tokens,"
    " round(len(t) * 1.0 / greatest(n_sent, 1), 4)"
    "  AS tokens_per_sentence,"
    " round(coalesce(list_sum(list_transform(t, x -> len(x))), 0)"
    "  * 1.0 / greatest(len(t), 1), 4) AS avg_word_len"
    " FROM s",
)
def _txt_readability(spark, sf_dir):
    """Readability proxies per document: sentence count, avg tokens
    per sentence, avg word length — the grade-level-style signals a
    quality gate consumes, built from the sentence and token
    primitives, shuffle-free."""
    d = _t(spark, sf_dir, "documents")
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    toks = T.tokens_col("text")
    n_sent = F.greatest(F.size(sentences), F.lit(1))
    n_tok = F.size(toks)
    total_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return d.select(
        "doc_id",
        F.size(sentences).cast("int").alias("n_sentences"),
        n_tok.cast("int").alias("n_tokens"),
        F.round(n_tok / n_sent, 4).alias("tokens_per_sentence"),
        F.round(
            total_chars / F.greatest(n_tok, F.lit(1)).cast("double"), 4
        ).alias("avg_word_len"),
    )


@register(
    "txt_zipf_slope",
    r"WITH toks AS (SELECT unnest(list_filter("
    r" regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))"
    r"  AS term FROM documents),"
    " f AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),"
    " r AS (SELECT ln(CAST(freq AS DOUBLE)) AS lf,"
    "  ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC)"
    "   AS DOUBLE)) AS lr FROM f)"
    " SELECT count(*) AS n_terms,"
    " round(regr_slope(lf, lr), 4) AS zipf_slope,"
    " round(avg(lf) - regr_slope(lf, lr) * avg(lr), 4) AS intercept"
    " FROM r",
)
def _txt_zipf_slope(spark, sf_dir):
    """Corpus Zipf diagnostic: OLS slope of ln(freq) ~ ln(rank) over
    the unigram table (natural language ≈ -1; templated corpora
    diverge) — one count shuffle + a vocabulary-sized rank."""
    return T.zipf_slope(_t(spark, sf_dir, "documents"))


@register(
    "txt_source_jaccard",
    r"WITH terms AS (SELECT DISTINCT source AS g,"
    r" unnest(list_filter(regexp_split_to_array("
    r"  lower(trim(text)), '\s+'), x -> x <> '')) AS term"
    r" FROM documents),"
    " sizes AS (SELECT g, count(*) AS n FROM terms GROUP BY g),"
    " inter AS (SELECT a.g AS src_a, b.g AS src_b,"
    "  count(*) AS n_common FROM terms a JOIN terms b"
    "  ON a.term = b.term AND a.g < b.g GROUP BY a.g, b.g)"
    " SELECT src_a, src_b, n_common,"
    " round(n_common * 1.0 / (sa.n + sb.n - n_common), 6)"
    "  AS jaccard"
    " FROM inter JOIN sizes sa ON sa.g = src_a"
    " JOIN sizes sb ON sb.g = src_b",
)
def _txt_source_jaccard(spark, sf_dir):
    """Pairwise vocabulary Jaccard between document sources — the
    mirrored-scrape detector (text_analysis.source_vocab_jaccard)."""
    return T.source_vocab_jaccard(_t(spark, sf_dir, "documents"))


@register(
    "txt_lang_confusion",
    f"WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t"
    "  FROM documents),"
    " s AS (SELECT doc_id, lang,"
    + ",".join(
        f" len(list_filter(t, x -> list_contains("
        f"{list(T.LANG_MARKERS[lang])}, x))) AS score_{lang}"
        for lang in T.LANG_MARKERS
    )
    + " FROM toks),"
    " p AS (SELECT lang, CASE"
    " WHEN score_en >= score_fr AND score_en >= score_es"
    "  AND score_en >= score_de AND score_en >= score_zh THEN 'en'"
    " WHEN score_fr >= score_es AND score_fr >= score_de"
    "  AND score_fr >= score_zh THEN 'fr'"
    " WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'"
    " WHEN score_de >= score_zh THEN 'de'"
    " ELSE 'zh' END AS lang_pred FROM s)"
    " SELECT lang, lang_pred, count(*) AS n_docs,"
    " round(count(*) * 1.0 / sum(count(*))"
    "  OVER (PARTITION BY lang), 6) AS share"
    " FROM p GROUP BY lang, lang_pred",
)
def _txt_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang × predicted lang
    with per-true-lang share — the quality audit of the n-gram
    classifier, normalization over the |langs|² cell table."""
    pred = T.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "lang", "lang_pred"
    )
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang", "lang_pred", "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


@register(
    "txt_bigram_lm",
    f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t"
    "  FROM documents),"
    " uni AS (SELECT unnest(t) AS term FROM toks),"
    " uc AS (SELECT term, count(*) AS n_term FROM uni"
    "  GROUP BY 1),"
    " tot AS (SELECT sum(n_term) AS n_total FROM uc),"
    " pairs AS (SELECT doc_id, unnest(list_transform("
    "  generate_series(1, greatest(len(t) - 1, 0)),"
    "  i -> {'prev': t[i], 'cur': t[i + 1]})) AS p FROM toks),"
    " pp AS (SELECT doc_id, p.prev AS prev, p.cur AS cur"
    "  FROM pairs),"
    " bc AS (SELECT prev, cur, count(*) AS n_big FROM pp"
    "  GROUP BY 1, 2)"
    " SELECT doc_id, count(*) AS n_bigrams,"
    " round(avg(ln(0.7 * (n_big / CAST(pc.n_term AS DOUBLE))"
    "  + (1 - 0.7) * (cc.n_term / CAST(n_total AS DOUBLE)))), 4)"
    "  AS avg_logprob"
    " FROM pp JOIN bc USING (prev, cur)"
    " JOIN uc pc ON pp.prev = pc.term"
    " JOIN uc cc ON pp.cur = cc.term CROSS JOIN tot"
    " GROUP BY doc_id",
)
def _txt_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM perplexity proxy per document — word
    ORDER distribution scoring, the step up from txt_unigram_lm;
    pair construction is shuffle-free arrays_zip, the bigram count
    join keys on the pair (not broadcast — corpus-vocabulary sized)
    (text_analysis.bigram_logprob)."""
    return T.bigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "txt_vocab_coverage",
    f"WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),"
    " toks AS (SELECT unnest(t) AS tok FROM tk),"
    " c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),"
    " tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),"
    " curve AS (SELECT"
    "  row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,"
    "  CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ASC"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    "   AS BIGINT) AS cum FROM c),"
    " thr AS (SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS threshold)"
    " SELECT threshold,"
    " CAST(min(rank) AS BIGINT) AS vocab_size,"
    " CAST(min(cum) AS BIGINT) AS covered_tokens"
    " FROM curve, thr, tot WHERE cum >= threshold * total"
    " GROUP BY threshold",
)
def _txt_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary sizing curve: vocab size needed for
    50/90/95/99% corpus coverage under a total (count desc, token asc)
    order — token counts + one vocab-sized cumulative window
    (text_analysis.vocab_coverage)."""
    return T.vocab_coverage(_t(spark, sf_dir, "documents"))


_CODE_SUFFIX = " function compute() { return x + 1; } var y = 2;"


def _regex_count_sql(col: str, pat: str) -> str:
    return f"len(regexp_extract_all({col}, '{pat}'))"


@register(
    "txt_code_detect",
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN"
    f"  text || '{_CODE_SUFFIX}' ELSE text END AS text"
    "  FROM documents)"
    " SELECT doc_id,"
    f" CAST({_regex_count_sql('text', '[{{}}]')} AS INT) AS n_braces,"
    .replace("{{}}", "{}") +
    f" CAST({_regex_count_sql('text', ';')} AS INT) AS n_semicolons,"
    f" CAST({_regex_count_sql('text', chr(92) + 'b(function|return|import|def|class|var|const)' + chr(92) + 'b')} AS INT)"
    "  AS n_code_keywords,"
    f" round({_regex_count_sql('text', '[{{}}();=<>[' + chr(92) + ']]')}"
    .replace("{{}}", "{}") +
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4)"
    "  AS symbol_ratio,"
    f" CASE WHEN {_regex_count_sql('text', '[{{}}]')} > 0".replace("{{}}", "{}") +
    f" AND {_regex_count_sql('text', chr(92) + 'b(function|return|import|def|class|var|const)' + chr(92) + 'b')} > 0"
    "  THEN 1 ELSE 0 END AS is_code"
    " FROM d",
)
def _txt_code_detect(spark, sf_dir):
    """Code-vs-prose routing signals (brace/semicolon density, code
    keywords, symbol ratio) over documents with a deterministic
    code-block suffix injected into every 7th doc so both branches of
    the detector are exercised (text_analysis.with_code_signals)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_CODE_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return T.with_code_signals(docs).select(
        "doc_id", "n_braces", "n_semicolons", "n_code_keywords",
        "symbol_ratio", "is_code",
    )


@register(
    "txt_markdown_strip",
    "WITH d AS (SELECT doc_id,"
    "  '# ' || source || chr(10) || text || ' [more](http://'"
    "  || source || '.example.com/x) **' || lang || '**' AS text"
    "  FROM documents)"
    " SELECT doc_id,"
    f" CAST({_regex_count_sql('text', chr(92) + '[[^' + chr(92) + ']]*' + chr(92) + ']' + chr(92) + '([^)]*' + chr(92) + ')')} AS INT) AS n_links,"
    f" CAST({_regex_count_sql('text', '(^|' + chr(92) + 'n)#+ ')} AS INT)"
    "  AS n_headings,"
    " CAST(length(text) AS INT) AS md_len,"
    " CAST(length(regexp_replace(regexp_replace(regexp_replace(text,"
    f"  '{chr(92)}[([^{chr(92)}]]*){chr(92)}]{chr(92)}([^)]*{chr(92)})', '{chr(92)}{chr(92)}1', 'g'),"
    f"  '(^|{chr(92)}n)#+ +', '{chr(92)}{chr(92)}1', 'g'),"
    f"  '({chr(92)}*{chr(92)}*|__|```)', '', 'g')) AS INT)"
    "  AS stripped_len"
    " FROM d",
)
def _txt_markdown_strip(spark, sf_dir):
    """Markdown -> plain text cleaning over a deterministically
    markdown-wrapped corpus (heading + inline link + bold injected
    in-query); reports markup counts and length reduction
    (text_analysis.strip_markdown)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("# "), F.col("source"), F.lit("\n"), F.col("text"),
            F.lit(" [more](http://"), F.col("source"),
            F.lit(".example.com/x) **"), F.col("lang"), F.lit("**"),
        ),
    )
    return T.strip_markdown(docs).select(
        "doc_id", "n_links", "n_headings", "md_len", "stripped_len"
    )


@register(
    "txt_unicode_profile",
    "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,"
    f" round({_regex_count_sql('text', '[ -~]')}"
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS ascii_ratio,"
    f" round({_regex_count_sql('text', '[0-9]')}"
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS digit_ratio,"
    f" round({_regex_count_sql('text', '[A-Z]')}"
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS upper_ratio,"
    " round(len(regexp_extract_all(text,"
    "  '[.,!?;:''\"()-]'))"
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio,"
    # explicit class, not \s: Java \s includes VT, RE2 \s does not
    f" round({_regex_count_sql('text', '[ ' + chr(92) + 't' + chr(92) + 'n' + chr(92) + 'f' + chr(92) + 'r]')}"
    "  / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS space_ratio"
    " FROM documents",
)
def _txt_unicode_profile(spark, sf_dir):
    """Character-class fingerprint per document (printable-ASCII /
    digit / upper / punctuation / whitespace ratios) — the cheap
    first-pass curation signal (text_analysis.with_unicode_profile)."""
    return T.with_unicode_profile(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_text", "ascii_ratio", "digit_ratio",
        "upper_ratio", "punct_ratio", "space_ratio",
    )


@register(
    "txt_novelty_idf",
    (
        f"WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),"
        " pairs AS (SELECT doc_id, unnest(list_distinct(t)) AS tok"
        "  FROM toks),"
        " nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),"
        " dfreq AS (SELECT tok, count(*) AS df FROM pairs GROUP BY 1)"
        " SELECT doc_id, count(*) AS n_distinct_tokens,"
        " round(avg(ln(n / df)), 4) AS novelty_idf"
        " FROM pairs JOIN dfreq USING (tok), nd GROUP BY doc_id"
    ).replace("{toks}", _TOKS_SQL),
)
def _txt_novelty_idf(spark, sf_dir):
    """Per-document novelty as mean idf of distinct tokens — the
    model-free boilerplate-vs-rare-vocabulary curation signal
    (text_analysis.novelty_idf)."""
    return T.novelty_idf(_t(spark, sf_dir, "documents"))


@register(
    "txt_bigram_pmi",
    (
        f"WITH toks AS (SELECT {{toks}} AS t FROM documents),"
        " uni AS (SELECT unnest(t) AS w FROM toks),"
        " uc AS (SELECT w, CAST(count(*) AS DOUBLE) AS cw FROM uni"
        "  GROUP BY 1),"
        " nu AS (SELECT sum(cw) AS n FROM uc),"
        " bg AS (SELECT unnest(list_transform("
        "  generate_series(1, greatest(len(t) - 1, 0)),"
        "  i -> t[i] || ' ' || t[i + 1])) AS b FROM toks),"
        # nbi sums ALL bigram occurrences (before the min-count
        # filter) — mirrors bigram_pmi's p(ab) denominator
        " bca AS (SELECT b, CAST(count(*) AS DOUBLE) AS cb FROM bg"
        "  GROUP BY 1),"
        " nb AS (SELECT sum(cb) AS nbi FROM bca),"
        " bc AS (SELECT * FROM bca WHERE cb >= 5),"
        " scored AS (SELECT b AS bigram, CAST(cb AS BIGINT) AS n_bigram,"
        "  round(ln((cb / nbi) / ((ca.cw / nu.n) * (cbb.cw / nu.n))), 4)"
        "   AS pmi"
        "  FROM bc JOIN uc ca ON ca.w = string_split(bc.b, ' ')[1]"
        "  JOIN uc cbb ON cbb.w = string_split(bc.b, ' ')[2], nu, nb)"
        " SELECT bigram, n_bigram, pmi, CAST(rn AS INT) AS rank FROM ("
        "  SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram)"
        "   AS rn FROM scored) WHERE rn <= 50"
    ).replace("{toks}", _TOKS_SQL),
)
def _txt_bigram_pmi(spark, sf_dir):
    """Top-50 collocations by pointwise mutual information over
    adjacent token pairs (count >= 5, rank cutoff)
    (text_analysis.bigram_pmi)."""
    return T.bigram_pmi(_t(spark, sf_dir, "documents"))


@register(
    "txt_hapax",
    (
        "WITH toks AS (SELECT source, unnest({toks}) AS tok"
        "  FROM documents),"
        " pt AS (SELECT source, tok, count(*) AS n FROM toks"
        "  GROUP BY 1, 2)"
        " SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,"
        " count(*) AS vocab_size,"
        " CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_hapax,"
        " round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)"
        "  / CAST(count(*) AS DOUBLE), 6) AS hapax_frac,"
        " round(count(*) / CAST(sum(n) AS DOUBLE), 6)"
        "  AS type_token_ratio"
        " FROM pt GROUP BY source"
    ).replace("{toks}", _TOKS_SQL),
)
def _txt_hapax(spark, sf_dir):
    """Vocabulary-growth profile per source: vocab size, hapax
    legomena count/fraction, type-token ratio — the templated-text
    detector (text_analysis.hapax_stats)."""
    return T.hapax_stats(_t(spark, sf_dir, "documents"))


# coalesce(...,''): DuckDB array_to_string([]) is NULL (concat_ws
# would drop the line) where Spark concat_ws of an empty slice is
# '' (line kept) — the empty-string wrap aligns the engines
_C4_SQL = r"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
d AS (SELECT doc_id, concat_ws(chr(10),
   coalesce(array_to_string(t[1:6], ' '), '') || '.',
   coalesce(array_to_string(t[7:12], ' '), ''),
   coalesce(array_to_string(t[13:18], ' '), '') || '!',
   CASE WHEN doc_id % 5 = 0 THEN 'click here to enable javascript now.'
        ELSE coalesce(array_to_string(t[19:24], ' '), '') || '.' END,
   coalesce(array_to_string(t[25:30], ' '), '') || '?') AS text FROM tk),
s AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d),
k AS (SELECT doc_id, lines, list_filter(lines, l ->
        regexp_matches(trim(l), '[.!?"’”]$')
        AND len(string_split_regex(trim(l), '\s+')) >= 3
        AND NOT contains(lower(trim(l)), '{')
        AND NOT contains(lower(trim(l)), 'lorem ipsum')
        AND NOT contains(lower(trim(l)), 'javascript')) AS kept FROM s)
SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept,
       len(kept) >= 3 AS page_ok,
       array_to_string(kept, chr(10)) AS clean_text
FROM k
"""


@register("c4_line_filters", _C4_SQL)
def _c4_line_filters(spark, sf_dir):
    """C4-style line filtering (text_analysis.c4_line_filters).  The
    synthetic documents.text is single-line and punctuation-free, so
    line structure is SYNTHESIZED in-plan (both engines run the same
    formula): five lines of six tokens each — terminal '.', no
    terminal punct, terminal '!', a javascript-marker line on every
    5th doc (else terminal '.'), terminal '?' — exercising the
    terminal-punctuation, min-words, and boilerplate-marker gates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")

    def seg(start):
        return F.concat_ws(" ", F.slice(tk, start, 6))

    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(seg(1), F.lit(".")),
            seg(7),
            F.concat(seg(13), F.lit("!")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("click here to enable javascript now."),
            ).otherwise(F.concat(seg(19), F.lit("."))),
            F.concat(seg(25), F.lit("?")),
        ).alias("text"),
    )
    return T.c4_line_filters(synth)


_JSD_TERM_SQL = (
    "CASE WHEN ca > 0 THEN 0.5 * (ca/na)"
    " * ln((ca/na) / ((ca/na + cb/nb)/2)) ELSE 0 END"
    " + CASE WHEN cb > 0 THEN 0.5 * (cb/nb)"
    " * ln((cb/nb) / ((ca/na + cb/nb)/2)) ELSE 0 END"
)


_VOCAB_JSD_SQL = f"""
WITH toks AS (
  SELECT source AS g, unnest({_TOKS_SQL}) AS tok
  FROM documents WHERE source IN ('src0', 'src1')
), counts AS (
  SELECT tok,
         sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
  FROM toks GROUP BY tok
), tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts)
SELECT CAST(any_value(na) AS BIGINT) AS n_tokens_a,
       CAST(any_value(nb) AS BIGINT) AS n_tokens_b,
       count(*) AS vocab_union,
       CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
       CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
       round(sum({_JSD_TERM_SQL}), 6) AS jsd_nats,
       round(sum({_JSD_TERM_SQL}) / 0.6931471805599453, 6) AS jsd_normalized
FROM counts, tot
"""


@register("vocab_jsd", _VOCAB_JSD_SQL)
def _vocab_jsd(spark, sf_dir):
    """Unigram Jensen-Shannon divergence between the src0 and src1
    corpus slices (text_analysis.vocab_jsd) — the binning-free drift
    monitor next to PSI."""
    return T.vocab_jsd(
        _t(spark, sf_dir, "documents"), "source", "text", "src0", "src1"
    )


def _bpe_oracle_step_sql(i: int) -> str:
    """One BPE merge step as a DuckDB CTE pair.  Words are encoded
    pipe-delimited with double spaces, which keeps the string replace
    greedy and boundary-unambiguous."""
    return f"""
pairs{i} AS (
  SELECT u.p[1] AS a, u.p[2] AS b, sum(w.f) AS cnt
  FROM words{i - 1} w,
       unnest(list_zip(w.syms[1:len(w.syms)-1], w.syms[2:len(w.syms)]))
         AS u(p)
  WHERE len(w.syms) >= 2
  GROUP BY u.p[1], u.p[2]
),
best{i} AS (
  SELECT a, b, cnt FROM pairs{i} ORDER BY cnt DESC, a, b LIMIT 1
),
words{i} AS (
  SELECT list_transform(
           string_split(
             replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                     '|' || bb.a || bb.b || '|'), '  '),
           s -> trim(s, '|')) AS syms,
         replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                 '|' || bb.a || bb.b || '|') AS seq,
         w.f AS f
  FROM words{i - 1} w, best{i} bb
)"""


def _bpe_oracle_sql(n_steps: int) -> str:
    sql = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS w FROM documents
),
words0 AS (
  SELECT string_split(w, '') AS syms,
         '|' || array_to_string(string_split(w, ''), '|  |') || '|'
           AS seq,
         count(*) AS f
  FROM toks GROUP BY w
)"""
    for i in range(1, n_steps + 1):
        sql += "," + _bpe_oracle_step_sql(i)
    sql += "\nSELECT * FROM (" + " UNION ALL BY NAME ".join(
        f"SELECT {i} AS step, a AS pair_a, b AS pair_b,"
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM best{i}"
        for i in range(1, n_steps + 1)
    ) + ") ORDER BY step"
    return sql


@register("bpe_train_merges", _bpe_oracle_sql(6))
def _bpe_train_merges(spark, sf_dir):
    """First 6 BPE merge steps trained on the documents corpus
    (text_analysis.bpe_train_merges) — vocabulary-sized pair counts,
    broadcast argmax, array-fold merge; no driver-side collect."""
    return T.bpe_train_merges(_t(spark, sf_dir, "documents"), n_merges=6)


_LABEL_CHI2_SQL = f"""
WITH docs AS (
  SELECT source AS l, list_distinct({_TOKS_SQL}) AS toks FROM documents
), pairs AS (
  SELECT l, unnest(toks) AS t FROM docs
), n_docs AS (SELECT count(*) AS n FROM docs),
per_label AS (SELECT l, count(*) AS nl FROM docs GROUP BY l),
per_term AS (SELECT t, count(*) AS dt FROM pairs GROUP BY t),
cell AS (SELECT l, t, count(*) AS a FROM pairs GROUP BY l, t),
j AS (
  SELECT c.l, c.t, c.a, pt.dt, pl.nl, nd.n
  FROM cell c
  JOIN per_term pt ON c.t = pt.t
  JOIN per_label pl ON c.l = pl.l
  CROSS JOIN n_docs nd
  WHERE pt.dt >= 10
), scored AS (
  SELECT l AS source, t AS term, a AS label_doc_freq,
         dt AS corpus_doc_freq,
         round(
           CASE WHEN (a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                     * (a + (nl - a)) * ((dt - a) + (n - dt - nl + a)) = 0
                THEN NULL
                ELSE n * pow(a * (n - dt - nl + a)
                             - (dt - a) * (nl - a), 2)
                     / ((a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                        * (a + (nl - a))
                        * ((dt - a) + (n - dt - nl + a)))
           END, 4) AS chi2
  FROM j
)
SELECT source, term, label_doc_freq, corpus_doc_freq, chi2,
       CAST(row_number() OVER (PARTITION BY source
              ORDER BY chi2 DESC NULLS LAST, term) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("label_chi2_terms", _LABEL_CHI2_SQL)
def _label_chi2_terms(spark, sf_dir):
    """Top-5 chi-square discriminative terms per source label over
    document frequencies (text_analysis.label_chi2_terms),
    min_doc_freq=10."""
    return T.label_chi2_terms(
        _t(spark, sf_dir, "documents"), label_col="source",
        text_col="text", top_n=5, min_doc_freq=10,
    )


def _perplexity_bins_oracle(n_bins: int) -> str:
    """CCNet quality-bin oracle: unigram-LM doc scores (4dp), then
    DISCRETE order-statistic cutoffs selected from the score
    histogram (cutoff i = smallest score whose cumulative count
    reaches ceil(n*i/k)) and >=-assignment — purely ORDINAL, so any
    engine computing the same score multiset bins identically (the
    interpolated-percentile form flipped a 121-doc tie mass at
    sf0.1; see the operator docstring).  Ties at a cutoff go to the
    better bin, 1 = head."""
    cut_sel = ", ".join(
        f"min(CASE WHEN cumc >= (n * {i} + {n_bins - 1}) // {n_bins}"
        f" THEN s END) AS c{i - 1}"
        for i in range(1, n_bins)
    )
    bin_expr = " + ".join(
        f"CAST(avg_logprob >= c{i} AS INT)" for i in range(n_bins - 1)
    )
    return f"""
WITH terms AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term
               FROM documents),
counts AS (SELECT term, count(*) AS n_term FROM terms GROUP BY term),
tot AS (SELECT sum(n_term) AS n_total FROM counts),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln(n_term / n_total)), 4) AS avg_logprob
  FROM terms JOIN counts USING (term), tot GROUP BY doc_id
), hist AS (
  SELECT avg_logprob AS s, count(*) AS c FROM scored GROUP BY avg_logprob
), cum AS (
  SELECT s, sum(c) OVER (ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM hist
), nn AS (SELECT sum(c) AS n FROM hist),
cuts AS (SELECT {cut_sel} FROM cum, nn),
binned AS (
  SELECT {n_bins + 1} - (1 + {bin_expr}) AS bin,
         avg_logprob, n_tokens
  FROM scored, cuts
)
SELECT bin, count(*) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM binned GROUP BY bin
"""


@register("perplexity_bins", _perplexity_bins_oracle(3))
def _perplexity_bins(spark, sf_dir):
    """CCNet-style quality binning of the documents corpus into three
    equal-probability buckets by corpus-unigram LM score
    (text_analysis.perplexity_bins): percentile cutoffs broadcast as
    scalars, assignment by pure comparison."""
    return T.perplexity_bins(_t(spark, sf_dir, "documents"), n_bins=3)


def _bpe_apply_oracle_step_sql(i: int) -> str:
    """One BPE merge step as DuckDB CTEs for the APPLY oracle — the
    training chain of ``_bpe_oracle_step_sql`` extended to carry the
    word string ``w`` through every step, so the final per-word symbol
    count can join back to the doc-grained token stream."""
    return f"""
pairs{i} AS (
  SELECT u.p[1] AS a, u.p[2] AS b, sum(w.f) AS cnt
  FROM words{i - 1} w,
       unnest(list_zip(w.syms[1:len(w.syms)-1], w.syms[2:len(w.syms)]))
         AS u(p)
  WHERE len(w.syms) >= 2
  GROUP BY u.p[1], u.p[2]
),
best{i} AS (
  SELECT a, b FROM pairs{i} ORDER BY cnt DESC, a, b LIMIT 1
),
words{i} AS (
  SELECT w.w AS w,
         list_transform(
           string_split(
             replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                     '|' || bb.a || bb.b || '|'), '  '),
           s -> trim(s, '|')) AS syms,
         replace(w.seq, '|' || bb.a || '|  |' || bb.b || '|',
                 '|' || bb.a || bb.b || '|') AS seq,
         w.f AS f
  FROM words{i - 1} w, best{i} bb
)"""


def _bpe_apply_oracle_sql(n_steps: int) -> str:
    sql = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
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
SELECT doc_id, count(*) AS n_words,
       CAST(sum(len(words{n_steps}.syms)) AS BIGINT) AS n_bpe_tokens
FROM toks JOIN words{n_steps} USING (w)
GROUP BY doc_id
"""
    return sql


@register("bpe_apply_merges", _bpe_apply_oracle_sql(6))
def _bpe_apply_merges(spark, sf_dir):
    """Tokenizer application: train 6 BPE merges on the documents
    corpus and apply them back, reporting per-doc BPE token counts
    (text_analysis.bpe_apply_merges) — the train/apply pair composed
    in one query; the merge loop runs ONCE on the vocabulary-sized
    word table (bpe_train_with_sizes carries the word string through
    the train fold, so the apply side reuses the final fold state
    instead of re-running the loop from the merge table — measured
    3.69 s -> 2.34 s at sf0.1, identical output), the corpus
    shuffles once."""
    docs = _t(spark, sf_dir, "documents")
    merges, word_sizes = T.bpe_train_with_sizes(docs, n_merges=6)
    return T.bpe_apply_merges(docs, merges, 6, word_sizes=word_sizes)


_READABILITY_ORACLE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS t,
         list_filter(regexp_split_to_array(text, '[.!?]+'),
                     s -> trim(s) <> '') AS sents
  FROM documents
), counts AS (
  SELECT doc_id,
         greatest(len(sents), 1) AS n_sentences,
         greatest(len(t), 1) AS n_words,
         greatest(list_sum(list_transform(t, w ->
           greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 1)
           AS n_syllables
  FROM toks
)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
             - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
         AS flesch,
       round(0.39 * (n_words / CAST(n_sentences AS DOUBLE))
             + 11.8 * (n_syllables / CAST(n_words AS DOUBLE))
             - 15.59, 4) AS fk_grade
FROM counts
"""


@register("readability_scores", _READABILITY_ORACLE_SQL)
def _readability_scores(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability per document
    (text_analysis.readability_scores): exact sentence/word/vowel-group
    counts from one shuffle-free projection of regexp counts."""
    return T.readability_scores(_t(spark, sf_dir, "documents"))


def _contamination_oracle_sql(sizes=(3, 5)) -> str:
    """DuckDB twin of _contamination_report: per n-gram size, the
    distinct-gram and affected-doc overlap between the eval slice and
    the train remainder.  The gram CTEs are MATERIALIZED — each is
    referenced five times."""
    blocks = []
    for n in sizes:
        blocks.append(f"""
SELECT {n} AS ngram_size,
  (SELECT count(DISTINCT g) FROM grams{n} WHERE is_eval) AS n_eval_ngrams,
  (SELECT count(*) FROM
     (SELECT DISTINCT g FROM grams{n} WHERE is_eval)
     WHERE g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    AS n_overlap,
  round((SELECT count(*) FROM
     (SELECT DISTINCT g FROM grams{n} WHERE is_eval)
     WHERE g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    / CAST((SELECT count(DISTINCT g) FROM grams{n} WHERE is_eval)
      AS DOUBLE), 6) AS overlap_share,
  (SELECT count(DISTINCT doc_id) FROM grams{n} WHERE is_eval)
    AS n_eval_docs,
  (SELECT count(DISTINCT doc_id) FROM grams{n}
    WHERE is_eval
      AND g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    AS n_docs_hit,
  round((SELECT count(DISTINCT doc_id) FROM grams{n}
    WHERE is_eval
      AND g IN (SELECT g FROM grams{n} WHERE NOT is_eval))
    / CAST((SELECT count(DISTINCT doc_id) FROM grams{n} WHERE is_eval)
      AS DOUBLE), 6) AS docs_hit_share""")
    gram_ctes = ",".join(
        f"""
grams{n} AS MATERIALIZED (
  SELECT DISTINCT doc_id, is_eval,
         array_to_string(t[i:i + {n - 1}], ' ') AS g
  FROM tk, unnest(range(1, greatest(len(t) - {n - 1}, 0) + 1)) AS s(i)
)"""
        for n in sizes
    )
    return (
        f"WITH tk AS MATERIALIZED (SELECT doc_id,"
        f" source = 'src1' AS is_eval, {_TOKS_SQL} AS t FROM documents),"
        + gram_ctes
        + " ".join(
            b if i == 0 else " UNION ALL " + b
            for i, b in enumerate(blocks)
        )
    )


@register("contamination_report", _contamination_oracle_sql((3, 5)))
def _contamination_report(spark, sf_dir):
    """Benchmark-contamination audit (text_analysis
    .contamination_report): distinct 3- and 5-gram overlap between the
    eval slice (source='src1') and the rest of the corpus, plus the
    count of eval docs carrying at least one overlapped n-gram."""
    return T.contamination_report(
        _t(spark, sf_dir, "documents"),
        F.col("source") == "src1",
        ngram_sizes=(3, 5),
    )


def _dsir_feature_ctes_sql(n_buckets: int, a: float) -> str:
    """The shared DSIR chain: hashed-bigram features, the
    two bucket-count distributions, the dense smoothed log-ratio
    spine, and the per-raw-doc score."""
    return f"""
tk AS (
  SELECT doc_id, source = 'src1' AS is_target, {_TOKS_SQL} AS t
  FROM documents
),
fb AS MATERIALIZED (
  SELECT doc_id, is_target,
         CAST({_BASEHASH_SQL.format(
             x="array_to_string(t[i:i + 1], ' ')"
         )} % {n_buckets} AS INT) AS b
  FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS s(i)
),
tgt AS (SELECT b, count(*) AS ct FROM fb WHERE is_target GROUP BY b),
rawc AS (SELECT b, count(*) AS cr FROM fb WHERE NOT is_target GROUP BY b),
tot AS (
  SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt,
         (SELECT coalesce(sum(cr), 0) FROM rawc) AS nr
),
spine AS (SELECT CAST(unnest(range(0, {n_buckets})) AS INT) AS b),
ratios AS (
  SELECT spine.b AS b,
         ln((coalesce(ct, 0) + {a!r}) / (nt + {a!r} * {n_buckets}))
         - ln((coalesce(cr, 0) + {a!r}) / (nr + {a!r} * {n_buckets}))
           AS lr
  FROM spine LEFT JOIN tgt ON spine.b = tgt.b
             LEFT JOIN rawc ON spine.b = rawc.b, tot
),
scored AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_features,
         round(sum(lr), 4) AS dsir_logweight
  FROM fb JOIN ratios ON fb.b = ratios.b
  WHERE NOT is_target GROUP BY doc_id
)"""


def _dsir_oracle_sql(n_buckets: int, a: float) -> str:
    return (
        "WITH " + _dsir_feature_ctes_sql(n_buckets, a)
        + "\nSELECT doc_id, n_features, dsir_logweight FROM scored"
    )


@register("dsir_log_weights", _dsir_oracle_sql(4096, 1.0))
def _dsir_log_weights(spark, sf_dir):
    """DSIR importance weights (text_analysis.dsir_log_weights):
    hashed-bigram log-likelihood ratio of every raw document against
    the target slice (source='src1'), 4096 buckets, add-1 smoothing —
    the resample-the-crawl selection signal."""
    return T.dsir_log_weights(
        _t(spark, sf_dir, "documents"),
        F.col("source") == "src1",
        n_buckets=4096,
    )


_BM25_QUERY = ("vector", "merge", "stream")


def _bm25_oracle_sql(query_terms, k: int, k1=1.2, b=0.75) -> str:
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
         list_filter({_TOKS_SQL}, t -> t IN ({terms})) AS qt
  FROM documents
),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks),
tf AS MATERIALIZED (
  SELECT doc_id, dl, t.t AS term, count(*) AS tf
  FROM toks, unnest(qt) AS t(t)
  GROUP BY doc_id, dl, t.t
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, count(*) AS n_terms_hit,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
         ), 4) AS bm25
  FROM tf JOIN dfreq USING (term), corpus
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


@register("bm25_topk", _bm25_oracle_sql(_BM25_QUERY, 50))
def _bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (text_analysis.bm25_topk): rank the
    documents corpus against a fixed 3-term query, top-50 by the
    4dp-rounded score (engine-deterministic cut).  The explode keeps
    only query-term hits; df and the corpus scalars broadcast."""
    return T.bm25_topk(
        _t(spark, sf_dir, "documents"), list(_BM25_QUERY), k=50
    )


def _kn_oracle_sql(d=0.75) -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_id, u.p[1] AS prev, u.p[2] AS cur
  FROM toks,
       unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
  WHERE len(t) >= 2
),
big AS MATERIALIZED (
  SELECT prev, cur, count(*) AS n_big FROM pairs GROUP BY prev, cur
),
ctx AS (
  SELECT prev, sum(n_big) AS n_prev, count(*) AS n_types_after
  FROM big GROUP BY prev
),
cont AS (SELECT cur, count(*) AS n_types_before FROM big GROUP BY cur),
tot AS (SELECT count(*) AS n_bigram_types FROM big)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln(
         (n_big - {d}) / n_prev
         + {d} * n_types_after / n_prev
           * (n_types_before / CAST(n_bigram_types AS DOUBLE))
       )), 4) AS avg_kn_logprob
FROM pairs JOIN big USING (prev, cur)
     JOIN ctx USING (prev) JOIN cont USING (cur), tot
GROUP BY doc_id
"""


@register("kneser_ney_logprob", _kn_oracle_sql())
def _kneser_ney_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring of every document
    (text_analysis.kneser_ney_logprob): absolute discounting with the
    continuation-probability backoff, all model tables derived from
    the corpus itself; the bigram table joins on the pair key, the
    unigram-sized context/continuation tables broadcast."""
    return T.kneser_ney_logprob(_t(spark, sf_dir, "documents"))


_TOKEN_ENTROPY_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t, list_distinct({_TOKS_SQL}) AS d
  FROM documents
),
scored AS (
  SELECT doc_id, len(t) AS n_tokens, len(d) AS n_distinct,
         -list_sum(list_transform(d, w ->
            (len(list_filter(t, x -> x = w)) / CAST(len(t) AS DOUBLE))
            * ln(len(list_filter(t, x -> x = w))
                 / CAST(len(t) AS DOUBLE)))) AS h
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(h, 4) AS entropy,
       CASE WHEN n_distinct = 1 THEN 0.0
            ELSE round(h / ln(n_distinct), 4) END AS evenness
FROM scored
"""


@register("token_entropy", _TOKEN_ENTROPY_ORACLE_SQL)
def _token_entropy(spark, sf_dir):
    """Per-document token-distribution entropy + Pielou evenness
    (text_analysis.token_entropy): the in-row repetitiveness signal,
    shuffle-free."""
    return T.token_entropy(_t(spark, sf_dir, "documents"))


def _ngram_diversity_oracle_sql(by_col: str, sizes) -> str:
    blocks = []
    for n in sizes:
        blocks.append(f"""
SELECT {by_col}, {n} AS ngram_size,
       CAST(sum(c) AS BIGINT) AS total_ngrams,
       CAST(count(*) AS BIGINT) AS distinct_ngrams,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS diversity
FROM (
  SELECT {by_col}, g, count(*) AS c FROM (
    SELECT {by_col},
           array_to_string(t[i:i + {n - 1}], ' ') AS g
    FROM (SELECT {by_col}, {_TOKS_SQL} AS t FROM documents),
         unnest(range(1, greatest(len(t) - {n - 1}, 0) + 1)) AS s(i)
  ) GROUP BY {by_col}, g
) GROUP BY {by_col}""")
    return " UNION ALL ".join(blocks)


@register(
    "ngram_diversity",
    _ngram_diversity_oracle_sql(
        "source", (1, 2, 3)
    ),
)
def _ngram_diversity(spark, sf_dir):
    """Distinct-n diversity per source (text_analysis.ngram_diversity,
    sizes 1/2/3): the generation-diversity audit — distinct n-grams
    over total n-grams per corpus slice."""
    return T.ngram_diversity(
        _t(spark, sf_dir, "documents"), "source", sizes=(1, 2, 3)
    )


def _rake_oracle_sql(top_k: int, stopwords: tuple) -> str:
    """Separator-encoding RAKE replica: stopword -> '|' -> split ->
    trim -> drop empties round-trips identically through Spark
    split(regex) and DuckDB string_split."""
    stop_list = ", ".join(f"'{w}'" for w in stopwords)
    return f"""
WITH phr AS MATERIALIZED (
  SELECT trim(p) AS phrase FROM (
    SELECT unnest(string_split(array_to_string(
      list_transform({_TOKS_SQL},
        t -> CASE WHEN t IN ({stop_list}) THEN '|' ELSE t END),
      ' '), '|')) AS p
    FROM documents
  ) WHERE trim(p) <> ''
),
pw AS MATERIALIZED (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w,
         len(string_split(phrase, ' ')) AS plen
  FROM phr
),
word_stats AS MATERIALIZED (
  SELECT w, sum(plen) / CAST(count(*) AS DOUBLE) AS score
  FROM pw GROUP BY w
),
phrase_scores AS MATERIALIZED (
  SELECT pw.phrase AS phrase, sum(ws.score) AS raw
  FROM pw JOIN word_stats ws ON pw.w = ws.w
  GROUP BY pw.phrase
),
counts AS (
  SELECT phrase, count(*) AS n_occurrences FROM phr GROUP BY phrase
)
SELECT ps.phrase AS phrase,
       CAST(c.n_occurrences AS BIGINT) AS n_occurrences,
       round(ps.raw / c.n_occurrences, 4) AS rake_score
FROM phrase_scores ps JOIN counts c ON ps.phrase = c.phrase
ORDER BY rake_score DESC, phrase LIMIT {top_k}
"""


@register("rake_keywords", _rake_oracle_sql(15, RAKE_STOPWORDS))
def _rake_keywords(spark, sf_dir):
    """RAKE keyword extraction over the documents corpus
    (text_analysis.rake_keywords, top 15): stopword-separator phrase
    runs, degree/frequency word scores, TakeOrdered phrase ranking
    with the 4dp + phrase tiebreak."""
    return T.rake_keywords(_t(spark, sf_dir, "documents"), top_k=15)


_LOG_ODDS_SQL = """
WITH tk AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS w
  FROM documents WHERE lang IS NOT NULL
), c AS (
  SELECT w, sum(a) AS ya, count(*) - sum(a) AS yb FROM tk GROUP BY w
), tot AS (
  SELECT sum(ya) AS na, sum(yb) AS nb FROM c
), z AS (
  SELECT w AS token, CAST(ya AS BIGINT) AS count_a,
         CAST(yb AS BIGINT) AS count_b,
         round((ln((ya + al) / (na + 500.0 - ya - al))
                - ln((yb + al) / (nb + 500.0 - yb - al)))
               / sqrt(1.0 / (ya + al) + 1.0 / (yb + al)), 4) AS z_score
  FROM (SELECT c.*, tot.na, tot.nb,
               500.0 * (ya + yb) / (na + nb) AS al
        FROM c, tot)
), ra AS (
  SELECT token, count_a, count_b, z_score,
         CAST(row_number() OVER (ORDER BY z_score DESC, token)
              AS BIGINT) AS rank, 'a' AS side
  FROM z QUALIFY rank <= 25
), rb AS (
  SELECT token, count_a, count_b, z_score,
         CAST(row_number() OVER (ORDER BY z_score ASC, token)
              AS BIGINT) AS rank, 'b' AS side
  FROM z QUALIFY rank <= 25
)
SELECT * FROM ra UNION ALL SELECT * FROM rb"""


@register("txt_log_odds", _LOG_ODDS_SQL)
def _txt_log_odds(spark, sf_dir):
    """Monroe weighted log-odds with informative Dirichlet prior
    (text_analysis.log_odds_ratio): which tokens distinguish English
    documents from the rest — top-25 each side by z, rank cutoffs."""
    return T.log_odds_ratio(
        _t(spark, sf_dir, "documents"),
        group_col="lang", group_a="en",
        alpha0=500.0, top_n=25,
    )


_TEXTRANK_STOP_SQL = (
    "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with']"
)


def _textrank_oracle_sql(iterations: int = 3, top_n: int = 20) -> str:
    """DuckDB replica of text_analysis.textrank_keywords: the word
    co-occurrence graph (adjacency after stopword filtering, both
    directions) + the unrolled weighted-PageRank chain from the
    graph_pagerank oracle, then the top-N rank cutoff."""
    parts = [
        "tk AS MATERIALIZED (SELECT list_filter(list_filter("
        " regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " t -> t <> ''), t -> NOT list_contains("
        + _TEXTRANK_STOP_SQL + ", t)) AS ts FROM documents)",
        "dir AS MATERIALIZED (SELECT ts[i + 1] AS a, ts[i + 2] AS b"
        " FROM tk, LATERAL (SELECT unnest(range(len(ts) - 1)) AS i)"
        " WHERE ts[i + 1] <> ts[i + 2])",
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, count(*) AS w"
        " FROM (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)"
        " GROUP BY 1, 2)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n"
        " FROM nodes)",
        "p AS MATERIALIZED (SELECT src, dst, w * 1.0 /"
        " sum(w) OVER (PARTITION BY src) AS p FROM e)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS pr"
        " FROM nodes, nn)",
    ]
    for i in range(iterations):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS m"
            f" FROM r{i} WHERE node NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT p.dst AS node,"
            f" sum(r.pr * p.p) AS contrib FROM p JOIN r{i} r"
            f" ON p.src = r.node GROUP BY p.dst)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT nd.node, 0.15 / nn.n"
            f" + 0.85 * (coalesce(c{i}.contrib, 0.0) + m{i}.m / nn.n)"
            f" AS pr FROM nodes nd CROSS JOIN nn CROSS JOIN m{i}"
            f" LEFT JOIN c{i} ON nd.node = c{i}.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node AS token, round(pr, 6) AS rank_score,"
        f" CAST(row_number() OVER (ORDER BY round(pr, 6) DESC, node)"
        f" AS INT) AS position FROM r{iterations}"
        f" QUALIFY position <= {top_n}"
    )


@register("txt_textrank", _textrank_oracle_sql(3, 20))
def _txt_textrank(spark, sf_dir):
    """TextRank keywords on the word co-occurrence graph
    (text_analysis.textrank_keywords): adjacency over
    stopword-filtered tokens, 3 weighted-PageRank iterations via the
    shared graph.pagerank operator, top-20 rank cutoff."""
    return T.textrank_keywords(
        _t(spark, sf_dir, "documents"), top_n=20, iterations=3
    )


_INSTRUCTION_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         coalesce(list_contains(
           ['write', 'explain', 'describe', 'list', 'summarize',
            'translate', 'create', 'give', 'make', 'find'],
           toks[1]), false) AS imperative_start,
         (coalesce(list_contains(
            ['what', 'how', 'why', 'when', 'where', 'which', 'who'],
            toks[1]), false)
          OR contains(text, '?')) AS is_question,
         regexp_matches(text, '(^|\\n)\\s*([0-9]+[.)]|[-*] )')
           AS has_enumeration,
         contains(lower(text), 'please') AS has_request
  FROM t
)
SELECT doc_id, imperative_start, is_question, has_enumeration,
       has_request,
       round(CAST(imperative_start AS INT) * 0.35
             + CAST(is_question AS INT) * 0.35
             + CAST(has_enumeration AS INT) * 0.2
             + CAST(has_request AS INT) * 0.1, 2) AS instruction_score
FROM f"""


@register("txt_instruction_score", _INSTRUCTION_SQL)
def _txt_instruction_score(spark, sf_dir):
    """Instruction-data mining heuristics over documents
    (text_analysis.instruction_score): imperative/interrogative/
    enumeration/request cues as literal sets, 2dp-exact score."""
    return T.instruction_score(_t(spark, sf_dir, "documents"))


def _dup_sentence_oracle_sql() -> str:
    return f"""
WITH alldocs AS ({_DUPDOCS_SQL}),
sent AS (SELECT doc_id,
  list_filter(regexp_split_to_array(text, '[.!?]+\\s+'),
              s -> len(trim(s)) > 0) AS ss FROM alldocs),
srows AS (SELECT doc_id, CAST(len(ss[i]) AS INT) AS n_chars,
          md5(lower(trim(ss[i]))) AS h
          FROM sent, lateral unnest(generate_series(1, len(ss))) t(i)),
corpus AS (SELECT h, count(DISTINCT doc_id) AS docs
           FROM srows GROUP BY h),
tagged AS (SELECT doc_id, n_chars, (docs >= 2) AS dup
           FROM srows JOIN corpus USING (h))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_sentences,
       round(sum(CASE WHEN dup THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS dup_frac,
       CAST(sum(CASE WHEN dup THEN n_chars ELSE 0 END) AS BIGINT)
         AS dup_chars
FROM tagged GROUP BY doc_id"""


@register("txt_dup_sentence_filter", _dup_sentence_oracle_sql())
def _txt_dup_sentence_filter(spark, sf_dir):
    """Repeated-sentence audit (text_analysis.dup_sentence_filter,
    min_count=2) over the planted-dups corpus — every plant's
    sentences occur in >=2 docs by construction, so the C4-style
    boilerplate signal is exercised end to end; counts group on the
    sentence md5, never shuffling text."""
    return T.dup_sentence_filter(_docs_with_dups(spark, sf_dir))


_HASH_COLLISION_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT unnest({_TOKS_SQL}) AS t FROM documents
), b AS (
  SELECT {_BASEHASH_SQL.format(x="t")} % 1024 AS bkt FROM vocab
), pb AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bkt
)
SELECT CAST(sum(n) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS n_buckets_used,
       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
         AS n_colliding_terms,
       round(sum(CASE WHEN n > 1 THEN n ELSE 0 END)
             / CAST(sum(n) AS DOUBLE), 6) AS collision_frac,
       CAST(max(n) AS BIGINT) AS max_bucket_terms
FROM pb"""


@register("txt_hash_collision_audit", _HASH_COLLISION_SQL)
def _txt_hash_collision_audit(spark, sf_dir):
    """Feature-hashing collision audit (text_analysis.
    hash_collision_audit, 1024 buckets): distinct-vocab bucket
    occupancy with the SAME portable hash the hashed-features op
    uses — the widen-the-dimension tripwire."""
    return T.hash_collision_audit(_t(spark, sf_dir, "documents"))
