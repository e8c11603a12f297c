"""Variant (GVF) processing operators.

Spark-first re-expression of the reference's GVF chain
(``eggv/process.py:100-180``): projection -> rename -> regex field
extraction out of the semi-structured ``attr`` column -> null
handling -> effect explode -> per-effect token split.

Everything is a pure Column expression (whole-stage codegen; no
Python in the hot path).  Operator IDs refer to SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: attr grammars (reference: eggv/process.py:125,134-135,145,158).
#: The rsid digits are captured directly (the reference captures
#: 'rs\d+' then strips the prefix — same result, one step).
_RSID_PATTERN = r"Dbxref=dbSNP_\d+:rs(\d+)"
_VAR_ALLELE_PATTERN = r"Variant_seq=([-,ACGT]+)"
_REF_ALLELE_PATTERN = r"Reference_seq=([-,ACGT]+)"
_MAF_PATTERN = r"global_minor_allele_frequency=\d+\|([.0-9]+)"
#: Requires the trailing ';' — a last-attribute effect is missed.
#: Kept for parity with eggv/process.py:158 (SURVEY §7.5.6), covered
#: by test_effect_grammar_requires_trailing_semicolon.
#: Written as the backtrack-free equivalent of the reference's lazy
#: ``(.+?);``: the lazy form matches the shortest ≥1-char prefix
#: ending at a ';', i.e. exactly "any first char, then up to the
#: next ';'" — ``(.[^;]*);`` — but the lazy engine re-tries the
#: tail per character (measured ~1.5 s of the variant stage at the
#: 5 GB bench scale), while the char-class form scans each attr
#: byte once.  Same match on every single-line input, including the
#: leading-';' and no-trailing-';' edge cases (pinned in
#: tests/test_round10_opt.py).
_EFFECT_PATTERN = r"Variant_effect=(.[^;]*);"


def extract_variant_fields(
    df: DataFrame, repartition_to: int | None = None
) -> DataFrame:
    """Raw GVF rows -> typed per-VARIANT frame (chromosome, start,
    end, rsid, observed, maf, effect-list) — everything in
    :func:`process_gvf` EXCEPT the per-effect explode.  Shared by the
    effect path (explodes next) and the metadata path (which must NOT
    pay the explode: metadata is constant across a variant's effects,
    so deduping post-explode rows is pure inflation)."""
    return _extract_typed(df, repartition_to)


def process_gvf(df: DataFrame, repartition_to: int | None = None) -> DataFrame:
    """Raw GVF rows -> processed variants (one row per effect).

    Ops: PRJ-01/02, STR-01..06, NUL-01/02, CST-01, EXP-01
    (reference chain ``eggv/process.py:100-180``).

    ``repartition_to``: gzip text is NOT splittable, so a scan of N
    ``.gz`` files yields only N partitions — the regex chain would
    run N-wide no matter the cluster size (the reference sidesteps
    this by gunzipping to disk first and splitting at 150 MB,
    ``eggv/retrieve.py:49-75`` + ``eggv/process.py:60``).  Setting
    this redistributes rows AFTER the cheap 4-column projection and
    BEFORE the regex extraction, trading one narrow shuffle for
    full-width parallelism.  Leave None for splittable inputs
    (parquet, plain text).

    Output schema: PROCESSED_VARIANTS_SCHEMA — (chromosome, rsid,
    start, end, observed, maf, effect, transcript).
    """
    return explode_effects(_extract_typed(df, repartition_to))


def explode_effects(df: DataFrame) -> DataFrame:
    """Typed per-variant frame (:func:`extract_variant_fields`) ->
    processed variants (one row per effect) — the back half of
    :func:`process_gvf`, split out so a caller that already holds the
    typed frame (e.g. a materialized shared scan) can explode without
    re-extracting."""
    # EXP-01: one row per effect.  The column was just coalesced to a
    # non-null non-empty string, so plain explode never drops rows;
    # explode_outer is used anyway as a defensive invariant
    # (SURVEY §7.5.3).
    df = df.withColumn("effect", F.explode_outer(F.split("effect", ",")))

    # STR-05/06: effect grammar 'name idx feature_type transcript'.
    # F.get is null-on-out-of-bounds (ANSI-safe): short/malformed
    # entries yield null transcript -> '' (parity with pandas
    # str.get(3).fillna('')).
    tokens = F.split(F.coalesce(F.col("effect"), F.lit("intergenic")), " ")
    df = df.withColumn("transcript", F.coalesce(F.get(tokens, 3), F.lit("")))
    df = df.withColumn("effect", F.get(tokens, 0))

    return df.select(
        "chromosome", "rsid", "start", "end", "observed", "maf", "effect", "transcript"
    )


def _extract_typed(df: DataFrame, repartition_to: int | None = None) -> DataFrame:
    """Projection + staged regex extraction + null/cast handling —
    the pre-explode front of :func:`process_gvf`."""
    # PRJ-01 projection + PRJ-02 rename + STR-01 'chr' prefix.
    # Catalyst prunes the scan to these 4 columns automatically.
    df = df.select(
        F.concat(F.lit("chr"), F.col("seqid").cast("string")).alias("chromosome"),
        "start",
        "end",
        "attr",
    )
    if repartition_to:
        df = df.repartition(repartition_to)

    # ROUND-11 NEGATIVE RESULT (guide §1.1 "a fresh implementation of
    # the ideal plan is usually slower because of some gotcha"): a
    # pair-anchored locate/substring parse (split the attr once, regex
    # only the short values) was built, proven bit-identical on a
    # 5000-attr adversarial corpus, and measured 2.5-4.5x SLOWER than
    # this five-regex shape (per-expression bisect in
    # OPTIMIZATION_r11.md).  Two causes: (a) Java's regex
    # engine runs literal-prefix patterns at optimized-search speed
    # (~1 s for all four extracts over the 5.6 GB corpus), while
    # Spark's locate/instr are naive byte loops (4 locates alone cost
    # more than the 4 regexes); (b) any multi-reference predicate
    # pushed into the scan re-evaluates attr's defining line-split per
    # reference (no CSE in pushed filters).  The regex chain stays.
    #
    # STR-02: ALL raw regex extracts in ONE projection, null handling
    # on the materialized slots in the NEXT.  Load-bearing split: a
    # nullif(regexp_extract(..)) single-expression form references the
    # regex twice inside a conditional branch, which codegen cannot
    # hoist — measured 12x slower on a 1 GB GVF (70 s -> 6 s for the
    # two allele extracts alone).  Staging the raw extract as its own
    # column evaluates each regex exactly once; CollapseProject keeps
    # the stage because every *_raw slot is referenced twice by its
    # nullif consumer.
    df = df.select(
        "chromosome",
        "start",
        "end",
        F.regexp_extract("attr", _RSID_PATTERN, 1).alias("_rsid_raw"),
        F.regexp_extract("attr", _VAR_ALLELE_PATTERN, 1).alias("_var_raw"),
        F.regexp_extract("attr", _REF_ALLELE_PATTERN, 1).alias("_ref_raw"),
        F.regexp_extract("attr", _MAF_PATTERN, 1).alias("_maf_raw"),
        F.regexp_extract("attr", _EFFECT_PATTERN, 1).alias("_eff_raw"),
    )

    # NUL-02 here, on the staged slot, NOT as na.drop(rsid) after the
    # typed projection: rsid is null iff the raw capture is '' (the
    # \d+ capture is always castable), so the two forms keep exactly
    # the same rows — but the na.drop form pushed
    # ``atleastnnonnulls(nullif(cast(regexp_extract(..))))`` below
    # BOTH projections, re-running the rsid regex TWICE per input
    # line at the scan (visible in the physical plan's DataFilters).
    # The bare ``_rsid_raw != ''`` predicate pushes as ONE regex
    # evaluation: measured 9.2 s -> 5.8 s (−37%) for the full typed
    # extraction over the 5 GB bench corpus, rows exceptAll-identical
    # both ways (guide §7.2: read the plan; §2.4 remove repeated
    # work).  Equivalence pinned in tests/test_round10_opt.py.
    df = df.filter(F.col("_rsid_raw") != "")

    # STR-03 + NUL-01/02 + CST-01 on the slots (pandas str.extract
    # null parity: '' capture folds to null, exactly
    # regexp_extract_null's contract).
    empty = F.lit("")
    df = df.select(
        "chromosome",
        "start",
        "end",
        F.nullif(F.col("_rsid_raw"), empty).cast("long").alias("rsid"),
        # STR-04: observed alleles, '-' when absent.
        F.concat_ws(
            ",",
            F.coalesce(F.nullif(F.col("_var_raw"), empty), F.lit("-")),
            F.coalesce(F.nullif(F.col("_ref_raw"), empty), F.lit("-")),
        ).alias("observed"),
        # MAF, 0.0 when absent, float32.
        F.coalesce(
            F.nullif(F.col("_maf_raw"), empty).cast("float"), F.lit(0.0)
        ).cast("float").alias("maf"),
        # Effect list string, 'intergenic' when absent.
        F.coalesce(F.nullif(F.col("_eff_raw"), empty), F.lit("intergenic")).alias(
            "effect"
        ),
    )
    return df


def isolate_variant_effects(df: DataFrame) -> DataFrame:
    """DDP-01: distinct (rsid, effect, transcript) triples.

    The reference deduplicates partition-locally to avoid a shuffle
    (``eggv/process.py:275-294`` — duplicates only arise within a
    partition there).  Spark's ``dropDuplicates`` plans a partial
    (map-side) aggregate before the shuffle, so the local-dedup
    benefit is captured automatically while guaranteeing global
    uniqueness — a strict superset of the reference's semantics.
    """
    return df.select("rsid", "effect", "transcript").dropDuplicates()


def isolate_variant_metadata(df: DataFrame) -> DataFrame:
    """DDP-02: one metadata row per rsid.

    Reference keeps an arbitrary first-per-partition row
    (``eggv/process.py:297-315``).  Since every exploded effect row
    of one variant carries identical metadata, any representative is
    correct; ``dropDuplicates(['rsid'])`` does a map-side partial
    dedup then a key shuffle.
    """
    return df.select(
        "chromosome", "start", "end", "rsid", "observed", "maf"
    ).dropDuplicates(["rsid"])
