"""Scalar function families: date/time, higher-order array math, and
semi-structured attr-map parsing.

The reference's only scalar functions are the string/regex family of
SURVEY §2.2; these extend the engine to the families a general
analytics workload needs (§2.8 "absent categories").  Everything is
a pure Column expression — JVM-side, codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---- date/time ------------------------------------------------------------

def date_parts(col: Column | str) -> dict[str, Column]:
    """Standard calendar decomposition of a date/timestamp column."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "year": F.year(c),
        "month": F.month(c),
        "day": F.dayofmonth(c),
        "dow": F.dayofweek(c),  # 1=Sunday .. 7=Saturday (ANSI)
        "week": F.weekofyear(c),
        "quarter": F.quarter(c),
    }


def days_between(end: Column | str, start: Column | str) -> Column:
    """Whole-day difference (end - start)."""
    return F.datediff(end, start)


# ---- attr-map parsing -----------------------------------------------------

def attr_to_map(col: Column | str, pair_sep: str = ";", kv_sep: str = "=") -> Column:
    """Parse a ``k1=v1;k2=v2`` attribute string into a map<string,string>.

    The *structured* alternative to the reference's per-field regex
    extraction from GVF/GTF ``attr`` columns
    (``eggv/process.py:125-158`` runs one regex per field over the
    same string): parse once, then ``element_at`` per field.
    ``element_at`` returns NULL for missing keys — the same
    pandas-compatible null semantics as
    :func:`eggv_spark.functions.extract.regexp_extract_null`.
    """
    return F.str_to_map(col, F.lit(pair_sep), F.lit(kv_sep))


def attr_field(col: Column | str, key: str, **kwargs: str) -> Column:
    """One field out of an attr string (NULL when absent)."""
    return F.element_at(attr_to_map(col, **kwargs), key)


# ---- higher-order array math ---------------------------------------------

def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays via zip_with + aggregate —
    executes inside codegen, no data leaves the JVM."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def array_stats(a: Column | str) -> dict[str, Column]:
    """Per-row array statistics with higher-order functions."""
    c = F.col(a) if isinstance(a, str) else a
    n = F.size(c)
    total = F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x)
    return {
        "n_dims": n,
        "vec_sum": total,
        "vec_mean": total / n,
        "vec_min": F.array_min(c),
        "vec_max": F.array_max(c),
        "n_positive": F.size(F.filter(c, lambda x: x > 0)),
    }


# ---- PII redaction --------------------------------------------------------

#: Redaction patterns — deliberately limited to syntax valid in BOTH
#: Java regex (Spark) and RE2 (DuckDB oracle): no backrefs, no
#: lookaround.  Order matters: emails first so the phone rule can't
#: eat digit runs inside an address.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{2}-\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / phone numbers / IPv4 literals from free text —
    the standard pre-training PII pass.  A chain of JVM-side
    ``regexp_replace`` calls: codegen'd, shuffle-free, scan-speed
    over 100 TB of documents (extension family; reference has no
    text ops beyond SURVEY §2.2)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


# ---- URL decomposition ----------------------------------------------------

def url_parts(col: Column | str) -> dict[str, Column]:
    """Host / path / query-param extraction via Spark's built-in
    ``parse_url`` (JVM java.net parsing — not regex).  The DuckDB
    oracle mirrors it with anchored regexes; both null out on
    component absence."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "url_host": F.parse_url(c, F.lit("HOST")),
        "url_path": F.parse_url(c, F.lit("PATH")),
        "url_proto": F.parse_url(c, F.lit("PROTOCOL")),
    }


def canonical_url(col: Column | str) -> Column:
    """C4/CommonCrawl-style URL canonicalization for dedup keys, as a
    pure regexp_replace chain (JVM-side, RE2-safe so the oracle runs
    the identical program):

    1. lowercase the scheme+host (the authority is case-insensitive;
       path case is preserved — it is significant per RFC 3986),
    2. strip a leading ``www.``,
    3. drop the fragment,
    4. drop tracking query params (utm_*, fbclid, gclid, ref) —
       then any leftover ``?``/``&`` debris,
    5. strip one trailing slash.

    Two URLs that differ only in these respects are the same document
    for crawl-dedup purposes.
    """
    c = F.col(col) if isinstance(col, str) else col
    # 1: lowercase "scheme://HOST" prefix only (path untouched)
    lowered = F.concat(
        F.lower(F.regexp_extract(c, r"^([^/]*//[^/?#]*)", 1)),
        F.regexp_replace(c, r"^[^/]*//[^/?#]*", ""),
    )
    no_www = F.regexp_replace(lowered, r"^(https?://)www\.", r"$1")
    no_frag = F.regexp_replace(no_www, r"#.*$", "")
    no_track = F.regexp_replace(
        no_frag, r"(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?", ""
    )
    no_debris = F.regexp_replace(no_track, r"[?&]+$", "")
    return F.regexp_replace(no_debris, r"/$", "")


#: DuckDB twin of :func:`canonical_url`.  Differences handled here:
#: DuckDB regexp_replace is FIRST-match by default (Spark is global),
#: so the multi-occurrence tracking-param step passes the 'g' option;
#: backreferences are ``\1`` (Spark: ``$1``).
CANONICAL_URL_SQL_STEPS = """\
regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
 lower(regexp_extract({x}, '^([^/]*//[^/?#]*)', 1))
   || regexp_replace({x}, '^[^/]*//[^/?#]*', ''),
 '^(https?://)www\\.', '\\1'),
 '#.*$', ''),
 '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?', '', 'g'),
 '[?&]+$', ''),
 '/$', '')"""
