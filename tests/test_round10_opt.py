"""Regression tests for round-10 optimization-round changes.

Every change this round is a performance restructure that must not
move a single output value; these tests pin the equivalences that
are not already covered by the oracle sweep:

1. the backtrack-free effect regex ``(.[^;]*);`` matches exactly
   what the reference's lazy ``(.+?);`` matched, on the edge cases
   where the two forms could plausibly diverge;
2. ``bpe_train_with_sizes`` (single merge loop) returns the same
   merge table and the same word→symbol-count map as the
   train-then-``bpe_word_sizes`` double loop;
3. ``bpe_apply_merges`` with a precomputed ``word_sizes`` equals the
   recompute path.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from eggv_spark.operators import text_analysis as T
from eggv_spark.operators.variants import _EFFECT_PATTERN


#: The reference's pattern (eggv/process.py:158) — the ground truth
#: the optimized pattern must reproduce match-for-match.
_REFERENCE_EFFECT_PATTERN = r"Variant_effect=(.+?);"

EFFECT_EDGE_CASES = [
    # (attr, expected capture or None)
    ("Variant_effect=missense 0 mRNA T1;", "missense 0 mRNA T1"),
    ("a=b;Variant_effect=x;c=d;", "x"),
    # no trailing ';' — both forms miss the last attribute (the
    # documented reference quirk)
    ("a=b;Variant_effect=x", None),
    # empty value then ';': lazy '.' CAN consume the ';' itself when
    # another ';' follows — the one place a naive [^;]+ rewrite
    # would diverge
    ("Variant_effect=;;", ";"),
    ("Variant_effect=;x;", ";x"),
    ("Variant_effect=;x", None),
    ("Variant_effect=", None),
    ("Variant_effect=;", None),
    ("", None),
    ("Variant_effect=a;b;", "a"),
    ("prefix Variant_effect=stop_gained 1 mRNA T2;suffix", "stop_gained 1 mRNA T2"),
]


@pytest.mark.parametrize("attr,expected", EFFECT_EDGE_CASES)
def test_effect_pattern_matches_reference_lazy_form(attr, expected):
    ref = re.search(_REFERENCE_EFFECT_PATTERN, attr)
    opt = re.search(_EFFECT_PATTERN, attr)
    assert (ref.group(1) if ref else None) == expected
    assert (opt.group(1) if opt else None) == expected


def test_effect_pattern_equivalent_in_spark(spark):
    """Same equivalence through Spark's (Java) regex engine, where
    the optimized pattern actually runs."""
    df = spark.createDataFrame(
        [(a,) for a, _ in EFFECT_EDGE_CASES], "attr: string"
    )
    out = df.select(
        F.regexp_extract("attr", _REFERENCE_EFFECT_PATTERN, 1).alias("ref"),
        F.regexp_extract("attr", _EFFECT_PATTERN, 1).alias("opt"),
    ).collect()
    for row in out:
        assert row["ref"] == row["opt"]


@pytest.fixture(scope="module")
def bpe_docs(spark):
    rows = [
        (i, f"low lower lowest newer newest wide widest tok{i % 5} b{i % 3}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_bpe_single_loop_matches_double_loop(spark, bpe_docs):
    n = 4
    merges_ref = T.bpe_train_merges(bpe_docs, n_merges=n)
    sizes_ref = T.bpe_word_sizes(bpe_docs, merges_ref, n)
    merges_one, sizes_one = T.bpe_train_with_sizes(bpe_docs, n_merges=n)

    mt_ref = sorted(map(tuple, merges_ref.collect()))
    mt_one = sorted(map(tuple, merges_one.collect()))
    assert mt_ref == mt_one

    ws_ref = sorted(map(tuple, sizes_ref.collect()))
    ws_one = sorted(map(tuple, sizes_one.collect()))
    assert ws_ref == ws_one


def test_bpe_apply_with_precomputed_sizes_matches_recompute(spark, bpe_docs):
    n = 3
    merges, sizes = T.bpe_train_with_sizes(bpe_docs, n_merges=n)
    via_recompute = sorted(
        map(tuple, T.bpe_apply_merges(bpe_docs, merges, n).collect())
    )
    via_precomputed = sorted(
        map(
            tuple,
            T.bpe_apply_merges(
                bpe_docs, merges, n, word_sizes=sizes
            ).collect(),
        )
    )
    assert via_recompute == via_precomputed


# ---------------------------------------------------------------------------
# 4. split GVF parser (readers.read_gvf_split) vs the CSV reader
# ---------------------------------------------------------------------------

_SPEC_GVF = (
    "##gvf-version 1.07\n"
    "# another comment\n"
    "7\tdbSNP\tSNV\t100\t100\t.\t+\t.\t"
    "ID=1;Dbxref=dbSNP_151:rs1;Variant_seq=A;Reference_seq=C;"
    "Variant_effect=intron_variant 0 mRNA ENSMUST0001;x=y\n"
    "X\tdbSNP\tSNV\t2\t3\t.\t-\t.\tID=2;Variant_seq=G;Reference_seq=T\n"
    "\n"
    "11\tdbSNP\tindel\t50\t60\t.\t+\t.\tID=3;Dbxref=dbSNP_151:rs3\n"
)

_DIRTY_GVF = (
    "7\tdbSNP\tSNV\t100\t100\t.\t+\t.\tID=1;Dbxref=dbSNP_151:rs1\n"
    "7\tdbSNP\tbroken\n"                      # short row
    "7\tdbSNP\tSNV\tnotanum\t9\t.\t+\t.\tID=2\n"  # uncastable start
)


def test_split_parser_identical_on_spec_conformant_gvf(spark, tmp_path):
    from eggv_spark.sources.readers import read_gvf, read_gvf_split

    p = tmp_path / "spec.gvf"
    p.write_text(_SPEC_GVF)
    a = read_gvf(spark, str(p))
    b = read_gvf_split(spark, str(p))
    assert a.schema == b.schema
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == 3


def test_split_parser_pipeline_output_identical_through_process_gvf(spark, tmp_path):
    """Even on dirty rows (short / uncastable) the two parsers agree
    AFTER process_gvf: both leave rsid null on those rows, and the
    na.drop(rsid) removes them either way."""
    from eggv_spark.operators.variants import process_gvf
    from eggv_spark.sources.readers import read_gvf, read_gvf_split

    p = tmp_path / "dirty.gvf"
    p.write_text(_DIRTY_GVF)
    a = sorted(map(tuple, process_gvf(read_gvf(spark, str(p))).collect()))
    b = sorted(map(tuple, process_gvf(read_gvf_split(spark, str(p))).collect()))
    assert a == b and len(a) == 1


def test_split_parser_per_field_degradation_documented(spark, tmp_path):
    """The documented divergence: the split parser degrades per-field
    (short row keeps its parsed prefix, bad number nulls one field)
    where PERMISSIVE CSV nulls whole rows.  Pin the split behavior so
    a regression is loud."""
    from eggv_spark.sources.readers import read_gvf_split

    p = tmp_path / "dirty.gvf"
    p.write_text(_DIRTY_GVF)
    rows = {r.type: r for r in read_gvf_split(spark, str(p)).collect()}
    assert rows["broken"].start is None and rows["broken"].attr is None
    assert rows["SNV"].start in (100, None)  # two SNV rows; see below
    by_attr = {r.attr: r for r in read_gvf_split(spark, str(p)).collect()}
    assert by_attr["ID=2"].start is None and by_attr["ID=2"].end == 9


# ---------------------------------------------------------------------------
# 5. staged rsid drop (_rsid_raw != '') vs the old na.drop(rsid)
# ---------------------------------------------------------------------------

_RSID_EDGE_GVF = (
    "7\tdbSNP\tSNV\t1\t1\t.\t+\t.\tID=1;Dbxref=dbSNP_151:rs1;Variant_seq=A\n"
    "7\tdbSNP\tSNV\t2\t2\t.\t+\t.\tID=2;Variant_seq=C\n"          # no rsid -> drop
    "7\tdbSNP\tSNV\t3\t3\t.\t+\t.\tID=3;Dbxref=dbSNP_1:rs007\n"   # leading zeros
    "7\tdbSNP\tSNV\t4\t4\t.\t+\t.\tDbxref=dbSNP_:rs5\n"           # no \d+ after dbSNP_ -> no match -> drop
)


def test_staged_rsid_drop_equals_na_drop(spark, tmp_path):
    """The optimized drop (filter _rsid_raw != '' before the typed
    projection) keeps exactly the rows the old na.drop(rsid) kept:
    rsid is null iff the raw capture is empty, because the \\d+
    capture always casts."""
    from eggv_spark.operators.variants import extract_variant_fields
    from eggv_spark.sources.readers import read_gvf_split

    p = tmp_path / "edge.gvf"
    p.write_text(_RSID_EDGE_GVF)
    got = extract_variant_fields(read_gvf_split(spark, str(p)))
    rows = sorted(map(tuple, got.collect()))
    # via the old semantics: typed projection then drop null rsid
    assert [r[3] for r in rows] == sorted([1, 7])  # rsid values kept
    assert got.filter("rsid IS NULL").count() == 0


# ---------------------------------------------------------------------------
# 6. the one-scan variant stage vs the reference composition
# ---------------------------------------------------------------------------

_SHARE_GVF = (
    "##gvf-version 1.07\n"
    "7\tdbSNP\tSNV\t100\t100\t.\t+\t.\t"
    "ID=1;Dbxref=dbSNP_151:rs1;Variant_seq=A;Reference_seq=C;"
    "Variant_effect=intron_variant 0 mRNA T1,missense 0 mRNA T2;x=y\n"
    "7\tdbSNP\tSNV\t100\t100\t.\t+\t.\t"
    "ID=1b;Dbxref=dbSNP_151:rs1;Variant_seq=A;Reference_seq=C;"
    "Variant_effect=intron_variant 0 mRNA T1,missense 0 mRNA T2;x=y\n"
    "X\tdbSNP\tSNV\t2\t3\t.\t-\t.\tID=2;Dbxref=dbSNP_151:rs2;"
    "Variant_seq=G\n"
    "11\tdbSNP\tindel\t50\t60\t.\t+\t.\tID=3;Variant_seq=T\n"  # no rsid
)


def test_variant_stage_matches_reference_composition(spark, tmp_path):
    """run_variant_processing — one materialized typed frame feeding
    both sinks — writes exactly what the reference composition
    isolate_variant_{effects,metadata}(process_gvf(read_gvf(..)))
    yields, including the duplicate-rsid dedup and the no-rsid drop."""
    import gzip

    from eggv_spark import pipeline as P
    from eggv_spark.layout import DataLayout
    from eggv_spark.operators import variants as V
    from eggv_spark.sources.readers import read_gvf

    lay = DataLayout(str(tmp_path / "data"), "mm10")
    lay.create()
    with gzip.open(lay.variant_gvf(), "wt") as fh:
        fh.write(_SHARE_GVF)
    P.run_variant_processing(spark, lay, fmt="parquet")
    eff = sorted(map(tuple, spark.read.parquet(lay.variant_effects()).collect()))
    meta = sorted(map(tuple, spark.read.parquet(lay.variant_meta()).collect()))

    processed = V.process_gvf(read_gvf(spark, lay.variant_gvf_glob()))
    ref_eff = V.isolate_variant_effects(processed)
    ref_meta = V.isolate_variant_metadata(processed)
    assert eff == sorted(map(tuple, ref_eff.collect()))
    assert meta == sorted(map(tuple, ref_meta.collect()))
    assert len(eff) == 3  # rs1 dedups its doubled effects; rs2 intergenic
    assert [m[3] for m in meta] == [1, 2]


def test_read_table_session_memo(spark):
    """read_table memoizes the lazy table frame per (session, path):
    repeat reads return the SAME DataFrame object (no re-listing),
    refresh_table drops the entry so the next read re-lists, and
    results are unchanged either way (the memo holds metadata, never
    rows)."""
    from eggv_spark.sources import readers

    SF_DIR = "/root/testdata/sf0.001"

    a = readers.read_table(spark, SF_DIR, "nation")
    b = readers.read_table(spark, SF_DIR, "nation")
    assert a is b

    readers.refresh_table(spark, SF_DIR, "nation")
    c = readers.read_table(spark, SF_DIR, "nation")
    assert c is not a
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, a.collect()))

    # distinct paths never collide in the memo
    d = readers.read_table(spark, SF_DIR, "region")
    assert d is not c and d.columns != c.columns
