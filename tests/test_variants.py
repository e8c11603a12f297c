"""Golden tests for the GVF variant chain (parity with the reference's
assertion style, ``/root/reference/tests/test_process.py:43-117``,
against hand-authored fixtures)."""

from __future__ import annotations

import pytest

from eggv_spark.operators.variants import (
    explode_effects,
    extract_variant_fields,
    isolate_variant_effects,
    isolate_variant_metadata,
)
from eggv_spark.sources.readers import read_gvf, read_gvf_split
from tests.fixtures import GVF_TEXT, write_fixture


@pytest.fixture(scope="module")
def gvf_path(tmp_path_factory):
    return write_fixture(tmp_path_factory.mktemp("gvf"), "sample.gvf", GVF_TEXT)


@pytest.fixture(scope="module")
def gvf_df(spark, gvf_path):
    return read_gvf(spark, gvf_path)


@pytest.fixture(scope="module")
def processed(spark, gvf_path):
    # the pipeline's variant chain: spec reader -> extract -> explode
    return explode_effects(
        extract_variant_fields(read_gvf_split(spark, gvf_path))
    ).cache()


def test_gvf_scan_skips_comments_and_keeps_nine_columns(gvf_df):
    rows = gvf_df.collect()
    assert len(rows) == 3
    assert gvf_df.columns == [
        "seqid", "source", "type", "start", "end",
        "score", "strand", "phase", "attr",
    ]
    assert {r.seqid for r in rows} == {"7"}


def test_process_gvf_shape_and_rsid_drop(processed):
    # variant rs111 -> 1 intergenic row, rs222 -> 4 effect rows,
    # the no-rsid record dropped entirely (null-extract semantics).
    assert processed.columns == [
        "chromosome", "rsid", "start", "end",
        "observed", "maf", "effect", "transcript",
    ]
    assert processed.count() == 5
    assert {r.rsid for r in processed.collect()} == {111, 222}


def test_process_gvf_intergenic_variant(processed):
    [row] = processed.filter("rsid = 111").collect()
    assert row.chromosome == "chr7"
    assert row.effect == "intergenic"
    assert row.transcript == ""
    assert row.observed == "A,T"
    assert row.maf == pytest.approx(0.0)


def test_process_gvf_exploded_effects(processed):
    rows = processed.filter("rsid = 222").collect()
    assert len(rows) == 4
    assert {(r.effect, r.transcript) for r in rows} == {
        ("intron_variant", "ENST00000900001"),
        ("missense_variant", "ENST00000900002"),
        ("intron_variant", "ENST00000900003"),
        ("synonymous_variant", "ENST00000900002"),
    }
    assert all(r.observed == "G,C" for r in rows)
    assert all(r.maf == pytest.approx(0.25) for r in rows)


def test_isolate_variant_effects(processed):
    effects = isolate_variant_effects(processed)
    assert effects.columns == ["rsid", "effect", "transcript"]
    assert effects.count() == 5


def test_isolate_variant_metadata(processed):
    meta = isolate_variant_metadata(processed)
    assert meta.columns == [
        "chromosome", "start", "end", "rsid", "observed", "maf",
    ]
    rows = {r.rsid: r for r in meta.collect()}
    assert set(rows) == {111, 222}
    assert rows[222].observed == "G,C"
    assert rows[222].start == 91000


def test_effect_grammar_requires_trailing_semicolon(spark):
    # Parity quirk (SURVEY §7.5.6): Variant_effect as the LAST attr
    # (no trailing ';') is not captured -> treated as intergenic.
    line = (
        "7\tdbSNP\tSNV\t10\t10\t.\t+\t.\t"
        "ID=9;Dbxref=dbSNP_151:rs333;"
        "Variant_effect=intron_variant 0 primary_transcript ENST00000900009"
    )
    df = spark.createDataFrame(
        [tuple(line.split("\t"))],
        "seqid string, source string, type string, start string, end string,"
        " score string, strand string, phase string, attr string",
    )
    [row] = explode_effects(extract_variant_fields(df)).collect()
    assert row.effect == "intergenic"
    assert row.transcript == ""


def test_malformed_effect_token_yields_empty_transcript(spark):
    # SURVEY §7.5.7: short effect entry -> getItem(3) null -> ''.
    df = spark.createDataFrame(
        [("7", "dbSNP", "SNV", "10", "10", ".", "+", ".",
          "ID=9;Dbxref=dbSNP_151:rs444;Variant_effect=weird_effect;x=1")],
        "seqid string, source string, type string, start string, end string,"
        " score string, strand string, phase string, attr string",
    )
    [row] = explode_effects(extract_variant_fields(df)).collect()
    assert row.effect == "weird_effect"
    assert row.transcript == ""
