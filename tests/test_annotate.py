"""Golden tests for the annotation join + splits (reference assertion
style: ``/root/reference/tests/test_annotate.py:69-121``)."""

from __future__ import annotations

import pytest

from eggv_spark.operators.annotate import (
    annotate_variants,
    isolate_intergenic_variants,
    isolate_intragenic_variants,
    run_annotation,
)
from eggv_spark.operators.genes import process_gtf
from eggv_spark.operators.variants import process_gvf
from eggv_spark.sources.readers import read_gtf, read_gvf
from tests.fixtures import GTF_TEXT, GVF_TEXT, write_fixture


@pytest.fixture(scope="module")
def annotated(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("annot")
    variants = process_gvf(read_gvf(spark, write_fixture(tmp, "s.gvf", GVF_TEXT)))
    genes = process_gtf(read_gtf(spark, write_fixture(tmp, "s.gtf", GTF_TEXT)))
    return annotate_variants(variants, genes).cache()


def test_left_join_preserves_unmatched(annotated):
    assert annotated.columns == [
        "chromosome", "rsid", "variant_effect", "transcript",
        "gene_id", "gene_name", "gene_biotype",
    ]
    # 5 variant rows in, 5 out (left join, transcript ids unique).
    assert annotated.count() == 5
    intergenic_row = annotated.filter("rsid = 111").collect()[0]
    assert intergenic_row.gene_id is None
    assert intergenic_row.gene_name is None


def test_join_maps_gene_attributes(annotated):
    rows = annotated.filter("rsid = 222").collect()
    by_tx = {(r.transcript, r.variant_effect): r for r in rows}
    r = by_tx[("ENST00000900002", "missense_variant")]
    assert r.gene_id == "ENSG00000700001"
    assert r.gene_name == "AAAX"
    assert r.gene_biotype == "protein_coding"
    r2 = by_tx[("ENST00000900003", "intron_variant")]
    assert r2.gene_id == "ENSG00000700002"
    assert r2.gene_biotype == "lincRNA"


def test_intergenic_split(annotated):
    inter = isolate_intergenic_variants(annotated)
    assert inter.columns == ["rsid", "variant_effect"]
    rows = inter.collect()
    assert len(rows) == 1
    assert rows[0].rsid == 111


def test_intragenic_split_dedupes_composite_key(annotated):
    intra = isolate_intragenic_variants(annotated)
    assert intra.columns == [
        "rsid", "variant_effect", "gene_id", "gene_name", "gene_biotype",
    ]
    # 4 effect rows, but (222, intron_variant, ENSG00000700001) appears
    # only once after dedup... note the two intron_variant rows map to
    # DIFFERENT genes here, so all 4 survive; assert the triple set.
    triples = {(r.rsid, r.variant_effect, r.gene_id) for r in intra.collect()}
    assert triples == {
        (222, "intron_variant", "ENSG00000700001"),
        (222, "intron_variant", "ENSG00000700002"),
        (222, "missense_variant", "ENSG00000700001"),
        (222, "synonymous_variant", "ENSG00000700001"),
    }


def test_run_annotation_end_to_end(annotated, spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("e2e")
    variants = process_gvf(read_gvf(spark, write_fixture(tmp, "s.gvf", GVF_TEXT)))
    genes = process_gtf(read_gtf(spark, write_fixture(tmp, "s.gtf", GTF_TEXT)))
    out = run_annotation(variants, genes)
    assert out["intergenic"].count() == 1
    assert out["intragenic"].count() == 4
    assert out["annotated"].count() == 5
