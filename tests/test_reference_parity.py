"""Parity proof against the reference's own golden sample files.

The reference ships tiny golden inputs and asserts exact values
(`/root/reference/tests/test_process.py`, `test_annotate.py`).  These
tests run OUR operators over THOSE files (read in place — nothing is
copied) and assert the reference's exact golden values, establishing
end-to-end behavioral parity on real Ensembl v95 data shapes.

Skipped when the reference checkout is absent.
"""

from __future__ import annotations

import os

import pytest

from eggv_spark.operators.annotate import (
    annotate_variants,
    isolate_intergenic_variants,
    isolate_intragenic_variants,
)
from eggv_spark.operators.genes import dedupe_genes, process_gtf
from eggv_spark.operators.variants import (
    explode_effects,
    extract_variant_fields,
    isolate_variant_effects,
    isolate_variant_metadata,
)
from eggv_spark.schemas import GENES_SCHEMA, VARIANT_EFFECTS_SCHEMA
from eggv_spark.sources.readers import (
    read_gtf,
    read_gvf,
    read_gvf_split,
    read_processed_tsv,
)

DATA = "/root/reference/tests/data"
GVF = f"{DATA}/sample-hg38-chromosome-10.gvf"
GTF = f"{DATA}/sample-hg38-gene-build.gtf"
EFFECTS_TSV = f"{DATA}/sample-hg38-processed-variant-effects.tsv"
GENES_TSV = f"{DATA}/sample-hg38-processed-genes.tsv"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference golden data not available"
)

TRANSCRIPTS = {
    "ENST00000381496", "ENST00000634311", "ENST00000280886", "ENST00000434695",
}


def test_gvf_scan_parity(spark):
    # reference tests/test_process.py:44-58 — 9 columns, 2 records.
    df = read_gvf(spark, GVF)
    assert df.columns == [
        "seqid", "source", "type", "start", "end",
        "score", "strand", "phase", "attr",
    ]
    assert df.count() == 2


def test_process_gvf_parity(spark):
    # reference tests/test_process.py:60-76 — exact golden values.
    rows = explode_effects(
        extract_variant_fields(read_gvf_split(spark, GVF))
    ).collect()
    assert len(rows) == 5
    assert all(r.chromosome == "chr10" for r in rows)
    assert all(r.maf == 0.0 for r in rows)
    by_rsid: dict[int, list] = {}
    for r in rows:
        by_rsid.setdefault(r.rsid, []).append(r)
    assert set(by_rsid) == {1308274876, 1486292194}
    assert by_rsid[1308274876][0].observed == "C,G"
    assert by_rsid[1308274876][0].effect == "intergenic"
    for r in by_rsid[1486292194]:
        assert r.observed == "G,T"
        assert r.effect in ("intron_variant", "missense_variant")
        assert r.transcript in TRANSCRIPTS


def test_isolate_effects_metadata_parity(spark):
    # reference tests/test_process.py:92-117.
    processed = explode_effects(extract_variant_fields(read_gvf_split(spark, GVF)))
    effects = isolate_variant_effects(processed).collect()
    assert len(effects) == 5
    intergenic = [r for r in effects if r.rsid == 1308274876]
    assert intergenic[0].effect == "intergenic"
    assert intergenic[0].transcript == ""
    meta = isolate_variant_metadata(processed).collect()
    assert len(meta) == 2
    assert all(r.chromosome == "chr10" and r.maf == 0.0 for r in meta)
    obs = {r.rsid: r.observed for r in meta}
    assert obs == {1308274876: "C,G", 1486292194: "G,T"}


def test_gtf_scan_and_process_parity(spark):
    # reference tests/test_process.py:142-177 — 269 rows -> 6
    # transcripts of 2 genes with exact names/biotypes.
    raw = read_gtf(spark, GTF)
    assert raw.count() == 269
    genes = process_gtf(raw).collect()
    assert len(genes) == 6
    assert all(r.chromosome == "chr10" for r in genes)
    by_gene: dict[str, list] = {}
    for r in genes:
        by_gene.setdefault(r.gene_id, []).append(r)
    assert set(by_gene) == {"ENSG00000151240", "ENSG00000201861"}
    for r in by_gene["ENSG00000151240"]:
        assert r.biotype == "protein_coding" and r.gene_name == "DIP2C"
    for r in by_gene["ENSG00000201861"]:
        assert r.biotype == "rRNA_pseudogene" and r.gene_name == "RNA5SP298"
    assert dedupe_genes(process_gtf(raw)).count() == 2


def test_processed_tsv_scan_parity(spark):
    # reference tests/test_annotate.py:40-66 — stage-boundary reads.
    effects = read_processed_tsv(spark, EFFECTS_TSV, VARIANT_EFFECTS_SCHEMA)
    assert effects.columns == ["rsid", "effect", "transcript"]
    assert effects.count() == 5
    genes = read_processed_tsv(spark, GENES_TSV, GENES_SCHEMA)
    assert genes.columns == [
        "chromosome", "start", "end", "transcript_id",
        "gene_id", "gene_name", "biotype",
    ]
    assert genes.count() == 6


def test_annotation_parity(spark):
    # reference tests/test_annotate.py:69-121 — DIP2C golden join.
    vdf = read_processed_tsv(spark, EFFECTS_TSV, VARIANT_EFFECTS_SCHEMA)
    gdf = read_processed_tsv(spark, GENES_TSV, GENES_SCHEMA)
    annotated = annotate_variants(vdf, gdf).cache()
    rows = annotated.collect()
    assert len(rows) == 5
    inter_rows = [r for r in rows if r.rsid == 1308274876]
    assert inter_rows[0].variant_effect == "intergenic"
    for r in rows:
        if r.rsid == 1486292194:
            assert r.variant_effect in ("intron_variant", "missense_variant")
            assert r.transcript in TRANSCRIPTS
            assert r.gene_id == "ENSG00000151240"
            assert r.gene_name == "DIP2C"
            assert r.gene_biotype == "protein_coding"

    inter = isolate_intergenic_variants(annotated).collect()
    assert len(inter) == 1
    assert inter[0].rsid == 1308274876 and inter[0].variant_effect == "intergenic"

    intra = isolate_intragenic_variants(annotated).collect()
    assert len(intra) == 2
    assert all(r.rsid == 1486292194 for r in intra)
    assert {r.variant_effect for r in intra} == {
        "intron_variant", "missense_variant",
    }
    annotated.unpersist()
