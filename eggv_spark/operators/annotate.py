"""Variant↔gene annotation operators.

Spark-first re-expression of ``eggv/annotate.py``: the single join of
the reference (left equi-join on transcript ID) plus the
intergenic/intragenic splits and composite-key dedup.

Scale posture: the gene side is ~200k transcripts (MBs) vs billions
of variant rows — an explicit ``F.broadcast`` makes the join
shuffle-free on the big side (the reference shuffles BOTH sides,
``eggv/annotate.py:70-77``; this plan is strictly better).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Effects that mean "not inside a gene" (eggv/annotate.py:113-115;
#: up/downstream present in mm10 v95 but not hg38 v95 builds).
INTERGENIC_EFFECTS = (
    "intergenic",
    "upstream_gene_variant",
    "downstream_gene_variant",
)


def annotate_variants(variants: DataFrame, genes: DataFrame) -> DataFrame:
    """JOIN-01: variants ⟕ genes on transcript = transcript_id.

    Left (not inner) so unmapped variants survive for mapping
    statistics (reference ``eggv/annotate.py:55-94``).  Output: the
    variant columns plus chromosome, gene_id, gene_name and
    gene_biotype (``eggv/annotate.py:86-94`` shape).

    Chromosome provenance matches the reference's pandas suffix
    semantics exactly: when the variant side carries ``chromosome``
    (full processed variants) the collision suffixes apply and
    ``chromosome_l`` — the VARIANT side — is kept
    (``eggv/annotate.py:79-84``); when the variant side is the
    effects table (rsid, effect, transcript — the production path,
    ``eggv/annotate.py:205-211``) the only ``chromosome`` column
    comes from the GENE side (null for unmapped variants).
    """
    gene_side = F.broadcast(
        genes.select(
            F.col("chromosome").alias("_gene_chromosome"),
            "transcript_id",
            "gene_id",
            "gene_name",
            F.col("biotype").alias("gene_biotype"),
        )
    )

    joined = variants.join(
        gene_side,
        variants["transcript"] == gene_side["transcript_id"],
        "left",
    )
    chromosome = (
        variants["chromosome"]
        if "chromosome" in variants.columns
        else F.col("_gene_chromosome").alias("chromosome")
    )
    return joined.select(
        chromosome,
        "rsid",
        F.col("effect").alias("variant_effect"),
        "transcript",
        "gene_id",
        "gene_name",
        "gene_biotype",
    )


def _is_intergenic(col_name: str = "variant_effect") -> F.Column:
    return F.col(col_name).isin(*INTERGENIC_EFFECTS)


def isolate_intergenic_variants(df: DataFrame) -> DataFrame:
    """FLT-02: disjunction-of-equalities filter + projection
    (reference ``eggv/annotate.py:97-117``)."""
    return df.filter(_is_intergenic()).select("rsid", "variant_effect")


def isolate_intragenic_variants(df: DataFrame) -> DataFrame:
    """FLT-03 + DDP-04: not-intergenic ∧ gene_id not null, deduped on
    the (rsid, variant_effect, gene_id) triple (reference
    ``eggv/annotate.py:120-142``, dask ``split_out=100`` — shuffle
    width is AQE's job here)."""
    return (
        df.filter(~_is_intergenic() & F.col("gene_id").isNotNull())
        .select("rsid", "variant_effect", "gene_id", "gene_name", "gene_biotype")
        .dropDuplicates(["rsid", "variant_effect", "gene_id"])
    )


def run_annotation(variants: DataFrame, genes: DataFrame) -> dict[str, DataFrame]:
    """Full annotation stage: the variant-gene join, split into the
    intergenic and intragenic sinks.

    The reference persists the joined frame before the split
    (``eggv/annotate.py:219-220``).  Here nothing is cached: with the
    gene side broadcast, re-running the column-pruned join per sink
    costs no extra shuffle and is cheaper than materializing the wide
    annotated frame into memory."""
    annotated = annotate_variants(variants, genes)
    return {
        "annotated": annotated,
        "intergenic": isolate_intergenic_variants(annotated),
        "intragenic": isolate_intragenic_variants(annotated),
    }
