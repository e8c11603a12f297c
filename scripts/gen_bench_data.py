"""Synthetic mm10-shaped raw-data generator for the GB-scale
pipeline bench.

Emits a GVF of ``target_gb`` and a matching GTF into a
:class:`~eggv_spark.layout.DataLayout`'s raw directories, using Spark
itself to generate (``spark.range`` -> Column-expr line formatting ->
distributed text write) — generating 1 GB takes seconds on local[32]
and would scale to any size on a cluster.  Content is deterministic
in the row id, shaped like the reference's mm10 inputs
(``eggv/process.py:25-61`` field grammar):

- 19 autosomes + X/Y chromosomes
- ``ID;Dbxref=dbSNP_150:rs{n};Variant_seq;Reference_seq`` attributes
- 0-3 ``Variant_effect`` entries (comma-separated
  ``effect idx feature_type ENSMUST...`` terms) — 25% of rows have
  none (intergenic), ~5% lack an rsid (must be dropped by
  extract_variant_fields)
- transcript ids drawn from the same id space the GTF emits, so the
  annotation join has realistic hit rates

The raw "files" are DIRECTORIES named ``*.gvf.gz`` / ``*.gtf.gz``
(matching the layout's globs) holding UNCOMPRESSED text part-files:
Spark resolves compression per file, so the parts read as plain text
— and stay splittable, which is what you'd want real 100 TB raw
drops to be.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from eggv_spark.layout import DataLayout

#: ~bytes per generated GVF line (measured; used to size spark.range).
_GVF_LINE_BYTES = 225
EFFECT_NAMES = (
    "intron_variant",
    "missense_variant",
    "synonymous_variant",
    "3_prime_UTR_variant",
    "upstream_gene_variant",
)
BASES = ("A", "C", "G", "T")


def _pick(col, options):
    """options[col % len(options)] as a Column literal array lookup."""
    return F.element_at(
        F.array(*[F.lit(o) for o in options]),
        (col % len(options)).cast("int") + 1,
    )


def _transcript(col):
    """ENSMUST id from the shared variant/gene id space."""
    return F.concat(F.lit("ENSMUST"), F.lpad(col.cast("string"), 8, "0"))


def generate_gvf(
    spark: SparkSession, layout: DataLayout, target_gb: float, n_transcripts: int
) -> None:
    n = int(target_gb * 1e9 / _GVF_LINE_BYTES)
    i = F.col("id")
    chrom = _pick(i, [str(c) for c in range(1, 20)] + ["X", "Y"])
    pos = (i * 37 % 100_000_000 + 1).cast("string")
    rsid = F.concat(F.lit("Dbxref=dbSNP_150:rs"), i.cast("string"), F.lit(";"))
    # ~5% of rows lack the dbSNP xref -> extract_variant_fields must drop them
    dbxref = F.when(i % 20 == 19, F.lit("")).otherwise(rsid)

    def effect_term(k):
        name = _pick(i + k, EFFECT_NAMES)
        tid = _transcript((i * 13 + k * 7) % n_transcripts)
        return F.concat(
            name, F.lit(f" {k} mRNA "), tid
        )

    effects = F.when(i % 4 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit(";Variant_effect="),
            F.concat_ws(
                ",",
                *[
                    F.when(i % 4 >= k, effect_term(k)).otherwise(F.lit(None))
                    for k in range(1, 4)
                ],
            ),
        )
    )
    # NB: a trailing attribute after Variant_effect is load-bearing —
    # the reference's effect grammar terminates the list at the next
    # ';' (Variant_effect=(.+?); — eggv/process.py:158), exactly how
    # real Ensembl GVF lines are laid out.
    attrs = F.concat(
        F.lit("ID="), i.cast("string"), F.lit(";"),
        dbxref,
        F.lit("Variant_seq="), _pick(i, BASES),
        F.lit(";Reference_seq="), _pick(i + 1, BASES),
        effects,
        F.lit(";evidence_values=Frequency"),
    )
    line = F.concat_ws(
        "\t", chrom, F.lit("dbSNP"), F.lit("SNV"), pos, pos, F.lit("."),
        _pick(i, ["+", "-"]), F.lit("."), attrs,
    )
    (
        spark.range(n)
        .select(line.alias("value"))
        .write.mode("overwrite")
        .text(layout.variant_gvf())
    )


def generate_gtf(
    spark: SparkSession, layout: DataLayout, n_transcripts: int
) -> None:
    """2 transcripts per gene; one gene + two transcript lines per
    gene id, exploded from a single range pass."""
    g = F.col("id")
    gene_id = F.concat(F.lit("ENSMUSG"), F.lpad(g.cast("string"), 8, "0"))
    gene_name = F.concat(F.lit("Gm"), g.cast("string"))
    start = (g * 5000 % 100_000_000 + 1)
    end = start + 4000
    strand = _pick(g, ["+", "-"])

    def tline(k):
        tid = _transcript(g * 2 + k)
        t_start = (start + k * 100).cast("string")
        t_end = (end - k * 100).cast("string")
        return F.concat_ws(
            "\t", F.lit("7"), F.lit("havana"), F.lit("transcript"),
            t_start, t_end, F.lit("."), strand, F.lit("."),
            F.concat(
                F.lit('gene_id "'), gene_id,
                F.lit('"; transcript_id "'), tid,
                F.lit('"; gene_name "'), gene_name,
                F.lit('"; gene_biotype "protein_coding";'),
            ),
        )

    gene_line = F.concat_ws(
        "\t", F.lit("7"), F.lit("havana"), F.lit("gene"),
        start.cast("string"), end.cast("string"), F.lit("."), strand, F.lit("."),
        F.concat(
            F.lit('gene_id "'), gene_id,
            F.lit('"; gene_name "'), gene_name,
            F.lit('"; gene_biotype "protein_coding";'),
        ),
    )
    (
        spark.range(n_transcripts // 2)
        .select(
            F.explode(F.array(gene_line, tline(0), tline(1))).alias("value")
        )
        .write.mode("overwrite")
        .text(layout.gene_gtf())
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def ensure_bench_data(
    spark: SparkSession, base_dir: str, target_gb: float,
    n_transcripts: int = 40_000,
) -> DataLayout:
    """Generate (or reuse cached) raw GVF+GTF at ``base_dir`` for the
    pipeline bench; a marker file keyed by target size makes re-runs
    free."""
    layout = DataLayout(base_dir, "mm10")
    marker = os.path.join(base_dir, f".generated-{target_gb}-{n_transcripts}")
    if os.path.exists(marker):
        return layout
    layout.create()
    generate_gvf(spark, layout, target_gb, n_transcripts)
    generate_gtf(spark, layout, n_transcripts)
    with open(marker, "w") as f:
        f.write("ok\n")
    return layout
