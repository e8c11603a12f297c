"""Gene (GTF) processing operators.

Spark-first re-expression of the reference's GTF chain
(``eggv/process.py:183-233``): filter to transcript features, regex
extraction of gene/transcript identifiers from the ``attr`` column,
null handling, casts.  Pure Column expressions throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: attr grammars (reference: eggv/process.py:202-212).  GTF attrs are
#: `key "value";` pairs.
_GENE_ID_PATTERN = r'gene_id "(ENS[A-Z]*\d+)"'
_TRANSCRIPT_ID_PATTERN = r'transcript_id "(ENS[A-Z]*\d+)"'
_BIOTYPE_PATTERN = r'biotype "(\w+)"'
_GENE_NAME_PATTERN = r'gene_name "(\w+)"'


def process_gtf(df: DataFrame) -> DataFrame:
    """Raw GTF rows -> transcript-level gene table.

    Ops: FLT-01, STR-02, NUL-01/02, PRJ-01/02, CST-01, STR-01
    (reference ``eggv/process.py:183-233``).

    Output schema: GENES_SCHEMA — (chromosome, start, end,
    transcript_id, gene_id, gene_name, biotype).

    FLT-01 sits directly over the scan so Catalyst pushes it into
    the source; at scale this prunes ~90% of GTF rows before any
    regex work.
    """
    df = df.filter(F.col("feature") == "transcript")

    # Raw extracts staged in their own projection (single regex eval
    # per field; see variants.extract_variant_fields for the measured
    # rationale), null semantics applied on the slots in the next.
    df = df.select(
        F.concat(F.lit("chr"), F.col("seqname").cast("string")).alias("chromosome"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        F.regexp_extract("attr", _TRANSCRIPT_ID_PATTERN, 1).alias("_tid_raw"),
        F.regexp_extract("attr", _GENE_ID_PATTERN, 1).alias("_gid_raw"),
        F.regexp_extract("attr", _GENE_NAME_PATTERN, 1).alias("_name_raw"),
        F.regexp_extract("attr", _BIOTYPE_PATTERN, 1).alias("_bio_raw"),
    )
    empty = F.lit("")
    return df.select(
        "chromosome",
        "start",
        "end",
        F.nullif(F.col("_tid_raw"), empty).alias("transcript_id"),
        F.nullif(F.col("_gid_raw"), empty).alias("gene_id"),
        F.coalesce(F.nullif(F.col("_name_raw"), empty), F.lit("NA")).alias(
            "gene_name"
        ),
        F.coalesce(F.nullif(F.col("_bio_raw"), empty), F.lit("NA")).alias(
            "biotype"
        ),
    ).na.drop(subset=["gene_id", "transcript_id"])


def dedupe_genes(df: DataFrame) -> DataFrame:
    """DDP-03: one row per gene_id (reference
    ``eggv/process.py:495-500,529-534``, dask ``split_out=20/150`` —
    here the shuffle width is AQE's job)."""
    return df.dropDuplicates(["gene_id"])
