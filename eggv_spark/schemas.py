"""Explicit StructType schemas for every dataset shape.

The reference declares fixed column lists at read time
(``eggv/process.py:39-49`` GVF, ``eggv/process.py:78-88`` GTF) with
targeted dtype pins and otherwise infers.  At 100 TB inference is a
full extra pass — so here every shape is an explicit StructType
(SURVEY §1.2/§1.4).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _struct(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


#: Raw GVF variants — 9 tab-separated columns, '#' comments.
#: seqid kept string (chromosomes are not all numeric).
GVF_SCHEMA = _struct(
    ("seqid", StringType()),
    ("source", StringType()),
    ("type", StringType()),
    ("start", LongType()),
    ("end", LongType()),
    ("score", StringType()),
    ("strand", StringType()),
    ("phase", StringType()),
    ("attr", StringType()),
)

#: Raw GTF genes — 9 tab-separated columns, '#' comments.
GTF_SCHEMA = _struct(
    ("seqname", StringType()),
    ("source", StringType()),
    ("feature", StringType()),
    ("start", LongType()),
    ("end", LongType()),
    ("score", StringType()),
    ("strand", StringType()),
    ("frame", StringType()),
    ("attr", StringType()),
)


#: Variant effects (eggv/process.py:291-294 shape).
VARIANT_EFFECTS_SCHEMA = _struct(
    ("rsid", LongType()),
    ("effect", StringType()),
    ("transcript", StringType()),
)

#: Variant metadata (eggv/process.py:312-315 shape).
VARIANT_METADATA_SCHEMA = _struct(
    ("chromosome", StringType()),
    ("start", LongType()),
    ("end", LongType()),
    ("rsid", LongType()),
    ("observed", StringType()),
    ("maf", FloatType()),
)

#: Transcript-level genes (eggv/process.py:219-221 shape).
GENES_SCHEMA = _struct(
    ("chromosome", StringType()),
    ("start", LongType()),
    ("end", LongType()),
    ("transcript_id", StringType()),
    ("gene_id", StringType()),
    ("gene_name", StringType()),
    ("biotype", StringType()),
)


#: Intergenic split (eggv/annotate.py:109).
INTERGENIC_SCHEMA = _struct(
    ("rsid", LongType()),
    ("variant_effect", StringType()),
)

#: Intragenic split (eggv/annotate.py:132).
INTRAGENIC_SCHEMA = _struct(
    ("rsid", LongType()),
    ("variant_effect", StringType()),
    ("gene_id", StringType()),
    ("gene_name", StringType()),
    ("gene_biotype", StringType()),
)


#: Extracted multimodal features (extension).  ``feature`` is DOUBLE:
#: real decoders emit exact stats (raster means, PCM rms) that the
#: value oracle reproduces in double-precision SQL — float32
#: truncation would break round(4) comparison for non-dyadic values
#: like rms.
MULTIMODAL_FEATURE_SCHEMA = _struct(
    ("asset_id", LongType()),
    ("modality", StringType()),
    ("n_bytes", LongType()),
    ("content_hash", StringType()),
    ("feature", ArrayType(DoubleType())),
)
