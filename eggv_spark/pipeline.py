"""Pipeline composition: retrieve -> process -> annotate -> complete.

The reference orchestrates these stages as Dask future chains with
per-chromosome sub-pipelines and async saves
(``eggv/pipeline.py:147-233``).  Spark-first, that machinery
simplifies:

* The 24-chromosome hg38 fan-out becomes ONE glob read — Spark
  splits every file into input partitions and schedules them across
  executors, so per-file futures add nothing but driver complexity.
* IO/compute overlap (reference ``eggv/pipeline.py:177-225``) is
  replaced by one materialized intermediate where two sinks share
  expensive work (the typed variant frame feeds effects+metadata;
  the gene frame feeds the gene sinks) and a driver thread pool for
  concurrent sink jobs (Spark actions from separate threads schedule
  concurrently).  The annotate split re-runs the broadcast join per
  sink instead of caching the wide joined frame.
* Async TSV save + consolidation (``eggv/dfio.py``) is the native
  partitioned sink.

Every stage takes explicit (spark, layout) arguments — no singletons —
so the same code runs local[N] tests and cluster jobs unchanged.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from eggv_spark.materialize import materialize

from eggv_spark import retrieve as R
from eggv_spark.config import validate_config
from eggv_spark.layout import DataLayout
from eggv_spark.operators import annotate as A
from eggv_spark.operators import genes as G
from eggv_spark.operators import variants as V
from eggv_spark.schemas import GENES_SCHEMA, VARIANT_EFFECTS_SCHEMA
from eggv_spark.session import get_session
from eggv_spark.sources import readers, writers


def _save_concurrently(jobs: list[tuple[DataFrame, str]], fmt: str = "tsv") -> None:
    """Run several sink actions at once from driver threads (the
    Spark analog of the reference's async ``to_csv`` futures,
    ``eggv/dfio.py:63-100``)."""

    def _write(df: DataFrame, path: str) -> None:
        if fmt == "parquet":
            writers.write_parquet(df, path)
        else:
            writers.write_tsv(df, path)

    with ThreadPoolExecutor(max_workers=max(len(jobs), 1)) as pool:
        futures = [pool.submit(_write, df, path) for df, path in jobs]
        for f in futures:
            f.result()


def _read_stage(spark: SparkSession, path: str, schema, fmt: str) -> DataFrame:
    """Re-read a pipeline intermediate in the configured interchange
    format.  TSV mirrors the reference (SRC-06); parquet is the
    native format at scale — column pruning + row-group skipping on
    every downstream read (SURVEY §7.5.5)."""
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    return readers.read_processed_tsv(spark, path, schema)


def run_variant_processing(
    spark: SparkSession, layout: DataLayout, fmt: str = "tsv"
) -> dict[str, DataFrame]:
    """GVF glob -> process -> {effects, metadata} outputs
    (reference ``eggv/process.py:318-424``).

    The raw drops come from the retrieve stage's Ensembl exports,
    which are spec-conformant tab-separated GVF with no quoting
    grammar, so the spec parser (:func:`readers.read_gvf_split`)
    reads them: univocity's per-char quote/escape handling buys
    nothing there (measured −38% on the scan pass; identical rows).
    Untrusted drops go through :func:`readers.read_gvf` with
    ``capture_corrupt=True`` instead.
    """
    raw = readers.read_gvf_split(spark, layout.variant_gvf_glob())
    # .gz raw drops are non-splittable — a scan of N files runs
    # N-wide forever, so redistributing before the regex chain is
    # mandatory there.  But when the scan is already wide (splittable
    # text / many files), the repartition shuffles the whole raw
    # ``attr`` payload for nothing: measured -17% on a 5 GB
    # splittable corpus from skipping it.  Gate on the actual scan
    # width instead of assuming the worst.
    par = spark.sparkContext.defaultParallelism
    width = par * 2 if raw.rdd.getNumPartitions() < par else None
    # ONE pass over the raw text: the two sinks' pruned lineages
    # would each re-pay the text scan + line split + rsid regex (the
    # branches are CPU-bound in exactly that work and run on the
    # same cores, so the thread-pool overlap buys no throughput).
    # Materializing the TYPED frame — post-regex, post-rsid-filter,
    # ~30x narrower than the raw lines, NOT the exploded/wide frame
    # the round-3 measurement rejected — costs one extra regex
    # (5 vs the 6 the two branches pay combined) and removes a
    # whole 5 GB scan+parse pass.  Measured against the two-scan
    # shape (interleaved paired A/B, 5.6 GB corpus, OPTIMIZATION_r10.md
    # item 10): at local[8] — the scan serializes when cores are
    # scarce, i.e. the driver's low-core scaling leg and the
    # I/O-bound cluster shape — 67.9 s -> 58.1 s (−14%); at saturated
    # local[32] the two branches' recompute overlaps and the shapes
    # tie (17.1 vs 17.2 s floors).  Outputs byte-identical both ways
    # (row count + order-insensitive hash).  localCheckpoint
    # (MEMORY_AND_DISK) lives inside this one invocation — nothing
    # persists across runs.
    typed = V.extract_variant_fields(raw, repartition_to=width)
    typed = typed.transform(materialize)
    effects = V.isolate_variant_effects(V.explode_effects(typed))
    # Metadata skips the explode: it is constant across a variant's
    # effects, so the rsid dedup shuffles the un-inflated row count.
    meta = V.isolate_variant_metadata(typed)
    _save_concurrently(
        [(effects, layout.variant_effects()), (meta, layout.variant_meta())],
        fmt,
    )
    return {"effects": effects, "metadata": meta}


def run_gene_processing(
    spark: SparkSession, layout: DataLayout, fmt: str = "tsv"
) -> dict[str, DataFrame]:
    """GTF -> transcript-level genes + gene-deduped copy
    (reference ``eggv/process.py:427-534``)."""
    # eager: the chain runs once, before the two concurrent sink
    # jobs launch and both read it
    processed = G.process_gtf(
        readers.read_gtf(spark, layout.gene_gtf())
    ).transform(materialize)
    deduped = G.dedupe_genes(processed)
    _save_concurrently(
        [(processed, layout.gene_meta()), (deduped, layout.gene_dedup())],
        fmt,
    )
    return {"genes": processed, "genes_dedup": deduped}


def run_annotation(
    spark: SparkSession, layout: DataLayout, fmt: str = "tsv"
) -> dict[str, DataFrame]:
    """effects ⟕ genes -> intergenic/intragenic outputs
    (reference ``eggv/annotate.py:145-235``)."""
    effects = _read_stage(
        spark, layout.variant_effects(), VARIANT_EFFECTS_SCHEMA, fmt
    )
    genes = _read_stage(spark, layout.gene_meta(), GENES_SCHEMA, fmt)
    result = A.run_annotation(effects, genes)
    _save_concurrently(
        [
            (result["intergenic"], layout.annotated_intergenic()),
            (result["intragenic"], layout.annotated_intragenic()),
        ],
        fmt,
    )
    return result


def run_retrieve_step(config: Mapping[str, Any]) -> DataLayout:
    validate_config(config)
    layout = DataLayout(config["directories"]["data"], config["species"])
    layout.create()
    force = bool(config.get("overwrite", False))
    # Optional source-URL overrides (mirrors, offline file:// tests);
    # defaults are the public Ensembl v95 registry in layout.py.
    urls = config.get("urls") or {}
    R.retrieve_genes(layout, force=force, url=urls.get("gene"))
    R.retrieve_variants(layout, force=force, url_template=urls.get("variation"))
    return layout


def run_process_step(
    config: Mapping[str, Any], spark: SparkSession | None = None
) -> dict[str, DataFrame]:
    validate_config(config)
    spark = spark or session_from_config(config)
    layout = DataLayout(config["directories"]["data"], config["species"])
    fmt = config.get("format", "tsv")
    out = run_gene_processing(spark, layout, fmt=fmt)
    out |= run_variant_processing(spark, layout, fmt=fmt)
    return out


def run_annotate_step(
    config: Mapping[str, Any], spark: SparkSession | None = None
) -> dict[str, DataFrame]:
    validate_config(config)
    spark = spark or session_from_config(config)
    layout = DataLayout(config["directories"]["data"], config["species"])
    return run_annotation(spark, layout, fmt=config.get("format", "tsv"))


def run_complete_pipeline(
    config: Mapping[str, Any], spark: SparkSession | None = None
) -> dict[str, DataFrame]:
    """retrieve -> process -> annotate (reference flagship,
    ``eggv/pipeline.py:317-329``)."""
    run_retrieve_step(config)
    spark = spark or session_from_config(config)
    out = run_process_step(config, spark)
    out |= run_annotate_step(config, spark)
    return out


def session_from_config(config: Mapping[str, Any]) -> SparkSession:
    sp = config.get("spark", {})
    return get_session(
        app_name=sp.get("app_name", "eggv-spark"),
        master=sp.get("master", "local[*]"),
        shuffle_partitions=int(sp.get("shuffle_partitions", 200)),
        extra_confs=sp.get("confs") or {},
    )
