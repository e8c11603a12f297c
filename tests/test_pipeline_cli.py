"""End-to-end pipeline + CLI tests.

Mirrors the reference's full-pipeline assertions
(``/root/reference/tests/test_annotate.py:108-121``) but drives the
real stage functions over the on-disk layout: gzipped fixture builds
-> process -> TSV intermediates -> annotate -> splits.  Retrieval is
exercised through ``file://`` URLs (no network).
"""

from __future__ import annotations

import gzip
import os

import pytest
from click.testing import CliRunner

from eggv_spark import pipeline, retrieve
from eggv_spark import schemas as S
from eggv_spark.cli import cli
from eggv_spark.config import load_config, validate_config
from eggv_spark.layout import DataLayout
from tests.fixtures import GTF_TEXT, GVF_TEXT


@pytest.fixture(scope="module")
def layout(tmp_path_factory):
    """A populated mm10-style layout (single variant file) with the
    gzipped fixture builds in place — Spark reads .gz natively."""
    root = str(tmp_path_factory.mktemp("data"))
    lay = DataLayout(root, "mm10")
    lay.create()
    with gzip.open(lay.variant_gvf(), "wt") as fh:
        fh.write(GVF_TEXT)
    with gzip.open(lay.gene_gtf(), "wt") as fh:
        fh.write(GTF_TEXT)
    return lay


def test_retrieve_file_urls(tmp_path):
    src = tmp_path / "src.gtf.gz"
    with gzip.open(src, "wt") as fh:
        fh.write(GTF_TEXT)
    lay = DataLayout(str(tmp_path / "data"), "mm10")
    lay.create()
    out = retrieve.retrieve_genes(lay, url=f"file://{src}")
    assert os.path.exists(out)
    # Idempotent: second fetch (no force) keeps the existing file.
    mtime = os.path.getmtime(out)
    assert retrieve.retrieve_genes(lay, url=f"file://{src}") == out
    assert os.path.getmtime(out) == mtime


def test_process_and_annotate_stages(spark, layout):
    out = pipeline.run_gene_processing(spark, layout)
    assert out["genes"].count() == 4  # 4 transcript rows in fixture
    assert out["genes_dedup"].count() == 2  # 2 genes

    out = pipeline.run_variant_processing(spark, layout)
    assert out["effects"].count() == 5
    assert out["metadata"].count() == 2

    ann = pipeline.run_annotation(spark, layout)
    assert ann["intergenic"].count() == 1
    assert ann["intragenic"].count() == 4
    # Production path: effects input has no chromosome, so annotated
    # chromosome comes from the gene side (reference merge semantics,
    # eggv/annotate.py:70-84) — present for mapped variants.
    intra_rows = ann["intragenic"].collect()
    assert {r.gene_id for r in intra_rows} == {
        "ENSG00000700001",
        "ENSG00000700002",
    }
    # Outputs landed as headered TSV directories.
    assert os.path.isdir(layout.variant_effects())
    assert os.path.isdir(layout.annotated_intragenic())


def test_pipeline_parquet_format(spark, layout):
    """Same stages with parquet interchange (the at-scale format);
    every sink read back carries the field names and types of its
    declared schema."""
    pipeline.run_gene_processing(spark, layout, fmt="parquet")
    out = pipeline.run_variant_processing(spark, layout, fmt="parquet")
    assert out["effects"].count() == 5
    ann = pipeline.run_annotation(spark, layout, fmt="parquet")
    assert ann["intergenic"].count() == 1
    assert ann["intragenic"].count() == 4

    def _fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    sinks = [
        (layout.gene_meta(), S.GENES_SCHEMA),
        (layout.gene_dedup(), S.GENES_SCHEMA),
        (layout.variant_effects(), S.VARIANT_EFFECTS_SCHEMA),
        (layout.variant_meta(), S.VARIANT_METADATA_SCHEMA),
        (layout.annotated_intergenic(), S.INTERGENIC_SCHEMA),
        (layout.annotated_intragenic(), S.INTRAGENIC_SCHEMA),
    ]
    for path, schema in sinks:
        got = _fields(spark.read.parquet(path).schema)
        assert got == _fields(schema), path


def test_config_precedence_and_validation(tmp_path):
    cfg_file = tmp_path / "c.yml"
    cfg_file.write_text("species: hg38\nspark:\n  shuffle_partitions: 8\n")
    cfg = load_config(str(cfg_file), {"spark": {"master": "local[2]"}})
    # File overrides default; explicit override wins; untouched keys keep defaults.
    assert cfg["species"] == "hg38"
    assert cfg["spark"]["shuffle_partitions"] == 8
    assert cfg["spark"]["master"] == "local[2]"
    assert cfg["spark"]["app_name"] == "eggv-spark"
    validate_config(cfg)
    with pytest.raises(ValueError, match="species"):
        validate_config(load_config())
    with pytest.raises(ValueError, match="unknown species"):
        validate_config(load_config(None, {"species": "hg19"}))
    with pytest.raises(ValueError, match="unknown config key.*: reader"):
        validate_config(load_config(None, {"species": "hg38", "reader": "csv"}))


def test_cli_complete_pipeline_offline(spark, tmp_path):
    """Full `eggv-spark complete` through the CLI: retrieve via
    file:// overrides -> process -> annotate, all offline (reference
    flagship lifecycle, SURVEY §3.1)."""
    gvf_src = tmp_path / "v.gvf.gz"
    gtf_src = tmp_path / "g.gtf.gz"
    with gzip.open(gvf_src, "wt") as fh:
        fh.write(GVF_TEXT)
    with gzip.open(gtf_src, "wt") as fh:
        fh.write(GTF_TEXT)
    data_dir = tmp_path / "data"
    cfg = tmp_path / "c.yml"
    cfg.write_text(
        "species: mm10\n"
        f"directories:\n  data: {data_dir}\n"
        "urls:\n"
        f"  gene: file://{gtf_src}\n"
        f"  variation: file://{gvf_src}\n"
        "spark:\n  master: local[4]\n  shuffle_partitions: 4\n"
    )
    result = CliRunner().invoke(cli, ["complete", "-c", str(cfg)])
    assert result.exit_code == 0, result.output
    lay = DataLayout(str(data_dir), "mm10")
    for out_dir in (
        lay.variant_effects(), lay.variant_meta(), lay.gene_meta(),
        lay.annotated_intergenic(), lay.annotated_intragenic(),
    ):
        assert os.path.isdir(out_dir), out_dir


def test_cli_rejects_missing_species():
    result = CliRunner().invoke(cli, ["process"])
    assert result.exit_code == 2
    assert "species" in result.output


def test_cli_help_lists_subcommands():
    result = CliRunner().invoke(cli, ["--help"])
    assert result.exit_code == 0
    for cmd in ("retrieve", "process", "annotate", "complete"):
        assert cmd in result.output


def test_cli_query_subcommand(tmp_path):
    import subprocess
    import sys

    out = tmp_path / "res"
    r = subprocess.run(
        [sys.executable, "-m", "eggv_spark.cli", "query", "src_scan",
         "--sf-dir", "/root/testdata/sf0.001", "-o", str(out),
         "-m", "local[2]"],
        capture_output=True, text=True, timeout=180,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import pyarrow.parquet as pq
    import glob
    files = glob.glob(str(out / "*.parquet"))
    assert files and pq.read_table(files[0]).num_rows > 0


def test_cli_queries_listing():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "eggv_spark.cli", "queries"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert r.returncode == 0
    names = r.stdout.split()
    assert "flagship_token_pipeline" in names and len(names) > 200


def test_cli_explain_subcommand():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "eggv_spark.cli", "explain",
         "join_left_broadcast", "--sf-dir", "/root/testdata/sf0.001",
         "-m", "local[2]"],
        capture_output=True, text=True, timeout=180, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # formatted mode shows the physical operator tree with the
    # broadcast join this query is plan-tested to use
    assert "BroadcastHashJoin" in r.stdout
    assert "Exchange" in r.stdout or "AdaptiveSparkPlan" in r.stdout
