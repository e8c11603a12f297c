"""Command-line shell: ``eggv-spark {retrieve,process,annotate,complete}``.

Mirrors the reference's click CLI (``eggv/cli.py:113-196``): four
subcommands sharing a common option set, options merged over a YAML
config file over built-in defaults (precedence semantics of
``eggv/cli.py:20-40`` + ``eggv/configuration.py:72-83``), validation
up front (``eggv/cli.py:43-77``).  The reference's cluster-mode trio
(--local/--hpc/--custom + scheduler address) collapses into one
``--master`` string because Spark's master URL already encodes the
deployment mode (local[N] / yarn / k8s:// / spark://host:port).
"""

from __future__ import annotations

import sys
from typing import Any

import click

from eggv_spark import pipeline
from eggv_spark.config import load_config, validate_config


def _common_options(fn):
    fn = click.option("-c", "--config", "config_path", type=click.Path(exists=True), default=None, help="YAML config file")(fn)
    fn = click.option("-s", "--species", type=click.Choice(["hg38", "mm10"]), default=None, help="species build to run")(fn)
    fn = click.option("-m", "--master", default=None, help="Spark master URL (local[N], yarn, spark://...)")(fn)
    fn = click.option("-d", "--data-dir", default=None, help="root data directory")(fn)
    fn = click.option("-f", "--force/--no-force", default=None, help="re-retrieve and overwrite existing outputs")(fn)
    fn = click.option("--shuffle-partitions", type=int, default=None, help="spark.sql.shuffle.partitions upper bound")(fn)
    return fn


def _build_config(config_path: str | None, species: str | None, master: str | None,
                  data_dir: str | None, force: bool | None,
                  shuffle_partitions: int | None) -> dict[str, Any]:
    overrides: dict[str, Any] = {}
    if species is not None:
        overrides["species"] = species
    if force is not None:
        overrides["overwrite"] = force
    if data_dir is not None:
        overrides["directories"] = {"data": data_dir}
    spark_over: dict[str, Any] = {}
    if master is not None:
        spark_over["master"] = master
    if shuffle_partitions is not None:
        spark_over["shuffle_partitions"] = shuffle_partitions
    if spark_over:
        overrides["spark"] = spark_over
    config = load_config(config_path, overrides)
    try:
        validate_config(config)
    except ValueError as exc:
        click.echo(f"error: {exc}", err=True)
        sys.exit(2)
    return config


@click.group()
def cli() -> None:
    """eggv-spark: PySpark-native variant/gene ETL + analytics engine."""


@cli.command()
@_common_options
def retrieve(**kw) -> None:
    """Download the Ensembl variant (GVF) and gene (GTF) builds."""
    pipeline.run_retrieve_step(_build_config(**kw))


@cli.command()
@_common_options
def process(**kw) -> None:
    """Parse raw builds into effects/metadata/gene tables."""
    pipeline.run_process_step(_build_config(**kw))


@cli.command()
@_common_options
def annotate(**kw) -> None:
    """Join variant effects to genes; split intergenic/intragenic."""
    pipeline.run_annotate_step(_build_config(**kw))


@cli.command()
@_common_options
def complete(**kw) -> None:
    """Full pipeline: retrieve -> process -> annotate."""
    pipeline.run_complete_pipeline(_build_config(**kw))


@cli.command("queries")
def list_queries() -> None:
    """List every named analytics query in the registry."""
    from eggv_spark.catalog import query_registry

    for name in query_registry():
        click.echo(name)


@cli.command("query")
@click.argument("name")
@click.option("--sf-dir", required=True, type=click.Path(exists=True),
              help="directory of parquet tables to run against")
@click.option("-o", "--output", default=None,
              help="write result parquet here instead of printing")
@click.option("-n", "--show", "show_n", type=int, default=20,
              help="rows to print when not writing")
@click.option("-m", "--master", default="local[*]", help="Spark master URL")
def run_query(name: str, sf_dir: str, output: str | None, show_n: int,
              master: str) -> None:
    """Run one named analytics query from the registry.

    The registry is the engine's query library — every named,
    oracle-verified query the correctness gate exercises, as listed
    by ``eggv-spark queries`` — so any of them is runnable as a
    product command:
    ``eggv-spark query olap_q5_local_supplier --sf-dir data/``.
    """
    from eggv_spark.catalog import run_named_query
    from eggv_spark.session import get_session

    spark = get_session("eggv-spark-query", master=master)
    try:
        df = run_named_query(spark, sf_dir, name)
    except KeyError as exc:
        click.echo(f"error: {exc}", err=True)
        sys.exit(2)
    if output:
        df.write.mode("overwrite").parquet(output)
        click.echo(f"wrote {output}")
    else:
        for line in df._jdf.showString(show_n, 40, False).splitlines():
            click.echo(line)


@cli.command("explain")
@click.argument("name")
@click.option("--sf-dir", required=True, type=click.Path(exists=True),
              help="directory of parquet tables to plan against")
@click.option("-m", "--master", default="local[*]", help="Spark master URL")
@click.option("--mode", default="formatted",
              type=click.Choice(["simple", "extended", "formatted", "cost"]),
              help="explain mode")
def explain_query(name: str, sf_dir: str, master: str, mode: str) -> None:
    """Print the physical plan of a named registry query.

    The plan-inspection loop as a product command: the same
    ``.explain()`` a perf review runs — shuffle count, broadcast
    joins, pushed filters, scan width — without writing a script:
    ``eggv-spark explain olap_q5_local_supplier --sf-dir data/``.
    """
    from eggv_spark.catalog import run_named_query
    from eggv_spark.session import get_session

    spark = get_session("eggv-spark-explain", master=master)
    try:
        df = run_named_query(spark, sf_dir, name)
    except KeyError as exc:
        click.echo(f"error: {exc}", err=True)
        sys.exit(2)
    click.echo(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
    )


if __name__ == "__main__":
    cli()
