"""Pipeline configuration: YAML with layered defaults.

Mirrors the role of the reference's ``eggv/configuration.py:11-91``
(a YAML default document merged with a user file and CLI overrides)
but Spark-native: the resource block configures a ``SparkSession``
(master / shuffle partitions / arbitrary ``spark.*`` confs) instead
of a Dask cluster shape, and the merge is *deep* (nested keys in a
user file override only the keys they name, not whole sections).

No singleton: config objects are plain values passed down the call
chain, so tests and concurrent pipelines can't trample each other.
"""

from __future__ import annotations

import copy
from typing import Any, Mapping

import yaml

#: Default configuration document.  A user file may specify any subset
#: of these keys; unspecified keys keep their defaults.
DEFAULT_CONFIG_YAML = """
spark:
  ## Spark master: local[N] for a single machine, or yarn / k8s /
  ## spark://host:port when launched under a cluster manager.
  master: 'local[*]'
  app_name: 'eggv-spark'
  ## Post-shuffle parallelism target; AQE coalesces below this at
  ## runtime so it is an upper bound, not a fixed width.
  shuffle_partitions: 200
  ## Extra spark.* confs merged into the session builder verbatim.
  confs: {}

directories:
  ## Root data directory, visible to driver and all executors
  ## (shared FS / object store in production).
  data: 'data/'

## If true, always retrieve data and overwrite local copies.
overwrite: true

## Source-URL overrides for the retrieve step (else public Ensembl
## v95 URLs).  'variation' may be a per-chromosome template with {}.
urls:
  gene: ~
  variation: ~

## Intermediate/output interchange format: tsv mirrors the reference;
## parquet is the native format at scale (pruning + pushdown on
## every downstream read).
format: tsv

## Species pipeline to run (hg38 | mm10); may come from the CLI.
species: ~
"""


def default_config() -> dict[str, Any]:
    """The defaults as a fresh dict (safe to mutate)."""
    return yaml.safe_load(DEFAULT_CONFIG_YAML)


def _deep_merge(base: dict[str, Any], override: Mapping[str, Any]) -> dict[str, Any]:
    out = copy.deepcopy(base)
    for key, value in override.items():
        if isinstance(value, Mapping) and isinstance(out.get(key), dict):
            out[key] = _deep_merge(out[key], value)
        else:
            out[key] = copy.deepcopy(value)
    return out


def load_config(
    path: str | None = None,
    overrides: Mapping[str, Any] | None = None,
) -> dict[str, Any]:
    """Defaults <- YAML file at ``path`` <- explicit ``overrides``,
    later layers winning per-key (reference precedence semantics:
    ``eggv/configuration.py:72-83`` + CLI merge ``eggv/cli.py:20-40``).
    """
    config = default_config()
    if path:
        with open(path) as fh:
            loaded = yaml.safe_load(fh) or {}
        if not isinstance(loaded, Mapping):
            raise ValueError(f"config file {path!r} must be a YAML mapping")
        config = _deep_merge(config, loaded)
    if overrides:
        config = _deep_merge(config, {k: v for k, v in overrides.items() if v is not None})
    return config


def validate_config(config: Mapping[str, Any]) -> None:
    """Fail fast on unusable configs (reference ``eggv/cli.py:43-77``
    validates species + cluster mode; here the cluster mode is just
    the Spark master string, so only species and master shape need
    checking).  A top-level key the defaults do not name is an error,
    not a silently ignored setting."""
    unknown = sorted(set(config) - set(default_config()))
    if unknown:
        raise ValueError(f"unknown config key(s): {', '.join(unknown)}")
    if not config.get("species"):
        raise ValueError("a species is required (-s/--species or config key 'species')")
    if config["species"] not in ("hg38", "mm10"):
        raise ValueError(f"unknown species {config['species']!r}; expected hg38 or mm10")
    master = config.get("spark", {}).get("master")
    if not master:
        raise ValueError("spark.master must be set (e.g. 'local[*]' or 'yarn')")
