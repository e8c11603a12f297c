"""The two workloads: what one pass runs, and how its output is checked.

A pass is the unit the benchmark times.  ``run_pass`` does only the
timed work and returns what the untimed ``check`` needs; every
operation that raises is recorded as failed on the spot.

- ``gvf_annotate``: the pipeline's three stages (genes, variants,
  annotate) with parquet interchange, into a fresh directory per pass.
  Checked every pass: each sink's row count against the generator's
  own count, and each sink's order-insensitive digest against the
  first pass's.
- ``registry_mix``: one call of each registry entry in ``QUERIES``,
  executed to the noop sink.  A checked pass collects each
  result instead and compares it with the entry's ``oracle_sql()`` run
  in DuckDB over the same files, by the canonical hash of
  ``scripts/check_correctness.py``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from contextlib import nullcontext

import duckdb

import __spark_entry__ as entry
from eggv_spark import pipeline
from eggv_spark.layout import DataLayout

#: The registry entries of ``registry_mix``, one call each per pass:
#: the dedup/curation kernels first, then the many-round entries.
QUERIES = [
    "ddp_minhash_neardup", "ddp_containment", "txt_repetition",
    "decision_stump", "graph_kcore", "sim_kcenter_coreset",
]


def _check_correctness_module():
    path = os.path.join(os.getcwd(), "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _span(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer else nullcontext()


class PassResult:
    def __init__(self):
        self.seconds = 0.0
        self.attempted = 0
        self.failed: list[str] = []
        self.outputs: dict = {}
        self.op_seconds: dict[str, float] = {}


class GvfAnnotate:
    name = "gvf_annotate"
    #: sink -> (stage that writes it, layout method)
    SINKS = {
        "gene_meta": ("genes", "gene_meta"),
        "gene_dedup": ("genes", "gene_dedup"),
        "variant_effects": ("variants", "variant_effects"),
        "variant_meta": ("variants", "variant_meta"),
        "intergenic": ("annotate", "annotated_intergenic"),
        "intragenic": ("annotate", "annotated_intragenic"),
    }

    def __init__(self, inputs_dir: str, manifest: dict, corrupt: bool = False):
        self.manifest = manifest
        self.expected = manifest["expected_rows"]
        self.reference: dict[str, str] | None = None
        self.corrupt = corrupt
        self.checks_per_pass = True

    def _layout(self, pass_dir: str) -> DataLayout:
        layout = DataLayout(pass_dir, "mm10")
        layout.dir_variant_raw = self.manifest["variant_raw_dir"]
        layout.dir_gene_raw = self.manifest["gene_raw_dir"]
        return layout

    def run_pass(self, spark, pass_dir: str, tracer=None, collect: bool = False) -> PassResult:
        layout = self._layout(pass_dir)
        res = PassResult()
        stages = (
            ("genes", pipeline.run_gene_processing),
            ("variants", pipeline.run_variant_processing),
            ("annotate", pipeline.run_annotation),
        )
        t0 = time.perf_counter()
        for stage, fn in stages:
            res.attempted += 1
            t = time.perf_counter()
            try:
                fn(spark, layout, fmt="parquet")
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                res.failed.append(f"{stage}: {type(exc).__name__}: {exc}"[:300])
            res.op_seconds[stage] = time.perf_counter() - t
        res.seconds = time.perf_counter() - t0
        res.outputs = {s: getattr(layout, m)() for s, (_, m) in self.SINKS.items()}
        return res

    def check(self, res: PassResult) -> None:
        """Row counts against the generator's, digests against the
        first checked pass's (untimed)."""
        con = duckdb.connect()
        digests, bad_stages = {}, {}
        for sink, path in res.outputs.items():
            stage = self.SINKS[sink][0]
            try:
                n, digest = con.execute(
                    f"SELECT count(*), CAST(sum(hash(t)) AS VARCHAR)"
                    f" FROM read_parquet('{path}/*.parquet') t"
                ).fetchone()
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
                bad_stages.setdefault(stage, f"{sink}: unreadable: {type(exc).__name__}")
                continue
            digests[sink] = digest
            if n != self.expected[sink]:
                bad_stages.setdefault(stage, f"{sink}: {n} rows, expected {self.expected[sink]}")
        con.close()
        if self.reference is None and len(digests) == len(self.SINKS):
            self.reference = dict(digests)
            if self.corrupt:
                self.reference = {k: v + "0" for k, v in digests.items()}
        for sink, digest in digests.items():
            if self.reference is not None and digest != self.reference[sink]:
                bad_stages.setdefault(self.SINKS[sink][0], f"{sink}: digest differs from first pass")
        already = {f.split(":")[0] for f in res.failed}
        res.failed += [f"{s}: {why}" for s, why in bad_stages.items() if s not in already]


class RegistryMix:
    name = "registry_mix"

    def __init__(self, inputs_dir: str, manifest: dict, corrupt: bool = False):
        self.manifest = manifest
        self.inputs_dir = inputs_dir
        self.queries = QUERIES
        self.corrupt = corrupt
        self.checks_per_pass = False
        self._registry = entry.queries()
        self._oracles = entry.oracle_sql()

    def run_pass(self, spark, pass_dir: str, tracer=None, collect: bool = False) -> PassResult:
        res = PassResult()
        t0 = time.perf_counter()
        for q in self.queries:
            res.attempted += 1
            t = time.perf_counter()
            try:
                with _span(tracer, f"query.{q}.construct", "query"):
                    df = self._registry[q](spark, self.inputs_dir)
                with _span(tracer, f"query.{q}.execute", "query"):
                    if collect:
                        res.outputs[q] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                res.failed.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
            res.op_seconds[q] = time.perf_counter() - t
        res.seconds = time.perf_counter() - t0
        return res

    def check(self, res: PassResult) -> None:
        """Each collected result against its DuckDB oracle (untimed)."""
        cc = _check_correctness_module()
        con = duckdb.connect()
        for table in self.manifest["tables"]:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{self.inputs_dir}/{table}.parquet/*.parquet')"
            )
        failed = {f.split(":")[0] for f in res.failed}
        for q in self.queries:
            if q in failed:
                continue
            problem = None
            try:
                got = res.outputs[q]
                want = con.execute(self._oracles[q]).df()
                if len(got) != len(want):
                    problem = f"{len(got)} rows, oracle {len(want)}"
                elif sorted(got.columns) != sorted(want.columns):
                    problem = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                else:
                    want_hash = cc._hash(want) + ("0" if self.corrupt else "")
                    if cc._hash(got) != want_hash:
                        problem = "value-hash mismatch with the oracle"
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
                problem = f"check could not run: {type(exc).__name__}: {exc}"
            if problem:
                res.failed.append(f"{q}: {problem}"[:300])
        con.close()


WORKLOADS = {w.name: w for w in (GvfAnnotate, RegistryMix)}
