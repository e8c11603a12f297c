"""The traced run: per-layer metrics, one set per workload.

Every workload reports every metric; a layer the workload never calls
reports 0.  Times are medians over the traced passes; counts (calls,
jobs, rows, pairs) come from the last traced pass, where warm counts
repeat exactly.  ``construct_s`` is the wall time inside a layer's
outermost calls, eager jobs they run included.
"""

from __future__ import annotations

import os
import statistics

from inputs import dir_mb
from tracer import Tracer, count_rows, outermost, stage_totals
from workloads import QUERIES

CONSTRUCT_LAYERS = (
    "readers", "variants", "genes", "annotate", "dedupe", "text_analysis",
    "ml", "graph", "similarity",
)
PIPELINE_STAGES = {
    "pipeline.genes_s": "pipeline.run_gene_processing",
    "pipeline.variants_s": "pipeline.run_variant_processing",
    "pipeline.annotate_s": "pipeline.run_annotation",
}


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _pass_metrics(spans: list[dict]) -> dict[str, float]:
    m: dict[str, float] = {}
    for metric, name in PIPELINE_STAGES.items():
        m[metric] = _dur(s for s in spans if s["name"] == name)
    for layer in CONSTRUCT_LAYERS:
        top = outermost(spans, layer)
        m[f"{layer}.construct_s"] = _dur(top)
        m[f"{layer}.calls"] = len(top)
    mat = [s for s in spans if s["layer"] == "materialize"]
    m["materialize.calls"] = len(mat)
    m["materialize.eager_s"] = _dur(s for s in mat if s["name"] == "materialize.materialize")
    m["materialize.jobs"] = sum(s["jobs"] for s in outermost(spans, "materialize"))
    writes = outermost(spans, "writers")
    m["writers.calls"] = len(writes)
    m["writers.write_s"] = _dur(writes)
    for q in QUERIES:
        c = [s for s in spans if s["name"] == f"query.{q}.construct"]
        e = [s for s in spans if s["name"] == f"query.{q}.execute"]
        m[f"query.{q}.construct_s"] = _dur(c)
        m[f"query.{q}.execute_s"] = _dur(e)
        m[f"query.{q}.jobs"] = sum(s["jobs"] for s in c + e)
    return m


def metric_units() -> dict[str, str]:
    """Metric name -> unit, in print order: BENCHMARK.json's per_layer list."""
    units = {"session.start_s": "s"}
    units.update({k: "s" for k in PIPELINE_STAGES})
    units.update({"readers.calls": "count", "readers.construct_s": "s"})
    units.update({"variants.construct_s": "s", "variants.typed_rows": "count",
                  "variants.effect_rows": "count"})
    units.update({"genes.construct_s": "s", "genes.rows": "count"})
    units.update({"materialize.calls": "count", "materialize.eager_s": "s",
                  "materialize.jobs": "count", "materialize.persisted_rdds_after": "count"})
    units.update({"annotate.construct_s": "s", "annotate.intergenic_rows": "count",
                  "annotate.intragenic_rows": "count"})
    units.update({"writers.calls": "count", "writers.write_s": "s",
                  "writers.mb": "MB", "writers.files": "count"})
    units.update({"dedupe.calls": "count", "dedupe.construct_s": "s",
                  "dedupe.candidate_pairs": "count", "dedupe.verified_pairs": "count",
                  "dedupe.pair_yield": "ratio"})
    units.update({"text_analysis.calls": "count", "text_analysis.construct_s": "s"})
    units.update({f"{x}.construct_s": "s" for x in ("ml", "graph", "similarity")})
    for q in QUERIES:
        units.update({f"query.{q}.construct_s": "s", f"query.{q}.execute_s": "s",
                      f"query.{q}.jobs": "count"})
    units.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
                  "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
                  "spark.local_dir_mb_after": "MB"})
    units.update({"warmup.passes": "count", "warmup.first_pass_s": "s",
                  "trace.pass_s": "s", "trace.untraced_pass_s": "s",
                  "trace.overhead_s": "s"})
    return units


def _traced_pass_metrics(tracer: Tracer) -> dict[str, float]:
    m = _pass_metrics([s for s in tracer.spans if s["pass"] == tracer.pass_no])
    paths = [p for p in tracer.write_paths if os.path.isdir(p)]
    m["writers.mb"] = sum(dir_mb(p) for p in paths)
    m["writers.files"] = sum(
        len([f for f in os.listdir(p) if not f.startswith((".", "_"))]) for p in paths
    )
    tracer.write_paths.clear()
    return m


def per_layer(args, run, min_passes: int) -> dict:
    """Untraced and traced passes alternate, half the window each, so
    both sit at the same point of the warm-up curve; the difference of
    their medians is the tracing overhead.  Returns the metrics."""
    tracer = Tracer(run.spark)
    untraced, traced, per_pass, captured = [], [], [], []
    while sum(untraced) + sum(traced) < args.seconds or len(traced) < min_passes:
        untraced.append(run.one_pass("untraced")[0])
        tracer.install()
        try:
            traced.append(run.one_pass("traced", tracer=tracer)[0])
        finally:
            tracer.uninstall()
        per_pass.append(_traced_pass_metrics(tracer))
        captured = tracer.take_outputs()
    rows = count_rows(captured)  # the last pass's outputs are still on disk
    del captured
    last_span = run.last_span
    local_mb = dir_mb(os.environ["SPARK_LOCAL_DIRS"])
    persisted = run.persisted_rdds()
    tracer.dump(os.path.join(run.run_dir, "..", "records",
                             f"{args.workload}-s{args.seed}-spans.json"))

    last = per_pass[-1]
    metrics: dict[str, float] = {}
    for key in per_pass[0]:
        vals = [p[key] for p in per_pass]
        metrics[key] = statistics.median(vals) if key.endswith("_s") else last[key]
    metrics.update(rows)
    cand = rows["dedupe.candidate_pairs"]
    metrics["dedupe.pair_yield"] = rows["dedupe.verified_pairs"] / cand if cand else 0.0
    metrics["session.start_s"] = run.session_s
    metrics["materialize.persisted_rdds_after"] = persisted
    metrics["spark.jobs"] = last_span["jobs"]
    metrics["spark.stages"] = last_span["stages"]
    metrics["spark.local_dir_mb_after"] = local_mb
    metrics["warmup.passes"] = len(run.warmup_times)
    metrics["warmup.first_pass_s"] = run.warmup_times[0]
    metrics["trace.pass_s"] = statistics.median(traced)
    metrics["trace.untraced_pass_s"] = statistics.median(untraced)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["trace.untraced_pass_s"]
    run.pending_stage_range = last_span["stage_range"]
    return metrics


def finish(run, metrics: dict) -> dict:
    """After the session stopped (the event log is complete): add the
    Spark stage totals and attach units."""
    events = os.path.join(run.run_dir, "events")
    metrics.update(stage_totals(events, run.pending_stage_range))
    units = metric_units()
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
