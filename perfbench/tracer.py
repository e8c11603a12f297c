"""Spans around the program's public functions, for the traced run.

:class:`Tracer` replaces every public function of the traced modules
with a wrapper that records a span ``{name, layer, start, end, parent,
pass, thread, jobs, stages}`` in memory.  Names bound by value in other
modules (``from eggv_spark.materialize import materialize``) are
rebound too, so calls through them are seen.  ``uninstall`` restores
the originals.

Job and stage counts come from the scheduler's id counters, read on
span entry and exit; spans that overlap in time on several threads
(the pipeline's concurrent sink writes) each see the others' jobs.

Some wrapped functions also hand their output DataFrame to the tracer;
:func:`count_rows` counts those after the pass, outside every
span, so the counting jobs never reach a span's job count.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: layer name -> modules whose public functions the tracer wraps.
LAYER_MODULES = {
    "pipeline": ["eggv_spark.pipeline"],
    "readers": ["eggv_spark.sources.readers"],
    "variants": ["eggv_spark.operators.variants", "eggv_spark.functions.extract"],
    "genes": ["eggv_spark.operators.genes"],
    "materialize": ["eggv_spark.materialize"],
    "annotate": ["eggv_spark.operators.annotate"],
    "writers": ["eggv_spark.sources.writers"],
    "dedupe": ["eggv_spark.operators.dedupe"],
    "text_analysis": ["eggv_spark.operators.text_analysis"],
    "ml": ["eggv_spark.operators.ml"],
    "graph": ["eggv_spark.operators.graph"],
    "similarity": ["eggv_spark.operators.similarity"],
}

#: Functions whose output rows are counted after a traced pass:
#: qualified name -> row counter it adds to.
ROW_COUNTERS = {
    "variants.extract_variant_fields": "variants.typed_rows",
    "variants.isolate_variant_effects": "variants.effect_rows",
    "genes.process_gtf": "genes.rows",
    "annotate.isolate_intergenic_variants": "annotate.intergenic_rows",
    "annotate.isolate_intragenic_variants": "annotate.intragenic_rows",
    "dedupe.lsh_candidate_pairs": "dedupe.candidate_pairs",
    "dedupe.jaccard_verify_pairs": "dedupe.verified_pairs",
}


class Tracer:
    def __init__(self, spark):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._outputs: list[tuple[str, object]] = []
        self.write_paths: list[str] = []
        self.spans: list[dict] = []
        self.pass_no = 0
        self._main_stack = self._stack()

    # ---------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def ids(self) -> tuple[int, int]:
        return self._sched.nextJobId(), self._sched.nextStageId()

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # A pool thread's first span hangs under the span the main
        # thread has open: the one that submitted the work.
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        jobs0, stages0 = self.ids()
        rec = {
            "id": None, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "layers_above": (parent["layers_above"] | {parent["layer"]}) if parent else set(),
            "pass": self.pass_no, "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            jobs1, stages1 = self.ids()
            rec["jobs"], rec["stages"] = jobs1 - jobs0, stages1 - stages0
            rec["stage_range"] = (stages0, stages1)

    # ------------------------------------------------------- wrappers

    def _wrap(self, layer: str, fn):
        qual = f"{layer}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(qual, layer):
                out = fn(*args, **kwargs)
            if qual in ROW_COUNTERS:
                tracer._outputs.append((ROW_COUNTERS[qual], out))
            if layer == "writers" and len(args) > 1 and isinstance(args[1], str):
                tracer.write_paths.append(args[1])
            return out

        return wrapper

    def install(self) -> None:
        replaced: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for name, obj in list(vars(mod).items()):
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == modname
                    ):
                        replaced[id(obj)] = (obj, self._wrap(layer, obj))
        # Rebind every module-level name that holds an original, in the
        # defining modules and in every module that imported it by value.
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith("eggv_spark") or modname == "__spark_entry__"
            ):
                continue
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._originals.append((mod, name, obj))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._originals):
            setattr(mod, name, obj)
        self._originals.clear()

    # ------------------------------------------------ post-pass reads

    def take_outputs(self) -> list[tuple[str, object]]:
        """The outputs captured since the last call, for count_rows."""
        outputs, self._outputs = self._outputs, []
        return outputs

    def dump(self, path: str) -> None:
        """Write the spans with their self time (duration minus the
        part of it that child spans cover)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c.get("end", c["start"]), s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            rec = {k: v for k, v in s.items() if k != "layers_above"}
            rec["self_s"] = (s["end"] - s["start"]) - covered
            out.append(rec)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


def count_rows(outputs: list[tuple[str, object]]) -> dict[str, int]:
    """Count the rows of captured outputs (extra actions: they run
    only in the traced run, after the pass)."""
    counts = {name: 0 for name in ROW_COUNTERS.values()}
    for name, df in outputs:
        counts[name] += df.count()
    return counts


def outermost(spans: list[dict], layer: str) -> list[dict]:
    """Spans of ``layer`` with no enclosing span of the same layer:
    one per entry into the layer from outside it."""
    return [s for s in spans if s["layer"] == layer and layer not in s["layers_above"]]


def stage_totals(event_log_dir: str, stage_range: tuple[int, int]) -> dict[str, float]:
    """Tasks, shuffle bytes written and bytes spilled of the completed
    stages whose ids fall in ``stage_range``, read from the (plain
    JSON) Spark event log."""
    lo, hi = stage_range
    tasks, shuffle, spill = 0, 0, 0
    for name in os.listdir(event_log_dir):
        with open(os.path.join(event_log_dir, name)) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                if not lo <= info["Stage ID"] < hi:
                    continue
                tasks += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    n = acc.get("Name", "")
                    if n == "internal.metrics.shuffle.write.bytesWritten":
                        shuffle += int(acc["Value"])
                    elif n in ("internal.metrics.memoryBytesSpilled",
                               "internal.metrics.diskBytesSpilled"):
                        spill += int(acc["Value"])
    return {
        "spark.tasks": tasks,
        "spark.shuffle_write_mb": shuffle / 1e6,
        "spark.spill_mb": spill / 1e6,
    }
