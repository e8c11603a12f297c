"""Benchmark for eggv_spark: one workload, one seed, one closed loop.

Run from the repository root::

    python3 perfbench/run.py --workload gvf_annotate --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``inputs.py``):

- ``gvf_annotate``: the genes, variants and annotate pipeline stages
  over a seeded mm10-shaped GVF+GTF, parquet interchange;
- ``registry_mix``: four dedup/curation registry entries over a seeded
  corpus with planted exact and near duplicates, then four many-round
  entries (k-means, k-core, BPE, k-center) over small seeded tables;
  noop sink.

One run: generate (or reuse) the inputs, start a fresh Spark driver on
``local[CORES]`` with a fixed heap, warm up with WARMUP_PASSES passes,
then time passes back to back for ``--seconds`` (at least MIN_PASSES).  Between passes,
untimed: the previous pass's outputs are deleted, ``os.sync()`` is
called and both the Python and the JVM garbage collectors run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced passes with passes under the tracer (``tracer.py``, ``layers.py``)
and prints the per-layer metrics, including the tracing overhead.  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  Everything the run writes
stays under ``perfbench/.cache`` in the current directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

#: Fixed by the benchmark, recorded in every run.  All cores of a
#: 4-core host: with local[2], gvf_annotate runs settled on per-run
#: plateaus up to 40% apart (IQR/median of pass_s 0.37 over ten seeds),
#: with local[4] the spread over six seeds was 0.05.
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
#: Warm-up passes, the cold one included.  The cold pass costs 3-5 warm
#: ones and the first warm pass carries the JIT tail; each further pass
#: would add 3-7 s to a run of 40-60 s on a 4-core host.
WARMUP_PASSES = 2
#: The timed window runs at least this many passes.
MIN_PASSES = 2


class RssSampler:
    """Peak of (driver JVM + Python) resident memory while running."""

    def __init__(self, pids: list[int], interval: float = 0.02):
        self._pids, self._interval = pids, interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0

    def _rss(self) -> int:
        total = 0
        for pid in self._pids:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * self._page
        return total

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self._rss())
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._rss())


class Run:
    """One benchmark run: the session, the passes and their records."""

    def __init__(self, args, workload, manifest: dict, run_dir: str):
        self.args, self.workload, self.manifest = args, workload, manifest
        self.run_dir = run_dir
        self.spark = None
        self.attempted, self.failures = 0, []
        self.record: dict = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "master": f"local[{CORES}]", "heap": HEAP,
            "input": manifest, "passes": [],
        }
        self._prev_out: str | None = None

    # ------------------------------------------------------ session

    def start(self) -> None:
        from eggv_spark.session import get_session

        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={self.run_dir}/tmp",
            "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
        }
        if self.args.trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.run_dir}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        for d in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.run_dir, d), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_session(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
            extra_confs=confs,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.t_start = t0
        self.pids = [os.getpid(), self.spark._jvm.ProcessHandle.current().pid()]

    def stop(self) -> None:
        """Stop Spark and the driver JVM, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - last resort at exit
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------- passes

    def _between_passes(self) -> None:
        """Untimed hygiene: drop the previous outputs, flush writeback,
        collect garbage on both sides."""
        if self._prev_out:
            shutil.rmtree(self._prev_out, ignore_errors=True)
            self._prev_out = None
        os.sync()
        gc.collect()
        self.spark._jvm.System.gc()

    @staticmethod
    def host_calibration() -> float:
        """Seconds for a fixed single-threaded Python loop: evidence of
        how fast the host ran this pass, next to loadavg (which does
        not see other tenants of the machine)."""
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        return time.perf_counter() - t0

    def one_pass(self, phase: str, tracer=None, collect: bool = False):
        """Run one pass; returns (pass seconds, untimed seconds)."""
        t0 = time.perf_counter()
        self._between_passes()
        n = len(self.record["passes"])
        out = os.path.join(self.run_dir, f"pass-{n}")
        load0, calib = os.getloadavg()[0], self.host_calibration()
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.pass_no = n
            with tracer.span("pass", "bench") as span:
                res = self.workload.run_pass(self.spark, out, tracer=tracer, collect=collect)
        else:
            span = None
            res = self.workload.run_pass(self.spark, out, tracer=None, collect=collect)
        t2 = time.perf_counter()
        if collect or self.workload.checks_per_pass:
            self.workload.check(res)
        self._prev_out = out
        self.attempted += res.attempted
        self.failures += [f"pass {n}: {f}" for f in res.failed]
        self.record["passes"].append({
            "phase": phase, "seconds": res.seconds, "ops": res.op_seconds,
            "failed": res.failed, "loadavg_start": load0, "host_calib_s": calib,
            "loadavg_end": os.getloadavg()[0], "checked": collect or self.workload.checks_per_pass,
        })
        self.last_span = span
        return res.seconds, (t1 - t0) + (time.perf_counter() - t2)

    def persisted_rdds(self) -> int:
        """RDDs still persisted once garbage is collected.  The JVM's
        cleaner unpersists asynchronously, so read until two reads agree."""
        counts = [-1]
        for _ in range(10):
            self._between_passes()
            time.sleep(0.2)
            counts.append(len(self.spark.sparkContext._jsc.getPersistentRDDs()))
            if counts[-1] == counts[-2]:
                break
        return counts[-1]

    def warm_up(self) -> float:
        """WARMUP_PASSES passes; the first (cold) one is the checked
        pass of registry_mix.  Returns setup_s: session start to the
        end of warm-up, untimed work excluded."""
        times, untimed = [], 0.0
        for n in range(WARMUP_PASSES):
            secs, extra = self.one_pass("warmup", collect=n == 0)
            times.append(secs)
            untimed += extra
        self.warmup_times = times
        return time.perf_counter() - self.t_start - untimed

    def timed(self, seconds: float) -> list[float]:
        times: list[float] = []
        while sum(times) < seconds or len(times) < MIN_PASSES:
            times.append(self.one_pass("timed")[0])
        return times


# ------------------------------------------------------------ metrics


def end_to_end(run: Run, setup_s: float, times: list[float], peak_rss: int) -> dict:
    pass_s = statistics.median(times)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "mb_per_s": {"value": run.manifest["input_mb"] / pass_s, "unit": "MB/s"},
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
    }


def measure(args, run: Run) -> dict:
    run.start()
    setup_s = run.warm_up()
    run.record.update(session_s=run.session_s, setup_s=setup_s, warmup_s=run.warmup_times)
    if not args.trace:
        with RssSampler(run.pids) as rss:
            times = run.timed(args.seconds)
        run.record["persisted_rdds_after"] = run.persisted_rdds()
        return end_to_end(run, setup_s, times, rss.peak)
    import layers

    return layers.per_layer(args, run, MIN_PASSES)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("gvf_annotate", "registry_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--corrupt-check", action="store_true",
                    help="self-test: compare against a wrong expected digest")
    args = ap.parse_args(argv)

    root = os.getcwd()
    cache = os.path.join(BENCH_DIR, ".cache")
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    sys.path.insert(0, root)
    try:
        import eggv_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2

    import inputs
    import layers
    import workloads

    inputs_dir, manifest = inputs.ensure_inputs(cache, args.workload, args.seed, args.size)
    workload = workloads.WORKLOADS[args.workload](inputs_dir, manifest, args.corrupt_check)
    run = Run(args, workload, manifest, run_dir)
    try:
        try:
            metrics = measure(args, run)
        finally:
            run.stop()
        if args.trace:
            metrics = layers.finish(run, metrics)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(run.failures)
    run.record.update(metrics=metrics, attempted=run.attempted, failures=run.failures)
    os.makedirs(os.path.join(cache, "records"), exist_ok=True)
    with open(os.path.join(
        cache, "records", f"{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump(run.record, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} local[{CORES}] heap={HEAP} "
          f"input={manifest['input_mb']} MB trace={args.trace}")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:.6g} {m['unit']}")
    print(f"  {'fail_frac':<40} {failed / max(run.attempted, 1):.6g} ratio "
          f"({failed}/{run.attempted} operations)")
    for f in run.failures:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted,
        "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
