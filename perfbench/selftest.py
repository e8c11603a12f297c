"""Self-test of the benchmark at a tiny input size.

Run from the repository root::

    python3 perfbench/selftest.py

For each workload it makes two runs of ``run.py --size tiny``:

- ``--trace 0 --corrupt-check``: every end-to-end metric of
  ``BENCHMARK.json`` is printed with its unit, and the deliberately
  wrong expected digest shows up as failed operations;
- ``--trace 1``: every per-layer metric is printed with its unit, and
  no operation fails.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--size", "tiny", *extra],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, spec: list[dict]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    if set(got) != set(want):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is not None and (m.get("unit") != unit or not isinstance(m.get("value"), (int, float))):
            problems.append(f"{name}: {m}, want unit {unit}")
    return problems


def main() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in (w["name"] for w in bench["workloads"]):
        checks = []
        try:
            corrupt = _run(w, "--trace", "0", "--corrupt-check")
            checks += _check_metrics(corrupt, bench["end_to_end"])
            if corrupt["failed"] < 1 or corrupt["correct"]:
                checks.append(f"wrong expected digest not counted: {corrupt['failed']} failed")
            traced = _run(w, "--trace", "1")
            checks += _check_metrics(traced, bench["per_layer"])
            if traced["failed"] or not traced["correct"] or traced["attempted"] < 1:
                checks.append(f"traced run: {traced['failed']}/{traced['attempted']} failed")
        except (AssertionError, subprocess.TimeoutExpired, ValueError) as exc:
            checks.append(f"run failed: {exc}")
        print(f"{'ok  ' if not checks else 'FAIL'} {w}")
        for c in checks:
            print(f"     {c}")
        failures += checks
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
