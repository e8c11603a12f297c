"""Window gate: everything a queries() window must pass, as one
command.

Chains the window audits in cheap-to-expensive order, failing fast:

1. registry shape — window size is exactly 50, every entry has an
   oracle, no duplicates;
2. output-schema sweep (schema_sweep) — no array/map/struct output
   columns anywhere in the window (the driver's pandas canonicalizer
   cannot sort them: the round-3 ``txt_hashed_features`` failure);
3. plan lint (plan_lint) — no CartesianProduct / global sort /
   row-Python-UDF in any window plan;
4. plan fingerprint (plan_fingerprint) — every window plan's shape
   (exchange/join/Python-stage counts) matches the pinned baseline
   in PLAN_FINGERPRINTS.json: a refactor that adds a shuffle fails
   here even though it stays correct;
5. oracle replica (check_correctness) — every window query
   hash-matches its DuckDB twin at sf0.01 under the driver-faithful
   canonicalizer.

NOT chained here: the cross-config partition-invariance sweep
(scripts/determinism_sweep.py) runs registry-wide per round rather
than per window (two full Spark passes — see SCALING.md for the
round-5 results); run it separately.

Usage: python scripts/stage_gate.py [n] [offset]   (default 50 0)
``offset`` gates the ``n`` entries that start at that registry
position, e.g. ``stage_gate.py 49 50`` gates the block directly
behind the driver's window.  Exit 0 = every check passed.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    first_n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    offset = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    here = os.path.dirname(os.path.abspath(__file__))

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if not 0 <= offset <= len(qs):
        print(f"FAIL: offset {offset} outside registry of {len(qs)} entries")
        return 1
    names = list(qs)[offset : offset + first_n]
    if first_n < 1 or len(names) != first_n:
        print(f"FAIL: window has {len(names)} entries, expected {first_n}")
        return 1
    print(f"window: {len(names)} entries ({names[0]} .. {names[-1]})")
    if len(set(names)) != len(names):
        print("FAIL: duplicate names in window")
        return 1
    missing = [n for n in names if n not in oracles]
    if missing:
        print(f"FAIL: window entries without an oracle: {missing}")
        return 1
    orphans = [n for n in oracles if n not in qs]
    if orphans:
        print(f"FAIL: oracles without a query: {orphans}")
        return 1
    print("shape ok")
    if os.environ.get("STAGE_GATE_SHAPE_ONLY"):
        return 0

    env = dict(os.environ)
    for step, args in (
        (
            "schema_sweep",
            [sys.executable, os.path.join(here, "schema_sweep.py"), *names],
        ),
        (
            "plan_lint",
            [sys.executable, os.path.join(here, "plan_lint.py"), *names],
        ),
        (
            "plan_fingerprint",
            [sys.executable, os.path.join(here, "plan_fingerprint.py"), *names],
        ),
        (
            "check_correctness",
            [sys.executable, os.path.join(here, "check_correctness.py"), *names],
        ),
    ):
        print(f"--- {step} ---", flush=True)
        rc = subprocess.run(args, env=env).returncode
        if rc != 0:
            print(f"FAIL: {step} exited {rc}")
            return rc
    print("stage gate: PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
