"""Plan-fingerprint regression gate: pin each registry query's
physical-plan shape and fail loudly when a change makes it worse.

plan_lint flags absolute anti-patterns (cartesian products, global
sorts, row-Python UDFs); this gate catches the RELATIVE regressions
lint can't see — a refactor that quietly adds a shuffle, turns a
broadcast join into a sort-merge join, or drops a Python stage into
a previously JVM-only plan.  At 100 TB one extra exchange on a hot
query is the difference between a plan that works and one that
doesn't, so plan shape is pinned the same way results are.

Fingerprint = token counts over the pre-execution physical plan
(initial AQE plan, sf0.001, local[4]/4 shuffle partitions — fully
deterministic): hash/range/single-partition exchanges, broadcast
exchanges, broadcast-hash vs sort-merge joins, cartesian products,
and the Python-eval operators.  Streaming entries (no pre-start
physical plan) are pinned as skips.

Regressions (any count above baseline, or a new cartesian/Python
token) FAIL.  Improvements (counts below baseline) are reported and
require ``--update`` to re-pin, so intentional plan changes are an
explicit, reviewable act — the baseline lives in
PLAN_FINGERPRINTS.json at the repo root.

Usage:
  python scripts/plan_fingerprint.py            # compare all
  python scripts/plan_fingerprint.py q1 q2      # compare a subset
  python scripts/plan_fingerprint.py --update   # re-pin baseline
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eggv_spark.session import get_session  # noqa: E402

BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_FINGERPRINTS.json",
)

#: token -> fingerprint key; counted over the physical-plan string.
TOKENS = {
    "Exchange hashpartitioning": "hash_exchanges",
    "Exchange rangepartitioning": "range_exchanges",
    "Exchange SinglePartition": "single_exchanges",
    "BroadcastExchange": "broadcast_exchanges",
    "BroadcastHashJoin": "broadcast_hash_joins",
    "BroadcastNestedLoopJoin": "broadcast_nl_joins",
    "SortMergeJoin": "sort_merge_joins",
    "CartesianProduct": "cartesian_products",
    "ArrowEvalPython": "arrow_python",
    "BatchEvalPython": "row_python",
    "MapInPandas": "map_in_pandas",
    "FlatMapGroupsInPandas": "grouped_pandas",
}

#: keys where ANY increase over baseline is a regression; the rest
#: (broadcast joins, arrow/pandas stages) are informational because
#: an increase usually accompanies an intentional operator change.
REGRESSION_KEYS = (
    "hash_exchanges",
    "range_exchanges",
    "single_exchanges",
    "sort_merge_joins",
    "cartesian_products",
    "row_python",
)


def fingerprint(plan: str) -> dict[str, int]:
    return {key: plan.count(token) for token, key in TOKENS.items()}


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--update"]
    update = "--update" in sys.argv[1:]

    spark = get_session(
        "plan-fingerprint", master="local[4]", shuffle_partitions=4,
        extra_confs={"spark.ui.enabled": "false",
                     "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    registry = entry.queries()
    unknown = [a for a in args if a not in registry]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    names = args or list(registry)

    cache = spark._jsparkSession.sharedState().cacheManager()
    current: dict[str, dict] = {}
    leaks: list[str] = []
    for name in names:
        try:
            plan = registry[name](spark, sf_dir)._jdf.queryExecution(
            ).executedPlan().toString()
            current[name] = fingerprint(plan)
            # fingerprints must be SESSION-STATE-INDEPENDENT: a frame
            # left in the shared cache makes a LATER query whose
            # subplans match print the cached plan's nested text, so
            # its counts would depend on registry ORDER.  Operators
            # materialize only through eggv_spark.materialize, which
            # registers nothing there — a leak is a defect, not noise.
            if not cache.isEmpty():
                leaks.append(name)
                print(f"FAIL  {name}: left frames in the session cache")
                spark.catalog.clearCache()
        except Exception as exc:
            # Only a genuinely streaming plan (no pre-start physical
            # plan) may be pinned as a skip; any other plan-time error
            # (bad column, broken query) must FAIL here — a blanket
            # skip would let --update pin the breakage as a passing
            # baseline forever.  (All 321 current entries produce
            # batch plans: zero skips in PLAN_FINGERPRINTS.json.)
            if "streaming" not in str(exc).lower():
                print(f"FAIL  {name}: plan-time error: {exc}")
                return 1
            current[name] = {"skip": type(exc).__name__}

    baseline: dict[str, dict] = {}
    if os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH) as fh:
            baseline = json.load(fh)

    if leaks:
        print(f"\n{len(leaks)} entries leak into the session cache")
        return 1

    if update:
        baseline.update(current)
        if not args:
            # full-registry re-pin: prune baseline keys for queries
            # that no longer exist, so removed registry entries don't
            # linger in PLAN_FINGERPRINTS.json forever
            stale = [k for k in baseline if k not in registry]
            for k in stale:
                del baseline[k]
            if stale:
                print(f"pruned {len(stale)} stale fingerprints: {stale}")
        with open(BASELINE_PATH, "w") as fh:
            json.dump(baseline, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"pinned {len(current)} fingerprints -> {BASELINE_PATH}")
        return 0

    regressions, improvements, new = [], [], []
    for name, fp in current.items():
        base = baseline.get(name)
        if base is None:
            new.append(name)
            print(f"NEW   {name}: {fp} (not in baseline — run --update)")
            continue
        if base == fp:
            print(f"ok    {name}")
            continue
        worse = [
            k for k in REGRESSION_KEYS
            if fp.get(k, 0) > base.get(k, 0)
        ]
        if "skip" in fp or "skip" in base:
            worse = ["shape-class-changed"] if fp.keys() != base.keys() else []
        if worse:
            regressions.append(name)
            print(f"FAIL  {name}: regressed {worse}: {base} -> {fp}")
        else:
            improvements.append(name)
            print(f"diff  {name}: improved/neutral: {base} -> {fp} "
                  "(run --update to re-pin)")

    print(
        f"\n{len(regressions)} regressions, {len(improvements)} "
        f"improved/neutral diffs, {len(new)} unpinned"
    )
    return 1 if regressions or new else 0


if __name__ == "__main__":
    raise SystemExit(main())
