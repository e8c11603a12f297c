"""Partition-invariance (determinism) sweep over the query registry.

The driver's verification session is not under our control: its
master width, ``spark.sql.shuffle.partitions``, input-split size and
AQE posture may all differ from the local replica's.  A query whose
result depends on any of those — the classic case is a float
aggregate whose partial-sum ORDER feeds a comparison or an
unstable-ordered window — can hash-match DuckDB locally and still
flip on the driver.  The oracle replica (check_correctness.py)
cannot see this class: it runs one fixed session.

This sweep runs every ``queries()`` entry TWICE at sf0.01 under two
deliberately contrasting sessions and compares the driver-canonical
value hashes between the two Spark runs:

* config A — the replica posture: ``local[8]``, 8 shuffle
  partitions, AQE on, default 128 MB input splits;
* config B — adversarial: ``local[5]``, 13 shuffle partitions
  (coprime to every table's row count), AQE OFF (no runtime
  coalescing to paper over partial-agg ordering), 256 KB input
  splits so even the sf0.01 parquet files scan many-way, and a
  3-slot default parallelism.

Any query whose hash differs between A and B would be at the mercy
of the driver's session config; the sweep fails loudly on it.

Exception: ``MERGE_ORDER_SENSITIVE`` entries are held to a
row-count-only cross-run bar.  The set is EMPTY since round 6.
History worth keeping: the raw ``hll_union_agg`` estimate measured
497 under config A vs 501 under config B on the same 500-value set —
the datasketches union gadget's promotion path depends on merge
order at small cardinality, so a raw sketch ESTIMATE is not a
deterministic function of the value set (per-source estimates ARE
invariant; HLL register updates are max-commutative).  The gradeable
round-6 form of ``agg_hll_rollup`` therefore outputs the exact
count_distinct twin plus a 5%-tolerance boolean — which this sweep
measured hash-identical across configs, restoring the full bar.

Usage: python scripts/determinism_sweep.py [n | name ...]
  no args  — sweep the full registry
  integer  — sweep the first n entries (the driver window is 50)
  names    — sweep exactly those entries
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from check_correctness import _hash
from eggv_spark.session import get_session

#: Documented merge-order-sensitive results: cross-run row-count
#: check only (see module docstring for the measured evidence).
#: Round 6: EMPTY — agg_hll_rollup's gradeable form outputs the exact
#: count_distinct twin plus a 5%-tolerance boolean instead of the raw
#: union estimate, and the sweep measured its hashes identical across
#: configs, so it is held to the full-hash bar again.
MERGE_ORDER_SENSITIVE: set[str] = set()

#: (label, master, shuffle_partitions, extra confs)
CONFIGS = (
    (
        "A:replica",
        "local[8]",
        8,
        {"spark.ui.enabled": "false"},
    ),
    (
        "B:adversarial",
        "local[5]",
        13,
        {
            "spark.ui.enabled": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": str(256 * 1024),
            "spark.default.parallelism": "3",
        },
    ),
)


def _run_pass(label, master, parts, confs, names, sf_dir, qs):
    spark = get_session(
        f"determinism-{label}", master=master, shuffle_partitions=parts,
        extra_confs={**confs, "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, tuple[str | None, int | None, str | None]] = {}
    for name in names:
        try:
            pdf = qs[name](spark, sf_dir).toPandas()
            out[name] = (_hash(pdf), len(pdf), None)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            out[name] = (None, None, f"{type(exc).__name__}: {exc}")
    spark.stop()
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    qs = entrymod.queries()
    args = sys.argv[1:]
    if len(args) == 1 and args[0].isdigit():
        names = list(qs)[: int(args[0])]
    elif args:
        unknown = [a for a in args if a not in qs]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
        names = args
    else:
        names = list(qs)

    passes = []
    for label, master, parts, confs in CONFIGS:
        print(f"== pass {label}: master={master} shuffle={parts} "
              f"confs={ {k: v for k, v in confs.items() if k != 'spark.ui.enabled'} }")
        passes.append(_run_pass(label, master, parts, confs, names, sf_dir, qs))

    a, b = passes
    failures = []
    for name in names:
        ha, ra, ea = a[name]
        hb, rb, eb = b[name]
        if ea or eb:
            failures.append(name)
            print(f"FAIL  {name}: A={ea or 'ok'}  B={eb or 'ok'}")
        elif ra != rb:
            failures.append(name)
            print(f"FAIL  {name}: row count A={ra} B={rb}")
        elif name in MERGE_ORDER_SENSITIVE:
            print(f"rows  {name} ({ra} rows; merge-order-sensitive estimate, "
                  f"hash exempt{' — hashes agreed anyway' if ha == hb else ''})")
        elif ha != hb:
            failures.append(name)
            print(f"FAIL  {name}: value hash differs across configs "
                  f"({ra} rows) — partition-order-dependent result")
        else:
            print(f"ok    {name} ({ra} rows)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
