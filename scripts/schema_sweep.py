"""Registry-wide output-schema audit (VERDICT r03, ask 4).

Builds every ``queries()`` entry at sf0.001 and flags any output
column whose type the driver's pandas canonicalizer cannot sort/hash:
ArrayType, MapType, StructType.  Obtaining ``.schema`` only requires
CONSTRUCTING each DataFrame, but a handful of side-effectful entries
(stream_late_data, tbl_partition_overwrite, stream_cdc_apply,
src_format_roundtrip, stream_index_dedup, ...) run streaming queries
or write filesystem sinks inside the builder itself, so a full sweep
does execute those — budget a few minutes, not seconds.
The round-3 driver error on ``txt_hashed_features`` (ArrayType
``feature_vec`` -> ``TypeError: unhashable type: 'list'``) is the
failure mode this sweep catches at staging time.

The sweep also lints ``oracle_sql()`` for the percentile-boundary
hazard (ADVICE r04 hazard 2, VERDICT r04 ask 7): Spark's
``F.percentile`` and DuckDB's ``quantile_cont`` interpolate
identically on distinct values but can straddle a tie run differently
once the probe lands between equal values, so any oracle using a
quantile function on a heavily-tied column needs 4dp rounding or a
rank-based/dyadic cutoff.  Oracles that have been tie-audited are
allowlisted below; a NEW quantile oracle fails the sweep until its
column's tie profile is checked and the name is added.

Usage: python scripts/schema_sweep.py [query ...]
With no arguments the whole registry is swept; names restrict the
sweep to those queries (stage_gate passes the rotation window).
Exit 0 = zero non-scalar output columns and zero unaudited
percentile oracles in the swept set.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as S

import __spark_entry__ as entrymod
from eggv_spark.session import get_session

COMPLEX = (S.ArrayType, S.MapType, S.StructType)

#: Quantile-function pattern the lint searches oracle SQL for.
QUANTILE_RE = re.compile(
    r"quantile_cont|quantile_disc|percentile_cont|percentile_disc"
    r"|\bmedian\s*\(",
    re.IGNORECASE,
)

#: Tie-audited quantile oracles (column tie profiles checked; all
#: probe continuous prices, integer cents with 4dp/2dp rounding, or
#: bootstrap-replicate means where exact ties are measure-zero).
#: graph_wcc deliberately uses row_number instead of a percentile —
#: the pattern new entries should prefer.
QUANTILE_AUDITED = {
    "agg_percentiles",       # l_extendedprice, 2dp rounding
    "agg_histogram_eqdepth", # integer cents, dyadic cut list
    "agg_theilsen",          # pairwise slopes, 6dp rounding
    "agg_bootstrap_ab",      # replicate mean diffs (continuous)
    "agg_bootstrap_ci",      # replicate means (continuous)
    "win_winsorize",         # l_extendedprice band edges
    "agg_mad",               # price median + MAD, 4dp rounding
    "agg_tukey_outliers",    # price quartiles
    "win_rolling_median",    # price window median
    "agg_approx",            # l_orderkey exact-percentile twins:
                             # integer inputs, identical (n-1)*p
                             # interpolation rule on both engines
                             # (exact double arithmetic), 4dp
                             # rounding; dual-scale green since r06
    # perplexity_bins was briefly allowlisted here with an
    # interpolated-quantile oracle; the sf0.1 sweep then caught a
    # 121-doc tie mass flipping bins (the interpolation index landed
    # at the EDGE of the tie run — on it in Spark, above it in
    # DuckDB).  Round 8 rewrote its cutoffs as DISCRETE order
    # statistics from the score histogram (purely ordinal), so the
    # oracle no longer uses a quantile function at all.  New entries:
    # prefer that pattern — this lint exists precisely because the
    # sf0.01 gate alone would have let the interpolated form ship.
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.environ.get("SF_DIR", "/root/testdata/sf0.001"))
    spark = get_session(
        "schema-sweep", master="local[8]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false",
                     "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    bad, errs = [], []
    qs = entrymod.queries()
    only = set(sys.argv[1:])
    if only:
        qs = {n: f for n, f in qs.items() if n in only}

    oracles = entrymod.oracle_sql()
    unaudited = sorted(
        name
        for name, sql in oracles.items()
        if name in qs
        and name not in QUANTILE_AUDITED
        and QUANTILE_RE.search(sql)
    )
    for name in unaudited:
        print(
            f"QUANTILE {name}: oracle uses a quantile function but is "
            "not tie-audited - check the column's tie profile, add 4dp "
            "rounding or a rank-based cutoff, then allowlist"
        )
    for name, fn in qs.items():
        try:
            schema = fn(spark, sf_dir).schema
        except Exception as exc:  # noqa: BLE001
            errs.append((name, str(exc)[:120]))
            continue
        complex_cols = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, COMPLEX)
        ]
        if complex_cols:
            bad.append((name, complex_cols))
            print(f"COMPLEX  {name}: {complex_cols}")
    spark.stop()

    for name, e in errs:
        print(f"ERROR    {name}: {e}")
    print(
        f"\n{len(qs)} queries swept: {len(bad)} with non-scalar output "
        f"columns, {len(errs)} build errors, {len(unaudited)} unaudited "
        "percentile oracles"
    )
    return 1 if (bad or errs or unaudited) else 0


if __name__ == "__main__":
    raise SystemExit(main())
