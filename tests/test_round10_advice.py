"""Regression tests for the round-9 ADVICE items fixed in round 10.

1. txnlog.vacuum races concurrent writers (covered in
   tests/test_txnlog.py::test_vacuum_retention_window_protects_staged_data
   and ::test_vacuum_relists_log_before_deleting — the protocol-level
   tests live with the rest of the txnlog suite).
2. events.quantile_treatment_effects: a non-terminating p (1/3) used
   to produce a ~1e16 rational denominator whose bigint rank product
   silently wrapped for n beyond a few thousand.
3. jpegcodec.decode_jpeg: a non-interleaved baseline scan was decoded
   as if interleaved (silently wrong raster) instead of raising; the
   4:2:2 chroma path had no fixture coverage.
"""

from __future__ import annotations

import math

import pytest

from eggv_spark.operators.events import quantile_treatment_effects


# ---------------------------------------------------------------------------
# 2. evt_qte bounded-rational rank selection
# ---------------------------------------------------------------------------


def _qte_units(spark, n_per_arm=3000):
    """Two arms big enough that the old 1e16-denominator product
    (p_num·n ≈ 3.3e15 × 3000 ≈ 1e19) would wrap past the bigint max
    of 9.22e18."""
    rows = [(t, v) for t in (True, False) for v in range(1, n_per_arm + 1)]
    return spark.createDataFrame(rows, "treated boolean, outcome_cents long")


def test_qte_huge_denominator_raises(spark):
    units = _qte_units(spark, n_per_arm=10)
    with pytest.raises(ValueError, match="denominator"):
        quantile_treatment_effects(units, quantiles=(1 / 3,))


def test_qte_stated_decimal_is_exact_at_overflow_scale(spark):
    """p=0.333333 (the exact-decimal restatement of 1/3) on 3000-row
    arms: den=1e6, num·n ≈ 1e9 — decimal(38,0) products, type-1 rank
    ceil(p·n) = ceil(999.999) = 1000 in both arms."""
    units = _qte_units(spark, n_per_arm=3000)
    out = quantile_treatment_effects(units, quantiles=(0.333333,)).collect()
    assert len(out) == 1
    r = out[0]
    rank = math.ceil(333333 * 3000 / 10**6)
    assert rank == 1000
    assert (r["q_treated"], r["q_control"], r["qte"]) == (rank, rank, 0)
    assert (r["n_treated"], r["n_control"]) == (3000, 3000)


def test_qte_standard_quantiles_unchanged(spark):
    """The default spine (terminating decimals) picks identical type-1
    order statistics before and after the decimal(38,0) hardening."""
    units = _qte_units(spark, n_per_arm=7)
    out = {
        r["p"]: (r["q_treated"], r["q_control"])
        for r in quantile_treatment_effects(units).collect()
    }
    for p, (qt, qc) in out.items():
        # exact rational rank: ceil(num*7/den) with no float fuzz
        from fractions import Fraction

        fr = Fraction(str(p))
        rank = -(-fr.numerator * 7 // fr.denominator)
        assert (qt, qc) == (rank, rank), p
