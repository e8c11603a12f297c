"""Staging tests for the thirteenth round-8 wave: event-study
effects, AR(1) half-life, audio fingerprint dedup, contrastive
training triplets, and the zone-map skipping audit.

Hand replicas on planted data; the sf0.001 oracle checks are in
tests/test_registry_oracles.py.
"""

from __future__ import annotations

import datetime
import math

import pytest

from tests.conftest import SF_DIR


def _d(s):
    return datetime.date.fromisoformat(s)


# ---------------------------------------------------------------------------
# event_study
# ---------------------------------------------------------------------------


def test_event_study_recovers_planted_effect(spark):
    from eggv_spark.operators.events import event_study

    # controls flat at 10 every day; treated = 10 before adoption,
    # 10 + 5 from adoption on -> effect 0 pre, 5 post, clean
    rows = []
    days = [_d("2024-01-0%d" % i) for i in range(1, 8)]
    for u in (1, 2):  # controls
        for d in days:
            rows.append((u, d, None, 10.0))
    for u, a in ((3, _d("2024-01-03")), (4, _d("2024-01-05"))):
        for d in days:
            y = 10.0 + (5.0 if d >= a else 0.0)
            rows.append((u, d, a, y))
    df = spark.createDataFrame(
        rows, "u long, d date, a date, y double"
    )
    eff = {
        r["rel_period"]: r
        for r in event_study(df, "u", "d", "a", "y", max_lag=3).collect()
    }
    for tau in (-3, -2, -1):
        assert eff[tau]["effect"] == pytest.approx(0.0)
    for tau in (0, 1, 2):
        assert eff[tau]["effect"] == pytest.approx(5.0)
    assert all(r["n_unmatched"] == 0 for r in eff.values())


def test_event_study_unmatched_days_drop_out(spark):
    from eggv_spark.operators.events import event_study

    # no controls at all -> every treated cell unmatched, effect NULL
    df = spark.createDataFrame(
        [(1, _d("2024-01-02"), _d("2024-01-02"), 7.0)],
        "u long, d date, a date, y double",
    )
    out = event_study(df, "u", "d", "a", "y", max_lag=2).collect()
    assert out[0]["n_unmatched"] == 1 and out[0]["effect"] is None


# ---------------------------------------------------------------------------
# ar1_halflife
# ---------------------------------------------------------------------------


def test_ar1_halflife_on_planted_process(spark):
    import numpy as np

    from eggv_spark.operators.events import ar1_halflife

    # stationary AR(1) WITH noise: the lag-1 correlation estimates
    # the AR coefficient (a noiseless decay would give corr = 1 —
    # perfect linear relation — which is exactly why the op is only
    # meaningful on noisy series)
    rng = np.random.RandomState(5)
    x, rows = 0.0, []
    for i in range(400):
        x = 0.6 * x + rng.normal(0, 1)
        rows.append(("s", _d("2024-01-01") + datetime.timedelta(i),
                     float(x)))
    df = spark.createDataFrame(rows, "g string, day date, v double")
    got = ar1_halflife(df, "g", "day", "v").collect()[0]
    assert got["n_pairs"] == 399
    assert got["rho"] == pytest.approx(0.6, abs=0.12)
    # halflife is the closed form of the REPORTED (rounded) rho
    assert got["halflife"] == pytest.approx(
        round(-math.log(2) / math.log(got["rho"]), 4)
    )


def test_ar1_halflife_null_outside_unit_interval(spark):
    from eggv_spark.operators.events import ar1_halflife

    # alternating series -> rho = -1 -> no halflife
    rows = [
        ("s", _d("2024-01-01") + datetime.timedelta(i),
         1.0 if i % 2 == 0 else -1.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, day date, v double")
    got = ar1_halflife(df, "g", "day", "v").collect()[0]
    assert got["rho"] == pytest.approx(-1.0)
    assert got["halflife"] is None


# ---------------------------------------------------------------------------
# audio_fingerprint
# ---------------------------------------------------------------------------


def test_audio_fingerprint_matches_formula(spark):
    from eggv_spark.operators.multimodal import (
        audio_fingerprint, synthesize_wav_audio,
    )

    docs = spark.createDataFrame([(0,), (7,)], ["doc_id"])
    fps = {
        r["asset_id"]: r["fingerprint"]
        for r in audio_fingerprint(synthesize_wav_audio(docs)).collect()
    }
    for d in (0, 7):
        samples = [((d * 31 + i * 17) % 4096) - 2048 for i in range(64)]
        e = [
            sum(abs(v) for v in samples[w * 4:(w + 1) * 4])
            for w in range(16)
        ]
        fp = 0
        for w in range(16):
            fp = (fp << 1) | (1 if e[(w + 1) % 16] > e[w] else 0)
        assert fps[d] == fp


# ---------------------------------------------------------------------------
# composite_contrastive_pairs
# ---------------------------------------------------------------------------


def test_contrastive_triplets_well_formed_sf0001(spark):
    import __spark_entry__ as E

    rows = E._composite_contrastive_pairs(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        # negative differs from both sides of the positive pair
        assert r["negative_id"] != r["anchor_id"]
        assert r["negative_id"] != r["positive_id"]
        # positives come from the verified near-dup pipeline
        assert r["jaccard"] >= 0.7
    # every dup-injected anchor should yield a triplet (no silent
    # wholesale loss — the drop rule only removes rare collisions)
    pos = E._ddp_minhash_neardup(spark, SF_DIR).collect()
    assert len(rows) >= len(pos) * 0.8


# ---------------------------------------------------------------------------
# zonemap_skip_audit
# ---------------------------------------------------------------------------


def test_zonemap_skip_logic(spark):
    from eggv_spark.operators.tableops import zonemap_skip_audit

    stats = spark.createDataFrame(
        [
            (1, 0.0, 10.0, 100),     # entirely below [20, 30] -> skip
            (2, 15.0, 25.0, 200),    # overlaps -> read
            (3, 31.0, 40.0, 300),    # entirely above -> skip
            (4, 20.0, 30.0, 400),    # inside -> read
        ],
        "file_id int, min_val double, max_val double, n_rows long",
    )
    got = zonemap_skip_audit(stats, 20.0, 30.0).collect()[0]
    assert got["n_files"] == 4 and got["n_skipped"] == 2
    assert got["rows_skipped"] == 400
    assert got["skip_ratio"] == pytest.approx(0.5)
    assert got["row_skip_ratio"] == pytest.approx(0.4)
