"""Registry entries against their own oracles at sf0.001.

Each item builds ``queries()[name]`` and compares its rows with
``oracle_sql()[name]`` in DuckDB through the shared exact-row
comparator: the builder and the SQL that ``scripts/check_correctness.py``
hash-checks at sf0.01, here at the scale tier-1 can afford.  ``NAMES``
lists the entries tier-1 checks this way; the sweep over every entry
stays with ``check_correctness.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tests.conftest import SF_DIR, assert_matches_oracle

NAMES = (
    "agg_cmh_test",
    "agg_cochran_armitage",
    "agg_deming",
    "agg_fleiss_kappa",
    "agg_g_test",
    "agg_kendall_tau",
    "agg_mann_whitney",
    "agg_mh_odds_ratio",
    "agg_partial_corr",
    "agg_smd_balance",
    "agg_wilson_ci",
    "composite_ann_health",
    "composite_contrastive_pairs",
    "composite_dedup_funnel",
    "composite_knn_eval",
    "composite_quality_vs_dup",
    "composite_rag_pipeline",
    "ddp_dedup_savings",
    "ddp_lsh_band_stats",
    "ddp_minhash_eval",
    "did_estimator",
    "evt_ar1_halflife",
    "evt_cusum",
    "evt_dow_anomaly",
    "evt_event_study",
    "evt_growth_accounting",
    "evt_ips_value",
    "evt_logrank",
    "evt_nelson_aalen",
    "evt_peaks",
    "evt_qini_curve",
    "evt_qte",
    "evt_seasonal_naive_error",
    "evt_sprt",
    "fe_rare_category_collapse",
    "fe_target_encoding",
    "fe_woe_encoding",
    "gbrt_stumps",
    "graph_assortativity",
    "graph_harmonic",
    "graph_local_clustering",
    "graph_path_stats",
    "graph_ppr",
    "graph_reciprocity",
    "graph_scc",
    "mm_audio_fingerprint",
    "mm_image_neardup",
    "perceptron_fit",
    "psm_att",
    "sim_filtered_ivf_topk",
    "sim_ivf_cell_stats",
    "sim_kcenter_coreset",
    "sim_maxsim_rerank",
    "sim_pq_distortion",
    "sim_rrf_fusion",
    "sim_vector_quality_audit",
    "smp_group_kfold",
    "smp_raking_weights",
    "stream_cusum",
    "tbl_bloom_probe",
    "tbl_file_overlap_depth",
    "tbl_vacuum_plan",
    "tbl_zonemap_skip",
    "txt_dup_sentence_filter",
    "txt_hash_collision_audit",
    "txt_instruction_score",
    "txt_log_odds",
    "txt_textrank",
)

QUERIES = E.queries()
ORACLES = E.oracle_sql()


@pytest.mark.parametrize("name", NAMES)
def test_entry_matches_its_oracle_sf0001(spark, con, name):
    assert_matches_oracle(QUERIES[name](spark, SF_DIR), con, ORACLES[name])
