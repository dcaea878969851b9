from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("OXBOW_SPARK_TEST_SF", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast default shard (VERDICT r15 #3): the full suite takes 32-50 min, which
# no longer fits the round driver's verify window — VERIFY_r15 shows the run
# cut off at ~70% with zero failures, i.e. a green suite the driver cannot
# see. Tests that measured >= ~10 s in the r16 full run (--durations) are
# auto-marked `slow` here and deselected by default (addopts in
# pyproject.toml), bringing the default `pytest tests/` run well inside the
# window. The FULL suite stays the builder's pre-commit bar:
#     python -m pytest tests/ -q -m "slow or not slow"
# Every slow test is an equivalence/stress battery whose fast twin (same
# operator, smaller input) remains in the default shard; the driver's own
# oracle sweep independently covers the slow oracle-mirror rows.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "test_nuc.py::test_gc_windows_sliding_equals_plain",
    "test_nuc.py::test_gc_windows_tiled_equals_plain",
    "test_nuc.py::test_gc_windows_tumbling_and_sliding",
    "test_nuc.py::test_maskfasta_intervals_vs_python",
    "test_writers.py::test_bcf_roundtrip_fixture",
    "test_writers.py::test_bcf_csi_write_and_region_query",
    "test_streaming.py::test_sessionize_state_equals_session_window",
    "test_plans.py::test_registry_lambda_bodies_survive_consumer_shapes[interval_algebra_events]",
    "test_oracle.py::test_query_matches_oracle[interval_algebra_events]",
    "test_oracle.py::test_query_matches_oracle[dedup_cluster_docs]",
    "test_oracle.py::test_query_matches_oracle[split_resample_docs]",
    "test_oracle.py::test_query_matches_oracle[align_stats_events]",
    "test_interval_ops.py::test_complement_split_bp_equals_plain_random",
    "test_interval_ops.py::test_closest_reldist_split_bp_equals_plain",
    "test_interval_ops.py::test_split_bp_call_sites_skip_default_estimator",
    "test_interval_ops.py::test_subtract_partition_law",
    "test_coverage.py::test_genomecov_split_bp_equals_plain",
    "test_liftover.py::test_intervals_min_match_duplicates_and_best_chain",
    "test_liftover.py::test_intervals_min_match_id_col_fast_path",
    "test_liftover.py::test_intervals_min_match_equals_strict_when_inside_blocks",
    "test_liftover.py::test_positions_best_chain",
    "test_liftover.py::test_intervals_min_match_random_vs_python",
    "test_cat.py::test_cat_bgzf_vcf_with_tbi_merge",
    "test_cat.py::test_cat_bam_larger_scale_roundtrip",
    "test_bpe.py::test_bpe_driver_equals_distributed",
    "test_asof.py::test_split_on_equals_plain_random[backward]",
    "test_gen_sf.py::test_distribution_sensitive_queries_match_oracle_on_generated",
    "test_pipeline.py::test_curate_corpus_span_removal_gate",
    "test_pipeline.py::test_curate_corpus_proto_prune_gate",
    "test_text_lm.py::test_trigram_lm_matches_python_reference",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid.split("/")[-1] in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from oxbow_spark.session import get_spark

    s = get_spark("oxbow_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
