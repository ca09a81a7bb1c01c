"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gh_archive_data_pipeline_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        confs={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


# ---------------------------------------------------------------------------
# Test tiering (round 12, VERDICT-r11 item 1). The driver's verify gate runs
# `python -m pytest tests/ -x -q` inside a bounded wall-clock window; round
# 11's ~60-min full suite (1h40m under host contention) expired it, going
# dark on the one ground-truth test signal. The tests below — measured
# >= 10 s each in the round-12 baseline run (together 2243 s of the 3584 s
# suite): the 4-batch stream drains and their crash/restart/out-of-order
# rehearsals, the heavyweight cross-engine equivalence sweeps, and the
# composed-funnel oracle replays — are marked `slow` and excluded by
# pytest.ini's `addopts = -m "not slow"`. Run the FULL suite with
#     python -m pytest tests/ -q -m "slow or not slow"
# The list is explicit (not duration-sniffed at runtime) so the tier
# content is auditable and stable across hosts.
SLOW_TESTS = frozenset([
    "test_classifier.py::test_probe_is_not_degenerate",
    "test_classifier.py::test_train_matches_numpy_gd",
    "test_new_operators.py::test_bucket_pruned_probe_reads_less_and_matches_flat",
    "test_new_operators.py::test_connected_components_converges_on_long_chain",
    "test_new_operators.py::test_incremental_reconcile_equals_full_sweep_and_is_bounded",
    "test_new_operators.py::test_ivf_delete_hides_ids",
    "test_new_operators.py::test_minhash_index_delete_hides_docs",
    "test_new_operators.py::test_out_of_order_drain_plus_sweep_equals_clean_drain",
    "test_new_operators.py::test_q440_funnel_invariants",
    "test_new_operators.py::test_q444_streamed_build_equals_one_shot_q440",
    "test_new_operators.py::test_stream_corpus_build_batch_count_invariance",
    "test_new_operators.py::test_stream_corpus_build_crash_recovery_from_checkpoint",
    "test_new_operators.py::test_stream_corpus_build_decon_reference_derived_once",
    "test_new_operators.py::test_stream_corpus_build_out_of_order_arrival_raises",
    "test_new_operators.py::test_stream_corpus_build_partial_landing_zone_rewritten",
    "test_operators.py::test_srp_delete_hides_ids",
    "test_operators.py::test_srp_index_search_matches_inline_srp",
    "test_oracle_parity.py::test_query_matches_oracle[q152_stream_chained_windows]",
    "test_oracle_parity.py::test_query_matches_oracle[q168_dedup_pipeline]",
    "test_oracle_parity.py::test_query_matches_oracle[q374_corpus_curation]",
    "test_oracle_parity.py::test_query_matches_oracle[q376_incremental_near_dup]",
    "test_oracle_parity.py::test_query_matches_oracle[q379_stream_incremental_dedup]",
    "test_oracle_parity.py::test_query_matches_oracle[q416_mmr_diversify]",
    "test_oracle_parity.py::test_query_matches_oracle[q429_chunk_near_dup]",
    "test_oracle_parity.py::test_query_matches_oracle[q42_minhash_near_dup]",
    "test_oracle_parity.py::test_query_matches_oracle[q432_matryoshka_recall]",
    "test_oracle_parity.py::test_query_matches_oracle[q434_curated_corpus_export]",
    "test_oracle_parity.py::test_query_matches_oracle[q440_corpus_build_pipeline]",
    "test_oracle_parity.py::test_query_matches_oracle[q441_chunk_disposition_reconcile]",
    "test_oracle_parity.py::test_query_matches_oracle[q443_pipeline_epoch_plan]",
    "test_oracle_parity.py::test_query_matches_oracle[q444_stream_corpus_build]",
    "test_oracle_parity.py::test_query_matches_oracle[q445_epoch_plan_export]",
    "test_oracle_parity.py::test_query_matches_oracle[q446_out_of_order_rebuild]",
    "test_oracle_parity.py::test_query_matches_oracle[q447_incremental_reconcile]",
    "test_oracle_parity.py::test_query_matches_oracle[q448_ivf_tombstone_search]",
    "test_oracle_parity.py::test_query_matches_oracle[q449_srp_tombstone_search]",
    "test_oracle_parity.py::test_query_matches_oracle[q450_minhash_tombstone_probe]",
    "test_oracle_parity.py::test_query_matches_oracle[q60_stream_dedup]",
    "test_plan_quality.py::test_q440_composition_adds_no_shuffle_seams",
    "test_properties.py::test_bpe_train_matches_reference_and_is_prefix_stable",
    "test_properties.py::test_bucketed_interval_join_equals_naive",
    "test_properties.py::test_cms_never_underestimates",
    "test_properties.py::test_exact_dedup_idempotent_and_complete",
    "test_properties.py::test_incremental_probe_equals_filtered_full",
    "test_properties.py::test_minhash_signature_deterministic",
    "test_properties.py::test_pagerank_mass_and_positivity",
    "test_properties.py::test_profiler_bounds",
    "test_properties.py::test_set_op_cardinalities",
    "test_selection.py::test_global_running_sum_invariant_to_partition_count",
    "test_selection.py::test_global_running_sum_matches_single_partition_window",
    "test_streaming.py::test_rocksdb_state_store_matches_default",
    "test_streaming.py::test_windowed_state_survives_restart",
])


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest
    for item in items:
        # nodeid relative to rootdir, e.g. "tests/test_x.py::test_y[p]";
        # match on file basename + test name so invocation cwd can't
        # change tier membership
        key = item.nodeid.split("/")[-1]
        if key in SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)
