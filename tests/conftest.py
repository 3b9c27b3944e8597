from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from generative_ai_vector_db_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------------
# Test tiering (r16, VERDICT r15 item 2b): the full suite takes ~40-55
# min — longer than the driver's verify budget, which truncated the
# r15 run mid-progress with no pass/fail signal. The long-running
# robustness sweeps below (lifecycle/crash-injection/stream-replay/
# planted-recall/bruteforce-reference tests, each >6 s measured with
# --durations on 2026-08-18) carry the `slow` marker and are
# DESELECTED BY DEFAULT via pytest.ini addopts, keeping the default
# tier to correctness + equivalence tests (~15 min). Run the full
# suite with:  python -m pytest tests/ -m "slow or not slow"
# Oracle-parity tests (*_matches_oracle*), plan-shape tests, and the
# r15/r16 rewrite-equivalence locks stay in the default tier on
# purpose — they are the regression signal the driver needs.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    # index/monitor lifecycle, crash injection, compaction
    "test_index_stream_resume_same_checkpoint",
    "test_new_query_faces_plan_shapes",
    "test_index_compaction_preserves_answers",
    "test_index_catalog_roundtrip_all_kinds",
    "test_index_catalog_drop",
    "test_monitor_catalog_lifecycle",
    "test_monitor_inmemory_batches_do_not_alias",
    "test_monitor_cold_start_zero_files",
    "test_monitor_streams_equal_batch",
    "test_compact_crash_between_renames_recovers",
    "test_recovery_rolls_back_old_when_stage_uncommitted",
    "test_full_reference_lifecycle",
    # streaming replay / stream-equals-batch sweeps
    "test_neardup_stream_multibatch_and_replay",
    "test_neardup_stream_single_trigger_matches_q322",
    "test_neardup_stream_equals_batch_both_scales",
    "test_vector_index_stream_equals_batch_q362",
    "test_vector_index_batch_dedupes_within_microbatch",
    "test_graph_index_incremental_absorb",
    "test_graph_index_bootstrap_equals_batch_build",
    "test_stream_outer_join_equals_batch",
    # planted-data recall / quality sweeps
    "test_planted_clusters_all_families",
    "test_q214_deterministic_rebuild",
    "test_q214_graph_ann_recall_fixture",
    "test_simhash_planted_neardups",
    "test_minhash_finds_planted_neardups",
    "test_minhash_deterministic",
    "test_trained_coarse_ivfpq_beats_data_blind_on_planted",
    "test_trained_pivots_beat_data_blind_on_planted",
    "test_semdedup_takes_trained_pivot_relation",
    "test_q175_ivf_pq_recall_and_invariants",
    "test_q360_ensemble_dominates",
    "test_q85_dedup_corpus_drops_cluster_members",
    # bruteforce / python-reference property sweeps
    "test_q303_seq_patterns_reference",
    "test_q305_bootstrap_brackets_mean",
    "test_gap_fill_matches_python_reference",
    "test_q229_graph_profile_matches_bruteforce",
    "test_q220_ks_matches_numpy",
    "test_q307_blocking_advisor_reference",
    "test_q309_attribution_reference",
    "test_q306_welch_reference",
    "test_q235_property_vs_numpy",
    "test_q218_skyline_matches_bruteforce",
    "test_q216_rolling_distinct_matches_bruteforce",
    "test_q215_fuzzy_pairs_match_bruteforce",
    "test_q222_interval_union_matches_bruteforce",
    "test_q228_percent_rank_matches_pandas",
    "test_sessionize_matches_python_reference",
    "test_q319_portable_simhash_full_reference",
    "test_q239_rfm_partitions_users",
    "test_q73_property_split_sizes_and_order",
    "test_q349_curve_properties",
    "test_q364_curve_monotone",
    "test_q344_curve_monotone_and_matches_pairs",
    "test_q324_audit_equals_kept_bands_complement",
    "test_q339_family_eval_consistent_with_pair_sets",
    "test_q311_syndication_consistent_with_q302",
}


def _named_node_ids(config) -> set[tuple[str, str]]:
    """(absolute file, test part) of every ``file::test`` argument."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            full = os.path.join(str(config.invocation_params.dir), path)
            named.add((os.path.abspath(full), rest))
    return named


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    # a slow test named by node id runs: the `-m "not slow"` default
    # only trims directory- and file-level runs
    named = _named_node_ids(config)
    for item in items:
        base = item.name.split("[")[0]
        if base not in SLOW_TESTS:
            continue
        rest = item.nodeid.split("::", 1)[1]
        path = str(item.path)
        if (path, rest) in named or (path, rest.split("[")[0]) in named:
            continue
        item.add_marker(_pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_session(
        app_name="gavd-spark-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"),
        shuffle_partitions=8,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="gavd_wh_")
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_t2():
    return SF_DIR_T2
