import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

from vectordbindexing_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="vdbi-tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from vectordbindexing_spark.io.tables import load_tables

    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------- slow tier
# Central, auditable list of the tests excluded from the DEFAULT
# (driver-tier) run — see pytest.ini. Criteria: ≥ ~8 s per test in the
# r13 full-suite duration capture (791 passed in 40 min; the driver's
# bounded verify window cut r12's run at ~27%). The oracle-parity tier
# (test_entry_contract) is deliberately NOT here — every declared query
# still replays against DuckDB in the default run. Each family keeps
# its sub-8s crash/contract tests in the default tier, so the driver
# run still exercises every maintainer end-to-end.
# Full suite: `pytest tests/ -m "" -q` (the in-round gate before any
# optimization commit).
_SLOW_TESTS = {
    "test_bench_json_contract_with_secondary_sf",   # 452.7s: runs bench.py twice
    # streaming graph crash matrix / steady-state series (16-83s each)
    "test_upsert_keeps_new_nodes_servable_and_refresh_equals_rebuild",
    "test_maintained_ivf_mirror_stays_in_sync_and_append_only",
    "test_half_finished_compaction_is_exact_and_self_heals",
    "test_rev_delta_is_append_only_and_compaction_folds",
    "test_fwd_delta_is_append_only_serving_resolves_and_folds",
    "test_rev_edges_mirror_forward_and_n_live_tracks",
    "test_crash_between_vector_and_edge_swap_heals_on_replay",
    "test_crash_before_rev_delta_write_heals_on_replay",
    "test_crash_between_vec_and_edge_swap_on_UPDATE_heals_on_replay",
    "test_ivf_mirror_crash_before_delta_append_heals_on_replay",
    "test_graph_upsert_stream_end_to_end",
    "test_fwd_tombs_without_adds_serves_instead_of_throwing",
    "test_update_same_id_new_vector_batch_wins_and_stale_edges_drop",
    "test_upsert_planner_route_past_exact_limit",
    "test_driver_batch_knn_matches_spark_exact_route",
    "test_read_parquet_schema_equals_spark_inference",
    # streaming neardup heavy rows (8-10s)
    "test_crash_between_sig_and_band_swap_heals_on_replay",
    "test_bands_delta_is_append_only_and_compaction_folds",
    "test_upserts_match_batch_operator_on_union",
    # mining parity / route probes (14-16s)
    "test_triplets_fused_matches_split",
    "test_triplets_auto_forced_approximate_route",
    # graph-search scale/recall sweeps (9-13s)
    "test_bucketed_build_recall_and_bounds",
    "test_clustered_corpus_stays_connected_and_serves",
    # random-graph property sweeps (8-13s)
    "test_triangles_random_graphs",
    "test_labelprop_random_graphs",
    "test_kcore_random_graphs",
    # misc ≥8s
    "test_pagerank_auto_fold_switch",
    "test_compact_deltas",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.originalname in _SLOW_TESTS or item.name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
