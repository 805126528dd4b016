import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: The `slow` lane (r17 — VERDICT r16 "What's wrong" #2: the full
#: suite outgrew the round driver's verify window).  Every test whose
#: measured call time was >= ~5 s in the r17 baseline run (full-suite
#: durations, 2026-08-18) is marked here CENTRALLY so the list is one
#: auditable table; `pytest.ini` deselects the marker by default and
#: `pytest -m slow` runs exactly this lane.  (module basename, test
#: base name) — parametrized cases inherit their base name's marker.
_SLOW_TESTS = {
    ("test_entry_contract.py", "test_window_outputs_are_scalar_shaped"),
    ("test_r16_ops.py", "test_shard_schedule_balance_and_checksum"),
    ("test_r15_ops.py", "test_pipeline_curation_v11_learned_tokenizer_packs"),
    ("test_r14_ops.py", "test_curation_v9_mixture_and_fim_actually_fire"),
    ("test_r15_ops.py", "test_pipeline_curation_v10_upsamples_and_packs"),
    ("test_r13_ops.py", "test_roc_auc_agrees_with_sklearn_free_reference"),
    ("test_property.py", "test_strip_common_shingles_matches_python_model"),
    ("test_io.py", "test_xlsx_python_datasource"),
    ("test_sim.py", "test_ivfadc_append_matches_frozen_union"),
    ("test_property.py", "test_edit_sequence_matches_pandas"),
    ("test_plans.py", "test_pipeline_curation_v10_plan_shape"),
    ("test_graph.py", "test_pagerank_deep_iteration_lineage_bounded"),
    ("test_plans.py", "test_pipeline_curation_v9_plan_shape"),
    ("test_textprep.py", "test_bpe_train_batched_oracle_matches_spark_past_26"),
    ("test_property.py", "test_purge_keys_matches_model"),
    ("test_plans.py", "test_pipeline_curation_v8_plan_shape"),
    ("test_property.py", "test_long_edit_sequence_with_undo_redo_and_compact"),
    ("test_graph.py", "test_pagerank_checkpoint_disabled_matches"),
    ("test_property.py", "test_undo_inverts_edit"),
    ("test_sim.py", "test_ivfadc_indexed_matches_inline"),
    ("test_r14_ops.py", "test_dpo_pack_invariants"),
    ("test_r14_ops.py", "test_ivfadc_recall_bound_ranges"),
    ("test_sim.py", "test_ivf_indexed_matches_inline"),
    ("test_property.py", "test_snapshot_versions_match_model"),
    ("test_r16_ops.py", "test_rerank_recall_dominates_onestage"),
    ("test_r16_ops.py", "test_rerank_depth_sweep_monotone"),
    ("test_dedup.py", "test_connected_components_raises_on_non_convergence"),
    ("test_advanced_query.py", "test_asof_join_matches_merge_asof"),
    ("test_r13_ops.py", "test_pq_encode_codes_match_returned_codebooks"),
    ("test_session.py", "test_preview_tracks_undo_redo"),
    ("test_r16_ops.py", "test_ivfadc_delete_noop_on_absent_ids"),
    ("test_property.py", "test_table_diff_matches_python_reference"),
    ("test_sim.py", "test_lsh_finds_planted_duplicates"),
    ("test_plans.py", "test_pipeline_curation_v5_plan_shape"),
    ("test_session.py", "test_preview_pages_are_deterministic_ordinal_ranges"),
    ("test_r16_ops.py", "test_ivfadc_delete_codes_byte_identical"),
    ("test_pdf.py", "test_encrypted_aesv3_r6_roundtrip_and_gates"),
    ("test_streaming.py", "test_followed_by_join_equals_batch"),
    ("test_streaming.py", "test_append_mode_respects_watermark"),
    ("test_r16_ops.py", "test_ivfadc_delete_emptied_cell_footprint"),
    ("test_r13_ops.py", "test_substring_decontaminate_benchmark_never_cut_by_train"),
    ("test_sim.py", "test_pq_train_fused_matches_per_subspace_kmeans"),
    ("test_dedup.py", "test_substring_dedup_skewed_fingerprint_group"),
    ("test_streaming.py", "test_windowed_counts_resume_restores_state"),
    ("test_scale_ops.py", "test_dup_clusters_keep_policy"),
    ("test_sim.py", "test_ivf_recall_vs_bruteforce"),
    ("test_r16_ops.py", "test_ivfadc_filtered_is_prefilter_not_postfilter"),
    ("test_sim.py", "test_ivfadc_neighbors_come_from_probed_cells"),
    ("test_session.py", "test_preview_page0_follows_ordinals_after_splice"),
    ("test_sim.py", "test_ivfadc_plan_is_cell_pruned_broadcast_join"),
    ("test_property.py", "test_incremental_dedup_matches_python"),
    ("test_dedup.py", "test_minhash_lsh_recall_and_precision"),
    ("test_dedup.py", "test_substring_dedup_matches_brute_force_planted"),
    ("test_dedup.py", "test_substring_dedup_randomized_matches_brute_force"),
    ("test_advanced_query.py", "test_range_join_matches_bruteforce"),
    ("test_textprep.py", "test_bpe_train_checkpoint_bounds_plan_depth"),
    ("test_sim.py", "test_cosine_pairs_lsh_infers_dim"),
    ("test_probe_and_fix_regressions.py", "test_cosine_pairs_lsh_one_row_per_pair"),
    ("test_graph.py", "test_pagerank_dangling_mass_redistributed"),
    ("test_streaming.py", "test_stateful_sessionize_equals_batch_lag"),
    ("test_plans.py", "test_crawl_frontier_v5_plan_shape"),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.name.split("[")[0]
        if (item.fspath.basename, base) in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


def persisted_rdds(spark) -> int:
    """The number of RDDs the SparkContext holds persisted: the pin
    count that lifecycle tests compare before and after a scenario."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="session")
def spark():
    from parquet_editor_spark.session import get_spark

    s = get_spark(app_name="pes-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")
