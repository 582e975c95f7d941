"""Shared fixtures: one SparkSession per test run, small testdata dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Slow-test gate. The FULL suite takes ~39 min quiet (~47 min on a loud
# host), which overruns the CI window that runs the default `pytest tests/
# -q` — the run gets cut off mid-suite and reports red on a green tree. The
# long tail is a handful of stress/property/streaming-trigger tests; gate
# exactly those (measured durations below, from a full quiet-host run)
# behind PYTEST_FULL=1 so the default run finishes with margin while the
# complete suite stays one env var away:
#
#     PYTEST_FULL=1 python -m pytest tests/ -q      # everything, ~39 min
#     python -m pytest tests/ -q                    # default, ~22 min
#
# Keep this list SMALL and annotated — it is the exhaustive record of what
# the default run does not execute.
_SLOW_NODEIDS = {
    # streaming trigger/parity soaks (wall time is mostly waiting on
    # micro-batch triggers, not compute)
    "test_stream_trace_parity.py::test_streamed_turns_materialize_to_batch_metrics",  # 127s
    "test_stream_trace_parity.py::test_stream_matches_batch_for_closed_turns",  # 121s
    "test_table_datasource.py::test_stream_predicate_option_prunes_files_results_identical",  # 34s
    "test_table_datasource.py::test_stream_cdf_exactly_once_across_restart",  # 22s
    "test_table_datasource.py::test_stream_survives_mid_flight_rewrites",  # 19s
    "test_table_datasource.py::test_stream_writer_batch_commits_are_delta_manifests",  # 17s
    "test_table_datasource.py::test_stream_cdf_rename_commit_is_transparent",  # 14s
    "test_table_datasource.py::test_stream_cdf_dv_delete_streams_preimages",  # 13s
    "test_table_datasource.py::test_stream_writer_exactly_once_replication",  # 12s
    "test_streaming_and_multimodal.py::test_multimodal_features_flow_into_ann_index",  # 18s
    "test_streaming_and_multimodal.py::test_dedup_ingest_sink_filters_near_dups_across_batches",  # 17s
    "test_streaming_and_multimodal.py::test_exactly_once_sink_survives_interleaved_commits",  # 12s
    # whole-catalog / randomized property sweeps (each single assertion is
    # covered elsewhere; these are the exhaustive cross-products)
    "test_plan_quality.py::test_no_cartesian_product_anywhere_in_catalog",  # 91s
    "test_store_merge.py::test_merge_property_vs_reference_model",  # 78s
    "test_properties.py::test_incremental_cc_equals_full_recompute",  # 30s
    "test_properties.py::test_window_form_agrees_with_fold",  # 15s
    "test_properties.py::test_connected_components_matches_union_find",  # 12s
    # heavy fixed-point / giant-input single tests
    "test_graph_pagerank.py::test_star_center_dominates",  # 38s
    "test_graph_pagerank.py::test_chain_fixed_point_values",  # 27s
    "test_graph_pagerank.py::test_cycle_is_uniform",  # 13s
    "test_trace_fold.py::test_giant_session_matches_whole_session_fold",  # 32s
    "test_catalog_parity.py::test_catalog_query_matches_oracle[sim_ivfpq_topk]",  # 28s
    "test_catalog_parity.py::test_catalog_query_matches_oracle[sim_ivf_topk]",  # 20s
    "test_similarity_and_skew.py::test_ann_index_residual_flag_roundtrips",  # 15s
    "test_files_config_automations.py::test_automation_manager_crud_lifecycle",  # 15s
    "test_advice_r4_fixes.py::test_run_curation_respects_custom_id_col",  # 12s
}


@pytest.hookimpl(tryfirst=True)  # before -k/-m deselection
def pytest_collection_modifyitems(config, items):
    full = os.environ.get("PYTEST_FULL") == "1"
    skip = pytest.mark.skip(reason="slow; set PYTEST_FULL=1 to run")
    modules = {}  # file -> module object, for files collected at all
    collected = set()  # (file, function name) pairs collected
    matched = set()
    for item in items:
        # nodeid is like "tests/test_x.py::test_y[param]" — compare on the
        # basename::name form so the gate works from any rootdir.
        nid = item.nodeid.split("/")[-1]
        file = nid.split("::")[0]
        modules.setdefault(file, getattr(item, "module", None))
        collected.add((file, getattr(item, "originalname", item.name)))
        if nid in _SLOW_NODEIDS:
            if not full:
                item.add_marker(skip)
            matched.add(nid)
    # A renamed/deleted slow test would silently un-gate its replacement:
    # report entries whose file was collected but whose function no longer
    # exists, or whose parameter id is gone while the function's others
    # were collected (a node-id or -k selection is not staleness).
    stale = []
    for nid in sorted(_SLOW_NODEIDS - matched):
        file, name = nid.split("::")
        func = name.split("[")[0]
        if file not in modules:
            continue
        if not hasattr(modules[file], func) or (
            "[" in name and (file, func) in collected
        ):
            stale.append(nid)
    config._slow_gate_stale = stale


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    stale = getattr(config, "_slow_gate_stale", [])
    if stale:
        terminalreporter.write_sep("=", "stale _SLOW_NODEIDS entries")
        for nid in stale:
            terminalreporter.write_line(f"not collected: {nid}")


@pytest.fixture(scope="session")
def spark():
    from lakehouse_spark.session import get_spark

    # Small core/partition counts: test datasets are tiny and session startup
    # dominates; production sizing is exercised via env in bench runs.
    spark = get_spark(
        app_name="lakehouse_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark


@pytest.fixture()
def tmp_store_dir(tmp_path):
    return str(tmp_path / "store")


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> (Spark jobs launched while ``fn`` runs, its
    result). Each call tags its own job group, so counts never
    accumulate across calls."""
    import uuid

    sc = spark.sparkContext

    def _count(fn):
        tag = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag)), out

    return _count
