import contextlib
import os
from unittest import mock

import pytest

from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Slow tier (VERDICT r9 item 1): the tests below are excluded from the
# DEFAULT run (pytest.ini addopts -m "not slow") so the driver's verify
# window sees a completed run with a summary line; the FULL suite runs
# with  python -m pytest tests/ -q -m ""  and remains the end-of-round
# gate. Curation rule (round-10 durations at 8 cores): call time > 5 s,
# EXCEPT (a) every local-vs-distributed differential / bit-identity /
# fold-equivalence test stays fast (they are the semantic pins for the
# optimization work), and (b) every module keeps at least one test so
# the fast tier still covers every operator family.
SLOW_TESTS = {
    "test_asof.py::test_asof_basic_inclusive",
    "test_concurrency.py::test_commit_storm_epochs_unique_and_dense",
    "test_concurrency.py::test_occ_increment_storm_loses_no_updates",
    "test_entry_contract.py::test_contract_values_partitioning_invariant",
    "test_entry_contract.py::test_every_oracle_sql_parses_in_duckdb",
    "test_entry_contract.py::test_every_query_compiles",
    "test_graph_algorithms.py::test_pagerank_bcast_matches_shuffle_join",
    "test_entry_contract.py::test_measured_pin_constants_complete",
    "test_entry_contract.py::test_oracle_pandas_render_classes_match",
    "test_integrity.py::test_retract_goal_requires_write_and_mutates",
    "test_join_view.py::test_aside_recovery_after_simulated_crash",
    "test_join_view.py::test_catchup_builds_and_tracks_commits",
    "test_join_view.py::test_untouched_buckets_not_rewritten",
    "test_mvcc.py::test_compact_crash_window_base_aside_recovers",
    "test_mvcc.py::test_compact_preserves_state_and_retention",
    "test_mvcc.py::test_delete_and_active_edges",
    "test_mvcc.py::test_multi_type_atomic_commit",
    "test_mvcc.py::test_retract_edges",
    "test_mvcc.py::test_save_bumps_revision_and_time_travel",
    "test_mvcc.py::test_snapshot_replay_roundtrip",
    "test_mvcc.py::test_stale_save_conflict",
    "test_pipeline.py::test_hard_negatives_excludes_same_label_and_ranks",
    "test_pipeline.py::test_mmr_prefers_diversity_over_redundancy",
    "test_plans.py::test_round5d_operator_plan_shapes",
    "test_plans.py::test_round6_operator_plan_shapes",
    "test_plans.py::test_round7_inference_plan_shapes",
    "test_rest.py::test_create_duplicate_id_conflict",
    "test_rest.py::test_edge_crud_and_listing",
    "test_rest.py::test_edge_listing_only_under_vertex",
    "test_rest.py::test_graph_summary_and_unknown_graph",
    "test_rest.py::test_named_query_and_pattern_query",
    "test_rest.py::test_named_query_effect_policy",
    "test_rest.py::test_ndjson_format",
    "test_rest.py::test_stale_put_conflict",
    "test_rest.py::test_vertex_crud_roundtrip",
    "test_result_cache.py::test_commit_invalidates",
    "test_round7_batch4.py::TestRevisionDiff::test_against_real_versioned_graph",
    "test_round8_batch1.py::test_batch3_entries_match_oracle_sf0001",
    "test_round8_batch1.py::test_round8_entries_match_oracle_sf0001",
    "test_round8_batch1.py::test_stream_dedup_batchwise_semantics",
    "test_round9_batch2.py::test_late_audit_contract_matches_relational_watermark",
    "test_round9_batch2.py::test_stream_late_audit_flags_cross_batch_lateness",
    "test_rules.py::test_mutual_recursion",
    "test_stats_inference.py::TestIpfRaking::test_marginals_converge_to_uniform",
    "test_stats_inference.py::test_new_operators_match_pure_python_references",
    "test_streaming.py::test_bloom_dedup_stream_two_batches",
    "test_streaming.py::test_cc_label_maintenance_batches_and_stream",
    "test_streaming.py::test_dedup_ingest_batches_and_stream",
    "test_streaming.py::test_scd2_incremental_matches_recompute",
    "test_streaming.py::test_streaming_ingest_upserts",
    "test_streaming.py::test_subset_replication_demotes_updates",
    "test_streaming.py::test_upsert_batch_one_sided_and_empty_batches",
    "test_streaming.py::test_vertex_delete_retires_edge_view_rows",
    "test_streaming.py::test_view_maintenance_equals_cold_recompute",
    "test_streaming.py::test_view_maintenance_insert_update_delete",
    "test_streaming_events.py::test_stateful_running_totals",
    "test_streaming_events.py::test_stateful_streaming_anomalies",
    "test_streaming_events.py::test_stream_rate_limit_budget_spans_batches",
    "test_streaming_events.py::test_stream_sessionize_gap_and_carry",
    "test_warc.py::test_warc_datasource_scan_and_partitioning",
    "test_warc.py::test_warc_to_curation_ingest_end_to_end",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        nodeid = item.nodeid.split("tests/")[-1]
        if nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@contextlib.contextmanager
def distributed_regime():
    """Force every bounded-vs-distributed choice onto its distributed
    path (local finishes off, no state/relation broadcasts) through the
    one driver bound — the seam the local-vs-distributed differential
    tests pin both regimes against."""
    with mock.patch.object(util, "DRIVER_ROWS", 0):
        yield


def last_job_id(spark) -> int:
    """Highest Spark job id issued so far, from the application status
    store after the listener bus has drained (-1 before the first job)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    jobs = sc.statusStore().jobsList(None)   # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def plan_rdds(df) -> set:
    """Ids of every RDD ``df``'s logical plan reads: each ``LogicalRDD``
    node's RDD (subquery plans included) and, transitively, its
    dependencies. A checkpointed RDD's dependencies end at its checkpoint
    RDD, so this is the set of blocks a collect of ``df`` can touch."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    todo, rdds, seen = [df._jdf.queryExecution().logical()], [], set()
    while todo:
        node = todo.pop()
        if node.nodeName() == "LogicalRDD":
            rdds.append(node.rdd())
        todo += seq(node.children()) + seq(node.subqueries())
    while rdds:
        rdd = rdds.pop()
        if rdd.id() not in seen:
            seen.add(rdd.id())
            rdds += [d.rdd() for d in seq(rdd.dependencies())]
    return seen


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("vgv3-tests")
    yield spark


@pytest.fixture(scope="session")
def tpch(spark):
    from vivace_graph_v3_spark.graph import load_tpch_graph

    return load_tpch_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def rows_set(df, round_floats=None):
    """Order-insensitive multiset of rows for result comparison."""
    out = []
    for r in df.collect():
        vals = []
        for v in r:
            if round_floats is not None and isinstance(v, float):
                v = round(v, round_floats)
            if isinstance(v, list):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)


def duck_set(con, sql, round_floats=None):
    out = []
    for row in con.execute(sql).fetchall():
        vals = []
        for v in row:
            if round_floats is not None and isinstance(v, float):
                v = round(v, round_floats)
            if isinstance(v, list):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)
