"""Evidence-gap guard (VERDICT r2 #2/#8).

Every ``queries()`` entry must either have a same-named
``oracle_sql()`` entry or be on the explicit rows-only allowlist below,
where each member names the local value test that covers it.  Adding a
new query without evidence fails this test.
"""

from schema_matching_spark.queries import registry

# Rows-only queries (no DuckDB oracle BY DESIGN — xxhash64/LSH/
# stateful values are engine-specific) and the named local value test
# that provides their correctness evidence instead.
ROWS_ONLY_WITH_LOCAL_TEST = {
    # table_changes_source: gained an exact DuckDB oracle in r5 (shares
    # cdc_changelog's LWW-diff SQL — the connector must reproduce
    # changes_between bit-for-bit); no longer rows-only.
    "dedup_index_sync": "tests/test_dedup_index.py (index == batch signatures across sync/update/delete/resume)",
    # bootstrap_fence / multi_table_router / dlq_audit /
    # txn_atomic_apply (r5 wave 1) and cdc_replay_state /
    # cdc_changelog / cdc_wap / cdc_rollup / gdpr_purge (r5 wave 2):
    # gained exact DuckDB oracles (inputs rebased onto the events
    # table / range() arithmetic — VERDICT r4 items 6/7); no longer
    # rows-only.
    "table_maintenance": "tests/test_new_evidence_queries.py::test_table_maintenance_invariants (planner counts, tick idempotence, as-of prefix equality, export/restore round trip)",
    # stateful_progress: gained an exact DuckDB oracle in r5 (input
    # rebased onto the events-derived log; the tracker's final maxima
    # are plain per-conv aggregates); no longer rows-only.
    "minhash_lsh_dedup": "tests/test_dataprep.py (planted near-dup recall)",
    "simhash_dedup": "tests/test_dataprep.py (planted near-dup recall)",
    # near_dup_clusters: gained an exact DuckDB oracle in r4 (md5-keyed
    # chain edges — VERDICT r3 #5); no longer rows-only.
    "knn_lsh": "tests/test_similarity.py (recall vs brute force)",
    "knn_ivf": "tests/test_similarity.py (recall vs brute force)",
    "embedding_dedup": "tests/test_similarity.py (planted jitter recall)",
}


def test_every_query_has_evidence():
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    # oracles must not name queries that don't exist
    assert set(oracles) <= set(queries)
    missing = {
        name
        for name in queries
        if name not in oracles and name not in ROWS_ONLY_WITH_LOCAL_TEST
    }
    assert not missing, (
        f"queries without ANY correctness evidence: {sorted(missing)} — "
        "add an oracle_sql() entry or a local value test plus an "
        "allowlist row here"
    )
    # stale allowlist rows (query removed or later gained an oracle)
    stale = {
        name
        for name in ROWS_ONLY_WITH_LOCAL_TEST
        if name not in queries or name in oracles
    }
    assert not stale, f"stale rows-only allowlist entries: {sorted(stale)}"

