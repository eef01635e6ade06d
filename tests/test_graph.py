"""Connected components (functions/graph.py): exact labels on known
graphs, chain convergence, and the near-dup clustering pipeline — each
run in BOTH lineage-cut modes (localCheckpoint and reliable
checkpoint(), VERDICT r2 #5)."""

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.functions.graph import connected_components


@pytest.fixture(params=["local", "reliable"])
def cc_kwargs(request, tmp_path):
    if request.param == "local":
        return {}
    return {"checkpoint_dir": str(tmp_path / "cc_ckpt")}


def _cc(spark, edges, **kwargs):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, **kwargs)
    return {r["node"]: r["component"] for r in out.collect()}


def test_two_components_exact(spark, cc_kwargs):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (3, 1)], **cc_kwargs)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_to_min(spark, cc_kwargs):
    # worst-case diameter for min-propagation: a 12-node chain
    got = _cc(spark, [(i, i + 1) for i in range(12)], **cc_kwargs)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_duplicate_and_reversed_edges(spark, cc_kwargs):
    got = _cc(spark, [(5, 6), (6, 5), (5, 6), (7, 5)], **cc_kwargs)
    assert got == {5: 5, 6: 5, 7: 5}


def test_star_and_singleton_absence(spark, cc_kwargs):
    got = _cc(spark, [(100, 1), (100, 2), (100, 3)], **cc_kwargs)
    assert got == {100: 1, 1: 1, 2: 1, 3: 1}
    assert 999 not in got  # isolated nodes are the caller's business


def test_near_dup_cluster_query_finds_planted(spark):
    """r4 shape: per-cluster (component, cluster_size) rows over
    md5-keyed CHAIN edges (see q_near_dup_clusters docstring) — a doc
    divisible by 28 gets copies at +10M/+20M/+30M wired as a diameter-3
    path, so a 4-member cluster proves transitive propagation."""
    from schema_matching_spark.queries.dataprep import q_near_dup_clusters
    from tests.conftest import SF_DIR

    rows = q_near_dup_clusters(spark, SF_DIR).collect()
    assert rows
    assert all(r["cluster_size"] >= 2 for r in rows)
    assert max(r["cluster_size"] for r in rows) >= 4  # %28 chain collapsed
    # component = min doc_id of the group = always an ORIGINAL doc
    assert all(r["component"] < 10_000_000 for r in rows)
