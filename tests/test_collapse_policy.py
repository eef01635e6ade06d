"""Adaptive bootstrap-collapse policy (operators/salting.choose_collapse).

The full-log replay has two physically different but semantically
identical reduce strategies — direct single-shuffle bucket collapse vs
salted winner search + join-back.  These tests pin that (1) both
produce the bit-identical final state, (2) the auto probe picks direct
on uniform logs and salted on hot-key / high-duplication logs, and
(3) the decision is recorded in the commit lineage with its evidence.
"""

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators import salting
from schema_matching_spark.operators.apply import replay
from schema_matching_spark.operators.salting import choose_collapse, collapse_probe
from schema_matching_spark.operators.verify import content_hash, states_equal
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import changes, expected_state

N = 6000


@pytest.fixture(scope="module")
def log(spark):
    df = changes(spark, N, n_conv=40, turns_per_conv=20, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def whale_log(spark):
    # 60% of all events land on conversation 0; every event of a key is
    # a rewrite of one of its 20 turns, so the hot bucket carries both
    # mass skew and a high per-key duplication factor.
    df = changes(
        spark, N, n_conv=40, turns_per_conv=20, hot_pct=60, partitions=4
    ).cache()
    df.count()
    return df


def test_direct_salted_and_auto_states_identical(spark, tmp_path, log, monkeypatch):
    expected = expected_state(log)
    states = {}
    for mode in ("direct", "salted", "auto"):
        tbl = SnapshotTable(spark, str(tmp_path / mode), n_buckets=8)
        with monkeypatch.context() as mp:
            if mode != "auto":  # force the path through the probe seam
                mp.setattr(salting, "choose_collapse", lambda log, n: (mode, None))
            replay(tbl, log)
        states[mode] = tbl.read()
        assert states_equal(states[mode], expected), mode
    h = {m: content_hash(df) for m, df in states.items()}
    assert h["direct"] == h["salted"] == h["auto"]


def test_auto_picks_direct_on_uniform(log):
    policy, stats = choose_collapse(log, n_buckets=8)
    assert policy == "direct"
    assert stats["dup_factor"] <= 16.0
    assert stats["bucket_skew"] <= 4.0


def test_auto_picks_salted_on_whale(whale_log):
    policy, stats = choose_collapse(whale_log, n_buckets=8)
    assert policy == "salted"
    assert stats["bucket_skew"] > 4.0


def test_probe_stats_are_sane(log):
    stats = collapse_probe(log, n_buckets=8)
    assert stats["total_rows"] == N
    distinct_keys = log.select("conv_id", "turn_idx").distinct().count()
    # HLL approximation: within 15% of the exact key count
    assert abs(stats["approx_keys"] - distinct_keys) <= 0.15 * distinct_keys
    assert stats["nonempty_buckets"] <= 8


def test_lineage_records_policy_decision(spark, tmp_path, log):
    tbl = SnapshotTable(spark, str(tmp_path / "audited"), n_buckets=8)
    replay(tbl, log)
    lin = tbl.manifest()["lineage"]
    entry = lin[-1].get("collapse_policy")
    assert entry is not None
    assert entry["policy"] == "direct"
    assert entry["total_rows"] == N


def test_whale_replay_correct_under_both_policies(
    spark, tmp_path, whale_log, monkeypatch
):
    """Skewed input must land bit-identically whichever path runs —
    the policy is a cost decision, never a semantic one."""
    expected = expected_state(whale_log)
    for mode in ("direct", "salted"):
        tbl = SnapshotTable(spark, str(tmp_path / f"w_{mode}"), n_buckets=8)
        monkeypatch.setattr(salting, "choose_collapse", lambda log, n: (mode, None))
        replay(tbl, whale_log)
        assert states_equal(tbl.read(), expected), mode


def test_empty_log_bootstraps_direct(spark, tmp_path, log):
    empty = log.where(F.lit(False))
    policy, stats = choose_collapse(empty, n_buckets=8)
    assert policy == "direct"
    assert stats["total_rows"] == 0


def test_low_cardinality_log_routes_salted(spark):
    """6 conversations into 128 buckets fill ≤6 buckets near-equally:
    the mean over NONEMPTY buckets would read max/mean ≈ 1 ('uniform')
    while a direct collapse would sort total/6 full-width rows per
    task.  The probe must measure skew against the hash-balanced ideal
    (total/n_buckets) and route this shape salted even though its
    duplication factor is low."""
    few = changes(spark, N, n_conv=6, turns_per_conv=250, partitions=4)
    policy, stats = choose_collapse(few, n_buckets=128)
    assert stats["dup_factor"] <= 16.0  # not the dup gate firing
    assert stats["nonempty_buckets"] <= 6
    assert stats["bucket_skew"] > 4.0
    assert policy == "salted"
