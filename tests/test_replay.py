"""Golden replay: deterministic log → merge-apply → final state equals the
engine-independent last-write-wins oracle (SURVEY.md §5.2 items 3-4)."""

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators.apply import apply_batch, replay
from schema_matching_spark.operators.verify import content_hash, states_equal
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import (
    changes,
    expected_state,
    with_dup_delivery,
)

N = 4000


@pytest.fixture(scope="module")
def log(spark):
    df = changes(spark, N, n_conv=40, turns_per_conv=20, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def expected(log):
    df = expected_state(log).cache()
    df.count()
    return df


def test_replay_matches_oracle(spark, tmp_table_dir, log, expected):
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
    v = replay(table, log)
    assert v == 1
    actual = table.read()
    assert states_equal(actual, expected)
    assert content_hash(actual) == content_hash(expected)


def test_replay_with_duplicate_delivery(spark, tmp_table_dir, log, expected):
    dup = with_dup_delivery(log)
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
    replay(table, dup)
    assert states_equal(table.read(), expected)


def test_incremental_batches_equal_full_replay(spark, tmp_table_dir, log, expected):
    """Applying the log in 4 LSN-ordered slices must equal one-shot replay."""
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
    step = N // 4
    for i in range(4):
        batch = log.where((F.col("lsn") >= i * step) & (F.col("lsn") < (i + 1) * step))
        apply_batch(table, batch, batch_id=i)
    assert table.current_version() == 4
    assert states_equal(table.read(), expected)


def test_exactly_once_reapply_is_noop(spark, tmp_table_dir, log):
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    head = log.where(F.col("lsn") < 1000)
    v1 = apply_batch(table, head, batch_id="b0")
    h1 = content_hash(table.read())
    v2 = apply_batch(table, head, batch_id="b0")  # replayed batch id
    assert v1 == v2 == 1
    assert content_hash(table.read()) == h1


def test_deletes_remove_keys(spark, tmp_table_dir, log):
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    replay(table, log)
    actual = table.read()
    last_op = (
        log.groupBy("conv_id", "turn_idx").agg(F.max_by("op", "lsn").alias("last_op"))
    )
    deleted = last_op.where(F.col("last_op") == "D")
    assert deleted.count() > 0  # fixture actually exercises deletes
    assert actual.join(deleted, ["conv_id", "turn_idx"], "left_semi").isEmpty()


def test_stale_redelivery_across_batches_is_noop(spark, tmp_table_dir, log, expected):
    """A duplicate that sneaks past the watermark into a LATER batch
    (different batch_id) must not regress keys to older payloads:
    MERGE is last-write-wins by stored lsn (plans/table.py)."""
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    half = N // 2
    b0 = log.where(F.col("lsn") < half)
    b1 = log.where(F.col("lsn") >= half)
    apply_batch(table, b0, batch_id="b0")
    apply_batch(table, b1, batch_id="b1")
    h = content_hash(table.read())
    # redeliver the ENTIRE first half as a fresh batch id
    apply_batch(table, b0, batch_id="b0-redelivered")
    assert content_hash(table.read()) == h
    assert states_equal(table.read(), expected)


def test_hot_key_skew_replay(spark, tmp_table_dir):
    """50% of events on one conversation — correctness under skew (B3)."""
    hot = changes(spark, N, n_conv=40, turns_per_conv=20, hot_pct=50, partitions=4)
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
    replay(table, hot)
    assert states_equal(table.read(), expected_state(hot))


def test_delete_resurrection_blocked_by_tombstone(spark, tmp_table_dir):
    """Insert key (lsn 1) → delete key (lsn 2) → redeliver the stale
    insert in a later batch: the tombstone's lsn must keep the key dead."""
    from schema_matching_spark.schemas import CHANGE_SCHEMA
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    ins = spark.createDataFrame(
        [(1, "I", ts, "conv-x", 0, "user", "hello", None)], CHANGE_SCHEMA
    )
    dele = spark.createDataFrame(
        [(2, "D", ts, "conv-x", 0, None, None, None)], CHANGE_SCHEMA
    )
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    apply_batch(table, ins, batch_id="b-ins")
    apply_batch(table, dele, batch_id="b-del")
    assert table.read().count() == 0
    apply_batch(table, ins, batch_id="b-ins-redelivered")
    assert table.read().count() == 0, "stale insert resurrected a deleted key"
    # compaction beyond the horizon drops the tombstone from files
    table.compact(tombstone_horizon_lsn=10)
    raw = table._read_files([f["path"] for f in table.manifest()["files"]])
    assert raw.count() == 0


def test_time_travel(spark, tmp_table_dir, log):
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    b0 = log.where(F.col("lsn") < 1000)
    apply_batch(table, b0, batch_id=0)
    h_v1 = content_hash(table.read())
    b1 = log.where((F.col("lsn") >= 1000) & (F.col("lsn") < 2000))
    apply_batch(table, b1, batch_id=1)
    assert table.current_version() == 2
    assert content_hash(table.time_travel(1)) == h_v1
    assert states_equal(table.time_travel(1), expected_state(b0))


def test_crash_safety_of_commit_protocol(spark, tmp_path):
    """Data files without a committed manifest are invisible garbage;
    an orphan manifest without the pointer flip is equally invisible;
    the next real commit overwrites the orphan and proceeds cleanly
    (SURVEY.md §7.3 / §7.4 'exactly-once without a transactional
    catalog')."""
    from schema_matching_spark.operators.salting import winners_join
    from schema_matching_spark.plans.table import FILE_COLS, bucket_expr, lww_reduce

    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    b0 = changes(spark, 1000, n_conv=10, turns_per_conv=10, partitions=2)
    replay(table, b0, batch_id="b0")
    v1 = table.current_version()
    h1 = content_hash(table.read())

    batch = changes(
        spark, 500, n_conv=10, turns_per_conv=10, lsn_start=1000, partitions=2
    )
    collapsed = lww_reduce(winners_join(batch, n_salts=4)).withColumn(
        "_bucket", bucket_expr(4)
    )
    # crash #1: files written, no manifest/pointer — nothing visible
    table._write_commit_files(collapsed.select(*FILE_COLS, "_bucket"))
    assert table.current_version() == v1
    assert content_hash(table.read()) == h1

    # crash #2: manifest written for v+1, pointer never flipped
    orphan = table.manifest()
    orphan["version"] = v1 + 1
    table._atomic_write_json(table._manifest_path(v1 + 1), orphan)
    assert table.current_version() == v1
    assert content_hash(table.read()) == h1

    # recovery: the next real merge takes version v+1, overwriting the
    # orphan manifest atomically, and the final state is exact
    apply_batch(table, batch, "b1")
    assert table.current_version() == v1 + 1
    assert states_equal(
        table.read(), expected_state(b0.unionByName(batch))
    )


def test_merge_on_read_mode(spark, tmp_path):
    """MOR tables: merges append winner deltas; reads reduce LWW at
    scan; double-apply is a no-op; compact folds to the same state
    with fewer files; mode survives reopen."""
    table = SnapshotTable(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor")
    b0 = changes(spark, 2000, n_conv=15, turns_per_conv=10, partitions=2)
    apply_batch(table, b0, "b0")
    batches = [b0]
    for i in range(1, 4):
        b = changes(
            spark, 400, n_conv=15, turns_per_conv=10,
            lsn_start=2000 + i * 400, partitions=2,
        )
        batches.append(b)
        apply_batch(table, b, f"b{i}")

    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    assert states_equal(table.read(), expected_state(full))

    # exactly-once: replaying an applied batch_id changes nothing
    v = table.current_version()
    apply_batch(table, batches[1], "b1")
    assert table.current_version() == v

    # stale-lsn redelivery in a NEW batch id is a per-key no-op
    apply_batch(table, batches[1], "b1-redelivered")
    assert states_equal(table.read(), expected_state(full))

    n_files_before = len(table.manifest()["files"])
    table.compact()
    assert len(table.manifest()["files"]) < n_files_before
    assert states_equal(table.read(), expected_state(full))

    # reopening without the mode argument keeps MOR semantics
    reopened = SnapshotTable(spark, str(tmp_path / "mor"), n_buckets=4)
    assert reopened.mode == "mor"
    assert states_equal(reopened.read(), expected_state(full))


def test_jittered_redelivery_degrades_to_single_winner(spark, tmp_table_dir):
    """ADVICE r1: a redelivered winning event with payload jitter (a
    non-conforming WAL) must yield exactly ONE row per key — an
    arbitrary winner — never duplicate key rows.  lww_reduce dedups on
    (key, lsn), not the full row."""
    from pyspark.sql import functions as F

    log = changes(spark, 500, n_conv=10, turns_per_conv=5, partitions=2)
    # jittered duplicate of every event: same (key, lsn), different text
    jitter = log.withColumn(
        "text",
        F.when(F.col("text").isNotNull(), F.concat(F.col("text"), F.lit("~j"))),
    )
    table = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    replay(table, log.unionByName(jitter))
    state = table.read()
    dupes = (
        state.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )
    assert dupes.isEmpty(), "jittered redelivery produced duplicate keys"
    # and the surviving per-key row count matches the clean-log replay
    clean = SnapshotTable(spark, tmp_table_dir + "_clean", n_buckets=4)
    replay(clean, log)
    assert state.count() == clean.read().count()
