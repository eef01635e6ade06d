"""Structured Streaming CDC tail tests (SURVEY.md §5.2 items 4, 6):
availableNow catch-up, exactly-once under checkpoint resume, watermarked
dedup, lineage counters."""

import os

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators.verify import states_equal
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import (
    changes,
    expected_state,
    with_dup_delivery,
)
from schema_matching_spark.sources.wal import read_batch, write_segments
from schema_matching_spark.streaming.pipeline import run_stream_to_completion

N = 3000


@pytest.fixture(scope="module")
def log(spark):
    df = changes(spark, N, n_conv=30, turns_per_conv=15, partitions=4).cache()
    df.count()
    return df


def test_stream_catchup_matches_oracle(spark, log, tmp_path):
    wal = str(tmp_path / "wal")
    write_segments(with_dup_delivery(log), wal, n_segments=3)
    table = SnapshotTable(spark, str(tmp_path / "table"), n_buckets=4)
    run_stream_to_completion(
        spark, wal, table, str(tmp_path / "cp"), max_files_per_trigger=1
    )
    assert states_equal(table.read(), expected_state(log))
    m = table.manifest()
    assert len(m["applied_batches"]) >= 3  # one merge per segment trigger
    # lineage counters recorded per batch
    assert all("input_rows" in e for e in m["lineage"])


def test_stream_resume_from_checkpoint(spark, log, tmp_path):
    """Process first segments, 'crash', add remaining segments, resume
    with the same checkpoint — final state identical, no double-apply."""
    wal = str(tmp_path / "wal")
    cp = str(tmp_path / "cp")
    head = log.where(F.col("lsn") < N // 2)
    tail = log.where(F.col("lsn") >= N // 2)
    write_segments(head, os.path.join(wal), n_segments=2)
    table = SnapshotTable(spark, str(tmp_path / "table"), n_buckets=4)
    run_stream_to_completion(spark, wal, table, cp, max_files_per_trigger=1)
    v_mid = table.current_version()
    assert states_equal(table.read(), expected_state(head))
    # new WAL segments arrive; resume from the same checkpoint
    seg_dir2 = os.path.join(wal, "late")
    tail.coalesce(1).write.parquet(os.path.join(seg_dir2, "segment-900000"))
    run_stream_to_completion(spark, wal, table, cp, max_files_per_trigger=1)
    assert table.current_version() > v_mid
    assert states_equal(table.read(), expected_state(log))


def test_stream_restart_noop_when_drained(spark, log, tmp_path):
    """Restarting a fully-drained stream applies nothing (exactly-once)."""
    wal = str(tmp_path / "wal")
    cp = str(tmp_path / "cp")
    write_segments(log, wal, n_segments=2)
    table = SnapshotTable(spark, str(tmp_path / "table"), n_buckets=4)
    run_stream_to_completion(spark, wal, table, cp)
    v1 = table.current_version()
    run_stream_to_completion(spark, wal, table, cp)
    assert table.current_version() == v1


def test_replay_of_merged_batch_after_lost_offset_commit(spark, log, tmp_path):
    """Crash window between the sink's merge commit and Spark's commit-log
    write: the restarted query replays the last batch, which the ledger
    already holds.  The replay must still run the whole micro-batch (the
    watermarked dedup's state store commits only then) and leave the
    table untouched."""
    wal = str(tmp_path / "wal")
    cp = str(tmp_path / "cp")
    write_segments(log, wal, n_segments=3)
    table = SnapshotTable(spark, str(tmp_path / "table"), n_buckets=4)
    run_stream_to_completion(spark, wal, table, cp, max_files_per_trigger=1)
    v1 = table.current_version()
    commits = os.path.join(cp, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    run_stream_to_completion(spark, wal, table, cp, max_files_per_trigger=1)
    assert table.current_version() == v1
    assert str(last) in os.listdir(commits)
    assert states_equal(table.read(), expected_state(log))


def test_wal_roundtrip(spark, log, tmp_path):
    wal = str(tmp_path / "wal")
    write_segments(log, wal, n_segments=4)
    back = read_batch(spark, wal)
    assert back.count() == N
    assert states_equal(expected_state(back), expected_state(log))


def test_redelivery_beyond_watermark_is_absorbed_by_lww(spark, tmp_path):
    """Duplicates straggling in beyond the dedup watermark pass the
    stateful dedup but are per-key no-ops at the table (stored-lsn
    last-write-wins) — the documented two-layer exactly-once design."""
    import pyspark.sql.functions as F

    from schema_matching_spark.operators.verify import states_equal

    log = changes(spark, 3000, n_conv=20, turns_per_conv=10, partitions=2)
    wal = str(tmp_path / "wal")
    # segment 0: the log; segment 1: a verbatim re-delivery of the first
    # 1000 events with event-times far behind the watermark by then
    log.coalesce(1).write.parquet(os.path.join(wal, "seg-000"))
    log.where(F.col("lsn") < 1000).coalesce(1).write.parquet(
        os.path.join(wal, "seg-001")
    )
    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    run_stream_to_completion(
        spark, wal, table, str(tmp_path / "cp"),
        watermark="1 second", max_files_per_trigger=1,
    )
    assert states_equal(table.read(), expected_state(log))


def test_progress_listener_ledger(spark, tmp_path):
    """B8 observability: every micro-batch lands one progress line in
    the JSON ledger (rows, durations, state metrics)."""
    import json

    from schema_matching_spark.streaming.metrics import JsonProgressListener

    ledger = str(tmp_path / "metrics" / "progress.jsonl")
    listener = JsonProgressListener(ledger)
    spark.streams.addListener(listener)
    try:
        log = changes(spark, 2000, n_conv=10, turns_per_conv=10, partitions=2)
        wal = str(tmp_path / "wal")
        write_segments(log, wal, 3)
        table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4)
        run_stream_to_completion(
            spark, wal, table, str(tmp_path / "cp"),
            max_files_per_trigger=1,
        )
        # listener callbacks are async — wait for the ledger to drain
        import time as _t
        events = []
        for _ in range(30):
            if os.path.exists(ledger):
                events = [json.loads(l) for l in open(ledger)]
                if sum(e["event"] == "progress" for e in events) >= 3:
                    break
            _t.sleep(1)
    finally:
        spark.streams.removeListener(listener)
    progress = [e for e in events if e["event"] == "progress"]
    assert len(progress) >= 3
    assert sum(p["numInputRows"] for p in progress) >= 2000
    assert any(e["event"] == "started" for e in events)
