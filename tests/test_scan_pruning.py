"""Manifest file stats + time-range scan() file skipping
(SURVEY.md §2.B B14): footer-derived per-file (rows, lsn, ts) stats
recorded at commit, scan(ts window) reads only overlapping files (COW)
or buckets (MOR), results exactly equal the unpruned filtered read."""

import datetime as dt
import json

from pyspark.sql import functions as F

from schema_matching_spark.operators.apply import apply_batch
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import changes


def _mk(spark, tmp_path, mode):
    # old history: conversations 0..29, ts window starting at BASE_TS
    log1 = changes(spark, 4000, n_conv=30, turns_per_conv=10, partitions=4)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode=mode)
    apply_batch(table, log1, "b1")
    # recent activity: only 2 hot conversations, much later event time
    # (lsn 200000+ -> ts = BASE + ~200000s), so most buckets stay idle
    log2 = (
        changes(spark, 800, n_conv=30, turns_per_conv=10,
                lsn_start=200000, partitions=2)
        .where(F.col("conv_id").isin("conv-00000003", "conv-00000011"))
    )
    apply_batch(table, log2, "b2")
    return table


def _window_equal(table, lo):
    got = table.scan(ts_min=lo)
    want = table.read().where(F.col("ts") >= F.lit(lo))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    return table.last_scan_stats


def test_cow_scan_skips_idle_bucket_files(spark, tmp_path):
    table = _mk(spark, tmp_path, "cow")
    lo = dt.datetime(2026, 1, 1) + dt.timedelta(seconds=100000)
    stats = _window_equal(table, lo)
    # idle buckets' carried-forward files were skipped at the manifest
    assert stats["files_read"] < stats["files_total"]
    # and the rewritten (active) buckets were read
    assert stats["files_read"] >= 1


def test_mor_scan_skips_idle_buckets_wholesale(spark, tmp_path):
    table = _mk(spark, tmp_path, "mor")
    lo = dt.datetime(2026, 1, 1) + dt.timedelta(seconds=100000)
    stats = _window_equal(table, lo)
    assert stats["files_read"] < stats["files_total"]
    # MOR skip granularity is whole buckets: every file of a touched
    # bucket is read (the LWW reduce needs all versions of its keys)
    m = table.manifest()
    read_buckets = set()
    for f in m["files"]:
        if "ts_min_us" in f and f["ts_max_us"] >= int(lo.replace(
                tzinfo=dt.timezone.utc).timestamp() * 1e6):
            read_buckets.add(f["bucket"])
    expected_files = sum(1 for f in m["files"] if f["bucket"] in read_buckets)
    assert stats["files_read"] == expected_files


def test_manifest_entries_carry_stats(spark, tmp_path):
    table = _mk(spark, tmp_path, "cow")
    for f in table.manifest()["files"]:
        assert f["rows"] >= 1
        assert f["lsn_min"] <= f["lsn_max"]
        assert f["ts_min_us"] <= f["ts_max_us"]


def test_scan_conservative_without_stats(spark, tmp_path):
    """Manifests written before stats existed (or by writers with stats
    disabled) must never be skipped — strip the stats and re-scan."""
    table = _mk(spark, tmp_path, "cow")
    v = table.current_version()
    path = table._manifest_path(v)
    with open(path) as fh:
        m = json.load(fh)
    m["files"] = [{"path": f["path"], "bucket": f["bucket"]} for f in m["files"]]
    with open(path, "w") as fh:
        json.dump(m, fh)
    lo = dt.datetime(2026, 1, 1) + dt.timedelta(seconds=100000)
    stats = _window_equal(table, lo)
    assert stats["files_read"] == stats["files_total"]


def test_unbounded_scan_equals_read(spark, tmp_path):
    table = _mk(spark, tmp_path, "mor")
    got = sorted(map(tuple, table.scan().collect()))
    want = sorted(map(tuple, table.read().collect()))
    assert got == want


def _group_job_ids(spark, group, build):
    """Spark job ids started while ``build()`` runs under job group
    ``group`` (``build`` only constructs DataFrames; nothing is
    collected)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_many_file_reads_start_no_listing_job(spark, tmp_path):
    """read() and scan() hand spark.read.parquet the exact file paths the
    manifest names.  Past 32 paths Spark would list them in a Spark job
    (one task per path) before any query runs; the engine's session keeps
    that listing on the driver, so building either DataFrame starts no
    job at all."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
    for i in range(6):  # every batch touches all 8 buckets: one delta each
        log = changes(spark, 400, n_conv=40, turns_per_conv=10,
                      lsn_start=i * 400, partitions=2)
        apply_batch(table, log, f"b{i}")
    assert len(table.manifest()["files"]) > 32
    lo = table.read().agg(F.min("ts")).first()[0]

    assert _group_job_ids(spark, "build-read", table.read) == []
    assert _group_job_ids(spark, "build-scan",
                          lambda: table.scan(ts_min=lo)) == []
    assert table.last_scan_stats["files_read"] > 32
    # the tracker does see jobs started under a group
    assert _group_job_ids(spark, "run-count", lambda: table.read().count())
