"""CDC-out stream (sources/table_changes.py + streaming/pipeline
start_change_feed): the streamed feed equals SnapshotTable.changes_between
row for row — payloads included, under jittered redelivery — and resumes
across checkpoint restarts."""

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators.apply import apply_batch
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import changes
from schema_matching_spark.streaming.pipeline import drain_catchup, start_change_feed


def _feed_dict(rows):
    return {
        (r["conv_id"], r["turn_idx"]): (r["change_type"], r["lsn"])
        for r in rows
    }


def _full_rows(rows):
    return sorted(
        (r["change_type"], r["conv_id"], r["turn_idx"], r["role"], r["text"],
         r["tool"], r["ts"], r["lsn"])
        for r in rows
    )


def _batch_log(spark, n, lsn):
    return changes(
        spark, n, n_conv=30, turns_per_conv=10, lsn_start=lsn, partitions=4
    )


def _build(spark, root, batches, mode="cow", n_buckets=8):
    table = SnapshotTable(spark, root, n_buckets=n_buckets, mode=mode)
    versions = [0]
    lsn = 0
    for i, n in enumerate(batches):
        apply_batch(table, _batch_log(spark, n, lsn), f"b{i}")
        versions.append(table.current_version())
        lsn += n
    return table, versions


def _drain_to_parquet(spark, root, out, ckpt, **kwargs):
    """Drain ``root``'s change feed into an append-only parquet sink."""
    drain_catchup(
        lambda: start_change_feed(
            spark,
            root,
            lambda feed, _bid: feed.write.mode("append").parquet(out),
            ckpt,
            **kwargs,
        )
    )


def test_batch_read_from_genesis_is_all_inserts(spark, tmp_path):
    """A feed drained from version 0 holds every live key once, each as
    an insert."""
    root = str(tmp_path / "g")
    table, _ = _build(spark, root, [2500])
    out = str(tmp_path / "out")
    _drain_to_parquet(spark, root, out, str(tmp_path / "ckpt"))
    rows = spark.read.parquet(out).collect()
    state = table.read().collect()
    assert len(rows) == len(state)
    assert {r["change_type"] for r in rows} == {"insert"}


def test_stream_drains_and_resumes_across_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    table, vs = _build(spark, root, [3000, 1000])
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        _drain_to_parquet(spark, root, out, ckpt)

    drain()
    first = _feed_dict(spark.read.parquet(out).collect())
    assert first == _feed_dict(table.changes_between(0, vs[2]).collect())

    # new commits arrive; a restarted stream picks up ONLY the delta
    log3 = changes(
        spark, 900, n_conv=30, turns_per_conv=10, lsn_start=4000, partitions=4
    )
    apply_batch(table, log3, "b2")
    drain()
    cumulative = spark.read.parquet(out)
    delta = _feed_dict(
        cumulative.where(F.col("lsn") >= 4000).collect()
    )
    expected_delta = _feed_dict(table.changes_between(vs[2]).collect())
    assert delta == expected_delta
    # nothing from the already-consumed span was re-emitted
    assert cumulative.count() == len(first) + len(
        _feed_dict(table.changes_between(vs[2]).collect())
    )


def test_stream_spans_rebucket_boundary(spark, tmp_path):
    """A streamed span that crosses rebucket() equals changes_between
    over the same span."""
    root = str(tmp_path / "t")
    table, vs = _build(spark, root, [2500])
    table.rebucket(16)
    apply_batch(table, _batch_log(spark, 700, 2500), "b1")
    out = str(tmp_path / "out")
    _drain_to_parquet(
        spark, root, out, str(tmp_path / "ckpt"), start_version=vs[1]
    )
    streamed = _feed_dict(spark.read.parquet(out).collect())
    assert streamed == _feed_dict(table.changes_between(vs[1]).collect())
    assert len(streamed) > 0


@pytest.mark.parametrize("images", [False, True], ids=["net", "images"])
def test_stream_matches_changes_between_under_jittered_redelivery(
    spark, tmp_path, images
):
    """A redelivery of batch b1 with a jittered payload (same lsn, new
    text) leaves two candidate rows per key; the streamed feed must pick
    the same survivor as changes_between and read() (the engine's one
    winner_order tie-break), not a payload of its own."""
    root = str(tmp_path / "t")
    table, vs = _build(spark, root, [3000, 1000, 800], mode="mor")
    jittered = _batch_log(spark, 1000, 3000).withColumn(
        "text", F.concat(F.col("text"), F.lit("~j"))
    )
    apply_batch(table, jittered, "b1-redelivery")

    out = str(tmp_path / "out")
    _drain_to_parquet(
        spark, root, out, str(tmp_path / "ckpt"),
        images=images, start_version=vs[1],
    )
    streamed = _full_rows(spark.read.parquet(out).collect())
    assert streamed == _full_rows(
        table.changes_between(vs[1], images=images).collect()
    )

    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    post = [
        (c, t, text) for ct, c, t, _role, text, *_ in streamed
        if ct in ("insert", "update", "update_postimage")
    ]
    assert post
    assert all(state[(c, t)] == text for c, t, text in post)
    # the span really holds tied keys whose jittered payload won
    assert any(text is not None and text.endswith("~j") for *_, text in post)
