"""Delivery dedup (SURVEY.md §2.B B2).

The CDC contract: at-least-once delivery from the WAL tail, so the same
(lsn, conv_id, turn_idx) event can arrive more than once.  The streaming
path drops them early with the built-in watermarked stateful dedup; the
batch path needs no pass of its own — the merge's bucket window keeps
one row per key, so a duplicate delivery collapses there.  The
latest-wins collapse (B4) is not here — see the NOTE at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import KEY_COLS

DEDUP_KEYS = ["lsn", *KEY_COLS]


def dedup_stream(log: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked stateful delivery-dedup for unbounded inputs.

    State is bounded by the watermark: duplicates arriving within
    ``watermark`` of the max seen event time are dropped; state for
    older keys is evicted.  Duplicates straggling in *beyond* the
    watermark are still harmless downstream: the table stores each
    key's applied lsn and MERGE is last-write-wins by lsn, so
    re-applying a stale lsn — in any later batch — is a per-key no-op
    (plans/table.merge_apply).
    """
    return log.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        DEDUP_KEYS
    )


# NOTE: the latest-wins collapse (B4) lives in plans/table.py — the
# bucket window of SnapshotTable._bucket_collapse on every commit, with
# operators/salting.winners_join (payload-free HashAggregate +
# join-back) as the skew pre-reduce for salted bootstraps, and
# lww_reduce on MOR reads.  A naive max_by(struct) version was removed:
# it plans as ObjectHashAggregate and sort-falls-back past 128 groups
# per partition (SURVEY.md §8.1).
