"""Batch replay / merge-apply pipeline (SURVEY.md §3.3, §7.1 step 4).

``apply_batch`` is the single code path shared by batch replay and the
Structured Streaming tail (foreachBatch calls it per micro-batch —
streaming and batch are literally the same function, SURVEY.md §3.2).

One stage: the exactly-once MERGE into the snapshot table (B5), whose
bucket window is the latest-wins collapse (B4) and, with the table's
lsn-LWW, also absorbs duplicate deliveries (B2).  Only a full-log
bootstrap the ``choose_collapse`` probe measures as skewed adds the
salted pre-reduce (B3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.table import SnapshotTable


def apply_batch(
    table: SnapshotTable,
    raw_changes: DataFrame,
    batch_id: str | int,
) -> int:
    """Apply one bounded slice of the change log; returns new version.

    The latest-wins collapse happens inside ``merge_apply`` (one bucket
    window over the batch and the current bucket rows — collapsing the
    batch separately first would pay the same shuffles twice).  No
    dropDuplicates pass either: the bucket window keeps exactly one row
    per key, so duplicate (lsn, key) deliveries collapse there, and the
    table's lsn-LWW merge absorbs cross-batch redeliveries.
    """
    return table.merge_apply(raw_changes, batch_id)


def replay(
    table: SnapshotTable,
    log: DataFrame,
    batch_id: str = "replay-full",
) -> int:
    """Replay a full bounded log in one merge (the bench's hot path).

    For an LSN-ordered log, applying everything in one batch is exact:
    last-write-wins by lsn is independent of batch boundaries.  Into an
    empty table the merge probes the log's duplication/skew shape and
    picks the reduce strategy itself (operators/salting.choose_collapse).
    """
    return apply_batch(table, log, batch_id)
