"""Batch replay / merge-apply pipeline (SURVEY.md §3.3, §7.1 step 4).

``apply_batch`` is the single code path shared by batch replay and the
Structured Streaming tail (foreachBatch calls it per micro-batch —
streaming and batch are literally the same function, SURVEY.md §3.2).

Stages: optional delivery-dedup (B2 batch flavor) → exactly-once MERGE
into the snapshot table (B5), whose bucket window is the latest-wins
collapse (B4); only a skewed full-log bootstrap adds the salted
pre-reduce (B3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.table import SnapshotTable
from .dedup import dedup_batch


def apply_batch(
    table: SnapshotTable,
    raw_changes: DataFrame,
    batch_id: str | int,
    n_salts: int = 16,
    extra_lineage: dict | None = None,
    dedup: bool = False,
    collapse: str = "auto",
) -> int:
    """Apply one bounded slice of the change log; returns new version.

    The latest-wins collapse happens inside ``merge_apply`` (one bucket
    window over the batch and the current bucket rows — collapsing the
    batch separately first would pay the same shuffles twice).

    Dedup note: an explicit dropDuplicates shuffle is redundant here —
    the merge's bucket window keeps exactly one row per key, so
    duplicate (lsn, key) deliveries collapse there, and the table's
    lsn-LWW merge absorbs cross-batch redeliveries.  Pass
    ``dedup=True`` only when exact pre-merge row counters are needed.
    """
    if dedup:
        raw_changes = dedup_batch(raw_changes)
    return table.merge_apply(
        raw_changes, batch_id, extra_lineage=extra_lineage, n_salts=n_salts,
        collapse=collapse,
    )


def replay(
    table: SnapshotTable,
    log: DataFrame,
    batch_id: str = "replay-full",
    n_salts: int = 16,
    collapse: str = "auto",
) -> int:
    """Replay a full bounded log in one merge (the bench's hot path).

    For an LSN-ordered log, applying everything in one batch is exact:
    last-write-wins by lsn is independent of batch boundaries.

    ``collapse`` selects the bootstrap reduce strategy ("auto" probes
    the log's duplication/skew shape and picks — see
    operators/salting.choose_collapse).
    """
    return apply_batch(table, log, batch_id, n_salts=n_salts, collapse=collapse)
