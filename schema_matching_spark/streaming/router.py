"""Multi-table fan-out router: one WAL, N tables, exactly-once each
(SURVEY.md §2.B B1/B5/B6 composed; north rule "binlog/WAL tail → lake
upsert" at connector granularity).

A real CDC source (Debezium server, a database's logical-replication
slot) ships ONE totally-ordered log carrying every table's changes; the
ingest side must split it by origin table and upsert each slice into
its own lake table.  Doing this as N independent tail queries would
read the WAL N times and hold N checkpoints over the same offsets; the
router reads it once and fans out inside a single foreachBatch.

Exactly-once composes per table: the stream's checkpoint makes batch
ids stable across restarts, and every SnapshotTable's applied-batch
ledger makes a replayed (batch_id, table) apply a no-op — so a crash
after table A committed micro-batch 7 but before table B replays batch
7 into a no-op for A and a normal apply for B (pinned by
tests/test_router.py).

Scale posture: the parsed batch is persisted once; each registered
table's slice is a pushed-down equality filter on ``_table`` over that
cached batch (no re-scan of the WAL, no shuffle added before each
table's own merge collapse).  The per-batch distinct-table collect is
bounded by the registered table count — connector metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.table import SnapshotTable
from ..schemas import CHANGE_COLS
from .pipeline import start_foreach_batch


def route_batch(
    tables: dict[str, SnapshotTable],
    parsed: DataFrame,
    batch_id: str | int,
    unknown_dir: str | None = None,
) -> dict[str, int]:
    """Apply one parsed multi-table micro-batch (CHANGE_COLS +
    ``_table``) to every registered table; returns rows routed per
    table name (plus ``"_unknown"`` when present).

    Events whose ``_table`` is not registered are quarantined to
    ``unknown_dir/batch_id=N`` (overwrite — idempotent on replay, like
    the DLQ) or dropped-with-count when no sink is given: an
    unregistered table is an operator decision, never silent data loss
    without a counter.
    """
    import os

    parsed = parsed.persist()
    routed: dict[str, int] = {}
    try:
        present = {
            r["_table"]: r["n"]
            for r in parsed.groupBy("_table")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded by distinct table names in the batch
        }
        for name in sorted(tables):
            if name not in present:
                continue
            slice_df = parsed.where(F.col("_table") == name).select(*CHANGE_COLS)
            tables[name].merge_apply(slice_df, batch_id)
            routed[name] = present[name]
        unknown = {k: v for k, v in present.items() if k not in tables}
        if unknown:
            routed["_unknown"] = sum(unknown.values())
            if unknown_dir is not None:
                known = list(tables)
                # NULL _table must quarantine too: ~isin(...) is NULL
                # (not true) for NULL, which would silently drop the
                # row from the parquet while still counting it.
                if known:
                    cond = F.col("_table").isNull() | ~F.col("_table").isin(
                        known
                    )
                else:
                    cond = F.lit(True)
                parsed.where(cond).select(*CHANGE_COLS, "_table").write.mode(
                    "overwrite"
                ).parquet(os.path.join(unknown_dir, f"batch_id={batch_id}"))
        return routed
    finally:
        parsed.unpersist()


def start_router_stream(
    spark: SparkSession,
    wal_dir: str,
    tables: dict[str, SnapshotTable],
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    unknown_dir: str | None = None,
) -> StreamingQuery:
    """Tail a Debezium-envelope WAL carrying ``source.table`` and fan
    out into the registered tables.  Malformed lines are dropped by the
    parse (point a DLQ at the same WAL via start_cdc_stream's dlq_dir
    if quarantine is needed); events with a NULL/unregistered table go
    to ``unknown_dir``."""
    from ..sources.debezium import parse_envelope_tagged, read_raw_stream

    raw = read_raw_stream(spark, wal_dir, max_files_per_trigger)

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        tagged = parse_envelope_tagged(batch_df)
        parsed = (
            tagged.where(F.col("dlq_reason").isNull())
            .select(*CHANGE_COLS, "_table")
            .dropDuplicates(["lsn", "conv_id", "turn_idx", "_table"])
        )
        route_batch(tables, parsed, batch_id, unknown_dir=unknown_dir)

    return start_foreach_batch(raw, apply_fn, checkpoint_dir, available_now)
