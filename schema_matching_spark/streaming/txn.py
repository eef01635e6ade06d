"""Transaction-boundary atomic apply (SURVEY.md §2.B B5/B6 composed;
north rule "binlog/WAL tail → lake upsert" at source-transaction
granularity).

A WAL carries SOURCE transactions; micro-batch boundaries (segment
rotation, maxFilesPerTrigger) split them arbitrarily.  A sink that
commits whatever arrived exposes torn transactions: readers see order
rows without their order_items, a transfer debited but not credited.
Debezium's per-event ``transaction`` block (id, total_order,
event_count) exists precisely so sinks can gate on completeness.

The gate's readiness rule, per accumulated (pending ∪ batch) events:

* events with no transaction id are autocommit — always ready;
* a transaction whose ``event_count`` is known is ready when all its
  events are present (count-based — works even for the newest txn);
* otherwise a transaction is ready when any event with a HIGHER lsn
  from a different transaction has been consumed: WAL transactions are
  contiguous in the log (single-writer total order), so seeing the next
  transaction's first event proves the previous one was fully emitted
  — only the TAIL transaction can be incomplete.

Held-back events persist in a per-batch ``pending`` directory with an
atomically-flipped pointer; crash-replay is safe by construction
(deterministic recompute from the same inputs + the table's batch
ledger + LWW idempotence — tests/test_txn.py walks the crash windows).
At 100 TB the gate costs one narrow per-txn aggregate (txn_id, count,
max lsn — bytes per distinct txn in the batch) plus a semi join, no
payload shuffle beyond the merge's own collapse.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.table import SnapshotTable
from ..schemas import CHANGE_COLS
from .pipeline import start_foreach_batch

#: gate columns riding next to CHANGE_COLS through the pending store
GATE_COLS = [*CHANGE_COLS, "_txn_id", "_txn_count"]


def split_ready(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition accumulated events into (ready, pending) per the
    readiness rule.  ``events``: CHANGE_COLS + ``_txn_id`` (nullable)
    + ``_txn_count`` (nullable).  Pure DataFrame ops except a 1-row
    collect for the tail transaction id (bounded, driver-side)."""
    txn_rows = events.where(F.col("_txn_id").isNotNull())
    stats = txn_rows.groupBy("_txn_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("_txn_count").alias("_cnt"),
        F.max("lsn").alias("_max_lsn"),
    )
    tail = stats.orderBy(F.col("_max_lsn").desc()).limit(1).collect()
    tail_id = tail[0]["_txn_id"] if tail else None
    ready_txns = stats.where(
        (F.col("_txn_id") != F.lit(tail_id))
        | (F.col("_cnt").isNotNull() & (F.col("_n") >= F.col("_cnt")))
    ).select("_txn_id")
    ready = events.where(F.col("_txn_id").isNull()).unionByName(
        txn_rows.join(F.broadcast(ready_txns), "_txn_id", "left_semi")
    )
    pending = txn_rows.join(F.broadcast(ready_txns), "_txn_id", "left_anti")
    return ready, pending


def _pointer_path(pending_dir: str) -> str:
    return os.path.join(pending_dir, "_latest.json")


def read_pending(spark: SparkSession, pending_dir: str) -> DataFrame | None:
    """Pending events referenced by the pointer, or None."""
    try:
        with open(_pointer_path(pending_dir)) as f:
            ptr = json.load(f)
    except FileNotFoundError:
        return None
    gen = ptr.get("gen", f"batch_id={ptr['batch_id']}")
    path = os.path.join(pending_dir, gen)
    if not os.path.isdir(path) or not any(
        fn.endswith(".parquet") for fn in os.listdir(path)
    ):
        return None  # empty pending set writes no part files
    return spark.read.parquet(path)


def _write_pending(pending: DataFrame, pending_dir: str, batch_id) -> None:
    """Write this batch's pending set to a UNIQUE generation directory
    (batch_id + random suffix), flip the pointer, GC generations older
    than the previous pointer's.  The unique suffix means a replayed
    batch can never overwrite the very directory its carried DataFrame
    is lazily reading from — task retry / cache eviction during the
    write recomputes from files that still exist."""
    gen = f"batch_id={batch_id}.{uuid.uuid4().hex[:8]}"
    pending.write.mode("overwrite").parquet(os.path.join(pending_dir, gen))
    os.makedirs(pending_dir, exist_ok=True)
    tmp = f"{_pointer_path(pending_dir)}.tmp.{uuid.uuid4().hex}"
    prev = None
    try:
        with open(_pointer_path(pending_dir)) as f:
            p = json.load(f)
            prev = p.get("gen", f"batch_id={p['batch_id']}")
    except FileNotFoundError:
        pass
    with open(tmp, "w") as f:
        json.dump({"batch_id": str(batch_id), "gen": gen}, f)
    os.replace(tmp, _pointer_path(pending_dir))
    for fn in os.listdir(pending_dir):
        if fn.startswith("batch_id=") and fn not in (gen, prev):
            shutil.rmtree(os.path.join(pending_dir, fn), ignore_errors=True)


def apply_txn_batch(
    table: SnapshotTable,
    batch: DataFrame,
    batch_id,
    pending_dir: str,
) -> dict:
    """One gated apply: union the carried pending set, split by
    readiness, persist the new pending set (pointer flip), merge the
    ready set exactly-once.  The per-micro-batch body of
    :func:`start_txn_cdc_stream`, usable standalone for batch feeds."""
    spark = batch.sparkSession
    carried = read_pending(spark, pending_dir)
    acc = batch.select(*GATE_COLS)
    if carried is not None:
        acc = acc.unionByName(carried.select(*GATE_COLS))
    acc = acc.dropDuplicates(["lsn", "conv_id", "turn_idx"]).persist()
    try:
        ready, pending = split_ready(acc)
        ready_changes = ready.select(*CHANGE_COLS)
        n_ready = int(ready_changes.count())
        n_pending = int(pending.count())
        if n_ready:
            table.merge_apply(
                ready_changes,
                batch_id,
                extra_lineage={
                    "txn_gate": {"ready": n_ready, "held": n_pending}
                },
            )
        # Pointer flips ONLY AFTER the ready set is durably committed.
        # A crash in the remaining window (merge done, pointer old)
        # replays the batch against the PREVIOUS pending set: the
        # applied-batch ledger no-ops the merge and the pending write
        # recomputes identically.  Flipping first would lose
        # carried-then-ready events forever — they'd be in neither the
        # replayed batch nor the new pending set (crash-window pinned
        # by tests/test_txn.py).
        _write_pending(pending, pending_dir, batch_id)
        return {"ready": n_ready, "held": n_pending}
    finally:
        acc.unpersist()


def flush_pending(
    table: SnapshotTable,
    pending_dir: str,
    batch_id: str = "txn-flush",
) -> int:
    """Force-apply whatever the gate is still holding.  ONLY for feeds
    whose WAL is known final AND whose events carry no event_count (a
    count-carrying trailing transaction that is complete applies by
    itself; one that is incomplete is torn at the source and holding it
    back is the correct permanent answer).  Ledgered under ``batch_id``
    — idempotent.  Returns rows applied."""
    spark = table.spark
    pending = read_pending(spark, pending_dir)
    if pending is None:
        return 0
    rows = pending.select(*CHANGE_COLS)
    n = rows.count()
    if n:
        table.merge_apply(rows, batch_id)
    return n


def start_txn_cdc_stream(
    spark: SparkSession,
    wal_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    pending_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail a Debezium-envelope WAL and apply it transaction-atomically:
    no snapshot the table ever commits contains a partial source
    transaction (tests/test_txn.py pins this per-version).  Malformed
    lines are dropped by the parse (compose with start_cdc_stream's
    dlq_dir against the same WAL for quarantine).

    Stock-Debezium caveat: a standard connector's per-event
    ``transaction`` block carries id/total_order/data_collection_order
    — ``event_count`` is only published on the transaction-metadata
    topic's END marker.  Against such a source the count gate never
    fires and the sink degrades (safely) to the CONTIGUITY rule: each
    transaction is held until the first event of a LATER transaction
    arrives, so the tail transaction waits one transaction's latency
    (or an explicit flush_pending at end-of-stream).  Feed the END
    markers in as ``_txn_count`` (join or enrich upstream) to release
    each transaction the moment it is complete instead."""
    from ..sources.debezium import parse_envelope_tagged, read_raw_stream

    raw = read_raw_stream(spark, wal_dir, max_files_per_trigger)

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        tagged = parse_envelope_tagged(batch_df)
        good = tagged.where(F.col("dlq_reason").isNull()).select(*GATE_COLS)
        apply_txn_batch(table, good, batch_id, pending_dir)

    return start_foreach_batch(raw, apply_fn, checkpoint_dir, available_now)
