"""Derived-table maintenance: bronze → silver medallion pipeline.

``streaming/pipeline.start_change_feed`` tails the snapshot table's own
change feed (``changes_between`` per snapshot span of the
``table_changes`` stream); this module closes the loop by applying that
feed into a DOWNSTREAM SnapshotTable, maintaining a filtered/transformed
VIEW of the upstream table incrementally — the Delta/Iceberg "silver
table" shape.  Each hop is exactly-once on its own (source offsets =
snapshot versions in the checkpoint; sink = the applied-batch ledger),
so the pipeline composes end-to-end without a distributed transaction.

Incremental view maintenance for a filter+project view of a KEYED
table is exact with one rule: an upstream change whose row LEAVES the
view predicate (or is an upstream delete) becomes a DELETE downstream.
A tombstone is emitted even if the silver table never held the key —
cheap, and it guards the key against later out-of-order redelivery,
exactly like the upstream merge's own tombstones.

Invariant (pinned in tests/test_medallion.py):

    silver.read() == transform(bronze.read().where(predicate))

after every catch-up run, including resume-from-checkpoint and replays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.table import SnapshotTable
from ..schemas import TRANSCRIPT_COLS
from .pipeline import start_change_feed


def derived_events(
    feed: DataFrame,
    predicate: Column | None = None,
    transform=None,
) -> DataFrame:
    """Map a changelog feed (change_type, transcript cols, lsn) to the
    change events that maintain the derived view.

    ``predicate``: Column over the UPSTREAM row (evaluated before
    ``transform``) selecting which rows belong to the view.
    ``transform``: callable(DataFrame) -> DataFrame rewriting payload
    columns (role/text/tool); it must preserve conv_id, turn_idx, lsn,
    ts and the ``_op`` marker column."""
    leaves = F.col("change_type") == "delete"
    if predicate is not None:
        leaves = leaves | ~predicate
    op = F.when(leaves, F.lit("D")).otherwise(
        F.when(F.col("change_type") == "update", F.lit("U")).otherwise(F.lit("I"))
    )
    rows = feed.withColumn("_op", op)
    if transform is not None:
        rows = transform(rows)
    return rows.select(F.col("_op").alias("op"), "lsn", *TRANSCRIPT_COLS)


#: Stat fields of the per-conversation rollup, in the (deterministic)
#: JSON field order they are encoded with.
ROLLUP_STATS = ["n_turns", "n_user", "n_assistant", "n_tool", "total_chars"]


def conversation_rollup(live: DataFrame) -> DataFrame:
    """One stats row per conversation from live transcript rows
    (+lsn): turn counts by role and total text length.  All-long
    aggregate buffers — this stays a narrow HashAggregate (the repo's
    agg rule); the JSON encoding happens AFTER the aggregate, on one
    row per group."""
    return live.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum((F.col("role") == "tool").cast("long")).alias("n_tool"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)).cast("long")).alias(
            "total_chars"
        ),
        F.max("ts").alias("_ts"),
    )


def rollup_events(feed: DataFrame, bronze: SnapshotTable) -> DataFrame:
    """Map one changelog micro-batch to the change events maintaining a
    per-conversation AGGREGATE view (the gold hop): group-recompute
    incremental view maintenance.

    The feed carries net per-key changes but no pre-images, so
    subtractive retraction isn't possible — instead every conversation
    the batch TOUCHES is recomputed exactly, from only its own hash
    bucket's files (``read_keys``).  Cost per batch is O(touched
    buckets), the same bound as the upstream merge itself; conversations
    the batch doesn't touch are never read.

    Convergence: the recompute reads bronze's CURRENT snapshot and
    stamps rows with that snapshot version as the gold lsn.  The payload
    is a pure function of (conv_id, bronze@version) and the version is
    commit-monotonic, so replays and overlapping recomputes are
    idempotent — equal lsns always carry equal payloads, later versions
    always win.  A conversation with no live rows left becomes a gold
    tombstone (guarding the key against out-of-order redelivery, like
    the silver hop).

    The aggregate is encoded INTO the transcript row shape — one row
    per conversation: ``turn_idx=0, role='rollup', text=`` JSON of
    ``ROLLUP_STATS``, ``ts=`` the conversation's max event time — so the
    gold table reuses the full snapshot-table machinery (exactly-once
    ledger, time travel, change feed, compaction) unchanged.
    """
    v = bronze.current_version()
    touched = feed.groupBy("conv_id").agg(F.max("ts").alias("_feed_ts"))
    live = bronze.read_keys(touched.select("conv_id"), version=v)
    agg = conversation_rollup(live)
    gone = F.col("n_turns").isNull()
    stats_json = F.to_json(F.struct(*ROLLUP_STATS))
    return touched.join(agg, "conv_id", "left").select(
        F.lit(v).cast("long").alias("lsn"),
        F.when(gone, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.coalesce(F.col("_ts"), F.col("_feed_ts")).alias("ts"),
        F.col("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("rollup").alias("role"),
        F.when(gone, F.lit(None).cast("string")).otherwise(stats_json).alias(
            "text"
        ),
        F.lit(None).cast("string").alias("tool"),
    )


def rollup_retract_events(image_feed: DataFrame, gold: SnapshotTable) -> DataFrame:
    """Map one pre/post-image feed (``changes_between(images=True)``,
    streamed by ``start_change_feed(images=True)``) to the change
    events maintaining the per-conversation rollup SUBTRACTIVELY —
    no upstream read at all.

    Every stat in ``ROLLUP_STATS`` is additive, so the update is pure
    increment arithmetic: +contribution for ``insert``/
    ``update_postimage`` rows, −contribution for ``update_preimage``/
    ``delete`` rows, folded into the CURRENT gold values (read
    bucket-pruned from gold itself — one row per touched conversation,
    far narrower than recomputing from bronze).  A conversation whose
    turn count reaches zero becomes a tombstone.

    Versus the group-recompute path (:func:`rollup_events`): per batch
    this reads O(touched GOLD rows) instead of O(touched BRONZE
    buckets) — the scale choice when conversations are long — at the
    price of requiring the image feed and giving up non-retractable
    stats: ``ts`` degrades from exact max to a high-watermark (a
    delete can't lower it).  Rows are stamped ``lsn = gold's next
    version``: each successful apply bumps the version, so stamps are
    strictly monotonic per hop and the applied-batch ledger keeps
    replays exactly-once (a replayed span is a no-op BEFORE any
    arithmetic re-runs, so increments can't double-apply).
    """
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = image_feed.groupBy("conv_id").agg(
        F.sum(sign).alias("d_turns"),
        F.sum(sign * (F.col("role") == "user").cast("long")).alias("d_user"),
        F.sum(sign * (F.col("role") == "assistant").cast("long")).alias(
            "d_assistant"
        ),
        F.sum(sign * (F.col("role") == "tool").cast("long")).alias("d_tool"),
        F.sum(sign * F.coalesce(F.length("text"), F.lit(0)).cast("long")).alias(
            "d_chars"
        ),
        F.max("ts").alias("_feed_ts"),
    )
    stats_schema = ", ".join(f"{s} long" for s in ROLLUP_STATS)
    cur = gold.read_keys(deltas.select("conv_id")).select(
        "conv_id",
        F.from_json("text", stats_schema).alias("_s"),
        F.col("ts").alias("_cur_ts"),
    )
    j = deltas.join(cur, "conv_id", "left")

    def nxt(cur_field, d_col):
        return (F.coalesce(F.col(f"_s.{cur_field}"), F.lit(0)) + F.col(d_col))

    new_stats = [
        nxt("n_turns", "d_turns").alias("n_turns"),
        nxt("n_user", "d_user").alias("n_user"),
        nxt("n_assistant", "d_assistant").alias("n_assistant"),
        nxt("n_tool", "d_tool").alias("n_tool"),
        nxt("total_chars", "d_chars").alias("total_chars"),
    ]
    rows = j.select(
        "conv_id",
        F.greatest(
            F.coalesce(F.col("_cur_ts"), F.col("_feed_ts")), F.col("_feed_ts")
        ).alias("ts"),
        *new_stats,
    )
    gone = F.col("n_turns") <= 0
    v_next = gold.current_version() + 1
    return rows.select(
        F.lit(v_next).cast("long").alias("lsn"),
        F.when(gone, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "ts",
        "conv_id",
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("rollup").alias("role"),
        F.when(gone, F.lit(None).cast("string"))
        .otherwise(F.to_json(F.struct(*ROLLUP_STATS)))
        .alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )


def expected_rollup(bronze: SnapshotTable) -> DataFrame:
    """The batch-recompute definition of the gold view (test oracle):
    what the incrementally-maintained table must equal at quiescence."""
    live = bronze.read_keys(
        bronze.read().select("conv_id").distinct()
    )
    agg = conversation_rollup(live)
    return agg.select(
        "conv_id",
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("rollup").alias("role"),
        F.to_json(F.struct(*ROLLUP_STATS)).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("_ts").alias("ts"),
    )


def start_rollup_stream(
    spark: SparkSession,
    bronze_root: str,
    gold: SnapshotTable,
    checkpoint_dir: str,
    available_now: bool = True,
    strategy: str = "recompute",
) -> StreamingQuery:
    """Tail ``bronze_root``'s change feed and maintain ``gold`` as the
    per-conversation rollup aggregate.  Same hop contract as
    :func:`start_derived_stream`: each micro-batch is exactly-once
    (source offsets in the checkpoint, sink dedup via the applied-batch
    ledger), so bronze → silver → gold chains compose without a
    distributed transaction.

    ``strategy``: ``"recompute"`` (default) re-derives each touched
    conversation from bronze (:func:`rollup_events`); ``"retract"``
    consumes the pre/post-image feed and increments gold in place
    (:func:`rollup_retract_events`) — no bronze read, ``ts`` becomes a
    high-watermark."""
    if strategy not in ("recompute", "retract"):
        raise ValueError(f"unknown rollup strategy {strategy!r}")
    bronze = SnapshotTable(spark, bronze_root)

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        if strategy == "retract":
            gold.merge_apply(rollup_retract_events(batch_df, gold), batch_id)
        else:
            gold.merge_apply(rollup_events(batch_df, bronze), batch_id)

    return start_change_feed(
        spark, bronze_root, apply_fn, checkpoint_dir, available_now,
        images=strategy == "retract",
    )


def start_derived_stream(
    spark: SparkSession,
    bronze_root: str,
    silver: SnapshotTable,
    checkpoint_dir: str,
    predicate: Column | None = None,
    transform=None,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail ``bronze_root``'s change feed and maintain ``silver`` as the
    filtered/transformed view.  ``available_now=True`` is the bounded
    catch-up run (process every committed snapshot span, then stop) —
    schedule it per orchestration tick, or pass False to tail
    continuously."""
    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        silver.merge_apply(
            derived_events(batch_df, predicate=predicate, transform=transform),
            batch_id,
        )

    return start_change_feed(
        spark, bronze_root, apply_fn, checkpoint_dir, available_now
    )
