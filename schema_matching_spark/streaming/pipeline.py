"""Structured Streaming CDC tail (SURVEY.md §3.2: B1/B2/B6/B8).

Flow::

    WAL segments → readStream → withWatermark + dropDuplicatesWithinWatermark
      → foreachBatch(batch_id, df):
            [schema-drift check → evolution-mapper projection (B7)]
            → exactly-once merge into SnapshotTable (B5): one bucket
              window does the latest-wins collapse (B4) and the merge
            → lineage ledger entry + observed counters (B8)

Resumability: Structured Streaming's checkpoint tracks per-file source
offsets; the table's applied-batch ledger makes a replayed micro-batch a
no-op — kill the query at any point and restart with the same
checkpoint dir and the final state is identical (tests/test_stream.py).

Counters (B8): ``observe()`` attaches row-count/max-lsn metrics to each
micro-batch; a StreamingQueryListener would export them on a cluster —
here foreachBatch records them into the table's lineage entry directly,
so every committed snapshot knows its input row count and LSN range.

Single-pass contract: the counters ride the merge's own scan via an
``Observation`` node — round 1 ran a separate ``.agg(...).collect()``
before ``merge_apply`` re-consumed the batch, i.e. two full source
passes per micro-batch.  The lineage dict is resolved lazily (callable)
inside the commit, after the merge's write action has populated the
metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import dedup_stream
from ..plans.table import SnapshotTable
from ..sources.table_changes import register as register_table_changes
from ..sources.wal import read_stream


def start_cdc_stream(
    spark: SparkSession,
    wal_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    maintenance_every: int | None = None,
    keep_snapshots: int = 5,
    source_format: str = "parquet",
    dlq_dir: str | None = None,
    drift_aligner=None,
) -> StreamingQuery:
    """Start the CDC apply stream.  ``available_now=True`` runs a bounded
    catch-up pass (processes everything currently in the WAL, then
    stops) — the shape both the tests and the bench use; pass False for
    a continuously-tailing query.

    ``maintenance_every``: if set, every N applied micro-batches the
    sink runs ``table.compact()`` (folds MOR deltas / small files) and
    ``table.expire_snapshots(keep_snapshots)`` (drops old manifests and
    orphaned data files).  This is what makes a 10^10-event stream's
    storage BOUNDED end-to-end: without it, every commit leaves its
    replaced files behind for time travel forever.  Maintenance is idempotent
    and crash-safe (snapshot-isolated compact commit; GC deletes
    manifests before data files), so a crash mid-maintenance at worst
    leaves collectable garbage.  On a cluster this would run as a
    separate scheduled job; running it inline every N triggers gives
    the same bound.

    ``source_format``: ``"parquet"`` tails typed WAL segment files
    (sources/wal.py); ``"debezium"`` tails JSONL Debezium-envelope
    segments (sources/debezium.py) — same checkpointed per-file
    offsets, parse fused into the scan.

    ``dlq_dir`` (``"debezium"`` only): quarantine malformed envelope
    lines (unparseable JSON, unknown op, missing lsn/key — the
    sources/debezium.DLQ_REASONS taxonomy) as parquet under
    ``dlq_dir/batch_id=N/`` instead of silently dropping them, with
    per-reason counts recorded in the commit's lineage entry.  The DLQ
    write is per-batch-directory **overwrite**, so a replayed
    micro-batch (crash/restart) rewrites rather than duplicates its
    quarantine rows — the DLQ inherits the sink's exactly-once.  The
    parse then runs inside foreachBatch (lines must stay addressable),
    so cross-batch redelivery dedup falls to the merge's lsn-LWW
    instead of dropDuplicatesWithinWatermark — same final state, the
    in-stream dedup is a cost optimization, not a correctness layer.

    ``drift_aligner`` (requires ``dlq_dir``): an
    ``operators/evolve.EvolutionAligner`` — before quarantining, the
    batch's ``missing_key`` slice is re-examined by
    ``sources/debezium.recover_drifted``: upstream column renames
    INSIDE the envelope (which the fixed decode schema turns into NULL
    key fields) are re-decoded loosely, value-matched to the live
    table schema, and merged; the decided mapping is ledgered so a
    crash-replayed micro-batch recovers identically.  Genuinely
    keyless rows still quarantine, and the lineage entry records
    ``recovered_drift`` alongside the per-reason residual counts.
    """
    dlq_split = None
    if drift_aligner is not None and dlq_dir is None:
        raise ValueError("drift_aligner requires dlq_dir")
    if dlq_dir is not None:
        if source_format != "debezium":
            raise ValueError("dlq_dir requires source_format='debezium'")
        from ..sources.debezium import parse_envelope_tagged, read_raw_stream

        deduped = read_raw_stream(spark, wal_dir, max_files_per_trigger)
        dlq_split = parse_envelope_tagged
    elif source_format == "debezium":
        from ..sources.debezium import read_stream as read_dbz

        stream = read_dbz(spark, wal_dir, max_files_per_trigger)
        deduped = dedup_stream(stream, watermark=watermark)
    else:
        stream = read_stream(spark, wal_dir, max_files_per_trigger)
        deduped = dedup_stream(stream, watermark=watermark)
    applied_since_maintenance = {"n": 0}

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from ..schemas import CHANGE_COLS

        if table.batch_applied(batch_id):
            # Replay of a batch whose merge committed before the query
            # stopped, ahead of Spark's commit-log write.  The merge would
            # be a no-op, but the watermarked dedup upstream commits its
            # state store only when every partition of the batch runs —
            # skipping the batch fails STATE_STORE_COMMIT_VALIDATION.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        persisted = []
        dlq_counts: dict[str, int] = {}
        if dlq_split is not None:
            tagged = dlq_split(batch_df).persist()
            persisted.append(tagged)
            bad = tagged.where(F.col("dlq_reason").isNotNull())
            dlq_counts = {
                r["dlq_reason"]: r["n"]
                for r in bad.groupBy("dlq_reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()  # bounded: ≤ len(DLQ_REASONS) rows
            }
            good = tagged.where(F.col("dlq_reason").isNull()).select(
                *CHANGE_COLS
            )
            if drift_aligner is not None and dlq_counts.get("missing_key"):
                from ..sources.debezium import recover_drifted

                recovered, bad = recover_drifted(tagged, drift_aligner)
                recovered = recovered.persist()
                persisted.append(recovered)
                n_rec = recovered.count()
                if n_rec:
                    dlq_counts["recovered_drift"] = n_rec
                    dlq_counts["missing_key"] -= n_rec
                    if not dlq_counts["missing_key"]:
                        del dlq_counts["missing_key"]
                    good = good.unionByName(recovered)
            quarantine = bad.where(F.col("dlq_reason") != "tombstone")
            if any(
                k not in ("tombstone", "recovered_drift")
                for k in dlq_counts
            ):
                quarantine.select("raw_value", "dlq_reason").write.mode(
                    "overwrite"
                ).parquet(os.path.join(dlq_dir, f"batch_id={batch_id}"))
            batch_df = good.dropDuplicates(["lsn", "conv_id", "turn_idx"])
        obs = Observation()
        observed = batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min("lsn").alias("lsn_lo"),
            F.max("lsn").alias("lsn_hi"),
            F.max(F.unix_millis(F.col("ts").cast("timestamp"))).alias("ts_hi_ms"),
        )

        def lineage() -> dict:
            import time as _time

            m = obs.get  # available: the merge's write already ran
            out = {
                "input_rows": m["rows"],
                "lsn_range": [m["lsn_lo"], m["lsn_hi"]],
            }
            if m["ts_hi_ms"] is not None:
                # end-to-end freshness: commit wall time minus the
                # newest event time in the batch — the lag a consumer
                # of this table actually experiences.  Rides the same
                # Observation (no extra pass); freshness_lag() reads it.
                out["event_ts_hi_ms"] = m["ts_hi_ms"]
                out["commit_lag_sec"] = round(
                    max(0.0, _time.time() - m["ts_hi_ms"] / 1000.0), 3
                )
            if dlq_counts:
                out["dlq_reasons"] = dlq_counts
            return out

        try:
            table.merge_apply(observed, batch_id, extra_lineage=lineage)
        finally:
            for df in persisted:
                df.unpersist()
        if maintenance_every:
            applied_since_maintenance["n"] += 1
            if applied_since_maintenance["n"] >= maintenance_every:
                applied_since_maintenance["n"] = 0
                table.compact()
                table.expire_snapshots(keep_n=keep_snapshots)

    return start_foreach_batch(deduped, apply_fn, checkpoint_dir, available_now)


def start_foreach_batch(
    stream: DataFrame, apply_fn, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start ``stream`` as a checkpointed ``foreachBatch`` query calling
    ``apply_fn(batch_df, batch_id)`` — the sink shape every stream in
    this package shares.  ``available_now=True`` makes it a bounded
    catch-up run (process everything present, then stop)."""
    writer = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_change_feed(
    spark: SparkSession,
    root: str,
    apply_fn,
    checkpoint_dir: str,
    available_now: bool = True,
    images: bool = False,
    start_version: int = 0,
) -> StreamingQuery:
    """Tail the change feed of the snapshot table at ``root``: each
    micro-batch calls ``apply_fn(feed, batch_id)`` with
    ``changes_between(v_from, v_to, images=images)`` for the snapshot
    span the ``table_changes`` stream hands it (sources/table_changes.py;
    offsets are versions, starting after ``start_version``).  Every
    downstream hop is this starter plus its own ``apply_fn``, so it
    sees exactly the rows a batch ``changes_between`` read sees.
    ``apply_fn`` runs even when the span's feed is empty."""
    register_table_changes(spark)
    table = SnapshotTable(spark, root)
    spans = (
        spark.readStream.format("table_changes")
        .option("path", root)
        .option("start_version", start_version)
        .load()
    )

    def span_fn(span_df: DataFrame, batch_id: int) -> None:
        [(v_from, v_to)] = span_df.collect()  # one row per micro-batch
        apply_fn(table.changes_between(v_from, v_to, images=images), batch_id)

    return start_foreach_batch(spans, span_fn, checkpoint_dir, available_now)


#: Error signatures of driver-side Python-worker spawn failures.  The
#: planner worker for a Python DataSource stream must connect back
#: within a JVM-hardcoded 10 s (PythonWorkerFactory.createSimpleWorker);
#: on a saturated box the fork+import occasionally exceeds it.  The
#: failure happens BEFORE any offset is committed, and every sink in
#: this engine is exactly-once (checkpoint offsets + applied-batch
#: ledger), so restarting the query is always safe.
TRANSIENT_WORKER_ERRORS = (
    "Python worker failed to connect back",
    "Timed out while waiting for the Python worker to connect back",
    "Python worker exited unexpectedly",
)


def is_transient_worker_error(exc: BaseException) -> bool:
    msg = str(exc)
    return any(sig in msg for sig in TRANSIENT_WORKER_ERRORS)


def drain_catchup(
    start_fn,
    attempts: int = 4,
    timeout: int | None = None,
    backoff_sec: int = 5,
):
    """Run a bounded (availableNow) catch-up stream to completion,
    restarting it on transient driver-side worker-spawn failures.

    ``start_fn`` is a zero-arg callable returning a started
    StreamingQuery; it is re-invoked on retry so each attempt is a
    fresh query against the same checkpoint — exactly-once semantics
    make the restart invisible (committed batches are skipped by the
    offset log, half-applied ones are deduped by the sink ledger).
    This is the same restart a cluster scheduler performs when a
    driver-side planner worker is lost mid-job.  Retries back off
    linearly: the spawn failure's usual cause is a transient stall
    (page-cache reclaim, GC storm), which needs seconds to clear, not
    an immediate re-fork.

    ``timeout`` (seconds) bounds a HUNG query, not a slow one: while
    the query is alive and merely slow (a cold box demand-pages every
    cache-dropped byte), the wait is extended up to 3x before giving
    up.  A query still active past the extended deadline is STOPPED and
    ``TimeoutError`` is raised — silently returning an active query
    would let callers read a half-drained sink as success, the exact
    false-positive this helper exists to avoid (ADVICE r3).  The stop
    is safe: every sink in this engine is exactly-once, so a later
    retry against the same checkpoint resumes where the hang cut in.
    """
    import time as _time

    q = None
    for attempt in range(attempts):
        try:
            q = start_fn()
            if timeout is None:
                q.awaitTermination()
            else:
                deadline = _time.time() + 3 * timeout
                while not q.awaitTermination(timeout):
                    if _time.time() >= deadline:
                        try:
                            q.stop()
                        except Exception:
                            pass  # best-effort: the raise below is the signal
                        raise TimeoutError(
                            f"drain_catchup: query still active after "
                            f"{3 * timeout}s (3x the {timeout}s deadline); "
                            "stopped it — sink may be half-drained, retry "
                            "against the same checkpoint to resume"
                        )
            return q
        except Exception as e:  # StreamingQueryException or Py4J wrapper
            if attempt + 1 < attempts and is_transient_worker_error(e):
                _time.sleep(backoff_sec * (attempt + 1))
                continue
            raise
    return q


def run_stream_to_completion(
    spark: SparkSession,
    wal_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    **kwargs,
) -> None:
    """Convenience: availableNow pass that blocks until drained."""
    q = start_cdc_stream(
        spark, wal_dir, table, checkpoint_dir, available_now=True, **kwargs
    )
    q.awaitTermination()
