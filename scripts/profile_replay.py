#!/usr/bin/env python
"""Stage-cost breakdown of the bootstrap replay hot path.

Materializes each prefix of the replay pipeline into a noop sink (full
column width, no count()-style pruning) so the marginal cost of every
stage — scan, salted winner agg, join-back, bucket collapse, parquet
write — is visible.  Diagnostic only; appends nothing to the ledgers.

Usage: PROFILE_EVENTS=4000000 PROFILE_REPS=3 python scripts/profile_replay.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import best_of, fresh_tables, host_cpus, scratch_root  # noqa: E402

EVENTS = int(os.environ.get("PROFILE_EVENTS", "4000000"))
REPS = int(os.environ.get("PROFILE_REPS", "3"))


def main() -> None:
    from schema_matching_spark.operators.salting import winners_join
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.session import get_spark
    from schema_matching_spark.sources.generator import changes

    out: dict = {"events": EVENTS}
    with scratch_root("profrep_") as scratch:
        spark = get_spark(
            "profile_replay", master=f"local[{host_cpus()}]",
            shuffle_partitions=64,
            extra_conf={"spark.local.dir": os.path.join(scratch, "slocal")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        wal = os.path.join(scratch, "wal")
        changes(
            spark, EVENTS, n_conv=max(EVENTS // 200, 100),
            turns_per_conv=50, partitions=64,
        ).write.mode("overwrite").parquet(wal)
        log = spark.read.parquet(wal)

        # warm-up: full replay once (JIT all codegen stages)
        warm = SnapshotTable(spark, os.path.join(scratch, "warm"), n_buckets=128)
        warm.merge_apply(log, "warm")

        def timed(tag, thunk, setup=None):
            best, secs, _ = best_of(REPS, thunk, setup=setup)
            out[tag] = round(best, 3)
            out[tag + "_reps"] = [round(t, 2) for t in secs]
            print(f"[{tag}] min {out[tag]:.2f}s {out[tag+'_reps']}",
                  file=sys.stderr, flush=True)

        noop = lambda df: df.write.format("noop").mode("overwrite").save()

        timed("scan_noop", lambda: noop(log))
        salted = lambda: winners_join(log, n_salts=16)
        from schema_matching_spark.operators.salting import salted_winners

        # measure the REAL phase-1 pipeline (an inline re-implementation
        # here would silently diverge if the salting scheme changes)
        timed("winners_agg_noop", lambda: noop(salted_winners(log, n_salts=16)))
        timed("winners_join_noop", lambda: noop(salted()))

        tbl0 = SnapshotTable(spark, os.path.join(scratch, "t0"), n_buckets=128)
        timed("collapse_noop", lambda: noop(tbl0._bucket_collapse(salted())))

        # a fresh table per rep, made and dropped outside the timing
        tables, fresh = fresh_tables(spark, scratch, n_buckets=128)
        timed("full_replay", lambda: tables[-1].merge_apply(log, "b0"),
              setup=fresh)

        # single-shuffle alternative: bucket-partition the raw log once,
        # window does the whole LWW reduce in-bucket (skew-naive).
        from schema_matching_spark.plans.table import FILE_COLS
        tbl2 = SnapshotTable(spark, os.path.join(scratch, "t2"), n_buckets=128)
        timed(
            "collapse_raw_noop",
            lambda: noop(tbl2._bucket_collapse(log.select(*FILE_COLS))),
        )
        spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
