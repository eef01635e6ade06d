#!/usr/bin/env python
"""Bootstrap-vs-replay evidence (plans/table.py bootstrap_load).

The operational claim behind the snapshot+fence bootstrap: catch-up
cost is proportional to the TAIL, not the HISTORY.  A pipeline that
starts by replaying the full log pays O(history); one that bulk-loads
a source snapshot at a fenced WAL position pays O(table) + O(tail) —
at the north metric's 10^10-event histories that is the difference
between days and minutes.

Protocol (same warm-up/best-of-N rules as bench.py): for each
history size H with a FIXED 500k-event tail,

  path A  timed replay of all H events into a fresh table;
  path B  timed bootstrap_load(snapshot ≤ fence) + apply of the tail
          WITH a 100k-event overlap (the fence must eat it);

snapshot materialization is untimed — in production the snapshot is an
input exported by the source, not work this engine does.  Both paths
must converge to the same content hash.  Prints one JSON line; append
the observation to BENCH/APPENDIX.md.

Usage: python scripts/bench_bootstrap.py [--histories 2000000,8000000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_cpus, scratch_root, warm_up  # noqa: E402

TAIL = 500_000
OVERLAP = 100_000


def run_one(spark, n_events: int, n_buckets: int, partitions: int) -> dict:
    from pyspark.sql import functions as F

    from schema_matching_spark.operators.apply import apply_batch, replay
    from schema_matching_spark.operators.verify import content_hash
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.sources.generator import changes, expected_state

    with scratch_root("bench_boot_") as root:
        fence = n_events - TAIL - 1
        wal = os.path.join(root, "wal")
        # FIXED key space (10k convs x 50 turns = 500k keys) across all
        # history sizes: longer histories are MORE UPDATES PER KEY, the
        # real CDC shape.  This is what separates the two paths — the
        # snapshot stays table-sized while the log grows without bound.
        changes(
            spark, n_events, n_conv=10_000,
            turns_per_conv=50, partitions=partitions,
        ).write.parquet(wal)
        log = spark.read.parquet(wal)

        # untimed: the source-exported snapshot at the fence
        snap_dir = os.path.join(root, "snap")
        expected_state(log.where(F.col("lsn") <= fence)).write.parquet(snap_dir)
        snapshot = spark.read.parquet(snap_dir)
        tail = log.where(F.col("lsn") > fence - OVERLAP)

        replay_best, boot_best = None, None
        hash_a = hash_b = None
        for rep in range(2):
            ta = SnapshotTable(
                spark, os.path.join(root, f"a{rep}"), n_buckets=n_buckets
            )
            t0 = time.time()
            replay(ta, log)
            el = time.time() - t0
            replay_best = el if replay_best is None else min(replay_best, el)

            tb = SnapshotTable(
                spark, os.path.join(root, f"b{rep}"), n_buckets=n_buckets
            )
            t0 = time.time()
            tb.bootstrap_load(snapshot, fence)
            apply_batch(tb, tail, "tail")
            el = time.time() - t0
            boot_best = el if boot_best is None else min(boot_best, el)
            if rep == 1:
                hash_a, hash_b = content_hash(ta.read()), content_hash(tb.read())
            else:
                for d in (f"a{rep}", f"b{rep}"):
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        return {
            "events": n_events,
            "tail_events": TAIL,
            "overlap_events": OVERLAP,
            "replay_sec": round(replay_best, 3),
            "bootstrap_plus_tail_sec": round(boot_best, 3),
            "speedup": round(replay_best / boot_best, 2),
            "verified": bool(hash_a == hash_b),
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--histories", default="2000000,8000000")
    args = ap.parse_args()

    from schema_matching_spark.session import get_spark

    cpus = host_cpus()
    spark = get_spark(
        "bench-bootstrap", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark)

    out = {
        "metric": "bootstrap_vs_replay",
        "tail_events": TAIL,
        "runs": [
            run_one(spark, int(h), n_buckets=128, partitions=64)
            for h in args.histories.split(",")
        ],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
