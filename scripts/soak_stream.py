#!/usr/bin/env python
"""Long-stream soak: 200 micro-batches through the full pipeline
(readStream → watermark dedup → foreachBatch merge, MOR) with inline
maintenance every 20 batches, kill/restart every 50 segments —
demonstrating over an actual long run what the unit tests pin in
miniature:

* exactly-once across restarts (final state == LWW oracle, bit-for-bit)
* bounded manifest bytes (rolling lineage + ledger windows)
* bounded live file count and on-disk bytes (compact + expire inline)
* sustained per-batch latency (no degradation as history accumulates)

Writes one JSON line; paste the summary into BENCH/SOAK.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import host_cpus, scratch_root  # noqa: E402

N_SEGMENTS = int(os.environ.get("SOAK_SEGMENTS", "200"))
EVENTS_PER_SEGMENT = int(os.environ.get("SOAK_EVENTS_PER_SEGMENT", "5000"))
RESTART_EVERY = 50
MAINTENANCE_EVERY = 20


def main() -> None:
    from pyspark.sql import functions as F

    from schema_matching_spark.operators.verify import content_hash, states_equal
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.session import get_spark
    from schema_matching_spark.sources.generator import changes, expected_state
    from schema_matching_spark.sources.wal import write_segments
    from schema_matching_spark.streaming.pipeline import start_cdc_stream

    with scratch_root("soak_") as root:
        spark = get_spark(
            "soak", master=f"local[{host_cpus()}]", shuffle_partitions=16,
            extra_conf={"spark.local.dir": os.path.join(root, "sl")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        n_events = N_SEGMENTS * EVENTS_PER_SEGMENT
        log = changes(
            spark, n_events, n_conv=2000, turns_per_conv=30, partitions=16
        ).cache()
        exp = expected_state(log).cache()
        exp.count()
        wal, ckpt, troot = (
            os.path.join(root, "wal"),
            os.path.join(root, "ckpt"),
            os.path.join(root, "table"),
        )
        table = SnapshotTable(spark, troot, n_buckets=16, mode="mor")

        t_start = time.time()
        batch_marks: list[tuple[int, float]] = []
        manifest_bytes: list[int] = []
        # feed the WAL in RESTART_EVERY-segment waves; a fresh query
        # (same checkpoint) drains each wave — every wave boundary is a
        # kill/restart exercising resume-from-checkpoint
        seg_step = n_events // N_SEGMENTS
        for wave in range(N_SEGMENTS // RESTART_EVERY):
            lo = wave * RESTART_EVERY * seg_step
            hi = (wave + 1) * RESTART_EVERY * seg_step
            wave_log = log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
            wave_dir = os.path.join(wal, f"wave{wave}")
            write_segments(wave_log, wave_dir, RESTART_EVERY)
            q = start_cdc_stream(
                spark, wal, table, ckpt,
                max_files_per_trigger=1,
                maintenance_every=MAINTENANCE_EVERY,
                keep_snapshots=3,
            )
            q.awaitTermination()
            v = table.current_version()
            batch_marks.append((v, time.time() - t_start))
            manifest_bytes.append(
                os.path.getsize(table._manifest_path(v))
            )
            print(
                f"[wave {wave}] version={v} "
                f"manifest={manifest_bytes[-1]}B files={len(table.manifest()['files'])}",
                file=sys.stderr, flush=True,
            )

        wall = time.time() - t_start
        ok = states_equal(table.read(), exp)
        hash_ok = content_hash(table.read()) == content_hash(exp)
        m = table.manifest()
        snaps = len(os.listdir(os.path.join(troot, "snapshots")))
        disk = 0
        for dirpath, _d, files in os.walk(os.path.join(troot, "data")):
            disk += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        out = {
            "metric": "soak_200_microbatch_stream",
            "segments": N_SEGMENTS,
            "events": n_events,
            "restarts": N_SEGMENTS // RESTART_EVERY,
            "wall_sec": round(wall, 1),
            "events_per_sec": round(n_events / wall, 1),
            "final_version": table.current_version(),
            "state_equal": bool(ok),
            "hash_equal": bool(hash_ok),
            "manifest_bytes_per_wave": manifest_bytes,
            "live_files": len(m["files"]),
            "snapshot_files_on_disk": snaps,
            "data_bytes_on_disk": disk,
            "lineage_len": len(m["lineage"]),
            "applied_ledger_len": len(m["applied_batches"]),
        }
        print(json.dumps(out))


if __name__ == "__main__":
    main()
