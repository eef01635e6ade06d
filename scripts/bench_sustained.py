#!/usr/bin/env python
"""Sustained chunked CDC ingest leg — the 10^9+-event weak-scaling
datapoint toward the 10^10 north metric.

Why chunked: a single-pass replay at 10^9 events needs the 66.5 GB WAL
(measured 66.5 B/event zstd parquet) AND its ~60 GB full-width collapse
shuffle resident at once — more than the r5 box's 126 GB RAM, and the
r5_1g single-pass attempt died after writing 46 GB of shuffle
(BENCH/hunt_r5.jsonl).  A real pipeline never holds 10^10 events in
flight either: it TAILS the log.  This harness replays the log the way
production would — K lsn-range chunks, each generated on its own
(``changes()`` is lsn-deterministic, so chunk i with
``lsn_start=i*chunk`` is bit-identical to slicing the whole log; pinned
by tests/test_fold_oracle.py) and applied through the engine's real
incremental path (``apply_batch`` → MOR ``merge_apply``), each followed
by the maintenance planner's bounded ``run_maintenance`` tick (timed:
it is part of sustained ingest cost) — and verifies the final state
against the chunk-folded engine-independent oracle
(sources/generator.fold_winners), deleting each WAL chunk once folded
so peak storage stays bounded.

Timed: merge_apply + maintenance ticks.  Untimed: generation, oracle
folding, the final verify.  Sustained ev/s =
events / (apply_sec + maintenance_sec).

Appends one line to BENCH/headline_runs.jsonl and prints it last.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import host_cpus, scratch_root, warm_up  # noqa: E402

SHM = "/dev/shm"


def _shm_used_gb() -> float:
    st = os.statvfs(SHM)
    return round((st.f_blocks - st.f_bfree) * st.f_frsize / 2**30, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000_000)
    ap.add_argument("--chunks", type=int, default=10)
    # 256 buckets => ~26 MB zstd delta files per chunk at 1e8-event
    # chunks and ~70 MB base files at the 250M-key final table
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--shuffle", type=int, default=256)
    ap.add_argument("--gen-partitions", type=int, default=1024)
    ap.add_argument(
        "--max-compact-buckets", type=int, default=64,
        help="per-chunk maintenance tick compacts at most this many buckets",
    )
    ap.add_argument(
        "--max-delta-files", type=int, default=4,
        help="a bucket is compacted once it holds more than this many files",
    )
    ap.add_argument("--tag", default="r5_1g_sustained")
    ap.add_argument("--keep-wal", action="store_true")
    # tmpfs is RAM: the first 1e9 attempt died to a kernel global OOM
    # with 106 GB on /dev/shm (two oracle-winners generations = 31 GB
    # of it) + the 16g pre-touched heap.  The fold/verify is UNTIMED,
    # so the oracle state can live on disk — only the WAL (timed scan)
    # and the table (timed merge) need tmpfs speed.
    ap.add_argument(
        "--oracle-dir",
        default=None,
        help="parent dir for the folded-oracle winners parquet (default: "
        "under the tmpfs scratch root; pass a disk path, e.g. /tmp, to "
        "keep ~2x winners size off RAM).  The run writes into a "
        "pid-unique subdirectory and removes only that",
    )
    # The 1e9 one-pass attempts died to GCLocker allocation retries
    # (BENCH/hunt_r5.jsonl r5_1g_sustained fires 1-2): 32 zstd-JNI
    # critical sections starve a ~68 MB humongous allocation in the
    # default 8 GB heap.  A bigger pre-touched heap with more GCLocker
    # retries (plus per-chunk WAL generation) fixed it.
    ap.add_argument("--driver-mem", default=os.environ.get("SPARK_DRIVER_MEM", "16g"))
    args = ap.parse_args()

    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ.setdefault(
        "SPARK_GRAFT_JAVA_OPTS",
        f"-Xms{args.driver_mem} -XX:+AlwaysPreTouch"
        " -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
    )

    from schema_matching_spark.session import get_spark

    with scratch_root("sustained_") as root:
        # a pid-unique subdirectory: cleanup removes only what this run
        # made, never the user-supplied directory itself
        oracle_root = (
            os.path.join(args.oracle_dir, f"sustained_oracle_{os.getpid()}")
            if args.oracle_dir else root
        )
        os.makedirs(oracle_root, exist_ok=True)
        spark = get_spark(
            "bench_sustained",
            master=f"local[{host_cpus()}]",
            shuffle_partitions=args.shuffle,
            extra_conf={
                # tmpfs shuffle + explicit per-chunk driver GC below so
                # the ContextCleaner drops finished chunks' shuffle files
                # — lingering shuffle on tmpfs is RAM
                "spark.local.dir": os.path.join(root, "spark_local"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            run(spark, args, root, oracle_root)
        finally:
            spark.stop()
            shutil.rmtree(oracle_root, ignore_errors=True)


def run(spark, args, root: str, oracle_root: str) -> None:
    """The timed chunk loop and final verify; appends the ledger row."""
    from schema_matching_spark import REPLAY_ENGINE
    from schema_matching_spark.operators.apply import apply_batch
    from schema_matching_spark.operators.verify import content_hash
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.sources.generator import (
        changes,
        fold_winners,
        winners_state,
    )

    warm_up(spark, n_buckets=32)
    chunk_sz = args.events // args.chunks
    n_conv = max(args.events // 200, 100)
    table = SnapshotTable(
        spark, os.path.join(root, "tbl"), n_buckets=args.buckets, mode="mor"
    )
    ledger: list[dict] = []
    winners_cur: str | None = None
    gen_sec = apply_sec = maint_sec = 0.0
    for i in range(args.chunks):
        # untimed per-chunk WAL generation: an lsn-range slice
        t0 = time.time()
        chunk_dir = os.path.join(root, "wal", f"_chunk={i}")
        changes(
            spark, chunk_sz, n_conv=n_conv, turns_per_conv=50,
            lsn_start=i * chunk_sz,
            partitions=max(args.gen_partitions // args.chunks, 32),
        ).write.parquet(chunk_dir)
        gen_sec += time.time() - t0
        chunk = spark.read.parquet(chunk_dir)

        t0 = time.time()
        apply_batch(table, chunk, f"chunk-{i}")
        dt_apply = time.time() - t0
        apply_sec += dt_apply

        # B25 rolling tick: compact only buckets whose delta depth
        # crossed --max-delta-files, at most --max-compact-buckets per
        # tick — maintenance cost per chunk is bounded by the tick, not
        # by table size (the r5 100M-leg lesson: counter-driven full
        # compacts made maintenance the majority cost and grew with the
        # table)
        t0 = time.time()
        actions = table.run_maintenance(
            max_compact_buckets=args.max_compact_buckets,
            keep_snapshots=1,
            max_files_per_bucket=args.max_delta_files,
        )
        dt_maint = time.time() - t0
        maint_sec += dt_maint

        # untimed: fold the engine-independent oracle, then drop the
        # consumed chunk so peak tmpfs stays bounded
        t0 = time.time()
        winners_next = os.path.join(oracle_root, f"winners_{i}")
        prev = (
            spark.read.parquet(winners_cur) if winners_cur is not None else None
        )
        fold_winners(prev, chunk).write.parquet(winners_next)
        if winners_cur is not None:
            shutil.rmtree(winners_cur, ignore_errors=True)
        winners_cur = winners_next
        if not args.keep_wal:
            shutil.rmtree(chunk_dir, ignore_errors=True)
        dt_fold = time.time() - t0
        # nudge the ContextCleaner: finished chunks' shuffle files
        # live on tmpfs until their dependencies are GC'd
        spark.sparkContext._jvm.System.gc()

        ev = {
            "chunk": i,
            "apply_sec": round(dt_apply, 2),
            "maint_sec": round(dt_maint, 2),
            "fold_sec": round(dt_fold, 2),
            "shm_gb": _shm_used_gb(),
        }
        if actions.get("expired"):
            ev["expired_bytes_gb"] = round(
                actions["expired"]["bytes_reclaimed"] / 2**30, 2
            )
        ev["ticked_buckets"] = len(actions.get("compacted_buckets", []))
        ledger.append(ev)
        print("chunk:", json.dumps(ev), flush=True)

    # untimed final verify: engine state vs folded oracle
    t0 = time.time()
    expected = winners_state(spark.read.parquet(winners_cur))
    verified = content_hash(table.read()) == content_hash(expected)
    verify_sec = time.time() - t0

    total_sec = apply_sec + maint_sec
    entry = {
        "run": args.tag,
        "engine": REPLAY_ENGINE,
        "protocol": "sustained_chunked_mor",
        "events": args.events,
        "chunks": args.chunks,
        # constants since the planner tick and per-chunk generation
        # became the only protocol: kept so rows compare with history
        "maintenance_policy": "planner",
        "max_compact_buckets": args.max_compact_buckets,
        "max_delta_files": args.max_delta_files,
        "n_buckets": args.buckets,
        "shuffle_partitions": args.shuffle,
        "apply_sec": round(apply_sec, 2),
        "maintenance_sec": round(maint_sec, 2),
        "sustained_sec": round(total_sec, 2),
        "sustained_ev_s": round(args.events / total_sec, 1),
        "apply_only_ev_s": round(args.events / apply_sec, 1),
        "verify_sec": round(verify_sec, 2),
        "verified": bool(verified),
        "wal_mode": "per_chunk",
        "driver_mem": args.driver_mem,
        "gen_sec": round(gen_sec, 1),
        "chunk_ledger": ledger,
    }
    with open(os.path.join(HERE, "BENCH", "headline_runs.jsonl"), "a") as f:
        f.write(json.dumps(entry) + "\n")
    print(json.dumps(entry), flush=True)


if __name__ == "__main__":
    main()
