"""Hot-key salting (SURVEY.md §2.B B3).

One hot conversation can dominate a hash partition in the collapse /
merge shuffles (north rule: skew handled *explicitly*).  The fix is a
two-level aggregation: first aggregate on (key, salt) — spreading a hot
key over ``n_salts`` reducers — then re-aggregate the (tiny) per-salt
winners on the unsalted key.  For last-write-wins this decomposition is
exact because ``max_by(lsn)`` is associative/commutative.

The salt must be deterministic per *event* (not per key!) so identical
inputs shard identically at any parallelism: we salt by
``pmod(xxhash64(lsn), n_salts)``.

AQE skew-join splitting stays enabled as defense-in-depth for the join
stages (session.py), but the aggregation path is ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import KEY_COLS


def salted_winners(log: DataFrame, n_salts: int = 16) -> DataFrame:
    """Phase 1 of ``winners_join`` alone: the narrow salted
    ``max(lsn)`` winner search — one winning (key, lsn) row per key,
    no payload columns.  Exposed separately so
    scripts/profile_replay.py measures the REAL phase-1 pipeline (an
    inline copy there would silently diverge if the salting scheme
    changes)."""
    salted = log.withColumn("_salt", F.pmod(F.xxhash64("lsn"), F.lit(n_salts)))
    return (
        salted.groupBy(*KEY_COLS, "_salt")
        .agg(F.max("lsn").alias("lsn"))
        .groupBy(*KEY_COLS)
        .agg(F.max("lsn").alias("lsn"))
    )


def winners_join(log: DataFrame, n_salts: int = 16) -> DataFrame:
    """Skew-proof latest-wins pre-reduce, payload-free agg: ≥1 row per
    key, every row a winning (key, lsn).  Two phases, chosen for what
    Spark's aggregation engine can actually hash-aggregate:

    1. **Winning-lsn search, narrow and salted** (``salted_winners``).
       The aggregation buffer is a single long, so it stays in
       whole-stage-codegen ``HashAggregate`` with map-side partials.  A
       payload-carrying ``max_by(struct(...))`` instead plans as
       ObjectHashAggregate, which sort-falls-back after 128 groups per
       partition (spark.sql.objectHashAggregate.sortBased.
       fallbackThreshold).  The salt spreads a hot conversation's
       events over ``n_salts`` reducers.
    2. **Payload fetch by join-back.**  Inner join of the log on (key,
       winning lsn) recovers the full winning row; the wide payload
       columns are never sorted and never enter an agg buffer.

    Duplicate deliveries of the winning event survive the join (same
    key + lsn).  table.py's bucket window (``_bucket_collapse``) drops
    them in its bucket-aligned write shuffle, with the deterministic
    ``winner_order`` tie-break; its sort is skew-safe because the join
    already dropped every non-winning event."""
    winners = salted_winners(log, n_salts=n_salts)
    # shuffle_hash hint: broadcasting the winners would collect+build a
    # multi-million-entry hash relation single-threaded on the driver —
    # measured as the scaling bottleneck.  A shuffled-hash join builds
    # per-partition tables in parallel (build side = narrow winners).
    return log.join(winners.hint("shuffle_hash"), [*KEY_COLS, "lsn"], "inner").select(
        *KEY_COLS, "lsn", "op", "role", "text", "tool", "ts"
    )


def collapse_probe(log: DataFrame, n_buckets: int) -> dict:
    """One cheap narrow pass over the change set: per-bucket event mass
    and approximate distinct keys (xxhash64 of the key, HLL).

    Cost: a columnar scan of (conv_id, turn_idx, lsn is NOT needed) with
    map-side partial aggregation into ≤ ``n_buckets`` groups — the
    shuffle carries ``n_buckets`` rows.  At any scale this is a tiny
    fraction of one full-width payload shuffle, which is what the
    decision it feeds can save (see ``choose_collapse``).
    """
    from ..plans.table import bucket_expr

    per_bucket = (
        log.groupBy(bucket_expr(n_buckets).alias("_bucket"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct(F.xxhash64(*KEY_COLS)).alias("keys"),
        )
        .collect()
    )
    rows = [int(r["rows"]) for r in per_bucket]
    keys = [int(r["keys"]) for r in per_bucket]
    total_rows = sum(rows)
    total_keys = max(sum(keys), 1)
    # Skew denominator = the HASH-BALANCED ideal (total/n_buckets), NOT
    # the mean over nonempty buckets: a low-cardinality log (6
    # conversations into 128 buckets) fills 6 buckets near-equally, so
    # the nonempty mean reads "uniform" (max/mean ≈ 1) while every task
    # of a direct collapse would sort total/6 full-width rows — the
    # exact concentration the probe exists to detect.  Against the
    # ideal the same log reads skew ≈ n_buckets/6 and routes salted.
    ideal_rows = total_rows / max(n_buckets, 1)
    return {
        "total_rows": total_rows,
        "approx_keys": total_keys,
        "dup_factor": round(total_rows / total_keys, 2),
        "max_bucket_rows": max(rows, default=0),
        "mean_bucket_rows": round(ideal_rows, 1),
        "bucket_skew": round(max(rows, default=0) / max(ideal_rows, 1.0), 2),
        "nonempty_buckets": len(rows),
    }


def choose_collapse(
    log: DataFrame,
    n_buckets: int,
    dup_max: float = 16.0,
    skew_max: float = 4.0,
) -> tuple[str, dict]:
    """Pick the full-log collapse strategy from measured input shape.

    Shuffle-volume model (N events, duplication factor d = events/key):

    * **direct** — one full-width exchange on ``_bucket``; the bucket
      window then sorts ALL N events of each bucket (losers included)
      before dropping non-winners.  Minimum bytes moved, but the
      per-partition sort mass is the bucket's RAW event mass: a hot
      conversation or a high-update log concentrates work and spill in
      single tasks.
    * **salted** — narrow salted ``max(lsn)`` winner search + join-back
      (operators above): moves N full-width rows through the join
      exchange PLUS N/d through the bucket exchange, but every sorted
      or aggregated buffer stays narrow/bounded, so no input shape can
      produce a straggler.

    Measured on uniform transcript logs at d≈4 the direct path is ~2×
    faster end-to-end (scripts/profile_replay.py); at high d the
    salted path's N/d bucket exchange and winner-only sort win; under
    hot-key skew the salted path is the only safe one (north rule:
    skew handled explicitly — here that means *measured*, then
    handled).  Thresholds: direct only when duplication ≤ ``dup_max``
    AND max-bucket mass ≤ ``skew_max``× the hash-balanced ideal
    (total/n_buckets — see collapse_probe on why the nonempty-bucket
    mean is the wrong denominator).
    """
    stats = collapse_probe(log, n_buckets)
    direct = (
        stats["total_rows"] == 0
        or (
            stats["dup_factor"] <= dup_max
            and stats["bucket_skew"] <= skew_max
        )
    )
    stats["policy"] = "direct" if direct else "salted"
    return stats["policy"], stats


def winner_order():
    """Deterministic winner ordering: highest lsn, payload hash as the
    tie-break so a jittered redelivery resolves to the SAME single row
    on every run/engine width (row_number over ties would otherwise be
    plan-dependent)."""
    return [
        F.desc("lsn"),
        F.desc(F.xxhash64("op", "role", "text", "tool", "ts")),
    ]

