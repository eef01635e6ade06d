"""Deterministic transcript change-log generator (SURVEY.md §2.B B10).

Every run must see *identical* input whatever its width or partitioning
(bench and perfbench seeds compare runs on the same log), and any prefix
or lsn range must be reproducible for resume tests and chunked
generation — so every column is a pure expression keyed on
``spark.range`` ids: no RNG state, no wall clock.
Generation rules follow FIXTURES.md §1–2.

The expected final state of any log prefix is computable independently
of the engine (last-write-wins by max lsn per key, deletes removing the
key) — ``expected_state`` below is the golden-replay oracle
(SURVEY.md §5.2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHANGE_COLS

BASE_TS = "2026-01-01 00:00:00"


def changes(
    spark: SparkSession,
    n_events: int,
    n_conv: int = 100,
    turns_per_conv: int = 50,
    hot_pct: int = 0,
    lsn_start: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Synthesize ``n_events`` change events, LSN-ordered, deterministic.

    op mix ~70/25/5 I/U/D via pmod(lsn, 20) buckets; event-time has a
    bounded sawtooth jitter (pmod(lsn, 7) seconds) so lateness is
    exercised; ``hot_pct`` percent of events are reassigned to
    conversation 0 to create a hot key (skew tests, SURVEY.md §7.1.4).
    """
    rng = spark.range(lsn_start, lsn_start + n_events, 1, partitions or 32)
    lsn = F.col("id")
    # Key derivation: mix the lsn so consecutive events hit different keys.
    conv_nr = F.pmod(F.xxhash64(lsn, F.lit("conv")), F.lit(n_conv))
    if hot_pct > 0:
        is_hot = F.pmod(F.xxhash64(lsn, F.lit("hot")), F.lit(100)) < hot_pct
        conv_nr = F.when(is_hot, F.lit(0)).otherwise(conv_nr)
    conv_id = F.concat(F.lit("conv-"), F.lpad(conv_nr.cast("string"), 8, "0"))
    turn_idx = F.pmod(F.xxhash64(lsn, F.lit("turn")), F.lit(turns_per_conv)).cast("int")

    bucket = F.pmod(lsn, F.lit(20))
    op = (
        F.when(bucket < 14, F.lit("I"))
        .when(bucket < 19, F.lit("U"))
        .otherwise(F.lit("D"))
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")),
        (F.pmod(lsn, F.lit(4)) + 1).cast("int"),
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("search"), F.lit("python"), F.lit("browser")),
            (F.pmod(lsn, F.lit(3)) + 1).cast("int"),
        ),
    )
    text = F.concat(
        F.lit("turn "),
        turn_idx.cast("string"),
        F.lit(" of "),
        conv_id,
        F.lit(" :: "),
        F.repeat(
            F.base64(F.sha2(lsn.cast("string"), 256).cast("binary")),
            (F.pmod(lsn, F.lit(3)) + 1).cast("int"),
        ),
    )
    is_delete = op == "D"
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(
        secs=(lsn - F.pmod(lsn, F.lit(7))).cast("double")
    )
    return rng.select(
        lsn.alias("lsn"),
        op.alias("op"),
        ts.alias("ts"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.when(~is_delete, role).alias("role"),
        F.when(~is_delete, text).alias("text"),
        F.when(~is_delete, tool).alias("tool"),
    )


def with_dup_delivery(log: DataFrame) -> DataFrame:
    """Adversarial variant: re-deliver every 10th event verbatim
    (same lsn + key ⇒ watermarked dedup must collapse it to one apply).
    FIXTURES.md §2 dup-delivery."""
    dups = log.where(F.pmod(F.col("lsn"), F.lit(10)) == 0)
    return log.unionAll(dups)


def lww_winners(log: DataFrame) -> DataFrame:
    """Engine-independent LWW *fold state*: one row per key carrying the
    winning event's full image INCLUDING ``op`` and ``lsn``.

    max-lsn selection is associative and commutative (lsns are unique),
    so the fold composes across arbitrary log slices::

        lww_winners(lww_winners(chunk_a) ∪ chunk_b)
            == lww_winners(chunk_a ∪ chunk_b)

    This is what makes a *chunked* golden oracle possible at inputs too
    large to hold alongside their own verify shuffle (10^9-event legs:
    a 66 GB WAL plus a ~60 GB payload shuffle exceeds this box's RAM —
    fold prefix winners with each chunk instead, then delete the chunk).
    Tombstone winners (op='D') MUST stay in the fold state: a later
    chunk can only out-rank them by lsn, and dropping them early would
    resurrect the key.  ``winners_state`` applies the final filter.

    Implemented as the same single ``max_by`` aggregation as
    ``expected_state`` (one shuffle, partial aggregation map-side).
    """
    struct = F.struct("op", "role", "text", "tool", "ts")
    last = log.groupBy("conv_id", "turn_idx").agg(
        F.max_by(struct, F.col("lsn")).alias("w"), F.max("lsn").alias("lsn")
    )
    return last.select(
        "conv_id",
        "turn_idx",
        "lsn",
        F.col("w.op").alias("op"),
        F.col("w.role").alias("role"),
        F.col("w.text").alias("text"),
        F.col("w.tool").alias("tool"),
        F.col("w.ts").alias("ts"),
    )


def fold_winners(prev_winners: DataFrame | None, chunk: DataFrame) -> DataFrame:
    """One step of the chunked oracle: fold the previous prefix's
    winners with the next raw log chunk.  ``prev_winners`` rows are
    themselves events (they carry op/lsn), so the fold is just
    ``lww_winners`` over the union."""
    if prev_winners is None:
        return lww_winners(chunk)
    return lww_winners(prev_winners.unionByName(chunk))


def winners_state(winners: DataFrame) -> DataFrame:
    """Project a winners fold state to the expected final table state
    (drop tombstone winners, drop the fold's lsn bookkeeping)."""
    return winners.where(F.col("op") != "D").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def expected_state(log: DataFrame) -> DataFrame:
    """Engine-independent golden oracle: last-write-wins by max lsn per
    (conv_id, turn_idx); a final op='D' removes the key.

    Implemented as a single ``max_by`` aggregation (one shuffle, partial
    aggregation map-side) rather than a window, so the oracle itself
    scales: no per-key sort, no row_number materialization.
    """
    return winners_state(lww_winners(log))


__all__ = [
    "changes",
    "with_dup_delivery",
    "expected_state",
    "lww_winners",
    "fold_winners",
    "winners_state",
    "CHANGE_COLS",
    "BASE_TS",
]
