"""Evolution-mapping oracles (FIXTURES.md §3; SURVEY.md §5.2 item 5).

The reference's schema-matching accuracy fixtures repurposed: drifted
re-emissions of the change log, each with a ground-truth mapping the
matcher must recover with 100% accuracy.
"""

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators.evolve import (
    EvolutionAligner,
    apply_mapping,
    decide_mapping,
)
from schema_matching_spark.operators.apply import replay
from schema_matching_spark.operators.verify import states_equal
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import changes, expected_state

N = 4000

RENAME = {
    "conv_id": "session_id",
    "turn_idx": "seq_no",
    "role": "speaker",
    "text": "content",
    "tool": "tool_name",
}


@pytest.fixture(scope="module")
def base_log(spark):
    return changes(spark, N, n_conv=30, turns_per_conv=15).cache()


@pytest.fixture(scope="module")
def reference(base_log):
    # target value-distribution reference = the current table state
    return expected_state(base_log).cache()


def _expect_identity_payload(mapping):
    for src, tgt in RENAME.items():
        assert mapping[tgt] == src, f"{tgt} should map to {src}, got {mapping[tgt]}"


def test_renamed_fixture(spark, base_log, reference):
    drifted = base_log.select(
        "lsn", "op", "ts",
        F.col("conv_id").alias("session_id"),
        F.col("turn_idx").alias("seq_no"),
        F.col("role").alias("speaker"),
        F.col("text").alias("content"),
        F.col("tool").alias("tool_name"),
    )
    mapping = decide_mapping(drifted, reference)
    _expect_identity_payload(mapping)
    assert mapping["lsn"] == "lsn" and mapping["op"] == "op" and mapping["ts"] == "ts"
    aligned = apply_mapping(drifted, mapping)
    assert states_equal(expected_state(aligned), expected_state(base_log))


def test_reordered_fixture(spark, base_log, reference):
    drifted = base_log.select(
        "text", "tool", "conv_id", "ts", "role", "turn_idx", "lsn", "op"
    )
    mapping = decide_mapping(drifted, reference)
    assert all(mapping[c] == c for c in drifted.columns)
    aligned = apply_mapping(drifted, mapping)
    assert aligned.columns == base_log.columns


def test_retyped_fixture(spark, base_log, reference):
    drifted = base_log.select(
        "lsn", "op",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
        "conv_id",
        F.col("turn_idx").cast("string").alias("turn_idx"),
        "role", "text", "tool",
    )
    mapping = decide_mapping(drifted, reference)
    assert mapping["turn_idx"] == "turn_idx" and mapping["ts"] == "ts"
    aligned = apply_mapping(drifted, mapping)
    assert dict(aligned.dtypes)["turn_idx"] == "int"
    assert dict(aligned.dtypes)["ts"] == "timestamp"
    assert states_equal(expected_state(aligned), expected_state(base_log))


def test_decoy_fixture(spark, base_log, reference):
    drifted = base_log.withColumn(
        "session_tag", F.md5(F.col("lsn").cast("string"))
    )
    mapping = decide_mapping(drifted, reference)
    assert mapping["session_tag"] is None
    for c in base_log.columns:
        assert mapping[c] == c


def test_renamed_plus_decoy(spark, base_log, reference):
    """Harder than FIXTURES.md: rename everything AND add a decoy, so
    the value matcher (not name matching) must reject the decoy."""
    drifted = base_log.select(
        "lsn", "op", "ts",
        F.col("conv_id").alias("session_id"),
        F.col("turn_idx").alias("seq_no"),
        F.col("role").alias("speaker"),
        F.col("text").alias("content"),
        F.col("tool").alias("tool_name"),
        F.md5(F.col("lsn").cast("string")).alias("session_tag"),
    )
    mapping = decide_mapping(drifted, reference)
    _expect_identity_payload(mapping)
    assert mapping["session_tag"] is None


def test_aligner_end_to_end_with_ledger(spark, base_log, tmp_path):
    """Full pipe: replay base prefix, then apply a renamed batch through
    the aligner; final state must equal all-events-in-native-schema."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay(table, base_log, batch_id="bootstrap")
    nxt = changes(spark, 1000, n_conv=30, turns_per_conv=15, lsn_start=N)
    drifted = nxt.select(
        "lsn", "op", "ts",
        F.col("conv_id").alias("session_id"),
        F.col("turn_idx").alias("seq_no"),
        F.col("role").alias("speaker"),
        F.col("text").alias("content"),
        F.col("tool").alias("tool_name"),
    )
    aligner = EvolutionAligner(table, str(tmp_path / "mapping_ledger.json"))
    aligned = aligner(drifted)
    from schema_matching_spark.operators.apply import apply_batch

    apply_batch(table, aligned, batch_id="b1")
    full = base_log.unionByName(nxt)
    assert states_equal(table.read(), expected_state(full))
    # ledger re-use: second call must not recompute (decision persisted)
    ledger = aligner._load_ledger()
    assert len(ledger) == 1
    aligned2 = aligner(drifted)
    assert aligned2.columns == aligned.columns


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_aligner_call_aligns_retyped_batch(spark, base_log, tmp_path, mode):
    """A retyped batch carries exactly the change-schema NAMES, so the
    aligner's no-drift fast path must also compare types: a batch passed
    through uncast would commit string ``turn_idx``/``ts`` files that
    every later read fails on."""
    from schema_matching_spark.queries.evolution import FIXTURES

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode=mode)
    replay(table, base_log, batch_id="bootstrap")
    nxt = changes(spark, 1000, n_conv=30, turns_per_conv=15, lsn_start=N)
    aligner = EvolutionAligner(table, str(tmp_path / "ledger.json"))
    table.merge_apply(aligner(FIXTURES["retyped"](nxt)), "b1")
    full = base_log.unionByName(nxt)
    assert states_equal(table.read(), expected_state(full))


def test_streaming_drift_into_mor_table(spark, base_log, tmp_path):
    """Cross-feature: the full streaming pipeline (WAL tail + dedup +
    foreachBatch) with the evolution aligner (B7) hooked in, applying
    drifted micro-batches into a MERGE-ON-READ table — every engine
    layer in one path."""
    import os

    from schema_matching_spark.sources.wal import write_segments
    from schema_matching_spark.streaming.pipeline import run_stream_to_completion

    table = SnapshotTable(spark, str(tmp_path / "mor_t"), n_buckets=4, mode="mor")
    replay(table, base_log, batch_id="bootstrap")

    nxt = changes(spark, 1500, n_conv=30, turns_per_conv=15, lsn_start=N)
    # upstream renamed every payload column mid-stream
    drifted = nxt.select(
        "lsn", "op", "ts",
        F.col("conv_id").alias("session_id"),
        F.col("turn_idx").alias("seq_no"),
        F.col("role").alias("speaker"),
        F.col("text").alias("content"),
        F.col("tool").alias("tool_name"),
    )
    wal = str(tmp_path / "wal")
    write_segments(drifted, wal, 3)

    aligner = EvolutionAligner(table, str(tmp_path / "ledger.json"))
    # drifted WAL has renamed columns — the stream source needs their
    # schema; read as batch-schema'd stream manually
    stream = (
        spark.readStream.schema(drifted.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(wal)
    )
    from schema_matching_spark.plans.table import SnapshotTable as _ST

    def apply_fn(batch_df, batch_id):
        if batch_df.count() == 0:
            return
        table.merge_apply(aligner(batch_df), batch_id)

    q = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = base_log.unionByName(nxt)
    assert states_equal(table.read(), expected_state(full))
    # one drifted schema ⇒ one persisted mapping decision, reused per batch
    assert len(aligner._load_ledger()) == 1
