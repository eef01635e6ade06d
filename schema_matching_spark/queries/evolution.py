"""Schema-evolution mapping (B7) exposed as oracle-checkable queries.

FIXTURES.md §3's drift fixtures — the reference's schema-matching
accuracy fixtures repurposed as evolution-mapping oracles — run through
the real aligner and merge path: the first half of the events-derived
change log lands natively, the second half is re-emitted under a
drifted schema, aligned by ``operators/evolve.EvolutionAligner`` and
merged.  Every ``evolve_*`` entry must reproduce the LWW state of the
undrifted log row for row, so a wrong mapping, a lost cast or a
corrupted file shows up as a value mismatch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial

from pyspark.sql import functions as F

from ..schemas import TRANSCRIPT_SCHEMA
from .cdc import SQL_EVENTS_LOG, SQL_STATE, _events_changelog

#: FIXTURES.md §3 ``renamed``: change-schema name → upstream name.
RENAME = {
    "conv_id": "session_id",
    "turn_idx": "seq_no",
    "role": "speaker",
    "text": "content",
    "tool": "tool_name",
}


def _renamed(log):
    return log.select(
        "lsn", "op", "ts", *(F.col(c).alias(n) for c, n in RENAME.items())
    )


def _with_decoy(df):
    # hex digests: text-like, but nothing like any payload column's
    # character distribution
    return df.withColumn("session_tag", F.md5(F.col("lsn").cast("string")))


#: Each FIXTURES.md §3 fixture as a re-emission of a change-schema log.
FIXTURES = {
    "renamed": _renamed,
    "reordered": lambda log: log.select(
        "text", "tool", "conv_id", "ts", "role", "turn_idx", "lsn", "op"
    ),
    "retyped": lambda log: log.select(
        "lsn", "op",
        # ISO-8601 with microseconds and offset: the round trip is exact
        # whatever the session time zone
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("ts"),
        "conv_id",
        F.col("turn_idx").cast("string").alias("turn_idx"),
        "role", "text", "tool",
    ),
    "decoy": _with_decoy,
    "renamed_decoy": lambda log: _with_decoy(_renamed(log)),
}


def evolved_state(spark, sf_dir, fixture, mode):
    """Merge the first half of the events-derived log natively into an
    8-bucket ``mode`` table, then the second half re-emitted under
    ``FIXTURES[fixture]`` through the aligner (ledger in the scratch
    root); returns the table's full state."""
    from ..operators.evolve import EvolutionAligner
    from ..plans.table import SnapshotTable

    log = _events_changelog(spark, sf_dir)
    cut = log.count() // 2
    root = tempfile.mkdtemp(prefix="q_evolve_")
    try:
        table = SnapshotTable(
            spark, os.path.join(root, "t"), n_buckets=8, mode=mode
        )
        table.merge_apply(log.where(F.col("lsn") < cut), "b1")
        drifted = FIXTURES[fixture](log.where(F.col("lsn") >= cut))
        aligner = EvolutionAligner(table, os.path.join(root, "ledger.json"))
        table.merge_apply(aligner(drifted), "b2")
        rows = table.read().collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame([tuple(r) for r in rows], TRANSCRIPT_SCHEMA)


#: Drift must be invisible: every fixture lands on the undrifted log's
#: LWW state.
SQL_EVOLVED_STATE = f"""
WITH {SQL_EVENTS_LOG},
{SQL_STATE}
SELECT conv_id, turn_idx, role, text, tool, ts FROM state WHERE op <> 'D'
"""


def q_schema_evolution_mapping(spark, sf_dir):
    """The matcher alone: the ``renamed`` fixture over a generator log,
    aligned back to the change schema by value-distribution similarity
    (collector features + Hungarian assignment).  Deterministic; the
    decided mapping must equal FIXTURES.md §3's expected one."""
    from ..operators.evolve import decide_mapping
    from ..sources.generator import changes, expected_state

    base = changes(spark, 4000, n_conv=30, turns_per_conv=15)
    mapping = decide_mapping(FIXTURES["renamed"](base), expected_state(base))
    return spark.createDataFrame(
        sorted(mapping.items()), "incoming_col string, mapped_to string"
    )


SQL_SCHEMA_EVOLUTION_MAPPING = """
SELECT * FROM (VALUES
  ('content', 'text'), ('lsn', 'lsn'), ('op', 'op'),
  ('seq_no', 'turn_idx'), ('session_id', 'conv_id'),
  ('speaker', 'role'), ('tool_name', 'tool'), ('ts', 'ts')
) AS m(incoming_col, mapped_to)
"""


QUERIES = {
    "schema_evolution_mapping": q_schema_evolution_mapping,
    "evolve_renamed": partial(evolved_state, fixture="renamed", mode="mor"),
    "evolve_reordered": partial(evolved_state, fixture="reordered", mode="cow"),
    "evolve_retyped": partial(evolved_state, fixture="retyped", mode="mor"),
    "evolve_decoy": partial(evolved_state, fixture="decoy", mode="cow"),
    "evolve_renamed_decoy": partial(
        evolved_state, fixture="renamed_decoy", mode="cow"
    ),
}
ORACLE = {
    "schema_evolution_mapping": SQL_SCHEMA_EVOLUTION_MAPPING,
    **{n: SQL_EVOLVED_STATE for n in QUERIES if n.startswith("evolve_")},
}
