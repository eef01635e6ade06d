"""Automatic schema-evolution mapping (SURVEY.md §2.B B7 = §2.A A8-A14).

When upstream columns are renamed, reordered, or retyped, align the
incoming change-batch columns to the target change schema *by value
distribution* before the merge stage — the engine's distinguishing
feature, lifted from the reference's value-similarity matcher
(north_star, BASELINE.json:L6).

Policy:
1. exact-name matches stick (a same-named column is trusted, even if it
   needs a type cast — the 'retyped' fixture);
2. remaining incoming columns × remaining target columns are matched by
   collector-feature distance (functions/collectors.py) + Hungarian
   assignment (functions/assignment.py);
3. unmatched incoming columns (decoys) are dropped; unmatched target
   payload columns become NULL;
4. everything is cast to the target change schema's types
   (ANSI ``cast`` — a mapping that casts uncleanly should fail loudly,
   not corrupt the lake);
5. the decided mapping is persisted to a JSON ledger keyed by the
   incoming column-set fingerprint, so replays after a crash re-use the
   decision deterministically instead of re-deriving it from a possibly
   different sample (SURVEY.md §3.2).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.assignment import best_mapping
from ..functions.collectors import column_features, distance_matrix
from ..plans.table import SnapshotTable
from ..schemas import CHANGE_SCHEMA

#: columns whose values are engine metadata, not transcript payload —
#: only matchable by name (their value distributions are generic).
META_COLS = {"lsn", "op"}


def schema_fingerprint(cols: list[str]) -> str:
    return ",".join(sorted(cols))


def decide_mapping(
    batch: DataFrame,
    reference: DataFrame,
    target_cols: list[str] | None = None,
    sample_rows: int = 20000,
    unmatched_cost: float = 0.35,
) -> dict[str, str | None]:
    """Map each incoming column to a target change-schema column.

    ``reference`` supplies target value distributions — the current
    table state re-shaped to change-schema column names (plus ts).
    """
    tgt_cols = target_cols or [f.name for f in CHANGE_SCHEMA.fields]
    src_cols = list(batch.columns)

    mapping: dict[str, str | None] = {}
    for c in src_cols:
        if c in tgt_cols:
            mapping[c] = c
    taken = set(mapping.values())
    open_src = [c for c in src_cols if c not in mapping]
    open_tgt = [
        c for c in tgt_cols if c not in taken and c not in META_COLS
        and c in reference.columns
    ]
    if open_src and open_tgt:
        src_feats = column_features(batch, open_src, sample_rows)
        tgt_feats = column_features(reference, open_tgt, sample_rows)
        s_cols, t_cols, dist = distance_matrix(src_feats, tgt_feats)
        mapping.update(best_mapping(s_cols, t_cols, dist, unmatched_cost))
    else:
        for c in open_src:
            mapping[c] = None
    return mapping


def apply_mapping(
    batch: DataFrame,
    mapping: dict[str, str | None],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Project the batch onto the target change schema, casting types.
    ``keep`` appends passthrough columns (must not collide with change
    schema names) after the canonical ones."""
    by_target = {t: s for s, t in mapping.items() if t is not None}
    cols = []
    for field in CHANGE_SCHEMA.fields:
        src = by_target.get(field.name)
        if src is None:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif field.name == "ts":
            # ISO-8601 strings (retyped fixture) need to_timestamp, and a
            # straight cast handles native timestamps — to_timestamp does both.
            cols.append(F.to_timestamp(F.col(src)).alias(field.name))
        else:
            cols.append(F.col(src).cast(field.dataType).alias(field.name))
    cols.extend(F.col(c) for c in keep)
    return batch.select(*cols)


class EvolutionAligner:
    """Drift detector + mapper + decision ledger: calling it projects a
    batch onto the change schema before the merge.  On a stream, both
    sources decode with the fixed change schema (renamed columns arrive
    as NULLs, never as new names), so stream drift reaches the aligner
    through ``start_cdc_stream(drift_aligner=...)``, which re-decodes
    the Debezium rows that lost their key (sources/debezium.py
    ``recover_drifted``)."""

    def __init__(
        self,
        table: SnapshotTable,
        ledger_path: str,
        sample_rows: int = 20000,
        unmatched_cost: float = 0.35,
    ):
        self.table = table
        self.ledger_path = ledger_path
        self.sample_rows = sample_rows
        self.unmatched_cost = unmatched_cost

    def _load_ledger(self) -> dict:
        try:
            with open(self.ledger_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _save_ledger(self, ledger: dict) -> None:
        os.makedirs(os.path.dirname(self.ledger_path) or ".", exist_ok=True)
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ledger, f, indent=1)
        os.replace(tmp, self.ledger_path)

    def _reference_frame(self) -> DataFrame:
        # Current table state doubles as the target value-distribution
        # reference; ts is both a payload and change-schema column.
        return self.table.read()

    def mapping_for(self, batch: DataFrame) -> dict[str, str | None]:
        """The ledgered (or freshly decided and then ledgered) mapping
        for this batch's column set — without projecting, for callers
        that need to keep passthrough columns (sources/debezium.py
        ``recover_drifted`` threads raw lines through so unmappable
        rows can return to the quarantine instead of silently
        vanishing)."""
        fp = schema_fingerprint(list(batch.columns))
        ledger = self._load_ledger()
        if fp in ledger:
            return ledger[fp]["mapping"]
        mapping = decide_mapping(
            batch,
            self._reference_frame(),
            sample_rows=self.sample_rows,
            unmatched_cost=self.unmatched_cost,
        )
        ledger[fp] = {"mapping": mapping, "columns": list(batch.columns)}
        self._save_ledger(ledger)
        return mapping

    def __call__(self, batch: DataFrame) -> DataFrame:
        # no drift — zero-cost fast path.  Types count, not just names:
        # a retyped batch under the change schema's names must still be
        # cast, or the merge commits files the table cannot read back.
        # Nullability may differ (a derived column is nullable).
        if [(f.name, f.dataType) for f in batch.schema.fields] == [
            (f.name, f.dataType) for f in CHANGE_SCHEMA.fields
        ]:
            return batch
        return apply_mapping(batch, self.mapping_for(batch))
