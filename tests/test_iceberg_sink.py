"""Iceberg swap-path contract (plans/iceberg_sink.py, VERDICT r3 #8).

No Iceberg jar ships in this sandbox, so ``merge_into_iceberg`` cannot
run live — but its MERGE must stay clause-for-clause equivalent to
SnapshotTable.merge_apply or the documented "swap by configuration"
story rots silently.  Two layers:

1. Clause capture on fakes (Spark-free): the exact merge condition,
   whenMatched guard, and clause kinds the adapter emits — including
   the tombstone rule: NO delete clause, op='D' rows update/insert like
   any row.
2. Semantics parity on the real engine: a pure-Python executor that
   applies EXACTLY the captured clauses to a dict replays the same
   change batches as SnapshotTable.merge_apply; final visible states
   must match row-for-row (I/U/D, stale redelivery, delete-before-
   insert).
"""

import pytest

from schema_matching_spark.plans import iceberg_sink as sink
from schema_matching_spark.schemas import KEY_COLS


class FakeMergeChain:
    """Duck-typed DataFrame + MergeIntoWriter recording the clauses."""

    def __init__(self):
        self.calls = []
        self.merge_cond = None
        self.table = None
        self.merged = False

    # DataFrame surface
    def alias(self, name):
        self.calls.append(("alias", name))
        return self

    def mergeInto(self, table, cond):
        self.table = table
        self.merge_cond = cond
        return self

    # MergeIntoWriter surface
    def whenMatched(self, cond=None):
        self.calls.append(("whenMatched", cond))
        return self

    def whenNotMatched(self, cond=None):
        self.calls.append(("whenNotMatched", cond))
        return self

    def whenNotMatchedBySource(self, cond=None):
        self.calls.append(("whenNotMatchedBySource", cond))
        return self

    def updateAll(self):
        self.calls.append(("updateAll", None))
        return self

    def insertAll(self):
        self.calls.append(("insertAll", None))
        return self

    def delete(self):
        self.calls.append(("delete", None))
        return self

    def merge(self):
        self.merged = True


class _Jvm:
    class java:
        class lang:
            class Class:
                @staticmethod
                def forName(name):
                    return object


class _Conf:
    def get(self, key, default=None):
        return "java.lang.Object"


class _Sc:
    _jvm = _Jvm()


class FakeSpark:
    """Just enough for iceberg_available() to return True."""

    conf = _Conf()
    sparkContext = _Sc()


@pytest.fixture()
def captured(monkeypatch):
    """Run merge_into_iceberg against fakes; return the recorded chain."""

    class _F:  # F.expr passthrough so conditions capture as raw SQL text
        @staticmethod
        def expr(s):
            return s

    monkeypatch.setattr(sink, "F", _F)
    chain = FakeMergeChain()
    sink.merge_into_iceberg(FakeSpark(), "db.transcripts", chain)
    return chain


def test_merge_condition_is_full_key_equality(captured):
    for k in KEY_COLS:
        assert f"target.{k} = source.{k}" in captured.merge_cond
    assert captured.table == "iceberg.db.transcripts"
    assert captured.merged


def test_clauses_match_snapshot_table_contract(captured):
    # EXACTLY: guarded update-all, unguarded insert-all — in that order.
    assert [c for c in captured.calls if c[0] != "alias"] == [
        ("whenMatched", "source.lsn > target.lsn"),
        ("updateAll", None),
        ("whenNotMatched", None),
        ("insertAll", None),
    ]


def test_no_physical_delete_clause(captured):
    """Tombstone persistence (the round-1 resurrection bug): op='D'
    must travel through updateAll/insertAll, never a MERGE DELETE —
    deleting would drop the lsn guard and let a stale redelivered
    insert resurrect the key."""
    kinds = [c[0] for c in captured.calls]
    assert "delete" not in kinds
    assert "whenNotMatchedBySource" not in kinds  # never touch idle keys


def test_unavailable_raises_actionable(monkeypatch):
    class _NoConf:
        def get(self, key, default=None):
            return None

    class NoCatalogSpark(FakeSpark):
        conf = _NoConf()

    with pytest.raises(sink.IcebergUnavailableError) as ei:
        sink.merge_into_iceberg(NoCatalogSpark(), "db.t", FakeMergeChain())
    assert "iceberg-spark-runtime" in str(ei.value)


# ---------------------------------------------------------------- layer 2


def _merge_clause_executor(state: dict, rows) -> None:
    """Apply EXACTLY the captured MERGE clauses to a {key: row} dict.

    This is the contract under test written as executable pseudocode:
    matched AND source.lsn > target.lsn → update all; not matched →
    insert all; otherwise no-op.  No special-casing of op='D'.
    """
    for r in rows:
        key = tuple(r[k] for k in KEY_COLS)
        if key in state:
            if r["lsn"] > state[key]["lsn"]:
                state[key] = r
        else:
            state[key] = r


def test_clause_semantics_match_merge_apply(spark, tmp_path):
    """Replaying the same collapsed batches through the pure-Python
    clause executor and through SnapshotTable.merge_apply must yield
    identical visible states (readers filter op != 'D' on both sides:
    read_iceberg_state mirrors SnapshotTable.read)."""
    from schema_matching_spark.operators.salting import winners_join
    from schema_matching_spark.plans.table import SnapshotTable, lww_reduce
    from schema_matching_spark.sources.generator import (
        changes,
        with_dup_delivery,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    state: dict = {}
    for i, (n, lsn0) in enumerate([(2000, 0), (800, 2000), (800, 1000)]):
        # third batch REPLAYS an lsn range below the applied horizon —
        # the stale-redelivery case the lsn guard exists for
        batch = with_dup_delivery(
            changes(
                spark, n, n_conv=25, turns_per_conv=8, lsn_start=lsn0,
                partitions=4,
            )
        )
        collapsed = lww_reduce(winners_join(batch))
        _merge_clause_executor(
            state, (r.asDict() for r in collapsed.collect())
        )
        table.merge_apply(batch, f"b{i}")

    # read() exposes logical columns only (no lsn/op) — compare the
    # full visible payload per key
    visible = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in table.read().collect()
    }
    expected = {
        k: (r["role"], r["text"], r["tool"])
        for k, r in state.items()
        if r["op"] != "D"
    }
    assert visible == expected
