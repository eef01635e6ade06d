"""CDC-out connector: the snapshot table's change feed as a micro-batch
stream (`table_changes`), so a downstream pipeline can tail the LAKE
TABLE's net changes the way this engine tails the upstream WAL — the
Delta/Iceberg "table as a streaming source of its own change feed"
shape, on PySpark 4's Python DataSource API.

The stream carries SPANS, not rows: offsets are snapshot versions
(``{"version": n}``, the pointer read once per trigger) and each
micro-batch is one ``(v_from, v_to)`` row naming the snapshots
committed since the last one.  The consumer turns the span into the
feed with ``SnapshotTable.changes_between(v_from, v_to)`` —
``streaming/pipeline.start_change_feed`` is that consumer — so the
stream, batch readers and every downstream hop share the one changelog
implementation (same LWW winner, same payload under redelivery).

    st = (spark.readStream.format("table_changes")
          .option("path", table_root).load())   # v_from long, v_to long

The source is replayable from any retained snapshot (``commit`` is a
no-op); ``expire_snapshots`` bounds the replay window exactly as it
bounds time travel.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ..plans.table import ref_version

SCHEMA = "v_from long, v_to long"


class _SpanReader(DataSourceStreamReader):
    """Version-offset micro-batch stream: each trigger is the snapshot
    span committed since the last one."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("table_changes requires .option('path', table_root)")
        self.start = int(options.get("start_version", 0))

    def initialOffset(self):
        return {"version": self.start}

    def latestOffset(self):
        return {"version": ref_version(self.root)}

    def partitions(self, start, end):
        return [InputPartition((start["version"], end["version"]))]

    def read(self, partition):
        yield partition.value

    def commit(self, end):
        pass  # replayable from any retained snapshot: nothing to ack


class TableChangesDataSource(DataSource):
    """format name: ``table_changes``."""

    @classmethod
    def name(cls):
        return "table_changes"

    def schema(self):
        return SCHEMA

    def streamReader(self, schema):
        return _SpanReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TableChangesDataSource)
