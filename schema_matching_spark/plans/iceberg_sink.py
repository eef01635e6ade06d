"""Real-Iceberg sink adapter (SURVEY.md §7.3: "swap by configuration,
not rewrite").

This sandbox has no ``iceberg-spark-runtime`` jar, so SnapshotTable
implements the commit model from first principles.  On a cluster that
does ship the jar (catalog configured via
``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``),
this module is the drop-in apply stage: the same collapsed change set
feeds ``DataFrame.mergeInto`` (API verified present in PySpark 4.1.2)
with the same last-write-wins-by-lsn + delete-tombstone semantics the
snapshot table implements.

``iceberg_available`` gates at runtime; ``merge_into_iceberg`` raises
``IcebergUnavailableError`` with a actionable message otherwise —
nothing in the engine imports this module unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import KEY_COLS


class IcebergUnavailableError(RuntimeError):
    pass


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    """True iff an Iceberg SparkCatalog is configured AND its classes
    are on the classpath."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(impl)
        return True
    except Exception:
        return False


def merge_into_iceberg(
    spark: SparkSession,
    table_ident: str,
    collapsed: DataFrame,
    catalog: str = "iceberg",
) -> None:
    """Apply a collapsed change set (≤1 row per key, winning op/lsn —
    plans.table.lww_reduce output) to a real Iceberg table.

    Mirrors SnapshotTable.merge_apply semantics EXACTLY, including
    tombstone persistence — a winning op='D' is stored as a tombstone
    row, never physically deleted here:

    * matched AND source.lsn > target.lsn → update all (op='D' rows
      included: the tombstone with its lsn replaces the stored row and
      keeps guarding the key)
    * not matched → insert all (op='D' included: a delete arriving
      before its insert must still park its lsn on the key, or the
      late-arriving stale insert would resurrect it)
    * stale lsn (≤ stored) → no-op (idempotent redelivery)

    Readers filter ``op != 'D'`` — exactly SnapshotTable.read().
    Physical deletion of aged tombstones is a maintenance pass (the
    analogue of SnapshotTable.compact): ``DELETE FROM t WHERE op = 'D'
    AND lsn < <redelivery horizon>`` once no event that old can still
    arrive.

    Round-1 note: this used to translate op='D' into a physical MERGE
    DELETE + insert-if-not-matched, which drops the delete's lsn guard —
    a stale pre-delete event redelivered in a later batch would hit
    whenNotMatched and resurrect the key, and a delete arriving before
    its insert was silently lost.  Persisting tombstones restores the
    documented semantics (plans/table.py FILE_SCHEMA comment).

    The target table must carry the ``lsn`` and ``op`` columns (as
    SnapshotTable's FILE_SCHEMA does) for the same two-layer
    exactly-once guarantee.  Iceberg's own snapshot/manifest machinery
    replaces the JSON manifests; the streaming foreachBatch batch-id
    ledger is replaced by checking ``snapshot_id`` lineage or simply
    relying on lsn-LWW idempotence, which this MERGE preserves.
    """
    if not iceberg_available(spark, catalog):
        raise IcebergUnavailableError(
            f"no Iceberg catalog '{catalog}' on this cluster — add "
            "iceberg-spark-runtime to the classpath and set "
            f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog; "
            "until then plans.table.SnapshotTable provides the same commit "
            "model on plain parquet"
        )
    cond = " AND ".join(f"target.{k} = source.{k}" for k in KEY_COLS)
    (
        collapsed.alias("source")
        .mergeInto(f"{catalog}.{table_ident}", F.expr(cond))
        .whenMatched(F.expr("source.lsn > target.lsn"))
        .updateAll()
        .whenNotMatched()
        .insertAll()
        .merge()
    )


def read_iceberg_state(
    spark: SparkSession, table_ident: str, catalog: str = "iceberg"
) -> DataFrame:
    """Logical table state: tombstones filtered, exactly like
    SnapshotTable.read()."""
    return spark.table(f"{catalog}.{table_ident}").where(F.col("op") != "D")

