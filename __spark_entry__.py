"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine blueprint: SURVEY.md; implementation: schema_matching_spark/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CDC replay at sf0.001 (change log from the events
    table → duplicate delivery → LWW collapse → exactly-once merge into
    a snapshot table); returns the per-role aggregate of the final
    state (stable schema, >0 rows)."""
    from schema_matching_spark.queries.cdc import q_cdc_replay_state

    return q_cdc_replay_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from schema_matching_spark.queries import registry

    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each queries() key (omissions ⇒
    rows-only check for non-SQL-expressible engine internals)."""
    from schema_matching_spark.queries import registry

    return registry.all_oracles()
