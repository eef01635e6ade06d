"""SparkSession factory with scale-aware defaults.

Configs chosen for the 100TB design point (SURVEY.md §4.2):
* AQE on — runtime coalescing + skew-join splitting as defense-in-depth
  on top of our explicit salting (operators/salting.py).
* Arrow enabled and batch-sized — every Python-side compute path in this
  engine is a pandas/Arrow UDF (BASELINE.json input_hint: "no per-row
  Python").
* shuffle.partitions scaled to parallelism — on a real cluster this is
  set per-job by spark-submit; locally callers pass a width matched to
  the core count (the bench legs use bench.host_cpus()).
* File listing stays on the driver.  The snapshot table reads exact
  file paths its manifest names (plans/table.py ``_read_files``); past
  Spark's default of 32 paths, ``spark.read.parquet`` would start a
  Spark job with one task per path just to stat them — ~15 ms of task
  deserialisation each, over a second for a 160-file compaction on 4
  cores — for metadata the driver fetches in microseconds from a local
  or mounted store.  The cluster entry points under ``jobs/`` build
  their own sessions and keep Spark's parallel listing for remote
  object stores, where per-path latency is what that job hides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "schema_matching_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``.  On a real cluster, pass ``master=None``
    and let spark-submit own it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    # Fixed pre-touched heap: this sandbox's hypervisor demand-pages
    # fresh memory at ~0.3 GB/s (measured; warm pages read at 17 GB/s),
    # so heap growth mid-job stalls all executor threads.  Paying the
    # fault cost once at JVM start — standard production practice
    # anyway — keeps the timed sections on warm pages.
    java_opts = os.environ.get(
        "SPARK_GRAFT_JAVA_OPTS", f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        # zstd for shuffle AND parquet: ~2x fewer bytes than lz4/snappy on
        # text-heavy transcripts — fewer shuffle pages locally, less
        # network + storage on a real cluster (the modern lake default).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (Spark's legacy default) carries NO parquet min/max
        # statistics — TIMESTAMP_MICROS restores footer stats, which the
        # snapshot table records in its manifests for time-range file
        # skipping (plans/table.py scan()).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Latest-wins collapse fetches payloads by joining back on the
        # winning (key, lsn); sort-merge would re-sort the full-width log
        # — prefer shuffled-hash (build side = the narrow winners set).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # list manifest-named paths on the driver, never in a Spark job
        # (module docstring)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        # Python DataSource planning spawns a simple (non-daemon) worker
        # on the driver.  Its accept window is JVM-hardcoded at 10 s
        # (PythonWorkerFactory.createSimpleWorker) — which a saturated
        # box can exceed — so spawn failures are handled by restart
        # (streaming/pipeline.py drain_catchup); this only widens the
        # auth-handshake timeout once the worker HAS connected, cheap
        # insurance against the same stall hitting the handshake.
        .config("spark.python.authenticate.socketTimeout", "120s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
