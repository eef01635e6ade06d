"""Source/sink surface as oracle-checkable queries (SURVEY.md §2.C
"Scans / sources"): CSV and JSON batch round-trips, a VARIANT scan of
JSON event properties, partitioned-parquet write + partition-pruned
read, and a genuine Structured Streaming execution whose result the
batch oracle verifies.

Round-trip queries materialize testdata into a deterministic scratch
dir (overwritten each run) and read it back through the format under
test — the values survive bit-for-bit (Spark's double formatting
round-trips), so the DuckDB oracle computes the same answer straight
from the parquet views.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

# per-process scratch root: two concurrent harness/bench runs on the
# same sf_dir must not overwrite each other's round-trip files mid-read
_SCRATCH = os.path.join(
    tempfile.gettempdir(), f"sms_sources_scratch_{os.getpid()}"
)


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch(sf_dir: str, tag: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_SCRATCH, key, tag)


def q_csv_source(spark, sf_dir):
    """CSV sink + scan: supplier → csv (header) → read with explicit
    schema → per-nation agg.  Exercises the text-format codec path and
    schema-on-read; doubles round-trip exactly (shortest-repr)."""
    path = _scratch(sf_dir, "supplier_csv")
    sup = _t(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(sup.schema).option("header", True).csv(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_bal"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


SQL_CSV_SOURCE = """
SELECT s_nationkey, count(*) AS n_suppliers,
       round(avg(s_acctbal), 4) AS avg_bal,
       min(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def q_json_source(spark, sf_dir):
    """JSON-lines sink + scan: nation ⋈ region → json → read back →
    region rollup.  Exercises the JSON codec with nested-free schema
    inference disabled (explicit schema, the scale-safe way)."""
    path = _scratch(sf_dir, "nation_json")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    joined.write.mode("overwrite").json(path)
    back = spark.read.schema(joined.schema).json(path)
    return (
        back.groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
            F.max("n_name").alias("last_nation"),
        )
        .orderBy("r_name")
    )


SQL_JSON_SOURCE = """
SELECT r_name, count(*) AS n_nations,
       min(n_name) AS first_nation,
       max(n_name) AS last_nation
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_partition_pruned_scan(spark, sf_dir):
    """Hive-style partitioned write + pruned read: orders partitioned by
    o_orderstatus; the filtered read touches only the 'F' directory
    (partition pruning — PartitionFilters in the scan, the layout the
    snapshot table uses per-bucket at 100 TB)."""
    path = _scratch(sf_dir, "orders_by_status")
    o = _t(spark, sf_dir, "orders")
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


SQL_PARTITION_PRUNED = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


def q_stream_aggregate(spark, sf_dir):
    """A real Structured Streaming execution: events re-materialized as
    file-stream input (2 segment files), readStream → groupBy agg →
    complete-mode memory sink, availableNow trigger drained to the end.
    The streaming result must equal the batch oracle over the same
    rows — micro-batch boundaries must not change the aggregate."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = _scratch(sf_dir, "events_stream_src")
    ev.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(src, "seg0")
    )
    ev.where(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(src, "seg1")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    # unique per call: a fixed global name collides across concurrent
    # runs sharing one SparkSession (memory sinks are session-global)
    sink = f"stream_aggregate_result_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).orderBy("event_type")


SQL_STREAM_AGGREGATE = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with watermarks + event-time range
    (view→purchase attribution: same user, purchase within 1 hour of a
    view).  Both sides are genuine readStreams over re-materialized
    segment files; the interval condition bounds the join state so the
    query runs with finite memory on an unbounded stream — the
    Structured Streaming surface a CDC enrichment join uses.  Joined
    pairs land append-mode in a memory sink; the returned aggregate
    must equal the batch oracle (micro-batch boundaries and watermark
    scheduling must not change the join result on a drained stream)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        # watermarks require TIMESTAMP (not NTZ); session TZ is UTC so
        # the cast is value-preserving
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src = _scratch(sf_dir, "events_ssj_src")
    ev.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(src, "seg0")
    )
    ev.where(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(src, "seg1")
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    views = (
        stream()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    buys = (
        stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    pairs = views.join(
        buys,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    sink = f"stream_stream_join_result_{uuid.uuid4().hex[:8]}"
    q = (
        pairs.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("v_user").alias("n_users"),
        F.sum(F.col("v_id") + F.col("p_id")).alias("id_sum"),
    )


SQL_STREAM_STREAM_JOIN = """
SELECT count(*) AS n_pairs,
       count(DISTINCT v.user_id) AS n_users,
       CAST(sum(v.event_id + p.event_id) AS BIGINT) AS id_sum
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
"""


def q_table_changes_source(spark, sf_dir):
    """CDC-out stream (streaming/pipeline.start_change_feed over the
    `table_changes` span source): :func:`queries.cdc.changelog_summary`'s
    table, with the feed after its first commit DRAINED through a
    checkpointed availableNow stream started at that version — each
    micro-batch's ``changes_between`` appended to parquet — instead of
    read in batch.  The stream computes no feed of its own, so it must
    reproduce ``cdc_changelog`` exactly and shares its oracle
    (queries/cdc.SQL_CDC_CHANGELOG).  Full-row parity with
    changes_between, redelivery jitter included, plus checkpointed
    resume are pinned in tests/test_table_changes_source.py."""
    from ..streaming.pipeline import drain_catchup, start_change_feed
    from .cdc import changelog_summary

    def streamed(table, v1, scratch):
        out = os.path.join(scratch, "feed")
        drain_catchup(
            lambda: start_change_feed(
                spark,
                table.root,
                lambda feed, _bid: feed.write.mode("append").parquet(out),
                os.path.join(scratch, "ckpt"),
                start_version=v1,
            )
        )
        return spark.read.parquet(out)

    return changelog_summary(spark, sf_dir, streamed)


def q_debezium_parse(spark, sf_dir):
    """Debezium envelope round-trip (sources/debezium.py): map events
    to canonical change rows, encode them as Debezium JSON envelopes
    (before/after images, source.lsn, c/u/d op codes), inject
    tombstones + a broken line + an unknown op, then parse back with
    ``parse_envelope``.  The oracle computes the same rows DIRECTLY
    from events with no JSON at all — a hash match proves envelope
    encode→decode is the identity on every mapped field (op mapping,
    before-image deletes, JSON string escaping via the embedded quote
    in ``text``, ms-truncated event time) and that junk lines are
    dropped.  Parse is from_json inside the scan stage: no UDF, no
    extra exchange at any scale."""
    from ..sources.debezium import parse_envelope, to_envelope

    ev = _t(spark, sf_dir, "events")
    m20 = F.col("event_id") % 20
    log = ev.select(
        F.col("event_id").alias("lsn"),
        F.when(m20 <= 13, "I").when(m20 <= 18, "U").otherwise("D").alias("op"),
        F.col("ts"),
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.col("event_id") % 50).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.lit('m"'), F.col("event_id").cast("string")).alias("text"),
        F.when(F.col("event_id") % 3 == 0, F.lit("search")).alias("tool"),
    )
    junk = spark.createDataFrame(
        [(None,), ("",), ('{"op":',), ('{"op":"x","after":null}',)],
        "value string",
    )
    parsed = parse_envelope(to_envelope(log).unionAll(junk))
    return parsed.select(
        "lsn",
        "op",
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_millis("ts").alias("ts_ms"),
    ).orderBy("lsn")


SQL_DEBEZIUM_PARSE = """
SELECT CAST(event_id AS BIGINT) AS lsn,
       CASE WHEN event_id % 20 <= 13 THEN 'I'
            WHEN event_id % 20 <= 18 THEN 'U'
            ELSE 'D' END AS op,
       'c' || CAST(user_id AS VARCHAR) AS conv_id,
       CAST(event_id % 50 AS INTEGER) AS turn_idx,
       event_type AS role,
       'm"' || CAST(event_id AS VARCHAR) AS text,
       CASE WHEN event_id % 3 = 0 THEN 'search' END AS tool,
       CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
FROM events
ORDER BY lsn
"""


def q_variant_extract(spark, sf_dir):
    """Spark 4 VARIANT type over semi-structured JSON: parse_json →
    binary variant → typed path extraction (variant_get) + missing-path
    safety (try_variant_get).  VARIANT is the engine-native way to scan
    heterogeneous JSON at scale — the shredded binary encoding avoids
    re-parsing the JSON text per field access (one parse, N typed
    gets), unlike get_json_object chains."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ex = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.try_variant_get("v", "$.absent", "bigint").alias("absent"),
    )
    return (
        ex.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("absent").isNull().cast("long")).alias("n_absent"),
        )
        .orderBy("event_type")
    )


SQL_VARIANT_EXTRACT = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       count(*) AS n_absent
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "csv_source": q_csv_source,
    "json_source": q_json_source,
    "debezium_parse": q_debezium_parse,
    "variant_extract": q_variant_extract,
    "partition_pruned_scan": q_partition_pruned_scan,
    "stream_aggregate": q_stream_aggregate,
    "stream_stream_join": q_stream_stream_join,
    "table_changes_source": q_table_changes_source,
}

def _sql_table_changes():
    # shared with cdc_changelog: the connector must reproduce
    # changes_between bit-for-bit, so the same LWW-diff oracle pins it
    from .cdc import SQL_CDC_CHANGELOG

    return SQL_CDC_CHANGELOG


ORACLE = {
    "csv_source": SQL_CSV_SOURCE,
    "json_source": SQL_JSON_SOURCE,
    "debezium_parse": SQL_DEBEZIUM_PARSE,
    "variant_extract": SQL_VARIANT_EXTRACT,
    "partition_pruned_scan": SQL_PARTITION_PRUNED,
    "stream_aggregate": SQL_STREAM_AGGREGATE,
    "stream_stream_join": SQL_STREAM_STREAM_JOIN,
    "table_changes_source": _sql_table_changes(),
}
