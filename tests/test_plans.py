"""Physical-plan hygiene golden tests (SURVEY.md §4.2).

The engine's scale posture relies on Catalyst doing specific things —
filter pushdown into the snapshot table's parquet scans (``lookup``,
``scan``), column pruning of projected reads, broadcast of small key
sets (``read_keys``), whole-stage codegen of the collapse aggregate,
and no Python evaluation inside JVM-only pipelines.  These tests pin
those properties so a regression (e.g. an accidental UDF or a cast
blocking pushdown) is caught at test time, not at 100 TB.
"""

import os
import re

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _plan(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    if mode == "formatted":
        return jqe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    return jqe.toString()


def _table(spark, root, mode="cow"):
    """An 8-bucket snapshot table holding one small applied batch."""
    from schema_matching_spark.operators.apply import apply_batch
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.sources.generator import changes

    table = SnapshotTable(spark, root, n_buckets=8, mode=mode)
    apply_batch(table, changes(spark, 2000, n_conv=20, turns_per_conv=10), "b0")
    return table


def _final_plan(df) -> str:
    df.collect()  # AQE settles the physical plan only once executed
    return _plan(df)


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path):
    """lookup's key predicate and a COW scan's ts window must be inside
    the parquet scan, not post-filters only (on MOR the ts residual sits
    after the LWW reduce, so only the key predicate can push there)."""
    for mode in ("cow", "mor"):
        table = _table(spark, str(tmp_path / mode), mode)
        plan = _final_plan(table.lookup("conv-00000001"))
        assert "EqualTo(conv_id,conv-00000001)" in plan, (mode, plan[:3000])
    table = _table(spark, str(tmp_path / "cow_scan"))
    lo = table.read().agg(F.max("ts")).first()[0]
    plan = _final_plan(table.scan(ts_min=lo))
    assert "GreaterThanOrEqual(ts," in plan, plan[:3000]


def test_column_pruning_in_scan(spark, tmp_path):
    """A COW read projected to the key reads only the key columns plus
    ``op`` (the tombstone filter) — never the payload."""
    table = _table(spark, str(tmp_path / "t"))
    plan = _final_plan(table.read().select("conv_id", "turn_idx"))
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, plan[:3000]
    for ln in schemas:
        assert "text" not in ln and "role" not in ln, ln


def test_small_dims_are_broadcast(spark, tmp_path):
    """read_keys' semi join against a batch-small key set is broadcast
    (no shuffle of the table's rows)."""
    table = _table(spark, str(tmp_path / "t"))
    keys = spark.createDataFrame([("conv-00000001",)], "conv_id string")
    plan = _final_plan(table.read_keys(keys))
    assert "BroadcastHashJoin LeftSemi" in plan, plan[:3000]


def test_whole_stage_codegen_covers_agg(spark):
    """The salted winners aggregate of the collapse runs in whole-stage
    codegen (formatted mode marks codegen'd operators with a '*')."""
    from schema_matching_spark.operators.salting import winners_join
    from schema_matching_spark.sources.generator import changes

    log = changes(spark, 10_000, n_conv=50, turns_per_conv=20, partitions=4)
    plan = _final_plan(winners_join(log, n_salts=4))
    assert "* HashAggregate" in plan, plan[:3000]


def test_cdc_collapse_plan_is_jvm_only(spark, tmp_path):
    """The CDC hot path must never fall out of the JVM: no row-at-a-time
    or Arrow Python evaluation nodes in collapse+merge reduce plans."""
    from schema_matching_spark.operators.salting import winners_join
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.sources.generator import changes

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    log = changes(spark, 10_000, n_conv=50, turns_per_conv=20, partitions=4)
    plan = _plan(table._bucket_collapse(winners_join(log, n_salts=4)))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_minhash_pipeline_is_jvm_only(spark):
    """Dedup signatures are built-ins end-to-end (the Python-free scale
    path) — a regression to interpreted/Python eval would show here."""
    from schema_matching_spark.functions.textops import minhash_signatures_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_signatures_text(docs, "doc_id", "text"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_partition_pruning_on_partitioned_layout(spark):
    """A filter on the partition column must prune directories (the
    snapshot table relies on the same mechanism per bucket)."""
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "plan_prune_check")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(1000)
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    df = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]


def test_merge_apply_broadcasts_small_change_sets(spark, tmp_path):
    """Incremental COW merge of a small batch: the union of the batch
    with the stored rows of exactly the buckets it touches goes through
    the bucket collapse; the lineage names those buckets and every
    other file entry is carried into the new snapshot unchanged."""
    from schema_matching_spark.operators.apply import apply_batch
    from schema_matching_spark.plans.table import SnapshotTable, bucket_expr
    from schema_matching_spark.sources.generator import changes

    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    apply_batch(table, changes(spark, 2000, n_conv=20, turns_per_conv=10), "b0")
    v = table.current_version()
    assert v == 1
    before = table.manifest()["files"]
    # second small batch (3 conversations) exercises the bucket-pruned
    # incremental path
    batch = changes(
        spark, 500, n_conv=20, turns_per_conv=10, lsn_start=2000
    ).where(F.col("conv_id").isin("conv-00000001", "conv-00000002", "conv-00000003"))
    apply_batch(table, batch, "b1")
    assert table.current_version() == 2
    m = table.manifest()
    assert m["lineage"][-1]["op"] == "merge"
    touched = {
        r["b"] for r in batch.select(bucket_expr(4).alias("b")).distinct().collect()
    }
    assert m["lineage"][-1]["affected_buckets"] == sorted(touched)
    untouched = [f for f in before if f["bucket"] not in touched]
    assert untouched  # 3 conversations cannot cover all 4 buckets
    assert [f for f in m["files"] if f["bucket"] not in touched] == untouched
    assert all(f["bucket"] in touched for f in m["files"] if f not in untouched)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Native bucketed layout (SURVEY.md §4.2 'bucketing for co-located
    joins'): both fact tables bucketed+sorted on the join key join with
    ZERO Exchange operators — the co-location strategy that removes the
    dominant shuffle of repeated big-fact joins at 100 TB."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (
        orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("b_lineitem")
    )
    try:
        joined = (
            spark.table("b_lineitem")
            .hint("merge")  # suppress broadcast: the point is co-location
            .join(
                spark.table("b_orders").hint("merge"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # bucketed scans feed the join pre-partitioned: the ONLY
        # Exchange in the plan tree is the final groupBy's
        tree = plan.split("(1) Scan")[0]
        assert tree.count("Exchange") == 1, tree
        # correctness identical to the unbucketed join
        expect = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_exact_dedup_shuffles_hashes_not_text(spark):
    """Scale pin (VERDICT r1): corpus_curation's exact dedup must key
    its shuffle on the map-side md5(norm) content hash, never on the
    raw or normalized text — the shuffle payload stays a fixed-width
    hash per row regardless of document size."""
    from schema_matching_spark.queries.dataprep import q_corpus_curation

    df = q_corpus_curation(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "hashpartitioning(text" not in plan
    assert "hashpartitioning(norm" not in plan


def test_bucket_collapse_is_single_exchange(spark):
    """plans/table.py _bucket_collapse: dedup + clustering must share
    ONE shuffle — the window's clustering is satisfied by the bucket
    repartition, so no second Exchange may appear."""
    from schema_matching_spark.plans.table import SnapshotTable
    from schema_matching_spark.sources.generator import changes

    import tempfile

    log = changes(spark, 5_000, n_conv=30, turns_per_conv=10, partitions=4)
    table = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="bcp_"), n_buckets=8
    )
    out = table._bucket_collapse(log.select(*__import__(
        "schema_matching_spark.plans.table", fromlist=["FILE_COLS"]
    ).FILE_COLS))
    out.collect()
    plan = _plan(out)
    # formatted AQE output repeats the tree (final + initial + operator
    # details) — count Exchanges in the FINAL tree only
    final_tree = plan.split("== Initial Plan ==")[0]
    n_exchanges = sum(
        1 for line in final_tree.splitlines() if line.strip().endswith("Exchange")
        or "+- Exchange" in line
    )
    assert "Window" in final_tree
    assert n_exchanges == 1, f"expected 1 Exchange, final tree:\n{final_tree}"
    # ...and its width is explicit, one wave of tasks, which AQE does
    # not coalesce: the window sort + write is CPU-bound however few
    # bytes it shuffles
    width = min(table.n_buckets, spark.sparkContext.defaultParallelism)
    assert re.search(
        rf"hashpartitioning\(_bucket#\d+, {width}\), REPARTITION_BY_NUM", plan
    ), plan
    assert "AQEShuffleRead" not in final_tree, final_tree


def test_compact_collapse_runs_one_wave(spark, tmp_path):
    """compact() of a multi-delta MOR table writes from a stage of
    ``min(n_buckets, defaultParallelism)`` tasks.  Left to AQE, the
    shuffle of a small table was coalesced by bytes into ONE task, so
    the window sort and the per-bucket parquet writes ran single-core."""
    from schema_matching_spark.operators.apply import apply_batch
    from schema_matching_spark.sources.generator import changes

    table = _table(spark, str(tmp_path / "t"), "mor")
    for i in (1, 2):
        log = changes(spark, 2000, n_conv=20, turns_per_conv=10,
                      lsn_start=i * 2000, partitions=2)
        apply_batch(table, log, f"b{i}")
    sc = spark.sparkContext
    sc.setJobGroup("compact-width", "compact-width")
    try:
        table.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    write_job = st.getJobInfo(max(st.getJobIdsForGroup("compact-width")))
    write_stage = st.getStageInfo(max(write_job.stageIds))
    width = min(table.n_buckets, sc.defaultParallelism)
    assert width > 1
    assert write_stage.numTasks == width


def test_latest_wins_aggs_are_hash_only(spark):
    """VERDICT r3 #6: the B4 demo queries must plan their aggregates as
    HashAggregate (narrow long-only buffers, production winners-join
    shape) — the old max_by(payload) shape fell back to SortAggregate /
    ObjectHashAggregate, degenerate at millions of keys."""
    from schema_matching_spark.queries.cdc import (
        q_latest_wins,
        q_salted_latest_wins,
    )

    for q in (q_latest_wins, q_salted_latest_wins):
        df = q(spark, SF_DIR)
        df.collect()
        plan = _plan(df)
        assert "HashAggregate" in plan
        assert "SortAggregate" not in plan, plan[:3000]
        assert "ObjectHashAggregate" not in plan, plan[:3000]
