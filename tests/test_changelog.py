"""Changelog scan (SnapshotTable.changes_between — Iceberg incremental
read parity): exact change feeds vs a pure-Python LWW diff oracle, in
both COW and MOR modes, across multi-commit spans; carried rows must
never leak."""

import os

import pytest
from pyspark.sql import functions as F

from schema_matching_spark.operators.apply import apply_batch
from schema_matching_spark.plans.table import SnapshotTable
from schema_matching_spark.sources.generator import changes


def _lww_state(rows):
    """key -> (lsn, op) winner via pure-Python max-lsn (test logs use
    unique lsns, so no tie-break needed)."""
    state = {}
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if k not in state or r["lsn"] > state[k][0]:
            state[k] = (r["lsn"], r["op"])
    return state


def _expected_changelog(from_rows, to_rows):
    """Classify per-key net changes between two LWW states."""
    s_from = _lww_state(from_rows)
    s_to = _lww_state(to_rows)
    out = {}
    for k, (lsn2, op2) in s_to.items():
        fr = s_from.get(k)
        if fr is not None and lsn2 <= fr[0]:
            continue  # key did not progress
        live_before = fr is not None and fr[1] != "D"
        if op2 == "D":
            if live_before:
                out[k] = ("delete", lsn2)
        else:
            out[k] = ("update" if live_before else "insert", lsn2)
    return out


def _collect_changelog(df):
    return {
        (r["conv_id"], r["turn_idx"]): (r["change_type"], r["lsn"])
        for r in df.collect()
    }


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changelog_exact_vs_python_diff(spark, tmp_path, mode):
    log1 = changes(spark, 4000, n_conv=40, turns_per_conv=12, partitions=4)
    log2 = changes(
        spark, 1500, n_conv=40, turns_per_conv=12, lsn_start=4000, partitions=4
    )
    table = SnapshotTable(spark, str(tmp_path / mode), n_buckets=8, mode=mode)
    apply_batch(table, log1, "b1")
    v1 = table.current_version()
    apply_batch(table, log2, "b2")
    v2 = table.current_version()

    rows1 = log1.collect()
    rows2 = rows1 + log2.collect()
    expected = _expected_changelog(rows1, rows2)
    actual = _collect_changelog(table.changes_between(v1, v2))
    assert actual == expected
    # sanity: the feed is a strict subset of the touched keys, i.e.
    # carried rows (COW rewrites whole buckets) never leak
    assert len(actual) < len(rows1)
    assert all(t in ("insert", "update", "delete") for t, _ in actual.values())


def test_changelog_multi_commit_span_and_empty(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="cow")
    logs = []
    lsn = 0
    for i, n in enumerate([3000, 800, 800, 800]):
        log = changes(
            spark, n, n_conv=30, turns_per_conv=10, lsn_start=lsn, partitions=4
        )
        logs.append(log.collect())
        apply_batch(table, log, f"b{i}")
        lsn += n
    v1, v4 = 1, table.current_version()
    flat = lambda k: [r for rows in logs[:k] for r in rows]
    expected = _expected_changelog(flat(1), flat(4))
    actual = _collect_changelog(table.changes_between(v1, v4))
    assert actual == expected
    # same-version span is an empty feed with the changelog schema
    empty = table.changes_between(v4, v4)
    assert empty.count() == 0
    assert empty.columns[0] == "change_type"
    # from genesis: every live key, each an insert
    genesis = table.changes_between(0)
    assert _collect_changelog(genesis) == _expected_changelog([], flat(4))
    assert genesis.count() == table.read().count()
    # a span across rebucket(): bucket ids are not comparable between
    # the two specs, so the from-side is the whole v1 state
    table.rebucket(16)
    log5 = changes(
        spark, 700, n_conv=30, turns_per_conv=10, lsn_start=lsn, partitions=4
    )
    logs.append(log5.collect())
    apply_batch(table, log5, "b4")
    expected = _expected_changelog(flat(1), flat(5))
    assert _collect_changelog(table.changes_between(v1)) == expected


def test_changelog_values_match_pure_sql(spark, tmp_path):
    """DuckDB mirror of the classification (rows-only-oracle pattern):
    the same generated log persisted to parquet, the expected feed
    derived in pure SQL, compared value-by-value."""
    import duckdb

    log1 = changes(spark, 3000, n_conv=25, turns_per_conv=10, partitions=4)
    log2 = changes(
        spark, 1200, n_conv=25, turns_per_conv=10, lsn_start=3000, partitions=4
    )
    p1, p2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    log1.write.parquet(p1)
    log2.write.parquet(p2)

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    apply_batch(table, log1, "b1")
    v1 = table.current_version()
    apply_batch(table, log2, "b2")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW l1 AS SELECT * FROM read_parquet('{p1}/*.parquet');"
        f"CREATE VIEW lall AS SELECT * FROM read_parquet('{p1}/*.parquet') "
        f"UNION ALL SELECT * FROM read_parquet('{p2}/*.parquet')"
    )
    expected = con.execute("""
        WITH s1 AS (
          SELECT conv_id, turn_idx, arg_max(op, lsn) AS op, max(lsn) AS lsn
          FROM l1 GROUP BY 1, 2
        ), s2 AS (
          SELECT conv_id, turn_idx, arg_max(op, lsn) AS op, max(lsn) AS lsn
          FROM lall GROUP BY 1, 2
        ), diff AS (
          SELECT s2.conv_id, s2.turn_idx, s2.op AS op2, s2.lsn AS lsn2,
                 s1.op AS op1, s1.lsn AS lsn1
          FROM s2 LEFT JOIN s1 USING (conv_id, turn_idx)
          WHERE s1.lsn IS NULL OR s2.lsn > s1.lsn
        )
        SELECT CASE
                 WHEN op2 = 'D' THEN 'delete'
                 WHEN op1 IS NOT NULL AND op1 <> 'D' THEN 'update'
                 ELSE 'insert'
               END AS change_type,
               count(*) AS n, max(lsn2) AS max_lsn
        FROM diff
        WHERE op2 <> 'D' OR (op1 IS NOT NULL AND op1 <> 'D')
        GROUP BY 1 ORDER BY 1
    """).fetchall()

    actual = [
        (r["change_type"], r["n"], r["max_lsn"])
        for r in table.changes_between(v1)
        .groupBy("change_type")
        .agg(F.count("*").alias("n"), F.max("lsn").alias("max_lsn"))
        .orderBy("change_type")
        .collect()
    ]
    assert actual == [tuple(r) for r in expected]


def _lww_full(rows):
    """key -> full winner row (payload included)."""
    state = {}
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if k not in state or r["lsn"] > state[k]["lsn"]:
            state[k] = r
    return state


def _expected_images(from_rows, to_rows):
    """Delta-CDF-style expected feed: set of
    (change_type, conv_id, turn_idx, role, text, tool, ts, lsn)."""
    s_from = _lww_full(from_rows)
    s_to = _lww_full(to_rows)
    out = set()

    def row(ct, r, lsn):
        out.add((ct, r["conv_id"], r["turn_idx"], r["role"], r["text"],
                 r["tool"], r["ts"], lsn))

    for k, new in s_to.items():
        old = s_from.get(k)
        if old is not None and new["lsn"] <= old["lsn"]:
            continue
        live_before = old is not None and old["op"] != "D"
        if new["op"] == "D":
            if live_before:
                row("delete", old, new["lsn"])  # old payload, tombstone lsn
        elif live_before:
            row("update_preimage", old, old["lsn"])
            row("update_postimage", new, new["lsn"])
        else:
            row("insert", new, new["lsn"])
    return out


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changelog_pre_post_images(spark, tmp_path, mode):
    log1 = changes(spark, 3000, n_conv=30, turns_per_conv=10, partitions=4)
    log2 = changes(
        spark, 1200, n_conv=30, turns_per_conv=10, lsn_start=3000, partitions=4
    )
    table = SnapshotTable(spark, str(tmp_path / mode), n_buckets=8, mode=mode)
    apply_batch(table, log1, "b1")
    v1 = table.current_version()
    apply_batch(table, log2, "b2")
    v2 = table.current_version()

    rows1 = log1.collect()
    rows2 = rows1 + log2.collect()
    expected = _expected_images(rows1, rows2)
    got = {
        (r["change_type"], r["conv_id"], r["turn_idx"], r["role"], r["text"],
         r["tool"], r["ts"], r["lsn"])
        for r in table.changes_between(v1, v2, images=True).collect()
    }
    assert got == expected
    # every update has exactly one pre and one post row
    pres = {(c, t) for ct, c, t, *_ in got if ct == "update_preimage"}
    posts = {(c, t) for ct, c, t, *_ in got if ct == "update_postimage"}
    assert pres == posts and pres
    # deletes exist in this op mix and carry the OLD (live) payload
    assert any(ct == "delete" for ct, *_ in got)
    # the default narrow feed is unchanged by the flag's existence
    narrow = _collect_changelog(table.changes_between(v1, v2))
    assert narrow == _expected_changelog(rows1, rows2)
