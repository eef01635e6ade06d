"""Dedup / text-analysis operator tests (driver brief: training-data
pipeline ops are first-class).  Recall checks for the hash-based ops the
DuckDB oracle can't express."""

from pyspark.sql import functions as F

from schema_matching_spark.functions import textops as T
from schema_matching_spark.queries import dataprep as D
from tests.conftest import SF_DIR


def test_minhash_lsh_finds_all_planted_near_dups(spark):
    row = D.q_minhash_lsh_dedup(spark, SF_DIR).collect()[0]
    n_planted = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.pmod("doc_id", F.lit(9)) == 0
    ).count()
    assert row["n_planted_found"] == n_planted  # 100% recall on planted dups
    assert row["n_confirmed_pairs"] >= n_planted
    assert row["avg_jaccard"] > 0.6


def test_simhash_finds_planted_near_dups(spark):
    row = D.q_simhash_dedup(spark, SF_DIR).collect()[0]
    n_planted = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.pmod("doc_id", F.lit(9)) == 0
    ).count()
    # simhash@hamming<=8 is an approximation; require >=80% recall
    assert row["n_planted_found"] >= 0.8 * n_planted


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzzzzz")], ["id", "t"]
    )
    out = df.select(
        "id", T.char_shingles("t", 5).alias("sh")
    )
    rows = {r["id"]: r["sh"] for r in out.collect()}
    assert rows[1] == ["abcde", "bcdef", "cdefg", "defgh"]
    jac = df.where("id=1").crossJoin(df.where("id=2").selectExpr("t as t2")).select(
        T.jaccard(T.char_shingles("t", 5), T.char_shingles(F.col("t2"), 5)).alias("j")
    ).collect()[0]["j"]
    assert jac == 1.0


def test_lang_id_runs_and_is_deterministic(spark):
    a = D.q_lang_id(spark, SF_DIR).collect()
    b = D.q_lang_id(spark, SF_DIR).collect()
    assert a == b
    assert sum(r["n"] for r in a) == 500


def test_lang_id_scoring_join_is_broadcast(spark):
    """VERDICT r2 #4: the <=300 x n_langs profile must broadcast into
    the scoring join — classification is a map-side lookup, never a
    corpus-wide shuffle on trigram."""
    from schema_matching_spark.queries import dataprep as D

    df = D.q_lang_id(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lang_id_sampled_training_path(spark, monkeypatch):
    """Above LANG_TRAIN_MAX_DOCS the trigram profiles train on a
    deterministic hash-sample; force that path and check the classifier
    still scores every document exactly once."""
    from schema_matching_spark.queries import dataprep as D

    monkeypatch.setattr(D, "LANG_TRAIN_MAX_DOCS", 10)
    rows = D.q_lang_id(spark, SF_DIR).collect()
    n_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    )
    assert sum(r["n"] for r in rows) == n_docs
    assert all(r["n"] > 0 for r in rows)


def test_repetition_filter_short_docs_match_oracle(spark, tmp_path):
    """ADVICE r3: docs with <2 words have zero bigrams — the Spark side
    must not flag them vacuously (0*10 >= 0) and the DuckDB oracle must
    not DROP them (old INNER JOIN vs bstat).  Run both sides over a
    planted short-doc corpus and require row-for-row agreement."""
    import duckdb

    rows = [
        (1, ""),                                # empty
        (2, "hello"),                           # 1 word, 0 bigrams
        (3, "yes yes"),                         # 1 bigram, repetitive
        (4, "one two three four five six seven eight nine ten eleven"),
        (5, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = [
        (
            r["doc_id"], r["total_words"], r["distinct_words"],
            r["top_word_count"], r["n_bigrams"], r["top_bigram_count"],
            bool(r["flagged"]),
        )
        for r in D.q_repetition_filter(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    exp = [
        (a, b, c, d, e, f, bool(g))
        for a, b, c, d, e, f, g in con.execute(
            D.SQL_REPETITION_FILTER
        ).fetchall()
    ]
    assert got == exp
    # the 1-word/empty docs are PRESENT on both sides (LEFT JOIN fix)
    assert [r[0] for r in got] == [1, 2, 3, 4, 5]
