"""Training-data pipeline operators, part 2: sequence packing,
stratified sampling, benchmark-contamination checking.

These are the corpus-to-training-batch steps that run AFTER curation
(queries/dataprep.py): pack curated documents into fixed-size context
windows, resample the language mixture toward a target distribution,
and screen the training split against an eval/benchmark set for
n-gram contamination.  All three are pure JVM built-ins (no Python in
the hot path) and DuckDB-oracled end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: context-window size (tokens) for sequence packing.  Small enough
#: that sf0.01's ~50-token documents produce multiple packs per source.
PACK_TOKENS = 256

#: per-language keep rates (permille) for stratified sampling: the
#: corpus is ~44% English — downsample en, upsample the rest toward a
#: more balanced mixture.  Deterministic: membership is a pure function
#: of the document text (md5 bucket), so every run and every engine
#: samples the same rows.
SAMPLE_RATE_PERMILLE = {"en": 250}
SAMPLE_RATE_DEFAULT = 600


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_sequence_pack(spark, sf_dir):
    """Sequence packing: lay the corpus out as one contiguous token
    stream per source shard and chunk it into PACK_TOKENS-sized
    training context windows; report per-pack fill statistics.

    Each document is placed at the running token offset of its shard
    (cumulative sum over (source, doc_id) order) and attributed to the
    pack its first token lands in — the standard "concat then split"
    packing used to build LLM training batches without padding waste.

    Scale posture: the only shuffle is the per-source window, and the
    partition key IS the shard key — packing is embarrassingly parallel
    across sources/shards, never a global sort.  At 100 TB each shard's
    window sorts its own slice of doc ids; a global document order is
    deliberately NOT promised (packing semantics are per-shard).
    """
    d = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = d.select("source", "doc_id", n_tok.alias("n_tok")).withColumn(
        "start", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return (
        placed.groupBy(
            "source",
            F.floor(F.col("start") / PACK_TOKENS).cast("long").alias("pack_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tokens_started"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


SQL_SEQUENCE_PACK = f"""
WITH toks AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
), placed AS (
  SELECT source, doc_id, n_tok,
         COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM toks
)
SELECT source,
       CAST(floor(start / {PACK_TOKENS}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_started,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _hash_bucket(col):
    """Deterministic uniform bucket in [0, 1000) from document text —
    md5-derived so the DuckDB oracle computes the identical value
    (xxhash64 is not in the oracle dialect).  24 bits of hash → bucket
    bias is < 2^-14, irrelevant for sampling."""
    return F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % 1000


def q_stratified_sample(spark, sf_dir):
    """Stratified (per-language) deterministic sampling: rebalance the
    corpus mixture by keeping each document iff its content-hash bucket
    falls under its language's target rate.  Hash-gated sampling — not
    `df.sample()` — so membership is reproducible across runs, engines,
    and cluster sizes, and a re-run of the pipeline selects the exact
    same training subset (the property a data-governance audit needs).

    Scale posture: one map-side predicate + one hash aggregation; no
    shuffle of text, no RNG state, no driver involvement.
    """
    d = _docs(spark, sf_dir)
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for lang, permille in SAMPLE_RATE_PERMILLE.items():
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    kept = _hash_bucket(F.col("text")) < rate
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
            F.max(F.when(kept, F.md5("text"))).alias("kept_md5"),
        )
        .orderBy("lang")
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH h AS (
  SELECT lang, n_chars, text,
         CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 1000 AS bucket,
         CASE lang WHEN 'en' THEN {SAMPLE_RATE_PERMILLE["en"]}
                   ELSE {SAMPLE_RATE_DEFAULT} END AS rate
  FROM documents
)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars,
       max(CASE WHEN bucket < rate THEN md5(text) END) AS kept_md5
FROM h
GROUP BY lang
ORDER BY lang
"""


def _word_gram_hashes(df, n: int = 8):
    """Distinct md5 hashes of word n-grams per row (plus carried
    columns).  Word-level grams are robust to character-offset shifts
    (a copied passage re-aligns at the first whitespace), unlike
    fixed-offset character windows."""
    words = F.split(F.trim("text"), r"\s+")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn("gh", F.explode(grams)).withColumn("gh", F.md5("gh"))


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination screen: flag training documents sharing
    any word 8-gram with the held-out benchmark/eval split — the
    decontamination pass every LLM training-data pipeline runs before
    a corpus ships.

    The testdata has no real contamination, so the query plants some
    deterministically: docs with doc_id % 97 == 0 form the benchmark;
    the training split is everything else PLUS a shifted copy
    (``substring(text, 30)``) of each benchmark doc under a new id —
    a partial passage copy, which character-aligned hashes would
    miss but word grams catch from the second word onward.

    Scale posture: the benchmark side is tiny relative to the corpus
    (eval sets are MBs; corpora are TBs) — its distinct gram-hash set
    is broadcast, so the screen is a map-side semi join over the
    training grams: no shuffle of the corpus, no text in the join keys
    (16-byte md5 only).
    """
    d = _docs(spark, sf_dir)
    is_bench = F.pmod("doc_id", F.lit(97)) == 0
    bench = d.where(is_bench)
    train = d.where(~is_bench).select("doc_id", "source", "text").unionByName(
        bench.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            "source",
            F.expr("substring(text, 30)").alias("text"),
        )
    )
    bgrams = _word_gram_hashes(bench.select("text")).select("gh").distinct()
    tgrams = _word_gram_hashes(train).select("doc_id", "source", "gh").distinct()
    hits = tgrams.join(F.broadcast(bgrams), "gh", "inner")
    totals = train.groupBy("source").agg(F.count("*").alias("n_train"))
    per_src = hits.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_contaminated"),
        F.count("*").alias("n_gram_hits"),
    )
    return (
        totals.join(per_src, "source", "left")
        .select(
            "source",
            "n_train",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce("n_gram_hits", F.lit(0)).alias("n_gram_hits"),
        )
        .orderBy("source")
    )


SQL_CONTAMINATION_CHECK = """
WITH bench AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 97 = 0
), train AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 200000, source, substr(text, 30) FROM bench
), bgrams AS (
  SELECT DISTINCT md5(g) AS gh FROM (
    SELECT unnest([array_to_string(w[i+1:i+8], ' ')
                   for i in range(greatest(0, len(w) - 7))]) AS g
    FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w FROM bench)
  )
), tgrams AS (
  SELECT DISTINCT doc_id, source, md5(g) AS gh FROM (
    SELECT doc_id, source,
           unnest([array_to_string(w[i+1:i+8], ' ')
                   for i in range(greatest(0, len(w) - 7))]) AS g
    FROM (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\\s+') AS w FROM train)
  )
), hits AS (
  SELECT t.doc_id, t.source FROM tgrams t JOIN bgrams b USING (gh)
)
SELECT tr.source, tr.n_train,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       COALESCE(h.n_gram_hits, 0) AS n_gram_hits
FROM (SELECT source, count(*) AS n_train FROM train GROUP BY source) tr
LEFT JOIN (SELECT source, count(DISTINCT doc_id) AS n_contaminated,
                  count(*) AS n_gram_hits
           FROM hits GROUP BY source) h USING (source)
ORDER BY tr.source
"""


#: sliding-window chunking: CHUNK_TOKENS-sized windows every
#: CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE).  Sized
#: so sf0.01's ~50-token documents produce multiple overlapping chunks.
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking with overlap: split every document into
    CHUNK_TOKENS-word windows advancing CHUNK_STRIDE words at a time
    (the RAG / long-context preprocessing step).  The oracle checks the
    TRANSFORM, not just counts: each chunk's md5 must match DuckDB's
    md5 of the identically sliced text.

    Scale posture: zero shuffle — chunk enumeration is a map-side
    `sequence` + posexplode and the window slice is an array `slice`;
    output order is (doc_id, chunk_idx), produced by the final sort
    only.  Chunk count math is all-integer (ceil via positive floor
    div), so every engine enumerates identical windows.
    """
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    d = _docs(spark, sf_dir)
    prepared = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).withColumn(
        "last_idx",
        F.expr(
            f"IF(size(w) <= {c}, 0L, ((size(w) - {c} - 1) div {s}) + 1L)"
        ),
    )
    chunks = (
        prepared.select(
            "doc_id",
            "w",
            F.explode(F.expr("sequence(0L, last_idx)")).alias("chunk_idx"),
        )
        .withColumn("cw", F.expr(f"slice(w, chunk_idx * {s} + 1, {c})"))
        .select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "cw")
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("cw").cast("long").alias("chunk_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


SQL_DOC_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), bounds AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= {CHUNK_TOKENS} THEN 0
              ELSE (len(w) - {CHUNK_TOKENS} - 1) // {CHUNK_STRIDE} + 1
         END AS last_idx
  FROM toks
), chunks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         w[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS cw
  FROM (SELECT doc_id, w, unnest(range(0, last_idx + 1)) AS i FROM bounds)
)
SELECT doc_id, chunk_idx,
       CAST(len(cw) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
"""


QUERIES = {
    "sequence_pack": q_sequence_pack,
    "stratified_sample": q_stratified_sample,
    "contamination_check": q_contamination_check,
    "doc_chunks": q_doc_chunks,
}

ORACLE = {
    "sequence_pack": SQL_SEQUENCE_PACK,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "contamination_check": SQL_CONTAMINATION_CHECK,
    "doc_chunks": SQL_DOC_CHUNKS,
}
