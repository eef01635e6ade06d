"""Incremental near-duplicate index maintenance from the change feed.

This closes the loop between the engine's two pillars: the CDC change
feed (``changes_between``, tailed by streaming/pipeline.start_change_feed)
and the corpus-curation operators (functions/textops.py).  A
large-scale training-data pipeline cannot re-run MinHash over the whole
corpus every time documents arrive — the near-dup INDEX itself must be
a maintained derived table:

    bronze (transcripts) ──change feed──▶ signature index (SnapshotTable)

Each upstream insert/update recomputes ONLY that document's MinHash/LSH
band buckets (a pure function of its post-image text, carried by the
feed — no bronze read at all); an upstream delete tombstones the index
row.  The index is an ordinary SnapshotTable, so the hop inherits
exactly-once (checkpoint offsets + applied-batch ledger), time travel,
compaction, and its own change feed — a bronze → index chain composes
like any medallion hop (streaming/derived.py).

Index row shape (reusing the transcript row machinery, like the gold
rollup): key = the upstream (conv_id, turn_idx); ``role='sig'``;
``text`` = JSON long-array of the document's LSH band buckets; ``lsn``
carried from the upstream feed, so latest-wins collapse keeps exactly
the newest signature per document.

Probing (``near_dup_candidates``) is bucket-local: explode the probe
docs' band arrays, explode the index rows' stored arrays, join on
(band, bucket) — never an O(n²) comparison, and only candidates pay an
exact-Jaccard confirm (functions/textops.jaccard_pairs).

Scale posture: signature computation is the codegen'd offset-explode
substring path (minhash_signatures_text — no shingle arrays), per-batch
cost is O(changed docs), and the band-bucket join shuffles 16-byte
keys.  At 100 TB the index table is ~n_docs × (8 longs + key) — a
fraction of a percent of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import ArrayType, LongType

from ..functions.textops import (
    band_bucket_array,
    minhash_signatures_text,
)
from ..plans.table import SnapshotTable
from .pipeline import start_change_feed

#: signature parameters — fixed per index (changing them requires a
#: rebuild, like changing a tokenizer); 32 hashes / 8 bands of 4 rows
#: targets the s-curve threshold around Jaccard ~0.56.
SIG_K = 5
SIG_HASHES = 32
SIG_BANDS = 8
SIG_ROWS_PER_BAND = 4

def document_band_buckets(docs: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, buckets: array<long>) for transcript-shaped
    rows — the pure signature function both the maintenance hop and the
    probe side share, so index contents and probes can never drift."""
    key = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    keyed = docs.select(
        "conv_id", "turn_idx", key.alias("_id"), F.coalesce("text", F.lit("")).alias("_text")
    )
    sigs = minhash_signatures_text(
        keyed.select("_id", "_text"), "_id", "_text", k=SIG_K, n_hashes=SIG_HASHES
    )
    buckets = sigs.select(
        "_id", band_bucket_array("sig", SIG_BANDS, SIG_ROWS_PER_BAND).alias("buckets")
    )
    return (
        keyed.select("conv_id", "turn_idx", "_id")
        .join(buckets, "_id")
        .select("conv_id", "turn_idx", "buckets")
    )


def signature_events(feed: DataFrame) -> DataFrame:
    """Map one changelog micro-batch to the change events maintaining
    the signature index: upserts recompute the document's band buckets
    from the post-image text IN the feed (zero upstream reads); deletes
    tombstone the key.  ``lsn`` rides along from the feed, so replays
    and out-of-order redelivery collapse exactly like any merge."""
    deletes = feed.where(F.col("change_type") == "delete").select(
        F.lit("D").alias("op"),
        "lsn",
        "conv_id",
        "turn_idx",
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    upserts = feed.where(F.col("change_type") != "delete")
    sig_rows = document_band_buckets(upserts).withColumnRenamed(
        "buckets", "_buckets"
    )
    upsert_events = (
        upserts.join(sig_rows, ["conv_id", "turn_idx"])
        .select(
            F.lit("U").alias("op"),
            "lsn",
            "conv_id",
            "turn_idx",
            F.lit("sig").alias("role"),
            F.to_json(F.col("_buckets")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            "ts",
        )
    )
    return upsert_events.unionByName(deletes)


def index_buckets(index: SnapshotTable, version: int | None = None) -> DataFrame:
    """The live index as (conv_id, turn_idx, band, bucket) rows."""
    rows = index.read(version).select(
        "conv_id",
        "turn_idx",
        F.from_json("text", ArrayType(LongType())).alias("buckets"),
    )
    return rows.select(
        "conv_id", "turn_idx", F.posexplode("buckets").alias("band", "bucket")
    )


def near_dup_candidates(
    index: SnapshotTable,
    probes: DataFrame,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-duplicates of ``probes`` (transcript-shaped rows
    with conv_id/turn_idx/text) against the maintained index: pairs
    sharing any LSH band bucket.  Returns (probe_conv_id,
    probe_turn_idx, index_conv_id, index_turn_idx), self-matches
    excluded.  Downstream confirms with exact Jaccard
    (functions/textops.jaccard_pairs) — candidates only, never the
    corpus.

    Hot-bucket guard (VERDICT r3): index-side membership of every
    (band, bucket) is bounded to ``bucket_cap`` deterministic
    representatives (textops.cap_hot_buckets), so one degenerate bucket
    — thousands of boilerplate/empty documents sharing a band — yields
    at most ``n_probes_in_bucket x cap`` candidates instead of going
    quadratic on one reducer.  Defaults to textops.DEFAULT_BUCKET_CAP.
    """
    from ..functions.textops import DEFAULT_BUCKET_CAP, cap_hot_buckets

    if bucket_cap is None:
        bucket_cap = DEFAULT_BUCKET_CAP
    probe_rows = document_band_buckets(probes).select(
        F.col("conv_id").alias("probe_conv_id"),
        F.col("turn_idx").alias("probe_turn_idx"),
        F.posexplode("buckets").alias("band", "bucket"),
    )
    idx = index_buckets(index).select(
        F.col("conv_id").alias("index_conv_id"),
        F.col("turn_idx").alias("index_turn_idx"),
        "band",
        "bucket",
    )
    idx = cap_hot_buckets(
        idx.withColumn(
            "_id", F.concat_ws("#", "index_conv_id", "index_turn_idx")
        ),
        bucket_cap,
        "_id",
    ).drop("_id")
    pairs = probe_rows.join(idx, ["band", "bucket"]).where(
        (F.col("probe_conv_id") != F.col("index_conv_id"))
        | (F.col("probe_turn_idx") != F.col("index_turn_idx"))
    )
    return pairs.select(
        "probe_conv_id", "probe_turn_idx", "index_conv_id", "index_turn_idx"
    ).distinct()


def confirmed_near_dups(
    index: SnapshotTable,
    bronze: SnapshotTable,
    probes: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Candidates from :func:`near_dup_candidates`, confirmed with
    exact k-shingle Jaccard — the full probe path a dedup gate runs on
    arriving documents.  Only candidate pairs pay the exact confirm,
    and only the candidate index docs' hash buckets are read from
    bronze (``read_keys`` — never a corpus scan).  Returns candidate
    pairs with ``jac >= threshold``."""
    from ..functions.textops import jaccard_pairs, shingle_hash_rows

    cand = near_dup_candidates(index, probes)
    idx_keys = cand.select(
        F.col("index_conv_id").alias("conv_id"),
        F.col("index_turn_idx").alias("turn_idx"),
    ).distinct()
    key = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    idx_docs = bronze.read_keys(idx_keys).select(
        key.alias("_id"), "text"
    )
    probe_docs = probes.select(key.alias("_id"), "text")
    # shingle-hash rows for both sides; ids are disjoint namespaces
    # ("p:" / "i:" prefixes) so a probe that equals an indexed doc
    # still forms a pair
    shr = (
        probe_docs.select(F.concat(F.lit("p:"), F.col("_id")).alias("_id"), "text")
        .unionByName(
            idx_docs.select(F.concat(F.lit("i:"), F.col("_id")).alias("_id"), "text")
        )
    )
    shr = shingle_hash_rows(shr, "_id", "text", k=SIG_K)
    # the (id_a, id_b) pair frame in the prefixed namespace
    pair_ids = cand.select(
        F.concat(
            F.lit("p:"), F.concat_ws("#", "probe_conv_id", "probe_turn_idx")
        ).alias("id_a"),
        F.concat(
            F.lit("i:"), F.concat_ws("#", "index_conv_id", "index_turn_idx")
        ).alias("id_b"),
        "probe_conv_id",
        "probe_turn_idx",
        "index_conv_id",
        "index_turn_idx",
    )
    jac = jaccard_pairs(shr, pair_ids.select("id_a", "id_b"), id_col="_id")
    return (
        pair_ids.join(jac, ["id_a", "id_b"])
        .where(F.col("jac") >= threshold)
        .select(
            "probe_conv_id",
            "probe_turn_idx",
            "index_conv_id",
            "index_turn_idx",
            "jac",
        )
    )


def start_dedup_index_stream(
    spark: SparkSession,
    bronze_root: str,
    index: SnapshotTable,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail ``bronze_root``'s change feed and maintain ``index`` as the
    corpus's MinHash/LSH signature index.  Same hop contract as
    start_derived_stream: bounded catch-up with ``available_now=True``
    (drive through streaming/pipeline.drain_catchup), exactly-once per
    micro-batch."""
    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        index.merge_apply(signature_events(batch_df), batch_id)

    return start_change_feed(
        spark, bronze_root, apply_fn, checkpoint_dir, available_now
    )
