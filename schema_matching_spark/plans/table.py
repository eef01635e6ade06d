"""Iceberg-model snapshot table on parquet (SURVEY.md §7.3).

The north rule mandates an Iceberg sink; this sandbox has no Iceberg
runtime jar and no network, so this module implements the same commit
model from first principles:

* **immutable data files** (parquet), each owning exactly one hash
  bucket of the key space;
* a **JSON manifest** per snapshot version listing the live data files,
  the applied-batch ledger, and lineage;
* an **atomically-renamed pointer** (``_current.json`` via
  ``os.replace``) — the only mutable object, so readers always see a
  complete snapshot and a crash mid-commit leaves the previous snapshot
  intact (files without a committed manifest are invisible garbage).

Exactly-once has two layers:

1. the manifest's ``applied_batches`` ledger (batch_id → version) makes
   a replayed foreachBatch micro-batch a no-op;
2. each stored row carries its source ``lsn``, and MERGE is
   last-write-wins by lsn — so even a duplicate event smuggled into a
   *different* batch (e.g. redelivered beyond the dedup watermark)
   cannot regress a key to older data.  Applying any event is
   idempotent, in any batch, in any order.

Scale design: the table is hash-bucketed on ``conv_id`` into
``n_buckets`` buckets.  A merge touches only buckets containing changed
conversations — at 100 TB with (say) 8192 buckets and a micro-batch
touching 1% of conversations, ~99% of the table's files are carried
forward untouched in the new manifest; only affected buckets are read,
re-reduced, and rewritten.  The merge itself is one bucket window
(``_bucket_collapse``: a repartition on the bucket id, then a per-key
last-write-wins row_number inside each bucket) over (affected current
rows ∪ raw batch): current state contributes ≤1 row per key and the
batch at most its own micro-batch mass, so per-bucket sort input stays
bounded.  Every commit path — merge, overwrite, bootstrap, compact,
rebucket — ends in the single manifest writer ``_commit_merge``.  On a
cluster with
``iceberg-spark-runtime`` this sink swaps for ``DataFrame.mergeInto``
(API verified present in PySpark 4.1.2) by configuration — the public
surface below mirrors what it needs.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schemas import KEY_COLS, TRANSCRIPT_COLS, TRANSCRIPT_SCHEMA

#: physical file schema = logical transcript columns + source lsn + op.
#: op='D' rows are TOMBSTONES: a delete must remember its lsn, or a
#: stale pre-delete event redelivered beyond the dedup watermark would
#: resurrect the key.  read() filters tombstones; compact() ages them
#: out once they fall behind the redelivery horizon.
from pyspark.sql.types import StringType  # noqa: E402

FILE_SCHEMA = StructType(
    TRANSCRIPT_SCHEMA.fields
    + [StructField("lsn", LongType(), False), StructField("op", StringType(), False)]
)
FILE_COLS = [*TRANSCRIPT_COLS, "lsn", "op"]


def _pointer_file(root: str, ref: str) -> str:
    if ref == "main":
        return os.path.join(root, "_current.json")
    return os.path.join(root, "refs", f"{ref}.json")


def _read_pointer(path: str) -> int:
    """The version a ``{"version": N}`` pointer file names; 0 (nothing
    committed) when it does not exist."""
    try:
        with open(path) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        return 0


def ref_version(root: str, ref: str = "main") -> int:
    """Head version of ``ref`` in the table at ``root``, without opening
    a :class:`SnapshotTable` handle (the ``table_changes`` stream's
    latest offset reads it on every trigger)."""
    return _read_pointer(_pointer_file(root, ref))


def bucket_expr(n_buckets: int):
    """Deterministic bucket id for a conv_id (xxhash64, never Python hash)."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


#: Manifest growth bounds.  Round 1 embedded the FULL lineage list and
#: applied-batch ledger in every manifest — O(commits²) bytes written
#: over a long stream.  Both are now rolling windows:
#:
#: * lineage keeps the newest LINEAGE_KEEP entries plus a running count
#:   of truncated ones (older history lives in the older manifest files
#:   until expire_snapshots reclaims them);
#: * applied_batches keeps the newest APPLIED_KEEP entries; numeric
#:   batch ids evicted from the window roll up into
#:   ``applied_evicted_high_water`` — foreachBatch epoch ids are
#:   monotonic per query, so "numeric id ≤ evicted high water" is an
#:   exact applied-check for any id older than the whole window, while
#:   ids inside the window (including out-of-order test ids) still hit
#:   the exact dict.  Non-numeric ids get an APPLIED_KEEP-commit dedup
#:   window, far beyond any real checkpoint-recovery replay depth.
LINEAGE_KEEP = 64
APPLIED_KEEP = 256


def _roll_lineage(cur: dict, entry: dict) -> tuple[list, int]:
    lin = cur["lineage"] + [entry]
    dropped = max(0, len(lin) - LINEAGE_KEEP)
    return lin[dropped:], cur.get("lineage_truncated", 0) + dropped


def _roll_ledger(cur: dict, batch_id, version: int) -> tuple[dict, int | None]:
    ledger = dict(cur["applied_batches"])
    hw = cur.get("applied_evicted_high_water")
    if batch_id is not None:
        ledger[str(batch_id)] = version
    if len(ledger) > APPLIED_KEEP:
        for k in sorted(ledger, key=ledger.get)[: len(ledger) - APPLIED_KEEP]:
            try:
                b = int(k)
                hw = b if hw is None else max(hw, b)
            except ValueError:
                pass
            del ledger[k]
    return ledger, hw


def _batch_applied(cur: dict, batch_id) -> bool:
    if str(batch_id) in cur["applied_batches"]:
        return True
    hw = cur.get("applied_evicted_high_water")
    if hw is not None:
        try:
            return int(str(batch_id)) <= hw
        except ValueError:
            return False
    return False


def _ts_to_us(v) -> int:
    """datetime / ISO string → epoch microseconds.  The engine session
    runs in UTC (session.py) and Spark writes parquet timestamps
    UTC-adjusted, so naive values are UTC by construction."""
    import datetime as dt

    if isinstance(v, str):
        v = dt.datetime.fromisoformat(v)
    if v.tzinfo is None:
        v = v.replace(tzinfo=dt.timezone.utc)
    return int(v.timestamp() * 1_000_000)


def _file_stats(path: str) -> dict:
    """Per-file column stats from the parquet footer (rows, ts/lsn
    min-max) for the manifest — Iceberg writers record the same stats
    per data file; they are what makes manifest-level file skipping
    possible without opening data.  One footer read per file,
    driver-side, at commit time (the files were just written by this
    driver's job, so the footers are page-cache-warm)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict = {"rows": md.num_rows}
    mins: dict = {}
    maxs: dict = {}
    ok = {"ts": True, "lsn": True}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in ok:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                ok[name] = False  # nulls-only or stats disabled: no claim
                continue
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    if ok["ts"] and "ts" in mins:
        out["ts_min_us"] = _ts_to_us(mins["ts"])
        out["ts_max_us"] = _ts_to_us(maxs["ts"])
    if ok["lsn"] and "lsn" in mins:
        out["lsn_min"] = int(mins["lsn"])
        out["lsn_max"] = int(maxs["lsn"])
    return out


_BLOOM_K = 7  # hash probes; with 10 bits/key this gives ~1% fpp
_BLOOM_MAX_NDV = 1 << 18
#: Files with more distinct keys than the cap ship NO bloom (read
#: unconditionally).  Deliberate: past ~the bucket's full key set a
#: bloom answers "maybe" for every probe anyway — compacted full-bucket
#: files gain nothing, while DELTA files (one micro-batch's working set)
#: are exactly where skipping pays.


def _bloom_hashes(key: str) -> tuple[int, int]:
    """Two independent 64-bit hashes (md5 halves) for double hashing —
    deterministic across processes/engines, unlike builtin hash()."""
    import hashlib

    d = hashlib.md5(key.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:16], "little") | 1


def _build_key_bloom(values: list) -> dict | None:
    """Bloom filter over distinct key strings: m = next pow2 ≥ 10 bits
    per key, k=7 probes via double hashing → ~1% false-positive rate.
    Returns None above the NDV cap (caller records no bloom)."""
    import base64

    n = len(values)
    if n == 0 or n > _BLOOM_MAX_NDV:
        return None
    m = 64
    while m < n * 10:
        m <<= 1
    bits = bytearray(m >> 3)
    for v in values:
        h1, h2 = _bloom_hashes(v)
        for i in range(_BLOOM_K):
            p = (h1 + i * h2) % m
            bits[p >> 3] |= 1 << (p & 7)
    return {
        "algo": "md5dh",
        "m": m,
        "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_may_contain(bloom: dict, key: str) -> bool:
    """False = key definitively absent from the file (no false
    negatives); True = must read."""
    import base64

    bits = base64.b64decode(bloom["b64"])
    m = bloom["m"]
    h1, h2 = _bloom_hashes(key)
    for i in range(bloom.get("k", _BLOOM_K)):
        p = (h1 + i * h2) % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _file_key_profile(path: str) -> tuple[dict | None, int]:
    """(conv_id bloom | None, live-row count) for one just-written data
    file.  Reads only the conv_id+op columns (dictionary-encoded,
    page-cache-warm at commit time).  On a real cluster this profile is
    computed inside the write tasks, like Iceberg's writer-side blooms /
    puffin stats; the driver-side loop here mirrors where this sandbox
    already assembles the manifest."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["conv_id", "op"])
    deleted = pc.sum(pc.equal(t.column("op"), "D")).as_py() or 0
    uniq = pc.unique(t.column("conv_id")).to_pylist()
    return _build_key_bloom(uniq), t.num_rows - deleted


@functools.lru_cache(maxsize=256)
def _load_bloom_sidecar(path: str) -> dict:
    """Sidecar JSON {data-file path -> bloom}.  Sidecars are immutable
    (written once per commit, next to the data files) so an in-process
    cache needs no invalidation; lookups touching the same commit's
    files pay one read."""
    try:
        with open(path) as f:
            return json.load(f)
    except OSError:
        return {}  # expired/missing sidecar: no claim, read the file


def lww_reduce(rows: DataFrame) -> DataFrame:
    """Last-write-wins reduce over FILE_COLS rows: per (conv_id,
    turn_idx) keep the highest-lsn row (tombstones included — they keep
    guarding their key).  Used by the MOR read path.

    Physical shape: ONE keyed window (one payload shuffle + per-group
    sort).  This is safe — and cheaper than the salted agg + join-back
    used for raw logs (operators/salting.py) — because every caller
    feeds pre-collapsed inputs: stored table rows are ≤1 per key per
    commit, so rows-per-key is bounded by the commit count, never by a
    hot conversation's raw event mass.

    Dedup contract: exactly one row per key even under payload-jittered
    redelivery (deterministic hash tie-break, operators/salting.py
    winner_order) — a full-row distinct would silently emit duplicate
    key rows on a non-conforming WAL."""
    from pyspark.sql.window import Window

    from ..operators.salting import winner_order

    w = Window.partitionBy(*KEY_COLS).orderBy(*winner_order())
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .select(*FILE_COLS)
    )


class SnapshotTable:
    """A bucketed, snapshot-versioned transcript table.

    Layout::

        root/
          data/<commit-uuid>/_bucket=NN/part-*.parquet
          snapshots/v%010d.json
          _current.json          -> {"version": N}
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        mode: str = "cow",
        ref: str = "main",
        key_blooms: bool = False,
    ):
        """``mode``:

        * ``"cow"`` (copy-on-write, default) — every merge rewrites the
          affected buckets to ≤1 row per key; reads are plain scans.
          Right when batches are large relative to the table or reads
          dominate.
        * ``"mor"`` (merge-on-read) — merges append per-bucket winner
          delta files without touching current data; reads reduce
          last-write-wins at scan time; ``compact()`` folds deltas
          back to ≤1 row per key.  Right for frequent small
          micro-batches, where COW would rewrite every touched bucket
          per trigger (measured 2-5 s/batch floor on this box).

        The mode is persisted in the manifest — reopening an existing
        table keeps its semantics regardless of the argument.

        ``key_blooms=True`` records, per written data file, a conv_id
        bloom filter (in a per-commit sidecar, like Iceberg's puffin
        files — never inline in the manifest, which must stay small)
        plus a live-row count.  :meth:`lookup` then skips bucket files
        that definitively lack the key, and :meth:`count` answers from
        metadata on COW.  Opt-in, mirroring Iceberg's
        ``write.parquet.bloom-filter-enabled.column.*`` table property:
        the profile costs one (conv_id, op) column read per file at
        commit, which a hot ingest path shouldn't pay unless the table
        serves point reads.  Persisted in the manifest like ``mode``.

        ``ref`` binds the handle to a named pointer (Iceberg branch
        semantics): ``"main"`` is the default table pointer
        (``_current.json``); any other name must have been created with
        :meth:`create_branch` first.  All reads and commits through the
        handle follow that ref; other refs are unaffected (the
        write-audit-publish workflow stages commits on a branch handle,
        audits its reads, then :meth:`fast_forward`-publishes to main).
        """
        assert mode in ("cow", "mor"), mode
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self._mode = mode
        self.ref = ref
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        if ref != "main" and not os.path.exists(self._pointer_path()):
            raise ValueError(
                f"branch {ref!r} does not exist — create_branch() it first"
            )
        self._key_blooms = key_blooms
        existing = self.manifest()
        self._fence_lsn = existing.get("fence_lsn")
        if existing["version"] > 0:
            self._mode = existing.get("mode", "cow")
            self.n_buckets = existing.get("n_buckets", n_buckets)
            self._key_blooms = existing.get("key_blooms", key_blooms)

    @property
    def mode(self) -> str:
        return self._mode

    # ---------------------------------------------------------------- io

    def _pointer_path(self, ref: str | None = None) -> str:
        return _pointer_file(self.root, self.ref if ref is None else ref)

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.root, "tags", f"{name}.json")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{version:010d}.json")

    def current_version(self) -> int:
        """0 = empty table (no snapshot committed yet)."""
        return ref_version(self.root, self.ref)

    def _next_version(self) -> int:
        """Next manifest number: one past the highest REF HEAD (main +
        branches + tags), not this ref's head + 1 — manifest numbers are
        a table-global sequence, so a branch commit never collides with
        a main commit made after the branch point.  Heads bound all
        reachable history (versions increase along every parent chain),
        while manifests no ref can reach — crash leftovers whose pointer
        flip never happened, dropped staged branches — stay overwritable
        by the next commit, which is the crash-recovery contract
        (tests/test_replay.py crash #2).  Single-driver allocation; a
        multi-writer deployment swaps this for the catalog's CAS, as in
        real Iceberg."""
        heads = [v for _name, _kind, v in self._ref_heads()]
        return max([self._read_ref_version("main"), *heads]) + 1

    def _ref_heads(self) -> list[tuple[str, str, int]]:
        """``(name, kind, version)`` of every branch (``refs/``) and tag
        (``tags/``) pointer — main excluded — sorted by name per kind."""
        heads = []
        for kind, d in (("branch", "refs"), ("tag", "tags")):
            ref_dir = os.path.join(self.root, d)
            if os.path.isdir(ref_dir):
                for fn in sorted(os.listdir(ref_dir)):
                    if fn.endswith(".json"):
                        path = os.path.join(ref_dir, fn)
                        heads.append((fn[:-5], kind, _read_pointer(path)))
        return heads

    def batch_applied(self, batch_id: str | int) -> bool:
        """True iff ``batch_id`` is in the current snapshot's
        applied-batch ledger (a re-apply would be a no-op)."""
        return _batch_applied(self.manifest(), batch_id)

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {
                "version": 0,
                "n_buckets": self.n_buckets,
                "mode": getattr(self, "_mode", "cow"),
                "files": [],
                "applied_batches": {},
                "lineage": [],
            }
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _atomic_write_json(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def _max_stored_lsn(self, files: list[dict]) -> int:
        """Highest lsn stored in ``files``, tombstones included: from the
        manifest's footer stats when every entry carries them, else one
        scan of the raw ``lsn`` column (0 for no files)."""
        stats = [f.get("lsn_max") for f in files]
        if all(s is not None for s in stats):
            return max(stats, default=0)
        paths = [f["path"] for f in files]
        return self._read_files(paths).agg(F.max("lsn")).collect()[0][0] or 0

    # -------------------------------------------------------------- read

    def read(self, version: int | None = None) -> DataFrame:
        """Current (or time-travel) table state, logical columns only
        (tombstones filtered).  MOR tables reduce last-write-wins at
        scan time (delta files may hold newer versions of a key)."""
        m = self.manifest(version)
        rows = self._read_files([f["path"] for f in m["files"]])
        return self._live(m, rows).select(*TRANSCRIPT_COLS)

    def _live(self, m: dict, rows: DataFrame, *residual) -> DataFrame:
        """The read-side LWW decision every reader shares: on a MOR
        snapshot reduce ``rows`` to each key's winner (delta files may
        hold newer versions of a key), apply the ``residual`` predicates,
        then drop tombstones."""
        if m.get("mode", "cow") == "mor":
            rows = lww_reduce(rows)
        for cond in residual:
            rows = rows.where(cond)
        return rows.where(F.col("op") != "D")

    def _read_files(self, paths: list[str]) -> DataFrame:
        """Raw file rows (transcript cols + lsn)."""
        if not paths:
            return self.spark.createDataFrame([], FILE_SCHEMA)
        return self.spark.read.schema(FILE_SCHEMA).parquet(*paths).select(*FILE_COLS)

    def time_travel(self, version: int) -> DataFrame:
        return self.read(version)

    def version_as_of(self, wall_ts: float) -> int:
        """Latest ancestor version committed at or before ``wall_ts``
        (Iceberg ``TIMESTAMP AS OF`` parity).  Walks the parent chain
        from the current head — ancestry, not the table-global manifest
        sequence, so a branch's commits never shadow main's — comparing
        against each manifest's ``committed_wall_ts`` (falling back to
        the last lineage entry's wall_ts for pre-property manifests).
        O(retained snapshots) driver-side JSON reads; raises if the
        timestamp precedes retained history (``expire_snapshots`` may
        have reclaimed it)."""
        ts = float(wall_ts)
        v = self.current_version()
        while v > 0:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break
            cts = m.get("committed_wall_ts")
            if cts is None:
                lin = m.get("lineage") or []
                cts = lin[-1].get("wall_ts") if lin else None
            if cts is not None and float(cts) <= ts:
                return v
            v = int(m.get("parent", 0))
        raise ValueError(
            f"no retained snapshot committed at or before {wall_ts}; "
            "history may have been reclaimed by expire_snapshots"
        )

    def read_as_of(self, wall_ts: float) -> DataFrame:
        """Table state as of a wall-clock time: ``read(version_as_of(ts))``."""
        return self.read(self.version_as_of(wall_ts))

    def _bucket_entries(self, conv_id: str, manifest: dict | None = None) -> list[dict]:
        """Manifest file entries of ``conv_id``'s hash bucket.  The
        bucket id is evaluated driver-side with the SAME expression the
        writer used (never reimplement the hash in Python), under the
        given manifest's bucket spec (a rebucket() may have changed it
        since that snapshot)."""
        m = manifest if manifest is not None else self.manifest()
        b = (
            self.spark.createDataFrame([(conv_id,)], "conv_id string")
            .select(bucket_expr(m.get("n_buckets", self.n_buckets)).alias("b"))
            .collect()[0]["b"]
        )
        return [f for f in m["files"] if f["bucket"] == b]

    def lookup(self, conv_id: str, version: int | None = None) -> DataFrame:
        """Point read of one conversation: manifest-level bucket
        pruning (open ONLY the files of conv_id's hash bucket —
        1/n_buckets of the table regardless of size) + a parquet
        predicate on conv_id inside them.  The per-key read path an
        online serving layer uses against the same table; at 8192
        buckets on 100 TB this touches ~12 GB of files, not 100 TB,
        and row-group pruning inside the sorted files cuts further
        (commit files are sorted by (bucket, conv_id, turn_idx), so
        min/max stats bracket the conversation tightly)."""
        m = self.manifest(version)
        in_bucket = self._bucket_entries(conv_id, m)
        # second pruning layer (when the table records key blooms): skip
        # bucket files whose bloom says conv_id is definitively absent.
        # LWW-safe on MOR — a skipped file contributes NO row for this
        # key (blooms have no false negatives), so the reduce still sees
        # every version of it.  Delta files are where this pays: a
        # conversation active in 3 of 200 micro-batches reads ~3 deltas
        # instead of 200.  Entries without a bloom (pre-bloom commits,
        # NDV-capped compacted files) are conservatively read.
        paths = []
        for f in in_bucket:
            if "bloom_sidecar" in f:
                bloom = _load_bloom_sidecar(f["bloom_sidecar"]).get(f["path"])
                if bloom is not None and not _bloom_may_contain(bloom, conv_id):
                    continue
            paths.append(f["path"])
        self.last_lookup_stats = {
            "files_in_bucket": len(in_bucket),
            "files_read": len(paths),
        }
        rows = self._read_files(paths).where(F.col("conv_id") == conv_id)
        return self._live(m, rows).select(*TRANSCRIPT_COLS).orderBy("turn_idx")

    def scan(self, ts_min=None, ts_max=None, version: int | None = None) -> DataFrame:
        """Time-range read with manifest-level file skipping: open only
        data files whose footer-stat [ts_min, ts_max] range (recorded in
        the manifest at commit time) overlaps the requested window, then
        apply the exact residual predicate.

        Why this prunes on a hash-bucketed table: commits only rewrite
        (COW) or append to (MOR) buckets with ACTIVE conversations, so
        an idle bucket's files keep their old ts stats and a
        "recent window" scan skips them entirely — the freshness-query
        pattern ("what changed this hour") reads ~the working set, not
        the table.  A full-history file after compaction spans the whole
        ts range and is correctly never skipped.

        Correctness granularity: **COW** skips at file level (each key
        appears in exactly one live row per snapshot, so dropping a
        non-overlapping file drops only rows the residual filter would
        drop).  **MOR** skips at bucket level — the LWW reduce must see
        every version of a key, and a key's versions all live in one
        bucket (hash(conv_id)), so a bucket with NO overlapping file can
        be skipped wholesale but a bucket with any overlap is read in
        full.  Files from pre-stats manifests are conservatively read.
        """
        m = self.manifest(version)
        lo = None if ts_min is None else _ts_to_us(ts_min)
        hi = None if ts_max is None else _ts_to_us(ts_max)

        def overlaps(f: dict) -> bool:
            if "ts_min_us" not in f:
                return True  # no stats recorded: never skip
            if lo is not None and f["ts_max_us"] < lo:
                return False
            if hi is not None and f["ts_min_us"] > hi:
                return False
            return True

        live = m["files"]
        if m.get("mode", "cow") == "mor":
            touched = {f["bucket"] for f in live if overlaps(f)}
            files = [f for f in live if f["bucket"] in touched]
        else:
            files = [f for f in live if overlaps(f)]
        self.last_scan_stats = {"files_total": len(live), "files_read": len(files)}
        import datetime as dt

        def at(us):
            return F.lit(dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc))

        residual = []
        if lo is not None:
            residual.append(F.col("ts") >= at(lo))
        if hi is not None:
            residual.append(F.col("ts") <= at(hi))
        rows = self._read_files([f["path"] for f in files])
        return self._live(m, rows, *residual).select(*TRANSCRIPT_COLS)

    def read_keys(self, keys: DataFrame, version: int | None = None) -> DataFrame:
        """Live rows (transcript cols + lsn) of ONLY the conversations
        in ``keys`` (a one-column conv_id DataFrame), opening only the
        files of the touched hash buckets — the group-recompute read
        behind derived-aggregate maintenance (streaming/derived.py).

        The driver collects only the touched BUCKET IDS (≤ n_buckets
        scalars, same bound merge_apply already relies on), never data:
        cost scales with touched buckets, not table size.  The residual
        per-conversation semi join is left to AQE — broadcast when the
        key set is batch-small, shuffle when it isn't."""
        m = self.manifest(version)
        nb = m.get("n_buckets", self.n_buckets)
        keys = keys.select("conv_id").distinct()
        touched = {
            r["b"]
            for r in keys.select(bucket_expr(nb).alias("b")).distinct().collect()
        }
        paths = [f["path"] for f in m["files"] if f["bucket"] in touched]
        rows = self._read_files(paths).join(keys, "conv_id", "semi")
        return self._live(m, rows).select(*TRANSCRIPT_COLS, "lsn")

    def purge(self, conv_ids, batch_id, ts=None) -> int:
        """Right-to-erasure maintenance commit (GDPR/CCPA delete): drop
        every live turn of the given conversations THROUGH the normal
        merge path rather than beside it, so a purge is

        * **exactly-once** — ``batch_id`` in the applied ledger, replay
          is a no-op;
        * **bucket-pruned** — only the touched buckets are read
          (read_keys) and rewritten (merge_apply), never the table;
        * **LWW-safe** — the synthesized deletes carry
          ``max(stored lsn) + 1``, so they win against every stored row
          AND against any stale in-flight event redelivered later; a
          genuinely new upstream event (higher lsn) still resurrects
          the key, which is correct CDC semantics — erasure of future
          data is upstream's job;
        * **downstream-visible** — the deletes flow through
          ``changes_between`` with pre-images, so silver/gold/dedup-
          index hops retract the purged rows through their normal feed.

        ``conv_ids``: a one-column conv_id DataFrame or a list of ids.
        ``ts``: optional event-time for the tombstones (defaults to the
        wall clock; pass a literal for deterministic tests).

        Physical erasure: the COW rewrite (or MOR delta + ``compact``)
        removes payloads from the CURRENT snapshot immediately; bytes in
        superseded time-travel snapshots are reclaimed by
        ``expire_snapshots`` — run it with the retention your
        deletion-SLA requires, exactly like Iceberg/Delta vacuum.
        Tombstone rows keep only (key, lsn, op): no payload survives.
        """
        cur = self.manifest()
        if _batch_applied(cur, batch_id):
            return cur["version"]
        if not isinstance(conv_ids, DataFrame):
            conv_ids = self.spark.createDataFrame(
                [(c,) for c in conv_ids], "conv_id string"
            )
        lsn_hi = self._max_stored_lsn(cur["files"])
        ts_col = (
            F.lit(ts).cast("timestamp") if ts is not None
            else F.current_timestamp()
        )
        null_s = F.lit(None).cast("string")
        dels = self.read_keys(conv_ids).select(
            F.lit(int(lsn_hi) + 1).alias("lsn"),
            F.lit("D").alias("op"),
            ts_col.alias("ts"),
            F.col("conv_id"),
            F.col("turn_idx"),
            null_s.alias("role"),
            null_s.alias("text"),
            null_s.alias("tool"),
        )
        return self.merge_apply(dels, batch_id)

    def count(self, version: int | None = None) -> int:
        """Live-row count.  On a COW snapshot whose files all carry
        ``rows_live`` stats (``key_blooms=True`` tables), the answer
        comes straight from the manifest — zero Spark jobs, zero data
        reads — because a COW snapshot holds exactly one row per live
        key across disjoint files (Iceberg answers ``count(*)`` from
        manifest stats the same way when no delete files apply).  MOR
        snapshots (delta files may shadow older versions of a key, so
        per-file counts overcount) and stat-less files fall back to a
        real scan.  ``last_count_source`` records which path answered.
        """
        m = self.manifest(version)
        if not m["files"]:
            self.last_count_source = "metadata"
            return 0
        if m.get("mode", "cow") == "cow" and all(
            "rows_live" in f for f in m["files"]
        ):
            self.last_count_source = "metadata"
            return sum(f["rows_live"] for f in m["files"])
        self.last_count_source = "scan"
        return self.read(version).count()

    def applied_batches(self) -> dict:
        return self.manifest()["applied_batches"]

    # ------------------------------------------------- refs (branch/tag)
    # Iceberg ref semantics: a BRANCH is a movable named pointer commits
    # can advance; a TAG is an immutable named pointer.  Together they
    # give the write-audit-publish (WAP) workflow: stage micro-batches
    # on a branch handle, audit its reads (row counts, quality gates,
    # equality checks), then fast_forward main to publish atomically —
    # or drop the branch and let expire_snapshots reclaim the staged
    # files, with main's readers never having seen a staged row.

    def create_branch(self, name: str, at_version: int | None = None) -> int:
        """Create branch ``name`` at ``at_version`` (default: this
        handle's head).  Fails if the branch already exists."""
        assert name != "main", "main is the table's own pointer"
        path = self._pointer_path(name)
        if os.path.exists(path):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        v = self.current_version() if at_version is None else at_version
        self._atomic_write_json(path, {"version": v})
        return v

    def create_tag(self, name: str, at_version: int | None = None) -> int:
        """Create immutable tag ``name`` (e.g. a training-run's exact
        input snapshot).  Tags pin their manifest against
        expire_snapshots, so ``time_travel(tag_version(name))`` keeps
        working after the retention window moves on."""
        path = self._tag_path(name)
        if os.path.exists(path):
            raise ValueError(f"tag {name!r} already exists")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        v = self.current_version() if at_version is None else at_version
        self._atomic_write_json(path, {"version": v})
        return v

    def tag_version(self, name: str) -> int:
        with open(self._tag_path(name)) as f:
            return json.load(f)["version"]

    def branch(self, name: str) -> "SnapshotTable":
        """A handle over the same table bound to branch ``name``."""
        return SnapshotTable(
            self.spark, self.root, n_buckets=self.n_buckets,
            mode=self._mode, ref=name,
        )

    def drop_branch(self, name: str) -> None:
        os.remove(self._pointer_path(name))

    def refs(self) -> DataFrame:
        """All named pointers (main + branches + tags) as a relation."""
        rows = [("main", "branch", self._read_ref_version("main"))]
        return self.spark.createDataFrame(
            rows + self._ref_heads(), "name string, kind string, version int"
        )

    def _read_ref_version(self, ref: str) -> int:
        return ref_version(self.root, ref)

    def _is_ancestor(self, anc: int, desc: int) -> bool:
        """True iff snapshot ``anc`` is on ``desc``'s parent chain.
        Walking needs the intermediate manifests; if one was expired the
        chain is unverifiable and we answer False (caller may force)."""
        v = desc
        while v > anc:
            try:
                v = self.manifest(v).get("parent", 0)
            except FileNotFoundError:
                return False
        return v == anc

    def fast_forward(self, from_ref: str, force: bool = False) -> int:
        """Publish: move THIS handle's ref to ``from_ref``'s head.
        Refuses unless this head is an ancestor of the target (i.e. the
        move loses no commits — true fast-forward); ``force=True``
        overrides for explicit rollback/replace.  The pointer write is
        a single atomic rename: readers see either the old snapshot or
        the published one, never an intermediate."""
        target = self._read_ref_version(from_ref)
        mine = self.current_version()
        if not force and not self._is_ancestor(mine, target):
            raise ValueError(
                f"{self.ref!r} (v{mine}) is not an ancestor of "
                f"{from_ref!r} (v{target}); not a fast-forward"
            )
        self._atomic_write_json(self._pointer_path(), {"version": target})
        return target

    def rollback(self, version: int) -> int:
        """Iceberg rollback parity: move this ref back to an ANCESTOR
        snapshot (the inverse ancestry check of fast_forward) — the
        bad-deploy undo.  The rolled-back-from manifests become
        unreachable: the next commit may reuse their numbers and
        expire_snapshots reclaims their files; the applied-batch ledger
        rolls back with the manifest, so re-delivering the bad batches
        re-applies them (intended — a rollback says those commits were
        wrong)."""
        mine = self.current_version()
        if not self._is_ancestor(version, mine):
            raise ValueError(
                f"v{version} is not an ancestor of {self.ref!r} (v{mine})"
            )
        self._atomic_write_json(self._pointer_path(), {"version": version})
        return version

    def changes_between(
        self, v_from: int, v_to: int | None = None, images: bool = False
    ) -> DataFrame:
        """Changelog scan (Iceberg "incremental read" parity): the net
        per-key changes committed after snapshot ``v_from`` up to
        ``v_to`` (default current), as a change feed —
        ``(change_type in insert|update|delete, *transcript cols, lsn)``.
        An incremental consumer (downstream ETL, cache invalidation,
        replication) tails the table itself with this instead of
        re-reading full snapshots.

        Plan, sized for 100 TB: only files ADDED between the two
        manifests are scanned (pure manifest set-difference — an
        incremental read never touches the unchanged part of the
        table); those rows LWW-reduce to one candidate per key, then a
        narrow join against the FROM snapshot (only (key, lsn, op)
        columns, only the touched buckets' files, op packed into the
        lsn long so the aggregate stays a single-long HashAggregate
        buffer) classifies each candidate:

        * candidate lsn ≤ from-lsn → carried/stale row, dropped (COW
          rewrites copy untouched keys into new files; MOR deltas may
          hold redelivered stale rows);
        * tombstone over a live from-key → ``delete``; over an absent/
          dead key → no logical change, dropped;
        * live row over a live from-key → ``update``, else ``insert``.

        Fidelity window (same contract as Iceberg changelog reads):
        ``v_from``'s manifest must still be retained
        (``expire_snapshots``) and ``compact()``'s tombstone horizon
        must not have aged out deletes newer than ``v_from``; an
        ``overwrite()`` between the snapshots resets lsn provenance and
        breaks changelog continuity.

        ``images=True`` upgrades the feed to Delta-CDF-style row
        images: ``update`` becomes TWO rows (``update_preimage`` with
        the old payload and old lsn, ``update_postimage`` with the
        new), and ``delete`` carries the DELETED row's payload (with
        the tombstone's lsn as the progression marker).  Costs one
        extra wide read of the touched buckets' FROM-side files,
        key-joined to the net feed — the from-state the default path
        already scans narrow.
        """
        m_from = self.manifest(v_from)
        m_to = self.manifest(v_to)
        from_by_path = {f["path"] for f in m_from["files"]}
        new_files = [f for f in m_to["files"] if f["path"] not in from_by_path]
        if not new_files:
            return self._empty_changelog()
        if m_from.get("n_buckets") == m_to.get("n_buckets"):
            touched_buckets = {f["bucket"] for f in new_files}
            from_paths = [
                f["path"] for f in m_from["files"] if f["bucket"] in touched_buckets
            ]
        else:
            # a rebucket() between the snapshots changed the spec:
            # bucket ids are not comparable across specs, so the FROM
            # side can't be bucket-pruned (the rebucket rewrote every
            # file anyway, so nothing was prunable)
            from_paths = [f["path"] for f in m_from["files"]]

        cand = lww_reduce(self._read_files([f["path"] for f in new_files]))

        # FROM-side state, narrow: op packed into the lsn long
        # (lsn<<2 | code) so the per-key max is a plain single-long
        # HashAggregate — max_by(struct) would fall back to
        # ObjectHashAggregate's sort path (see operators/salting.py).
        op_code = (
            F.when(F.col("op") == "D", F.lit(2))
            .when(F.col("op") == "U", F.lit(1))
            .otherwise(F.lit(0))
        )
        from_state = (
            self._read_files(from_paths)
            .select(*KEY_COLS, (F.shiftleft(F.col("lsn"), 2) + op_code).alias("_pk"))
            .groupBy(*KEY_COLS)
            .agg(F.max("_pk").alias("_pk"))
        )
        joined = cand.join(from_state, KEY_COLS, "left")
        from_lsn = F.shiftright(F.col("_pk"), 2)
        from_live = F.col("_pk").isNotNull() & (F.pmod(F.col("_pk"), F.lit(4)) != 2)
        progressed = F.col("_pk").isNull() | (F.col("lsn") > from_lsn)
        change_type = (
            F.when(F.col("op") == "D", F.when(from_live, F.lit("delete")))
            .when(from_live, F.lit("update"))
            .otherwise(F.lit("insert"))
        )
        net = (
            joined.where(progressed)
            .select(change_type.alias("change_type"), *FILE_COLS)
            .where(F.col("change_type").isNotNull())
            .drop("op")
        )
        if not images:
            return net
        # pre-image side: the FROM-state winners, read wide this time,
        # inner-joined to the keys whose change needs an old payload
        # (updates and deletes).  The join IS the filter; the net feed's
        # key set is span-bounded, so AQE broadcasts it in the common
        # case.
        need_pre = net.where(
            F.col("change_type").isin("update", "delete")
        ).select(
            *KEY_COLS,
            F.col("change_type").alias("_ct"),
            F.col("lsn").alias("_chg_lsn"),
        )
        old_wide = lww_reduce(self._read_files(from_paths)).drop("op")
        pre = old_wide.join(need_pre, KEY_COLS).select(
            F.when(F.col("_ct") == "delete", F.lit("delete"))
            .otherwise(F.lit("update_preimage"))
            .alias("change_type"),
            *TRANSCRIPT_COLS,
            F.when(F.col("_ct") == "delete", F.col("_chg_lsn"))
            .otherwise(F.col("lsn"))
            .alias("lsn"),
        )
        post = net.where(F.col("change_type") != "delete").select(
            F.when(F.col("change_type") == "update", F.lit("update_postimage"))
            .otherwise(F.lit("insert"))
            .alias("change_type"),
            *TRANSCRIPT_COLS,
            "lsn",
        )
        return post.unionByName(pre)

    def _empty_changelog(self) -> DataFrame:
        schema = StructType(
            [StructField("change_type", StringType(), True)]
            + [f for f in FILE_SCHEMA.fields if f.name != "op"]
        )
        return self.spark.createDataFrame([], schema)

    # ------------------------------------------------------------- write

    def _bucket_collapse(self, rows: DataFrame) -> DataFrame:
        """The fused dedup+cluster shuffle every commit path shares:
        repartition once on ``_bucket``, then a bucket-local winner
        window — no further exchange, because HashPartitioning(_bucket)
        satisfies the window's clustering (``_bucket`` leads its
        partition spec), and the window's (bucket, key, winner-order)
        sort doubles as the partitioned writer's required ordering, so
        Catalyst elides the writer's own sort.  Output: ≤1 row per key
        (deterministic under payload jitter — winner_order tie-break),
        one clean file set per bucket.

        Width: the exchange is ``min(n_buckets, defaultParallelism)``
        partitions — one wave of tasks, and never more partitions than
        buckets (the rest would be empty).  Left to the default, the
        shuffle is either AQE-coalesced by *bytes* — which judges a
        small input cheap and folds it into ONE task, though the window
        sort plus one parquet file per bucket is CPU-bound work
        (``compact`` on a 4-core host ran single-threaded) — or, with no
        AQE (streaming micro-batches), ``spark.sql.shuffle.partitions``
        tasks in several waves.  An explicit width is still
        HashPartitioning(_bucket), so the window's clustering, the
        writer-sort elision and the one-task-per-bucket layout hold.

        Skew note: callers feed either pre-collapsed rows (stored
        buckets, ≤1/key) or winners_join output (raw hot-key event
        mass already dropped) or micro-batch-sized raw rows — in all
        three, per-bucket sort input is bounded and hash-balanced.
        The one caller that feeds a FULL raw log (the probed-direct
        bootstrap in merge_apply) is gated by choose_collapse's
        measured skew/duplication thresholds, so the per-bucket sort
        mass is bounded there too — by measurement, not construction.
        """
        from pyspark.sql.window import Window

        from ..operators.salting import winner_order

        width = min(self.n_buckets, self.spark.sparkContext.defaultParallelism)
        bucketed = rows.withColumn(
            "_bucket", bucket_expr(self.n_buckets)
        ).repartition(width, F.col("_bucket"))
        w = Window.partitionBy("_bucket", *KEY_COLS).orderBy(*winner_order())
        out = (
            bucketed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # Tombstone payload scrub: a stored D winner only needs
        # (key, lsn, op, ts) to keep guarding its key — but upstream
        # delete events often CARRY the deleted row (Debezium deletes
        # ship a full before-image), and without this, that payload
        # would sit in the table's files for the tombstone's whole
        # retention life (a GDPR leak and dead storage bytes; caught by
        # gdpr_purge's payload_leftover_rows counter when the log's D
        # events carried text).  Changelog delete pre-images are
        # unaffected — changes_between(images=True) reads them from the
        # FROM-side snapshot, never from the tombstone row.  A plain
        # Project over the window output: same stage, no new exchange,
        # writer-sort elision intact (pinned by tests/test_plans.py).
        dead = F.col("op") == "D"
        for c in ("role", "text", "tool"):
            out = out.withColumn(
                c, F.when(dead, F.lit(None).cast("string")).otherwise(F.col(c))
            )
        return out

    def _write_commit_files(self, df: DataFrame) -> list[dict]:
        """Write ``df`` (FILE_COLS + _bucket) bucket-partitioned; return
        manifest file entries.

        Writes straight from the incoming partitioning: each task sorts
        by (_bucket, key) — satisfying the partitioned writer's required
        ordering AND clustering rows by key inside each file — and emits
        one file per (task, bucket).  On every path but ``overwrite`` the
        rows arrive from ``_bucket_collapse``, hash-partitioned on
        ``_bucket``, so each bucket lives in exactly one task and the
        commit writes one file per touched bucket with no second
        shuffle.  ``overwrite`` writes from its input's partitioning and
        may leave several files per bucket; the manifest absorbs them
        and compact() merges them away.
        """
        commit_id = uuid.uuid4().hex
        out_dir = os.path.join(self.root, "data", commit_id)
        (
            df.sortWithinPartitions("_bucket", *KEY_COLS)
            .write.partitionBy("_bucket")
            .parquet(out_dir)
        )
        entries: list[dict] = []
        for bucket_dir in os.listdir(out_dir):
            if not bucket_dir.startswith("_bucket="):
                continue
            bucket = int(bucket_dir.split("=", 1)[1])
            for fn in os.listdir(os.path.join(out_dir, bucket_dir)):
                if fn.endswith(".parquet"):
                    path = os.path.join(out_dir, bucket_dir, fn)
                    entries.append(
                        {"path": path, "bucket": bucket, **_file_stats(path)}
                    )
        if self._key_blooms and entries:
            # per-commit bloom sidecar (Iceberg-puffin role): blooms are
            # KB-scale per file and the manifest is carried forward
            # whole every commit, so they must live beside the data,
            # referenced by path — never inline.
            sidecar = os.path.join(out_dir, "_blooms.json")
            blooms: dict[str, dict] = {}
            for e in entries:
                bloom, rows_live = _file_key_profile(e["path"])
                e["rows_live"] = rows_live
                if bloom is not None:
                    blooms[e["path"]] = bloom
                    e["bloom_sidecar"] = sidecar
            with open(sidecar, "w") as f:
                json.dump(blooms, f)
        return entries

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> int:
        """Replace the whole table with ``df`` (bootstrap / full snapshot).
        If ``df`` lacks an lsn column, rows get lsn=0 (anything merged
        later wins)."""
        cur = self.manifest()
        if "lsn" not in df.columns:
            df = df.withColumn("lsn", F.lit(0).cast("long"))
        if "op" not in df.columns:
            df = df.withColumn("op", F.lit("I"))
        entries = self._write_commit_files(
            df.select(*FILE_COLS).withColumn("_bucket", bucket_expr(self.n_buckets))
        )
        # lineage keeps a null batch_id when none is given;
        # _commit_merge stamps a given one over it
        return self._commit_merge(
            cur, entries, {"op": "overwrite", "batch_id": None}, batch_id
        )

    def bootstrap_load(
        self,
        snapshot: DataFrame,
        fence_lsn: int,
        batch_id: str | int = "bootstrap",
    ) -> int:
        """Initial-snapshot load with binlog-position semantics — the
        way a real CDC pipeline starts: snapshot the source table at a
        recorded WAL position (the **fence**), bulk-load the snapshot,
        then tail the log.  The tail may start anywhere at or before
        the fence (operators re-read generously to avoid gaps), so the
        engine must make the overlap idempotent:

        * snapshot rows land as op='I'; a per-row ``lsn`` column is
          honoured if present (source tables often carry last-modified
          positions), else rows get ``lsn = fence_lsn``;
        * ``fence_lsn`` is persisted in the manifest as a table
          property (carried across merge/compact/rebucket/purge like
          ``mode``), and every later :meth:`merge_apply` drops events
          with ``lsn <= fence_lsn`` via a scan-pushed predicate;
        * without the fence, LWW would mishandle exactly one overlap
          case: a key deleted *before* the snapshot has no row (and no
          tombstone) in the snapshot, so a redelivered pre-fence insert
          would win against nothing and resurrect it.

        Equivalence contract (tests/test_bootstrap.py): for any log L
        and fence F, ``bootstrap_load(LWW-state(L≤F), F)`` followed by
        replaying ANY superset of L>F that is a subset of L yields the
        same final state as replaying L from scratch.

        At 10^10 events this is the difference between replaying the
        full history (days) and loading a snapshot (one bucketed write
        of table-size, not log-size) plus the tail.  Exactly-once: the
        load itself is ledgered under ``batch_id`` — a crashed-and-
        retried bootstrap is a no-op.
        """
        cur = self.manifest()
        if _batch_applied(cur, batch_id):
            return cur["version"]
        if cur["files"]:
            raise ValueError(
                "bootstrap_load requires an empty table — it defines the "
                "table's initial state and fence; use merge_apply for "
                "incremental changes or overwrite() to replace data"
            )
        fence = int(fence_lsn)
        rows = snapshot
        if "lsn" not in rows.columns:
            rows = rows.withColumn("lsn", F.lit(fence).cast("long"))
        rows = rows.withColumn("op", F.lit("I")).select(*FILE_COLS)
        data = self._bucket_collapse(rows)
        entries = self._write_commit_files(data.select(*FILE_COLS, "_bucket"))
        self._fence_lsn = fence
        return self._commit_merge(
            cur, entries, {"op": "bootstrap", "fence_lsn": fence}, batch_id
        )

    def export_snapshot(self, out_dir: str, version: int | None = None) -> dict:
        """Export a snapshot as a portable bootstrap package — the
        inverse of :meth:`bootstrap_load` and the DR / region-replication
        / dev-seeding primitive: ``out_dir/state`` holds the live LWW
        state (per-row ``lsn`` preserved, tombstones excluded, MOR
        deltas reduced) and ``out_dir/export.json`` the fence metadata a
        downstream :meth:`bootstrap_from_export` needs to resume the
        SAME WAL from the snapshot position.

        The fence is the max LSN across ALL stored rows including
        tombstones (metadata-only when every manifest file entry carries
        footer lsn stats; a narrow lsn-column scan of the stat-less
        files otherwise), widened by the table's own bootstrap fence if
        larger.  Safety argument for horizon-compacted tombstones: a
        tombstone is only erased below ``tombstone_horizon_lsn``, and
        the horizon contract is that upstream never redelivers below it
        — so every event the fence could miss is one the horizon already
        excludes (tests/test_export.py pins the deleted-key round trip).

        At 100 TB the export is one bucketed-read + plain parquet write
        of TABLE size; the package replays into a new table in O(table)
        + O(tail) instead of O(history).
        """
        m = self.manifest(version)
        if not m["files"]:
            raise ValueError("cannot export an empty table")
        rows = self._read_files([f["path"] for f in m["files"]])
        fence = self._max_stored_lsn(m["files"])
        if m.get("fence_lsn") is not None:
            fence = max(fence, int(m["fence_lsn"]))
        state = self._live(m, rows).select(*TRANSCRIPT_COLS, "lsn")
        os.makedirs(out_dir, exist_ok=True)
        state.write.parquet(os.path.join(out_dir, "state"))
        meta = {
            "fence_lsn": fence,
            "source_version": int(m["version"]),
            "source_mode": m.get("mode", "cow"),
            "wall_ts": time.time(),
        }
        self._atomic_write_json(os.path.join(out_dir, "export.json"), meta)
        return meta

    def bootstrap_from_export(
        self, export_dir: str, batch_id: str | int = "bootstrap"
    ) -> int:
        """Start this (empty) table from an :meth:`export_snapshot`
        package: bulk-load the exported state and adopt its fence, after
        which tailing the same WAL from at-or-before the fence converges
        to the source table's state (exactly-once via ``batch_id``)."""
        with open(os.path.join(export_dir, "export.json")) as f:
            meta = json.load(f)
        snap = self.spark.read.parquet(os.path.join(export_dir, "state"))
        return self.bootstrap_load(snap, meta["fence_lsn"], batch_id=batch_id)

    def compact(
        self,
        tombstone_horizon_lsn: int | None = None,
        buckets: list[int] | None = None,
    ) -> int:
        """Maintenance: rewrite table data dropping tombstones whose lsn
        is below the redelivery horizon (i.e. no event that old can
        still arrive), merging small files per bucket in the process.

        ``buckets`` limits the rewrite to a bucket subset — at 100 TB
        compaction runs as a rolling schedule over bucket ranges (e.g.
        256 of 8192 buckets per run) so no single maintenance job
        touches the whole table; untouched buckets' files are carried
        forward in the new manifest unchanged.  Readers are unaffected
        either way (snapshot isolation via the pointer)."""
        cur = self.manifest()
        if buckets is not None:
            in_scope = set(buckets)
            keep = [f for f in cur["files"] if f["bucket"] not in in_scope]
            todo = [f["path"] for f in cur["files"] if f["bucket"] in in_scope]
        else:
            keep = []
            todo = [f["path"] for f in cur["files"]]
        rows = self._read_files(todo)
        # fold MOR deltas (and absorb any duplicate rows) back to ≤1 row
        # per key — the bucket collapse is dedup + clustering in one
        # shuffle, and a no-op reduce on a clean COW layout
        rows = self._bucket_collapse(rows)
        if tombstone_horizon_lsn is not None:
            rows = rows.where(
                (F.col("op") != "D") | (F.col("lsn") >= tombstone_horizon_lsn)
            )
        entries = self._write_commit_files(rows)
        return self._commit_merge(
            cur,
            keep + entries,
            {
                "op": "compact",
                "tombstone_horizon_lsn": tombstone_horizon_lsn,
                "buckets": sorted(buckets) if buckets is not None else None,
            },
        )

    def rebucket(self, n_buckets: int) -> int:
        """Bucket evolution: re-shard the table onto ``n_buckets`` hash
        buckets (Iceberg partition-spec evolution for a bucketed spec).
        A table bootstrapped at 32 buckets that grows 100× needs more
        write/read parallelism and smaller per-bucket files; conversely
        an over-sharded table wastes task overhead and produces small
        files.

        This is an O(table) rewrite by necessity — the bucket function
        changes, so every row's placement changes; it reuses the same
        fused collapse+cluster shuffle as every commit (ONE exchange)
        and commits with snapshot isolation like any other op (readers
        on the old pointer see the old spec; a crash leaves the old
        snapshot intact).  Run it like compact(): a scheduled
        maintenance job, not an ingest-path step.  Subsequent merges
        automatically use the new spec (``n_buckets`` is persisted in
        the manifest and re-read on open).
        """
        assert n_buckets >= 1, n_buckets
        cur = self.manifest()
        rows = self._read_files([f["path"] for f in cur["files"]])
        old_n = self.n_buckets
        self.n_buckets = n_buckets
        try:
            # the bucket collapse also folds MOR deltas (one winner per
            # key), so the rewrite needs no separate LWW window
            entries = self._write_commit_files(self._bucket_collapse(rows))
        except Exception:
            self.n_buckets = old_n  # nothing committed; restore the spec
            raise
        return self._commit_merge(
            cur,
            entries,
            {"op": "rebucket", "from_buckets": old_n, "to_buckets": n_buckets},
        )

    # -------------------------------------------------- metadata views
    # Iceberg exposes table metadata as queryable relations
    # (`db.t.history`, `db.t.snapshots`, `db.t.files`); these are the
    # engine's equivalents, so operational queries ("which batch built
    # snapshot 12", "bytes per bucket") stay in the DataFrame API.

    def history(self) -> DataFrame:
        """Lineage entries of the current manifest as a DataFrame
        (op, version, batch_id, wall_ts, ... one row per retained
        commit; older history lives in expired manifests)."""
        m = self.manifest()
        rows = [
            (
                e.get("op"),
                int(e.get("version", 0)),
                str(e.get("batch_id")) if e.get("batch_id") is not None else None,
                float(e.get("wall_ts", 0.0)),
                int(e.get("input_rows")) if e.get("input_rows") is not None else None,
            )
            for e in m["lineage"]
        ]
        return self.spark.createDataFrame(
            rows,
            "op string, version int, batch_id string, wall_ts double, "
            "input_rows long",
        )

    def snapshots(self) -> DataFrame:
        """One row per retained snapshot manifest on disk."""
        snap_dir = os.path.join(self.root, "snapshots")
        rows = []
        for fn in sorted(os.listdir(snap_dir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            v = int(fn[1:-5])
            m = self.manifest(v)
            rows.append(
                (
                    v,
                    int(m.get("parent", 0)),
                    m.get("mode", "cow"),
                    len(m["files"]),
                    v == self.current_version(),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, mode string, n_files int, is_current boolean",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """Data files of a snapshot with bucket and on-disk size."""
        m = self.manifest(version)
        rows = [
            (
                f["path"],
                int(f["bucket"]),
                os.path.getsize(f["path"]) if os.path.exists(f["path"]) else None,
                int(f["rows"]) if f.get("rows") is not None else None,
                int(f["lsn_min"]) if f.get("lsn_min") is not None else None,
                int(f["lsn_max"]) if f.get("lsn_max") is not None else None,
            )
            for f in m["files"]
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, bucket int, size_bytes long, n_rows long, "
            "lsn_min long, lsn_max long",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket summary (Iceberg ``db.t.partitions`` parity):
        file count, bytes, rows, lsn span — the small-file /
        skew-imbalance dashboard a maintenance scheduler reads to pick
        compaction bucket ranges."""
        f = self.files(version)
        return (
            f.groupBy("bucket")
            .agg(
                F.count("*").alias("n_files"),
                F.sum("size_bytes").alias("bytes"),
                F.sum("n_rows").alias("n_rows"),
                F.min("lsn_min").alias("lsn_min"),
                F.max("lsn_max").alias("lsn_max"),
            )
            .orderBy("bucket")
        )

    # ------------------------------------------------------ maintenance

    def expire_snapshots(self, keep_n: int = 5) -> dict:
        """Iceberg-style snapshot expiry: retain the newest ``keep_n``
        snapshot manifests (always including current), delete older
        manifest JSONs, and physically remove data files referenced by
        NO retained snapshot (orphan GC).  Empty commit directories are
        pruned too.

        Without this, a micro-batch stream grows storage without bound:
        every COW merge / compact leaves the replaced files on disk for
        time travel forever.  After expiry, time travel is limited to
        the retained window — exactly Iceberg's ``expire_snapshots``
        contract.

        Crash-safe ordering: old manifests are deleted BEFORE their
        now-orphaned data files, so a crash mid-GC can leave unreferenced
        garbage files (harmless, re-collected next run) but never a
        readable manifest pointing at deleted data.

        Returns ``{"manifests_deleted": n, "files_deleted": n,
        "bytes_reclaimed": n}``.
        """
        keep_n = max(1, keep_n)
        current = self.current_version()
        if current == 0:
            return {"manifests_deleted": 0, "files_deleted": 0, "bytes_reclaimed": 0}
        snap_dir = os.path.join(self.root, "snapshots")
        versions = sorted(
            int(fn[1:-5])
            for fn in os.listdir(snap_dir)
            if fn.startswith("v") and fn.endswith(".json")
        )
        # every named pointer (main, branches, tags) pins its head:
        # a staged-but-unpublished branch must keep its data, and a
        # tagged training-run snapshot must stay time-travelable.
        # Dropping the branch/tag un-pins it for the next expiry run.
        pinned = {current, *(v for _name, _kind, v in self._ref_heads())}
        # "newest keep_n" means along THIS ref's ancestry, not the global
        # manifest sequence — otherwise a dropped branch's head (often
        # the numerically newest manifest) would be retained forever.
        # Non-main refs retain exactly their pinned head.
        chain: set[int] = set()
        v = current
        while v > 0 and len(chain) < keep_n:
            chain.add(v)
            try:
                v = self.manifest(v).get("parent", 0)
            except FileNotFoundError:
                break
        keep_set = chain | pinned
        retained = [v for v in versions if v in keep_set]
        expired = [v for v in versions if v not in keep_set]

        referenced: set[str] = set()
        for v in retained:
            for f in self.manifest(v)["files"]:
                referenced.add(f["path"])
                if "bloom_sidecar" in f:
                    # a live carried-forward entry keeps its commit's
                    # bloom sidecar alive; fully-expired commits drop
                    # theirs via the non-parquet sweep below
                    referenced.add(f["bloom_sidecar"])

        manifests_deleted = 0
        for v in expired:
            os.remove(self._manifest_path(v))
            manifests_deleted += 1

        files_deleted = bytes_reclaimed = 0
        data_root = os.path.join(self.root, "data")
        for commit_id in os.listdir(data_root):
            commit_dir = os.path.join(data_root, commit_id)
            live = False
            for dirpath, _dirnames, filenames in os.walk(commit_dir, topdown=False):
                for fn in filenames:
                    path = os.path.join(dirpath, fn)
                    if path in referenced:
                        live = True
                    elif fn.endswith(".parquet"):
                        bytes_reclaimed += os.path.getsize(path)
                        os.remove(path)
                        files_deleted += 1
                    else:  # _SUCCESS / .crc markers ride along
                        os.remove(path)
                try:
                    os.rmdir(dirpath)  # only succeeds once empty
                except OSError:
                    live = True
            if not live and not os.path.exists(commit_dir):
                pass  # fully reclaimed
        return {
            "manifests_deleted": manifests_deleted,
            "files_deleted": files_deleted,
            "bytes_reclaimed": bytes_reclaimed,
        }

    def plan_maintenance(
        self,
        target_file_bytes: int = 128 << 20,
        max_files_per_bucket: int = 4,
        keep_snapshots: int = 5,
    ) -> dict:
        """Metadata-only maintenance advisor: read the manifest (never
        the data) and say which knobs to turn — the role Iceberg's
        table-maintenance recommendations play.  At 100 TB the planner
        must be O(manifest): per-file rows/size ride the manifest
        entries, so the whole plan costs a JSON read plus one
        ``getsize`` per listed file on the driver.

        Returns::

            {"compact_buckets": [...],   # worst-first (file count desc)
             "expire_candidates": n,     # manifests beyond keep_snapshots
             "rebucket_to": n | None,    # power-of-two resize suggestion
             "totals": {"files", "bytes", "rows", "buckets",
                        "dead_rows" (bloom-profiled tables only)}}

        ``compact_buckets``: buckets holding more than
        ``max_files_per_bucket`` files — on MOR that is accumulated
        delta depth (read-side LWW work), on COW small-file debris.  A
        rolling scheduler compacts a prefix per tick (see
        :meth:`run_maintenance`), never the whole table.

        ``rebucket_to``: suggested when the average bucket carries more
        than 4x ``target_file_bytes`` (write/read parallelism starving —
        grow) or under a quarter of it with more than 8 buckets
        (task-overhead waste — shrink).  Suggestions only: rebucket is
        an O(table) rewrite the operator schedules deliberately.
        """
        m = self.manifest()
        per_bucket_files: dict[int, int] = {}
        totals = {"files": 0, "bytes": 0, "rows": 0, "buckets": self.n_buckets}
        dead = 0
        has_live = False
        for f in m["files"]:
            per_bucket_files[f["bucket"]] = per_bucket_files.get(f["bucket"], 0) + 1
            totals["files"] += 1
            totals["rows"] += f.get("rows", 0)
            try:
                totals["bytes"] += os.path.getsize(f["path"])
            except OSError:
                pass
            if "rows_live" in f:
                has_live = True
                dead += f.get("rows", 0) - f["rows_live"]
        if has_live:
            totals["dead_rows"] = dead

        compact = sorted(
            (b for b, n in per_bucket_files.items() if n > max_files_per_bucket),
            key=lambda b: -per_bucket_files[b],
        )

        snap_dir = os.path.join(self.root, "snapshots")
        n_manifests = (
            sum(1 for fn in os.listdir(snap_dir) if fn.endswith(".json"))
            if os.path.isdir(snap_dir)
            else 0
        )
        expire = max(0, n_manifests - max(1, keep_snapshots))

        rebucket_to = None
        if totals["bytes"] and self.n_buckets:
            avg = totals["bytes"] / self.n_buckets
            if avg > 4 * target_file_bytes:
                want = max(1, totals["bytes"] // target_file_bytes)
                rebucket_to = 1 << max(1, (int(want) - 1).bit_length())
            elif avg * 4 < target_file_bytes and self.n_buckets > 8:
                rebucket_to = max(8, self.n_buckets // 2)

        return {
            "compact_buckets": compact,
            "expire_candidates": expire,
            "rebucket_to": rebucket_to,
            "totals": totals,
        }

    def run_maintenance(
        self,
        max_compact_buckets: int | None = None,
        keep_snapshots: int = 5,
        tombstone_horizon_lsn: int | None = None,
        **plan_kwargs,
    ) -> dict:
        """One maintenance tick: plan, compact the worst
        ``max_compact_buckets`` buckets (all flagged buckets when
        None), then expire snapshots.  Each step is idempotent and
        snapshot-isolated, so a crashed tick at worst leaves work for
        the next one — the property that lets a scheduler fire this
        blindly every N minutes against a live ingest."""
        plan = self.plan_maintenance(keep_snapshots=keep_snapshots, **plan_kwargs)
        actions: dict = {"plan": plan}
        todo = plan["compact_buckets"]
        if max_compact_buckets is not None:
            todo = todo[:max_compact_buckets]
        if todo:
            actions["compacted_buckets"] = todo
            actions["compact_version"] = self.compact(
                tombstone_horizon_lsn=tombstone_horizon_lsn, buckets=todo
            )
        actions["expired"] = self.expire_snapshots(keep_n=keep_snapshots)
        return actions

    def merge_apply(
        self,
        changes: DataFrame,
        batch_id: str | int,
        extra_lineage: dict | None = None,
    ) -> int:
        """Exactly-once MERGE of a change set — raw or pre-collapsed;
        the latest-wins reduce happens HERE, once, against the current
        bucket rows (pre-collapsing the batch separately would pay the
        same shuffles twice — measured 2-3x on micro-batch ingest).

        Semantics (north_star): per key, the highest-lsn event ever
        applied wins; a winning op='D' removes the key; replay of an
        applied batch_id is a no-op; applying a stale lsn (redelivered
        beyond the dedup watermark, in any later batch) is a no-op for
        that key.

        One pipeline: pick the input rows and the file entries to carry
        forward, then one fused dedup+cluster bucket shuffle
        (``_bucket_collapse``), one write, one commit.  The input side
        is the only thing that differs:

        * **empty table** (bootstrap / full-log replay): the raw log,
          unless the ``choose_collapse`` probe (per-bucket mass + approx
          distinct keys, recorded in lineage as ``collapse_policy``)
          measures hot-key skew or heavy duplication — then the narrow
          salted ``max(lsn)`` winner search + join-back
          (``winners_join``) pre-reduces it, so no hot conversation
          concentrates sort mass in one bucket task.
        * **MOR**: the raw micro-batch; its winners append as delta
          files next to the untouched current files (reads reduce,
          compact folds).  A micro-batch's hot-key mass is bounded by
          its size, so it never needs the salted pre-pass.
        * **COW**: the raw batch unioned with the stored rows of the
          buckets it touches; those buckets are rewritten, every other
          file entry carries forward.  Stored buckets hold ≤1 row/key.

        Losers vanish; winners keep op — op='D' rows persist as
        tombstones so the delete's lsn keeps guarding the key.  A batch
        row that ties the stored row on (key, lsn) — idempotent
        re-apply, with or without payload jitter — resolves to exactly
        one row via the deterministic winner order.
        """
        cur = self.manifest()
        if _batch_applied(cur, batch_id):
            return cur["version"]  # idempotent replay

        fence = cur.get("fence_lsn", self._fence_lsn)
        if fence is not None:
            # Bootstrap fence (see bootstrap_load): every event at or
            # below the snapshot position is already reflected in (or
            # deliberately absent from — deleted keys!) the bootstrap
            # state, so it must be a no-op even when the catch-up tail
            # overlaps the snapshot.  LWW alone cannot provide this: a
            # key deleted before the fence has no stored tombstone, so a
            # redelivered pre-fence insert would resurrect it.  The
            # filter is a plain pushed-down predicate on the batch scan
            # — overlap replay costs zero shuffle.
            self._fence_lsn = int(fence)
            changes = changes.where(F.col("lsn") > F.lit(int(fence)))

        rows = batch = changes.select(*FILE_COLS)
        carry, affected, pstats = cur["files"], None, None
        cow = bool(carry) and self._mode == "cow"
        if cow:
            batch.persist()
        try:
            if not carry:
                # Looked up at call time: instrumentation and tests
                # patch these names on the salting module.
                from ..operators.salting import choose_collapse, winners_join

                policy, pstats = choose_collapse(changes, self.n_buckets)
                if policy == "salted":
                    rows = winners_join(changes)
            elif cow:
                affected = {
                    r["_bucket"]
                    for r in batch.select(bucket_expr(self.n_buckets).alias("_bucket"))
                    .distinct()
                    .collect()
                }
                carry = [f for f in cur["files"] if f["bucket"] not in affected]
                touch = [f["path"] for f in cur["files"] if f["bucket"] in affected]
                rows = self._read_files(touch).unionByName(batch)
            # the select pins the file column order: winners_join emits
            # its columns in a different order
            new = self._write_commit_files(
                self._bucket_collapse(rows).select(*FILE_COLS, "_bucket")
            )
        finally:
            if cow:
                batch.unpersist()
        if affected is None:
            affected = {e["bucket"] for e in new}
        files = carry + new

        def lineage() -> dict:
            # resolved after the write: a callable extra_lineage may read
            # an Observation whose metrics exist only once the write ran
            extra = extra_lineage() if callable(extra_lineage) else extra_lineage
            entry = {"op": "merge", "affected_buckets": sorted(affected)}
            entry.update(extra or {})
            if pstats is not None:
                entry["collapse_policy"] = pstats
            return entry

        return self._commit_merge(cur, files, lineage, batch_id)

    def _commit_merge(
        self,
        cur: dict,
        files: list[dict],
        lineage: dict | Callable[[], dict],
        batch_id: str | int | None = None,
    ) -> int:
        """The one commit primitive: every write path (merge, purge,
        overwrite, bootstrap, compact, rebucket) ends here, so the
        manifest format and the ledger/lineage retention policy live in
        this function alone.

        ``files`` is the new snapshot's complete live file list;
        ``lineage`` is the op's lineage entry (``{"op": ..., ...}``), or a
        callable returning it, resolved at commit time.  A ``batch_id``
        enters the applied-batch ledger and is stamped into the lineage
        entry; maintenance ops pass none and carry the ledger forward.
        The manifest is written before the pointer flips, so a crash
        leaves either the old snapshot or the new one visible, and an
        orphan manifest is overwritten by the next commit.  Single-driver
        version allocation (see ``_next_version``)."""
        version = self._next_version()
        ledger, hw = _roll_ledger(cur, batch_id, version)
        entry = lineage() if callable(lineage) else lineage
        entry = {"op": entry["op"], "version": version, **entry}
        if batch_id is not None:
            entry["batch_id"] = str(batch_id)
        entry.setdefault("wall_ts", time.time())
        history, truncated = _roll_lineage(cur, entry)
        manifest = {
            "version": version,
            "parent": cur["version"],
            "n_buckets": self.n_buckets,
            "mode": self._mode,
            "files": files,
            "applied_batches": ledger,
            "applied_evicted_high_water": hw,
            "lineage": history,
            "lineage_truncated": truncated,
            "key_blooms": self._key_blooms,
            # every commit gets a wall time (unlike lineage, a rolling
            # window), the anchor version_as_of resolves against
            "committed_wall_ts": time.time(),
        }
        if self._fence_lsn is not None:
            # table property, carried across every commit path like mode
            manifest["fence_lsn"] = self._fence_lsn
        self._atomic_write_json(self._manifest_path(version), manifest)
        self._atomic_write_json(self._pointer_path(), {"version": version})
        return version
