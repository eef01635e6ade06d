"""schema_matching_spark — a PySpark-native CDC/incremental-ingest engine.

A brand-new (not ported) engine with the capabilities of the reference
``davidfoerster/schema-matching`` project, re-architected Spark-first:

* tails a binlog/WAL-style change stream of conversation-transcript
  mutations (insert/update/delete keyed by ``(conv_id, turn_idx)``),
* applies them as exactly-once MERGE upserts into an Iceberg-model
  snapshot table (``plans/table.py``),
* dedups deliveries with watermarks, defuses hot-key skew with salting,
* and — the organ lifted from the reference's value-similarity schema
  matcher (SURVEY.md §2.A) — aligns renamed/retyped upstream columns to
  the target schema by per-attribute value-distribution similarity
  computed with vectorized Arrow UDFs (``functions/collectors.py``,
  ``operators/evolve.py``).

Layout (SURVEY.md §7.1):
  session.py            SparkSession factory with scale-aware configs
  schemas.py            transcript / change-event StructTypes
  sources/generator.py  deterministic change-log generator (B10)
  sources/wal.py        file-based WAL segment reader/writer (B1)
  sources/table_changes.py  `table_changes` stream of snapshot-version
                        spans (the table's change-feed offsets)
  operators/            dedup (B2), salting (B3), collapse (B4),
                        merge planning (B5), evolve (B7), verify (B9)
  plans/table.py        Iceberg-model snapshot table w/ atomic commits
  streaming/pipeline.py Structured Streaming tail + foreachBatch (B6/B8),
                        start_change_feed (changes_between per span)
  functions/            collector feature extraction (A3-A12),
                        assignment solver (A14)
  queries/              the driver-facing oracle query pack (§2.C)
"""

__version__ = "0.1.0"

#: Replay hot-path generation tag, stamped on every bench.py capture
#: and BENCH/headline_runs.jsonl row.  Bench numbers (cross-run minima
#: above all) are only compared within one engine tag: a best time
#: recorded under an older engine says nothing about the current one.
#:   v1-salted            rounds 1-5a: bootstrap always salted winner
#:                        search + join-back
#:   v2-adaptive-collapse round 5: probed direct/salted collapse policy
#:                        (operators/salting.choose_collapse)
REPLAY_ENGINE = "v2-adaptive-collapse"
