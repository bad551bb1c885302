"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §1.2 — no streaming semantics exist
in it); this package adds the incremental-ingest operators a continuously
crawled corpus needs: stateless per-doc featurization on a stream,
incremental exact dedup against persistent state via foreachBatch
(incremental.py), stateful SimHash/MinHash-LSH near-dup candidate
detection through one band-collision operator whose keyed state is a
composite group of buckets per band (applyInPandasWithState), and
keep-first span dedup with per-span keyed state (stateful.py) — deep
history beyond the streaming window stays with the periodic batch
re-cluster over the checkpointed signature table.
"""
