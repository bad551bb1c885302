"""Stateful streaming near-dup candidate detection (SimHash and
MinHash-LSH with per-bucket state via ``applyInPandasWithState``).

The batch pipeline buckets fingerprints by pigeonhole bit-blocks and
self-joins each bucket (operators/lsh.py). Streaming can't shuffle the
whole history per micro-batch, so the bucket membership itself becomes the
KEYED STATE: each (band_idx, band_key) group keeps the fingerprints it has
seen, every arriving doc is compared against that state (Hamming <= dist),
and matches are emitted incrementally — a doc arriving hours after its
near-duplicate still pairs with it, without re-reading history.

Semantics vs batch: with an unbounded state cap, the emitted (src, dst)
set equals the EXACT all-pairs Hamming <= dist set over the same
documents (the pigeonhole blocking is lossless) — pinned by
tests/test_streaming.py::test_stateful_simhash_matches_batch across
multiple micro-batches. That makes it CC-equivalent to, and a superset
of, ``simhash_candidate_edges``'s pre-CC candidate set (the batch path
collapses identical fingerprints to representatives, so its raw pair set
omits within-duplicate-group cliques). ``state_cap`` bounds per-bucket
state the same way ``bucket_cap`` bounds batch pair volume (boilerplate
skew guard): beyond the cap, new members still MATCH against the retained
set but are not added to it. Every drop is observable: eviction counts
ride matching output rows, and a bucket that evicts WITHOUT emitting any
match in that trigger emits a NULL-edge accounting row carrying the
counter — consumers filter ``src IS NOT NULL`` for edges and aggregate
``max(n_state_evicted)`` for loss monitoring.

Scale posture: state is per (band_idx, band_key) key, hash-partitioned by
the streaming state store — 11 band rows per doc, two longs per retained
member (~176 bytes/doc total). A pair can be emitted once per shared band;
consumers dedup with a downstream ``dropDuplicates(["src", "dst"])`` per
sink batch (same as the batch path's distinct). At full 10^12-doc corpus
scale the complete fingerprint history (~176 TB of state) belongs in the
batch layer, not a state store: run this operator over the RECENT window
(its state bounded by the window's doc count) and let the periodic batch
re-cluster from the checkpointed signature table (streaming/incremental.py
module docstring) handle deep history — the standard lambda split for
streaming dedup."""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_MASK64 = (1 << 64) - 1
# composite MinHash state groups per band (stateful_minhash_candidates)
_STATE_GROUPS = 256


def simhash_band_stream(
    fingerprints: DataFrame,
    dist: int = 10,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """(doc_id, simhash) stream → (band_idx, band_key, doc_id, fp) band
    rows. Pure projection + explode — streaming-safe, no shuffle until the
    stateful groupBy."""
    from deduplication_framework_spark.operators.lsh import simhash_block_array

    blocks = simhash_block_array(fp_col, dist)
    return fingerprints.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_col).alias("fp"),
        F.explode(blocks).alias("blk"),
    ).select(
        F.col("blk.band_idx").alias("band_idx"),
        F.xxhash64("blk.band_idx", "blk.block_bits").alias("band_key"),
        "doc_id",
        "fp",
    )


def stateful_simhash_candidates(
    fingerprints: DataFrame,
    dist: int = 10,
    state_cap: int = 2000,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Streaming (doc_id, simhash) → incremental candidate edges
    (src, dst, hamming, n_state_evicted), src < dst. Append-mode."""
    bands = simhash_band_stream(fingerprints, dist, id_col, fp_col)

    def match(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            ids, fps, evicted = state.get
            ids, fps = list(ids), list(fps)
        else:
            ids, fps, evicted = [], [], 0
        evicted_at_entry = evicted
        seen = set(ids)
        out = []
        for pdf in pdfs:
            for doc_id, fp in zip(pdf["doc_id"], pdf["fp"]):
                doc_id, fp = int(doc_id), int(fp)
                if ids:
                    # vectorized XOR + popcount against the whole retained
                    # set (the per-pair Python loop was the kind of
                    # per-element work the batch kernels vectorize)
                    arr = np.array(fps, dtype=np.int64).view(np.uint64)
                    x = arr ^ np.uint64(fp & _MASK64)
                    d = np.unpackbits(
                        x.view(np.uint8).reshape(-1, 8), axis=1
                    ).sum(axis=1)
                    for j in np.nonzero(d <= dist)[0]:
                        sid = ids[int(j)]
                        if sid == doc_id:
                            continue
                        a, b = (sid, doc_id) if sid < doc_id else (doc_id, sid)
                        out.append((a, b, int(d[j])))
                if doc_id in seen:
                    # re-delivered doc (at-least-once source replay or
                    # duplicate input row): never re-append — a duplicate
                    # slot would evict a genuinely new doc later and emit
                    # duplicate pair rows on every subsequent arrival
                    pass
                elif len(ids) < state_cap:
                    ids.append(doc_id)
                    fps.append(fp)
                    seen.add(doc_id)
                else:
                    evicted += 1
        state.update((ids, fps, evicted))
        # the counter is stamped with its END-of-trigger value on every
        # emitted row (a match row appended before a later same-trigger
        # eviction must not carry a stale count), and a trigger that evicts
        # with no match rows to carry the count surfaces a NULL-edge
        # accounting row — so capped recall loss is NEVER silent
        rows = [(a, b, h, evicted) for (a, b, h) in out]
        if not rows and evicted > evicted_at_entry:
            rows.append((None, None, None, evicted))
        if rows:
            yield pd.DataFrame(
                rows, columns=["src", "dst", "hamming", "n_state_evicted"]
            )

    return bands.groupBy("band_idx", "band_key").applyInPandasWithState(
        match,
        outputStructType="src long, dst long, hamming int, n_state_evicted long",
        stateStructType="ids array<long>, fps array<long>, evicted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_minhash_candidates(
    signatures: DataFrame,
    b: int,
    r: int,
    state_cap: int = 2000,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Streaming (doc_id, sig[array<long>]) → incremental MinHash-LSH
    candidate edges (src, dst, n_state_evicted), src < dst. Append-mode.

    This is the honest streaming rebuild of the reference's
    query-then-insert MinHashLSH loop (text/method/pipeline_api.py:434-475
    — literally a stream over arriving docs): band rows reuse the batch
    ``minhash_bands`` keying (streaming-safe posexplode + xxhash64), each
    (band_idx, band_key) group keeps the doc ids it has seen, and an
    arriving doc pairs with every retained member of its bucket — a band
    collision IS the candidate predicate, so unlike the SimHash operator
    there is no per-pair distance test and state holds only ids (~8
    bytes/member/band). With an unbounded cap the emitted pair set equals
    the batch all-pairs band-collision set over the same docs (pinned in
    tests/test_streaming.py). ``state_cap`` + eviction accounting follow
    the SimHash operator's contract: overflow docs still match the
    retained set, every drop increments the counter stamped (end-of-
    trigger value) on the trigger's rows, and a match-free evicting
    trigger emits the NULL-edge accounting row. Downstream verification:
    join emitted pairs to the checkpointed shingle table and apply
    ``verify_jaccard`` per sink batch — same split as the batch pipeline.

    State layout: the state key is ``(band_idx, pmod(band_key, 256))`` —
    a composite group holding many buckets' member lists — because
    ``applyInPandasWithState`` pays ~54μs per touched group per trigger
    and most buckets are singletons (bench corpus, dummy state fn: 16.6s
    through 152k per-bucket groups vs 8.4s through 576 composite ones).
    Capping and the replay guard stay per bucket, so the pair set is
    unchanged; only the eviction counter sums over the group's buckets."""
    from deduplication_framework_spark.operators.lsh import minhash_bands

    bands = minhash_bands(signatures, b, r, id_col=id_col, sig_col=sig_col)

    def match(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bkeys, ids, evicted = state.get
            bkeys, ids = list(bkeys), list(ids)
        else:
            bkeys, ids, evicted = [], [], 0
        evicted_at_entry = evicted
        # per-bucket member lists, append order preserved within bucket
        members: dict = {}
        for k2, d in zip(bkeys, ids):
            members.setdefault(k2, []).append(d)
        seen = set(zip(bkeys, ids))
        out = []
        for pdf in pdfs:
            for bk, doc_id in zip(pdf["band_key"], pdf[id_col]):
                bk, doc_id = int(bk), int(doc_id)
                lst = members.get(bk)
                if lst:
                    for sid in lst:
                        if sid == doc_id:
                            continue
                        a, c = (sid, doc_id) if sid < doc_id else (doc_id, sid)
                        out.append((a, c))
                if (bk, doc_id) in seen:
                    pass  # replay guard — see the SimHash operator
                elif lst is None or len(lst) < state_cap:
                    members.setdefault(bk, []).append(doc_id)
                    bkeys.append(bk)
                    ids.append(doc_id)
                    seen.add((bk, doc_id))
                else:
                    evicted += 1
        state.update((bkeys, ids, evicted))
        rows = [(a, c, evicted) for (a, c) in out]
        if not rows and evicted > evicted_at_entry:
            rows.append((None, None, evicted))
        if rows:
            yield pd.DataFrame(
                rows, columns=["src", "dst", "n_state_evicted"]
            )

    return bands.withColumn(
        "_grp", F.pmod(F.col("band_key"), F.lit(_STATE_GROUPS))
    ).groupBy("band_idx", "_grp").applyInPandasWithState(
        match,
        outputStructType="src long, dst long, n_state_evicted long",
        stateStructType="bkeys array<long>, ids array<long>, evicted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_span_dedup(
    spans: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming keep-first exact span dedup — the incremental analog of
    ``operators/spans.py`` (Dolma paragraph dedup on an ingest stream):
    pre-exploded (doc_id, pos, span) rows group by ``md5(span)``; the
    first-arriving copy of each distinct span is emitted with
    ``kept=true``, every later copy — same trigger or hours later — is
    suppressed, and suppression is observable: each trigger that drops
    copies of an already-kept span emits one ``kept=false`` row carrying
    the cumulative ``n_dropped`` for that span (consumers filter ``kept``
    for survivor spans and aggregate drops for monitoring). Within one
    trigger the winner is the min (doc id, pos) — the batch operator's
    tie-break — so arrival order only matters ACROSS triggers, where
    first-arrived is the only causally available order.

    State is one row per distinct span (winner (doc, pos) + a drop
    counter; ~40 bytes), keyed by the 128-bit md5 — the same collision
    budget as the batch path. A replayed trigger re-delivering the winner
    row emits nothing (the stored winner is recognized and never counted
    as a drop); replayed DUPLICATE copies inflate only the monitoring
    counter, never span membership. At full corpus scale the
    distinct-span universe belongs in the batch layer (lambda split, see
    module docstring); run this over the recent ingest window."""
    keyed = spans.select(
        F.md5(F.col("span")).alias("_h"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("pos").cast("int").alias("pos"),
        "span",
    )

    def keep(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        best = None
        n = 0
        for pdf in pdfs:
            for doc_id, pos, span in zip(pdf["doc_id"], pdf["pos"], pdf["span"]):
                n += 1
                row = (int(doc_id), int(pos), span)
                if best is None or row[:2] < best[:2]:
                    best = row
        if n == 0:
            return
        if state.exists:
            first_doc, first_pos, dropped = state.get
            # every arriving copy except a re-delivered winner row counts
            if (best[0], best[1]) == (first_doc, first_pos):
                n_drop = n - 1
            else:
                n_drop = n
            if n_drop == 0:
                return
            dropped += n_drop
            state.update((first_doc, first_pos, dropped))
            yield pd.DataFrame(
                [(best[0], best[1], best[2], False, dropped)],
                columns=["doc_id", "pos", "span", "kept", "n_dropped"],
            )
        else:
            dropped = n - 1
            state.update((best[0], best[1], dropped))
            yield pd.DataFrame(
                [(best[0], best[1], best[2], True, dropped)],
                columns=["doc_id", "pos", "span", "kept", "n_dropped"],
            )

    return keyed.groupBy("_h").applyInPandasWithState(
        keep,
        outputStructType=(
            "doc_id long, pos int, span string, kept boolean, n_dropped long"
        ),
        stateStructType="first_doc long, first_pos int, dropped long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_span_dedup(
    pages_stream: DataFrame,
    sep: str = "\n",
    id_col: str = "doc_order",
    text_col: str = "text",
) -> DataFrame:
    """Raw TEXT stream → incremental keep-first span dedup, end to end:
    the batch operator's span explosion (streaming-safe projection +
    posexplode + blank filter) feeding :func:`stateful_span_dedup`."""
    from deduplication_framework_spark.operators.spans import explode_spans

    spans = explode_spans(
        pages_stream, id_col=id_col, text_col=text_col, sep=sep
    )
    return stateful_span_dedup(spans, id_col=id_col)


def stream_text_candidates(
    pages_stream: DataFrame,
    cfg=None,
    detector: str = "minhash",
    state_cap: int = 2000,
    id_col: str = "doc_order",
    text_col: str = "text",
) -> DataFrame:
    """Raw TEXT stream → incremental near-dup candidate edges, end to end:
    the batch pipeline's fused Arrow featurization UDF
    (``make_fused_features_udf``) runs as a stateless streaming map
    (normalize + sign/fingerprint per micro-batch), feeding the stateful
    LSH operator — so a streaming caller needs no precomputed signature
    table. ``detector`` picks the family:

    * ``"minhash"`` — datasketch-spec sha1 signatures (whatever
      ``cfg.dedup.hash_family`` says) → ``(b, r)`` bands from the
      config's threshold/num_perm → :func:`stateful_minhash_candidates`
      (edges = band collisions; verify downstream per sink batch);
    * ``"simhash"`` — simhash-lib-spec fingerprints →
      :func:`stateful_simhash_candidates` (edges carry exact Hamming
      distance <= cfg.dedup.simhash_dist).

    Cross-micro-batch parity with the batch candidate semantics is pinned
    by the per-operator tests; this glue is pinned text-in by
    tests/test_streaming.py::test_stream_text_candidates_minhash."""
    from dataclasses import replace

    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )

    cfg = cfg or PipelineConfig()
    # a file-source micro-batch has one partition per input file (e.g. 4
    # at maxFilesPerTrigger=4), so the Arrow featurization UDF would run
    # at file parallelism regardless of cores; repartition the raw text
    # first — a few MB shuffled per trigger buys full-width featurization
    # (r6, guide §2.5 input skew / §4 Python boundary)
    pages_stream = pages_stream.repartition(
        pages_stream.sparkSession.sparkContext.defaultParallelism
    )
    doc_id = F.col(id_col).cast("long").alias("doc_id")
    if detector == "minhash":
        fused = make_fused_features_udf(
            cfg.embedding,
            replace(cfg.dedup, hash_family="sha1"),
            with_minhash=True,
        )
        sigs = pages_stream.select(
            doc_id, fused(text_col)["sig"].alias("sig")
        )
        b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
        return stateful_minhash_candidates(
            sigs, b=b, r=r, state_cap=state_cap
        )
    if detector == "simhash":
        fused = make_fused_features_udf(
            cfg.embedding, cfg.dedup, with_simhash=True
        )
        fps = pages_stream.select(
            doc_id, fused(text_col)["simhash"].alias("simhash")
        )
        return stateful_simhash_candidates(
            fps, dist=cfg.dedup.simhash_dist, state_cap=state_cap
        )
    raise ValueError(
        f"unknown stream detector {detector!r}; valid: minhash, simhash"
    )


def stateful_latest_snapshot(
    rows: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts_micros",
    tie_col: str = "digest",
) -> DataFrame:
    """Streaming keep-latest per key — the incremental analog of
    ``operators/snapshots.py::latest_snapshot`` over a recrawl stream of
    ``(url, ts_micros[long], digest[string])`` captures (the input
    hint's (url, warc_ts) model; pass ``unix_micros(warc_ts)`` for a
    timestamp column).

    Per-key state holds only the current winner ``(ts, tie)`` — O(1)
    per url regardless of recrawl count, the streaming counterpart of
    the batch op's map-side max-struct (no history replay, no window).
    Ordering matches the batch struct comparison exactly: greatest
    (ts, tie) wins, NULL ts sorts lowest but still seats a winner.

    Append-mode contract: a trigger emits ``(key, ts_micros, digest,
    n_updates)`` for a key IFF the winner CHANGED in that trigger (first
    arrival included); late/out-of-order captures that lose to the
    seated winner emit nothing. ``n_updates`` counts winner changes so
    far (monotone — consumers can keep max). After any prefix of
    micro-batches, the LAST emitted row per key equals
    ``latest_snapshot`` of the union of those batches — pinned in
    tests/test_streaming.py."""

    def pick(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts, tie, n_updates = state.get
        else:
            ts, tie, n_updates = None, None, 0
        start_updates = n_updates
        for pdf in pdfs:
            for r_ts, r_tie in zip(pdf[ts_col], pdf[tie_col]):
                r_ts = None if pd.isna(r_ts) else int(r_ts)
                r_tie = None if r_tie is None else str(r_tie)
                # lexicographic (ts, tie), NULL lowest — the batch
                # struct order
                cur = (
                    (ts is not None, ts if ts is not None else 0),
                    (tie is not None, tie if tie is not None else ""),
                )
                new = (
                    (r_ts is not None, r_ts if r_ts is not None else 0),
                    (r_tie is not None, r_tie if r_tie is not None else ""),
                )
                # n_updates == 0 iff no winner has ever been seated
                # (every seating increments it), so it doubles as the
                # "state holds a real winner" flag even when the seated
                # winner is (NULL, NULL)
                if n_updates == 0 or new > cur:
                    ts, tie = r_ts, r_tie
                    n_updates += 1
        state.update((ts, tie, n_updates))
        if n_updates > start_updates:
            yield pd.DataFrame(
                [(key[0], ts, tie, n_updates)],
                columns=[key_col, ts_col, tie_col, "n_updates"],
            )

    return rows.select(key_col, ts_col, tie_col).groupBy(
        key_col
    ).applyInPandasWithState(
        pick,
        outputStructType=(
            f"{key_col} string, {ts_col} long, {tie_col} string,"
            " n_updates long"
        ),
        stateStructType="ts long, tie string, n_updates long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
