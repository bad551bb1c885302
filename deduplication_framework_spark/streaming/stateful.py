"""Stateful streaming near-dup candidate detection (SimHash and
MinHash-LSH through one band-collision operator over composite keyed
state via ``applyInPandasWithState``).

The batch pipeline buckets documents by band keys (MinHash band slices,
SimHash pigeonhole bit-blocks) and self-joins each bucket
(operators/lsh.py). Streaming can't shuffle the whole history per
micro-batch, so the bucket membership itself becomes the KEYED STATE:
every arriving band row is compared against the members its bucket has
retained (Hamming <= dist on the carried fingerprint; MinHash carries a
zero fingerprint with dist 0, so a band collision is the whole test) and
matches are emitted incrementally — a doc arriving hours after its
near-duplicate still pairs with it, without re-reading history.

Semantics vs batch: with an unbounded state cap, the emitted (src, dst)
set equals the EXACT all-pairs Hamming <= dist set (SimHash; the
pigeonhole blocking is lossless) or the all-pairs band-collision set
(MinHash) over the same documents — pinned by tests/test_streaming.py
across multiple micro-batches. For SimHash that makes it CC-equivalent
to, and a superset of, ``simhash_candidate_edges``'s pre-CC candidate set
(the batch path collapses identical fingerprints to representatives, so
its raw pair set omits within-duplicate-group cliques). ``state_cap``
bounds each bucket's state the same way ``bucket_cap`` bounds batch pair
volume (boilerplate skew guard): beyond the cap, new members still MATCH
against the retained set but are not added to it. Every drop is
observable: eviction counts ride matching output rows, and a group that
evicts WITHOUT emitting any match in that trigger emits a NULL-edge
accounting row carrying the counter — consumers filter ``src IS NOT
NULL`` for edges and aggregate ``max(n_state_evicted)`` for loss
monitoring.

Scale posture: state is keyed by the composite group ``(band_idx,
pmod(band_key, _STATE_GROUPS))``, hash-partitioned by the streaming state
store; each retained member costs three longs (band key, doc id,
fingerprint) per band — 24 bytes/member/band, ~264 bytes/doc for
SimHash's 11 bands. A pair can be emitted once per shared band;
consumers dedup with a downstream ``dropDuplicates(["src", "dst"])`` per
sink batch (same as the batch path's distinct). At full 10^12-doc corpus
scale the complete history (~264 TB of SimHash state) belongs in the
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

from deduplication_framework_spark.operators.lsh import (
    minhash_bands,
    simhash_bands,
)

_MASK64 = (1 << 64) - 1
# composite state groups per band: applyInPandasWithState pays ~54μs per
# touched group per trigger and MinHash buckets are nearly all singletons
# (bench corpus, dummy state fn: 16.6s through 152k per-bucket groups vs
# 8.4s through 576 composite ones); SimHash has at most 640 buckets in all
_STATE_GROUPS = 256


def _match_bands(
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    dist: int,
    state_cap: int,
) -> Iterator[pd.DataFrame]:
    """Query-then-insert over one composite group's band rows
    ``(band_key, doc_id, fp)``: each row pairs with every member its
    bucket retains within Hamming ``dist``, then joins the bucket unless
    the bucket already holds it (replay guard: an at-least-once
    re-delivery must not take a slot that would evict a new doc) or holds
    ``state_cap`` members (an eviction, counted per group). Every row the
    trigger emits carries the counter's END-of-trigger value, and a
    trigger that evicts with no match rows emits a NULL-edge accounting
    row — capped recall loss is never silent."""
    bkeys, ids, fps, evicted = state.get if state.exists else ([], [], [], 0)
    evicted_at_entry = evicted
    members: dict = {}  # band_key -> {doc_id: fp}, in arrival order
    for bk, d, fp in zip(bkeys, ids, fps):
        members.setdefault(bk, {})[d] = fp
    out = []
    for pdf in pdfs:
        for bk, doc_id, fp in zip(pdf["band_key"], pdf["doc_id"], pdf["fp"]):
            bk, doc_id, fp = int(bk), int(doc_id), int(fp)
            bucket = members.setdefault(bk, {})
            for sid, sfp in bucket.items():
                h = ((sfp ^ fp) & _MASK64).bit_count()
                if h <= dist and sid != doc_id:
                    out.append((min(sid, doc_id), max(sid, doc_id), h))
            if len(bucket) < state_cap:
                bucket.setdefault(doc_id, fp)
            elif doc_id not in bucket:
                evicted += 1
    bkeys, ids, fps = [], [], []
    for bk, bucket in members.items():
        bkeys += [bk] * len(bucket)
        ids += bucket
        fps += bucket.values()
    state.update((bkeys, ids, fps, evicted))
    rows = [(a, b, h, evicted) for a, b, h in out]
    if not rows and evicted > evicted_at_entry:
        rows.append((None, None, None, evicted))
    if rows:
        yield pd.DataFrame(
            rows, columns=["src", "dst", "hamming", "n_state_evicted"]
        )


def _stateful_band_candidates(
    bands: DataFrame, dist: int, state_cap: int
) -> DataFrame:
    """Band rows ``(band_idx, band_key, doc_id, fp)`` → incremental
    candidate edges ``(src, dst, hamming, n_state_evicted)``, src < dst,
    append-mode: :func:`_match_bands` per composite group ``(band_idx,
    pmod(band_key, _STATE_GROUPS))``, state ``(bkeys, ids, fps,
    evicted)``.

    Restarting on a checkpoint written with another state layout fails
    at its first trigger on Spark's state schema check:
    ``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE`` for another value schema,
    ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE`` for other key types or
    nullability (both pinned in tests/test_streaming.py). Field names are
    not compared, so a change to the grouping key alone that keeps its
    types is NOT caught: such a change must also change the value schema,
    or run on a fresh checkpoint."""
    return bands.withColumn(
        "_grp", F.pmod(F.col("band_key"), F.lit(_STATE_GROUPS))
    ).groupBy("band_idx", "_grp").applyInPandasWithState(
        lambda key, pdfs, state: _match_bands(pdfs, state, dist, state_cap),
        outputStructType="src long, dst long, hamming int, n_state_evicted long",
        stateStructType=(
            "bkeys array<long>, ids array<long>, fps array<long>, evicted long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    bands = simhash_bands(fingerprints, dist, id_col, fp_col)
    bands = bands.withColumnRenamed(id_col, "doc_id")
    return _stateful_band_candidates(bands, dist, state_cap)


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
    ``minhash_bands`` keying (streaming-safe posexplode + xxhash64) with a
    zero fingerprint and ``dist = 0``, so an arriving doc pairs with every
    retained member of its bucket — a band collision IS the candidate
    predicate. With an unbounded cap the emitted pair set equals the
    batch all-pairs band-collision set over the same docs (pinned in
    tests/test_streaming.py). Downstream verification: join emitted pairs
    to the checkpointed shingle table and apply ``verify_jaccard`` per
    sink batch — same split as the batch pipeline."""
    bands = minhash_bands(signatures, b, r, id_col=id_col, sig_col=sig_col)
    bands = bands.withColumnRenamed(id_col, "doc_id").withColumn(
        "fp", F.lit(0).cast("long")
    )
    return _stateful_band_candidates(bands, 0, state_cap).drop("hamming")


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
