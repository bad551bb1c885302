"""Bloom-prefiltered incremental NEAR-dup dedup (fuzzy recrawl mode).

Completes the incremental matrix alongside ``operators/bloom.py`` (exact
batch anti-join) and ``streaming/stateful.py`` (stateful micro-batch LSH):
a re-crawled batch is deduplicated against the historical corpus at
MinHash-LSH near-dup semantics without ever shuffling history rows per
batch.

Reference semantics: the query-then-insert loop of
``text/method/pipeline_api.py:434-475`` run with the index FROZEN at the
historical corpus — each new doc asks "is a near-dup already present in
history?"; new docs do NOT dedup against each other (within-batch
near-dups are the batch pipeline's job — run it separately if wanted),
mirroring ``incremental_new_rows``'s within-batch contract.

Spark form, scale posture:

* history is featurized ONCE per batch here — at real recrawl scale the
  feature and band tables are PRECOMPUTED and append-only, so pass
  ``old_features`` + ``old_bands`` (and reuse the returned ``bloom``
  across batches): the per-batch history cost is then the hit-key
  semi-join over the stored band table + the per-pair verify join,
  ∝ the batch's collision footprint, not the corpus;
* a Bloom filter over history's ~n_old*b band keys ships broadcast; the
  new batch's band rows are tagged MAP-SIDE. Bloom filters have no false
  negatives, so a new doc with ZERO hit bands shares no band bucket with
  history — definitely new at LSH-candidate semantics — and skips every
  join. On a fresh-content crawl that is most of the batch;
* only HIT band rows join history's band table (band-key equi-join,
  history side semi-joined down to the hit keys first — broadcast under
  ``hit_broadcast_threshold``, shuffle fallback above), and only the
  resulting (new, old) pairs are verified with the exact sorted-merge
  Jaccard >= threshold. Bloom false positives only ADD candidate pairs
  that verification removes — the answer EQUALS the no-bloom bipartite
  band join + verify, independent of fpp (pinned by
  tests/test_incremental_fuzzy.py::test_tiny_bloom_same_answer);
* recall is the LSH S-curve, same as the batch pipeline and the stateful
  streaming operator; ``old_bucket_cap`` bounds a pathological hot
  history bucket with OBSERVABLE accounting (``n_capped_band_keys``,
  ``max_old_bucket``), mirroring streaming ``state_cap`` — the capped
  subplan is only built when the census actually sees a hot key.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions import kernels as K
from ..functions.text import minhash_features
from ..session import local_frame
from .bloom import BloomFilter, bloom_build, bloom_tag
from .lsh import _cut, minhash_bands
from .verify import _jaccard_at_least

__all__ = [
    "incremental_near_new_rows",
    "save_fuzzy_index",
    "load_fuzzy_index",
    "append_fuzzy_index",
    "load_admitted_texts",
]


def incremental_near_new_rows(
    new_df: DataFrame,
    old_df: DataFrame,
    cfg: Optional[PipelineConfig] = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 1e-3,
    old_features: Optional[DataFrame] = None,
    old_bands: Optional[DataFrame] = None,
    bloom: Optional[BloomFilter] = None,
    old_bucket_cap: int = 10_000,
    hit_broadcast_threshold: int = 2_000_000,
) -> Tuple[DataFrame, dict]:
    """Rows of ``new_df`` with NO near-duplicate in ``old_df`` — near-dup
    = exact feature Jaccard >= ``cfg.dedup.threshold`` among MinHash-LSH
    band-bucket candidates, the batch pipeline's own verified-edge
    semantics applied bipartite (new × history).

    ``old_features`` (columns ``(<id_col>, sig, shingles)``, e.g. a stored
    frame from a previous run's featurization) skips re-featurizing
    history; ``old_bands`` (columns ``(<id_col>, band_key)``, e.g. the
    band table stored as a parquet/Iceberg index and appended to as docs
    are admitted) additionally skips the per-batch history band explosion
    — with all of ``old_features``/``old_bands``/``bloom`` supplied the
    steady-state history cost is ONE count + the hit-key semi-join over
    the stored band table + the per-pair verify join, all ∝ the batch's
    collision footprint, never the corpus; ``bloom`` (from a previous
    batch's ``stats["bloom"]``) skips rebuilding the band-key filter.
    Returns ``(result_df, stats)``; stats includes the built ``bloom``
    for reuse plus routing counters. Holds each intermediate once with
    ``lsh._cut``, whose one action also observes its counters (the cuts
    are freed by ``lsh.release_census_caches()``).
    """
    cfg = cfg or PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)

    def featurize(df):
        # the stored-index config hash covers hash_family, so an index
        # built under one family is never verified under another
        return minhash_features(
            df, cfg.embedding, cfg.dedup, id_col=id_col, text_col=text_col
        ).select(F.col(id_col).alias("_id"), "sig", "shingles")

    computed_feats = old_features is None
    if computed_feats:
        old_feats = featurize(old_df)
    else:
        old_feats = old_features.select(
            F.col(id_col).alias("_id"), "sig", "shingles"
        )
    if computed_feats or old_bands is None:
        # features we computed here (Arrow UDF over the corpus) are
        # consumed by the stats count AND the verify join — and, when the
        # bands must be built too, by the band explosion: cut them before
        # the fan-out. Provided features with provided bands skip this:
        # two column-pruned scans of a STORED frame beat holding a
        # corpus-scale frame
        old_feats, n = _cut(old_feats, n=F.count("*"))
        n_old = n["n"]
    else:
        n_old = old_feats.count()
    if old_bands is None:
        # a narrow explode of the cut features: recomputed by the filter
        # build and the hit-key semi-join rather than held at b rows/doc
        old_bands = minhash_bands(
            old_feats.select("_id", "sig"), b, r, id_col="_id"
        )
    else:
        # stored index path: the band table is precomputed (parquet/
        # Iceberg, append-only), so history is never re-exploded per batch
        old_bands = old_bands.select(F.col(id_col).alias("_id"), "band_key")
    if bloom is None:
        # duplicates in the key stream just re-set bits — skip the
        # distinct() shuffle and size for the upper bound n_old*b
        bloom = bloom_build(
            old_bands,
            F.col("band_key"),
            expected_items=max(n_old * b, 1),
            fpp=fpp,
        )

    new_feats, n = _cut(featurize(new_df), n=F.count("*"))
    n_batch = n["n"]
    tagged, n = _cut(
        bloom_tag(
            minhash_bands(new_feats.select("_id", "sig"), b, r, id_col="_id"),
            bloom,
            F.col("band_key"),
            "_maybe",
        ),
        rows=F.count("*"),
        hits=F.count_if("_maybe"),
    )
    n_band_rows, n_hit_rows = n["rows"], n["hits"]
    hits = tagged.filter("_maybe").select("_id", "band_key")

    stats = {
        "n_new_batch": n_batch,
        "n_old": n_old,
        "b": b,
        "r": r,
        "n_band_rows": n_band_rows,
        "n_hit_band_rows": n_hit_rows,
        "m_bits": bloom.m_bits,
        "k": bloom.k,
        "bloom": bloom,
        "n_capped_band_keys": 0,
        "max_old_bucket": 0,
    }
    if n_hit_rows == 0:
        stats.update(
            n_candidate_docs=0,
            n_definite_new=n_batch,
            n_candidate_pairs=0,
            n_dup_docs=0,
            verify_path="none",
        )
        return new_df, stats

    n_cand_docs = hits.select("_id").distinct().count()
    stats["n_candidate_docs"] = n_cand_docs
    stats["n_definite_new"] = n_batch - n_cand_docs

    # history side reduced to the hit keys BEFORE any pair work: broadcast
    # semi-join when the hit set is small (history is never shuffled),
    # shuffle fallback above the threshold — bloom.py's verify posture
    hit_keys = hits.select("band_key").distinct()
    if n_hit_rows <= hit_broadcast_threshold:
        stats["verify_path"] = "broadcast"
        hit_keys = F.broadcast(hit_keys)
    else:
        stats["verify_path"] = "shuffle"
    # each hit key's history rows with their count and lowest-id-first
    # rank, cut once: the census rides the cut's action
    w = Window.partitionBy("band_key").orderBy("_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    old_hit, census = _cut(
        old_bands.join(hit_keys, "band_key", "left_semi").select(
            "_id",
            "band_key",
            F.count("*").over(whole).alias("_n"),
            F.row_number().over(w).alias("_rn"),
        ),
        mx=F.max("_n"),
        nc=F.count_if((F.col("_rn") == 1) & (F.col("_n") > old_bucket_cap)),
    )
    stats["max_old_bucket"] = int(census["mx"] or 0)
    stats["n_capped_band_keys"] = int(census["nc"])
    if stats["n_capped_band_keys"] > 0:
        # hot-bucket cap with observable accounting (streaming state_cap
        # discipline): keep the cap lowest old ids per key, deterministic
        old_hit = old_hit.filter(F.col("_rn") <= old_bucket_cap)

    pairs, n = _cut(
        hits.join(
            old_hit.select(F.col("_id").alias("_old_id"), "band_key"),
            "band_key",
        )
        .select("_id", "_old_id")
        .distinct(),
        n=F.count("*"),
    )
    stats["n_candidate_pairs"] = n["n"]

    # each side joins its OWN features: batch and history ids may overlap
    # (or differ in type) without naming the same document
    pv = pairs.join(
        new_feats.select("_id", F.col("shingles").alias("_sh_n")), "_id"
    ).join(
        old_feats.select(
            F.col("_id").alias("_old_id"), F.col("shingles").alias("_sh_o")
        ),
        "_old_id",
    )
    dup_ids, n = _cut(
        _jaccard_at_least(pv, "_sh_n", "_sh_o", cfg.dedup.threshold)
        .select(F.col("_id").alias(id_col))
        .distinct(),
        n=F.count("*"),
    )
    stats["n_dup_docs"] = n["n"]
    result = new_df.join(dup_ids, id_col, "left_anti")
    return result, stats


# ---------------------------------------------------------------------------
# Stored fuzzy index: the daily-recrawl contract (VERDICT r4 #5).
#
# ``old_features``/``old_bands``/``bloom`` above are injectable; these two
# functions round-trip them through a ParquetTableStore (atomic-rename
# commits, config-hash validation, per-partition lineage — the pipeline's
# own resume discipline) so a NEW PROCESS can dedup a recrawl batch with
# ZERO history featurization: history is touched only as column-pruned
# scans of the stored feature/band parquet. Reference analog: the frozen
# datasketch index of text/method/pipeline_api.py:434-475, persisted
# instead of rebuilt per run.
# ---------------------------------------------------------------------------

_IDX_FEATURES = "fuzzy_features"
_IDX_BANDS = "fuzzy_bands"
_IDX_BLOOM = "fuzzy_bloom"
# Raw texts of every ADMITTED doc, committed config/generation-FREE
# (texts are config-independent): any rebuild — config change, source
# corpus change, torn append — re-featurizes history ∪ admitted, so
# admitted docs survive every invalidation (their features alone could
# not be re-derived: the index stores sig/shingles, not text).
_IDX_ADMITTED = "fuzzy_admitted"
_ADMITTED_HASH = "fuzzy_admitted|v1"


def _index_hash(cfg: PipelineConfig, fpp: float, src_ident: str = "") -> str:
    """Index validity key: any change to the feature/signature/banding
    config (or the bloom sizing) invalidates every stored index table;
    ``src_ident`` (an identity stamp of the SOURCE history corpus, e.g.
    rowcount:contenthash) additionally invalidates the index when the
    corpus it was built from changes — without it a grown/replaced
    history would be silently ignored by the fuzzy layer.
    Every save/append stamps ``|gen=<uuid>`` on top (all three tables in
    one generation): a crash BETWEEN the three table commits leaves
    mixed generations, which ``load_fuzzy_index`` refuses — a torn
    append degrades to "rebuild required" (admitted texts survive in
    ``fuzzy_admitted``), never to a band index that silently misses
    documents whose features were already admitted."""
    base = f"fuzzy_index|{cfg.config_hash()}|fpp={fpp}"
    return f"{base}|src={src_ident}" if src_ident else base


def save_fuzzy_index(
    store,
    old_df: DataFrame,
    cfg: Optional[PipelineConfig] = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 1e-3,
    src_ident: str = "",
) -> dict:
    """Featurize ``old_df`` ONCE and commit the three index artifacts to
    ``store`` (a ParquetTableStore-contract object): ``fuzzy_features``
    (doc_id, sig, shingles), ``fuzzy_bands`` (doc_id, band_key), and
    ``fuzzy_bloom`` (a single-row frame carrying the band-key Bloom
    filter's sizing + packed 64-bit words). Bands are built FROM the
    committed feature table (one featurization pass total), the bloom
    from the committed band table. ``src_ident`` stamps the source
    corpus's identity into the validity hash (pass the same stamp to
    ``load``). Returns stats; read back with ``load_fuzzy_index``."""
    import uuid

    cfg = cfg or PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    hg = f"{_index_hash(cfg, fpp, src_ident)}|gen={uuid.uuid4().hex[:12]}"

    feats = store.write(
        minhash_features(
            old_df, cfg.embedding, cfg.dedup, id_col=id_col, text_col=text_col
        ).select(F.col(id_col).alias("doc_id"), "sig", "shingles"),
        _IDX_FEATURES,
        hg,
        lineage=["history"],
    )
    n_old = store.read_commit(_IDX_FEATURES).rows
    bands = store.write(
        minhash_bands(feats, b, r).select("doc_id", "band_key"),
        _IDX_BANDS,
        hg,
        lineage=[_IDX_FEATURES],
    )
    bloom = bloom_build(
        bands,
        F.col("band_key"),
        expected_items=max(n_old * b, 1),
        fpp=fpp,
    )
    _write_bloom_row(store, old_df.sparkSession, bloom, hg)
    return {
        "n_old": n_old,
        "b": b,
        "r": r,
        "m_bits": bloom.m_bits,
        "k": bloom.k,
    }


def _write_bloom_row(store, spark, bloom: BloomFilter, hg: str) -> None:
    row = [
        (
            int(bloom.m_bits),
            int(bloom.k),
            int(bloom.n_items),
            bloom.key_desc,
            bytearray(bloom.words.tobytes()),
        )
    ]
    store.write(
        local_frame(
            spark,
            "m_bits long, k int, n_items long, key_desc string, "
            "words binary",
            row,
        ),
        _IDX_BLOOM,
        hg,
        lineage=[_IDX_BANDS],
        metrics={"m_bits": float(bloom.m_bits), "k": float(bloom.k)},
    )


def load_fuzzy_index(
    store,
    cfg: Optional[PipelineConfig] = None,
    *,
    fpp: float = 1e-3,
    src_ident: str = "",
) -> Optional[dict]:
    """→ ``{"old_features", "old_bands", "bloom", "n_old"}`` ready to pass
    to ``incremental_near_new_rows`` (id_col="doc_id"), or ``None`` when
    any index table is missing or was committed under a DIFFERENT config
    hash / source-corpus identity (stale index ⇒ rebuild, never a
    silently-wrong answer — the stage-resume discipline)."""
    import numpy as np

    cfg = cfg or PipelineConfig()
    h = _index_hash(cfg, fpp, src_ident)
    fc = store.read_commit(_IDX_FEATURES)
    if fc is None or not fc.config_hash.startswith(h + "|gen="):
        return None
    for name in (_IDX_BANDS, _IDX_BLOOM):
        c = store.read_commit(name)
        # all three tables must carry the SAME generation stamp — a torn
        # save/append (crash between commits) fails closed here
        if c is None or c.config_hash != fc.config_hash:
            return None
    brow = store.read(_IDX_BLOOM).first()
    bloom = BloomFilter(
        words=np.frombuffer(bytes(brow.words), dtype=np.int64).copy(),
        m_bits=int(brow.m_bits),
        k=int(brow.k),
        n_items=int(brow.n_items),
        key_desc=brow.key_desc or "",
    )
    return {
        "old_features": store.read(_IDX_FEATURES),
        "old_bands": store.read(_IDX_BANDS),
        "bloom": bloom,
        "n_old": store.read_commit(_IDX_FEATURES).rows,
    }


def load_admitted_texts(store) -> Optional[DataFrame]:
    """The raw texts of every doc ever admitted via ``append_fuzzy_index``
    (config/generation-free commit), or ``None`` if nothing was admitted.
    A rebuild after ANY invalidation must featurize history UNION this
    frame, or admitted docs silently fall out of the index."""
    c = store.read_commit(_IDX_ADMITTED)
    if c is None or c.config_hash != _ADMITTED_HASH:
        return None
    return store.read(_IDX_ADMITTED)


def append_fuzzy_index(
    store,
    new_df: DataFrame,
    cfg: Optional[PipelineConfig] = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 1e-3,
    src_ident: str = "",
) -> dict:
    """ADMIT ``new_df`` into a committed fuzzy index — the write half of
    the daily-recrawl loop (dedup the batch against the index, then
    append the genuinely-new survivors so tomorrow's batch dedups against
    them too). Only the NEW docs are featurized; docs whose id is
    already indexed are skipped (idempotent under replay). The part
    Bloom filter is built at the STORED geometry and OR-ed in (Bloom
    union at identical (m, k) equals a fresh build over the union of
    keys — bit-exact, pinned in tests); ``n_items`` bookkeeping grows so
    fpp drift past the original sizing stays observable.

    Write protocol, in order, each commit atomic (tmp + rename):

    1. the new part is materialized to a TEMP parquet first and every
       later frame derives from that stored copy — a cache-partition
       loss mid-append can therefore never re-evaluate lineage through
       index files a later step has already replaced;
    2. ``fuzzy_admitted`` (raw texts, config/gen-free) is committed
       BEFORE the index tables: whatever happens after, a rebuild can
       re-featurize history ∪ admitted and no admitted doc is lost;
    3. features → bands → bloom are re-committed under ONE fresh
       generation stamp; a crash between them leaves mixed generations
       and ``load_fuzzy_index`` refuses (rebuild — which step 2 made
       lossless — never a band index missing admitted docs).

    ParquetTableStore implements each append as an atomic union-rewrite
    (read-while-writing-tmp, then rename) — correct and crash-safe,
    O(index) IO per append; at real corpus scale back the same contract
    with IcebergTableStore appends."""
    import shutil
    import tempfile
    import uuid

    cfg = cfg or PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    idx = load_fuzzy_index(store, cfg, fpp=fpp, src_ident=src_ident)
    if idx is None:
        raise ValueError(
            "append_fuzzy_index: no valid committed index at this config "
            "— run save_fuzzy_index first (or the index is torn/stale)"
        )
    old_feats = idx["old_features"]
    old_bands = idx["old_bands"]
    old_bloom: BloomFilter = idx["bloom"]
    hg = f"{_index_hash(cfg, fpp, src_ident)}|gen={uuid.uuid4().hex[:12]}"
    spark = new_df.sparkSession

    fresh = new_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).join(old_feats.select("doc_id"), "doc_id", "left_anti")

    tmp = tempfile.mkdtemp(prefix="fuzzy_append_")
    try:
        # step 1: new texts + features to deterministic TEMP storage;
        # everything below derives from these files, never from cached
        # lineage over the index tables being replaced
        fresh.write.mode("overwrite").parquet(f"{tmp}/texts")
        new_texts = spark.read.parquet(f"{tmp}/texts")
        minhash_features(new_texts, cfg.embedding, cfg.dedup).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/feats")
        new_feats = spark.read.parquet(f"{tmp}/feats")
        n_added = new_feats.count()
        if n_added == 0:
            return {
                "n_added": 0,
                "n_total": idx["n_old"],
                "m_bits": old_bloom.m_bits,
                "k": old_bloom.k,
            }
        new_bands = minhash_bands(new_feats, b, r).select("doc_id", "band_key")

        # part filter over JUST the new band rows at the stored
        # geometry: Bloom union at identical (m, k) is bit-exact with a
        # fresh build over the union of keys. Built BEFORE any table
        # rewrite (write-protocol step 1 rationale).
        part = bloom_build(
            new_bands,
            F.col("band_key"),
            expected_items=n_added * b,
            m_bits=old_bloom.m_bits,
            k=old_bloom.k,
        )

        # step 2: admitted texts FIRST (loss-proof rebuilds)
        prev_adm = load_admitted_texts(store)
        adm = (
            prev_adm.unionByName(new_texts)
            if prev_adm is not None
            else new_texts
        )
        store.write(
            adm.dropDuplicates(["doc_id"]),
            _IDX_ADMITTED,
            _ADMITTED_HASH,
            lineage=["admitted"],
        )

        # step 3: the three index tables under one fresh generation
        store.write(
            old_feats.unionByName(new_feats), _IDX_FEATURES, hg,
            lineage=["history", "appended"],
        )
        n_total = store.read_commit(_IDX_FEATURES).rows
        store.write(
            old_bands.unionByName(new_bands), _IDX_BANDS, hg,
            lineage=[_IDX_FEATURES],
        )
        merged = BloomFilter(
            words=old_bloom.words | part.words,
            m_bits=old_bloom.m_bits,
            k=old_bloom.k,
            n_items=int(old_bloom.n_items) + n_added * b,
            key_desc=old_bloom.key_desc,
        )
        _write_bloom_row(store, spark, merged, hg)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "n_added": n_added,
        "n_total": n_total,
        "m_bits": merged.m_bits,
        "k": merged.k,
        "n_items": merged.n_items,
    }
